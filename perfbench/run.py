#!/usr/bin/env python3
"""omnienginespark benchmark: `follow` (cron-tick commits and shallow
reorgs) and `refresh` (full re-derive to served wallet state).

Run from the root of a checkout:

    python3 perfbench/run.py --workload follow --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selfcheck

It builds the program and the benchmark from source (sbt, once per source
state), runs one JVM on local[4], checks the outputs (the DuckDB oracle
for refresh's balances) and prints one JSON result as its last stdout
line. See perfbench/README.md.

Environment: PERFBENCH_SF_DIR (flagship feed scale, default
~/testdata/sf0.01), SPARK_HOME (Spark jars), JAVA_HOME.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "3g"
SBT_TIMEOUT = 840
JVM_TIMEOUT = 840  # a hung run is killed; a first run builds its inputs

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation found (set SPARK_HOME)")
    return home


def sources():
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
        files += glob.glob(os.path.join(base, "**", "*.java"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def build():
    """Compile the program and the benchmark; skipped while sources match."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("program sources (src/main/scala) not found next to perfbench/")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    build_dir = os.path.join(HERE, ".build")
    stamp_file = os.path.join(build_dir, "stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if (os.path.isdir(classes) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return classes
    os.makedirs(build_dir, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_HOME"] = spark_home()
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(build_dir, "sbt.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false", "compile"],
                cwd=HERE, stdout=log, stderr=subprocess.STDOUT, env=env,
                timeout=SBT_TIMEOUT)
        except subprocess.TimeoutExpired:
            die("build timed out")
    if r.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def run_jvm(classes, args):
    out = os.path.join(HERE, ".build", f"result-{os.getpid()}.json")
    if os.path.exists(out):
        os.remove(out)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = []
    for p in JDK17_OPENS:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(HERE, ".work-tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, *opens, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes}:{os.path.join(spark_home(), 'jars', '*')}",
           "graft.perfbench.Main", *args, "--root", ROOT, "--out", out]
    # the JVM's stdout goes to stderr: our stdout ends with the result line
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die("run timed out")
    if code != 0 or not os.path.exists(out):
        die(f"benchmark JVM exited with {code}")
    with open(out) as fh:
        res = json.load(fh)
    os.remove(out)
    return res


def duck(work):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb.tmp')}'")
    return con


BAL_ROW = ("address, CAST(propertyId AS BIGINT), CAST(available AS BIGINT), "
           "CAST(reserved AS BIGINT), CAST(accepted AS BIGINT), "
           "CAST(frozen AS BIGINT), CAST(last_serial AS BIGINT)")


def bal_digest(con, src):
    n, h = con.sql(f"SELECT count(*), sum(hash(ROW({BAL_ROW}))) "
                   f"FROM ({src})").fetchone()
    return [int(n), str(h)]


def oracle_balances(res, sf_dir):
    """(expected, got) digests of the balances: the `bal` relation of the
    e2e_ingest_full oracle, computed once per scale inside DuckDB, against
    the run's derived balances."""
    cache, work = res["cache"], res["work"]
    expected_file = os.path.join(cache, "oracle_bal.json")
    con = duck(work)
    if not os.path.exists(expected_file):
        sql = open(os.path.join(cache, "oracle.sql")).read()
        m = re.search(r",\s*wallets AS \(", sql)
        if not m:
            die("oracle SQL has no `wallets` relation after `bal`")
        for t in ("orders", "nation", "customer"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(sf_dir, t + '.parquet')}'")
        expected = bal_digest(con, sql[:m.start()] +
                              "\nSELECT * FROM bal")
        with open(expected_file, "w") as fh:
            json.dump(expected, fh)
    with open(expected_file) as fh:
        expected = json.load(fh)
    got = bal_digest(con, "SELECT * FROM '" +
                     os.path.join(work, "balances.parquet", "*.parquet") + "'")
    con.close()
    return expected, got


def declared(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return [m["name"] for m in b["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["follow", "refresh"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if not a.selfcheck and not a.workload:
        ap.error("--workload is required")
    sf_dir = os.environ.get("PERFBENCH_SF_DIR",
                            os.path.expanduser("~/testdata/sf0.01"))
    classes = build()
    if a.selfcheck:
        sf_dir = os.path.join(os.path.dirname(sf_dir), "sf0.001")
        res = run_jvm(classes, ["--workload", "selfcheck", "--seed", "1",
                                "--seconds", "0", "--trace", "0",
                                "--sf", sf_dir])
        expected, got = oracle_balances(res, sf_dir)
        res["checks"]["remap_matches_oracle"] = (
            "ok: " if expected == got else "FAILED: ") + \
            f"oracle {expected}, remapped derive {got}"
        print(json.dumps(res["checks"], indent=1))
        sys.exit(0 if all(v.startswith("ok") for v in res["checks"].values())
                 else 1)

    names = declared(a.trace == 1)
    res = run_jvm(classes, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds),
                            "--trace", str(a.trace), "--sf", sf_dir])
    attempted, failed = res["attempted"], res["failed"]
    checks = res["checks"]
    if a.workload == "refresh" and os.path.isdir(
            os.path.join(res["work"], "balances.parquet")):
        expected, got = oracle_balances(res, sf_dir)
        ok = expected == got
        checks["oracle_balances"] = ("ok: " if ok else "FAILED: ") + \
            f"oracle {expected}, derived {got}"
        if not ok:
            # every iteration served the same tables as the first
            failed = attempted
    correct = failed == 0 and all(v.startswith("ok") for v in checks.values())
    metrics = res["metrics"]
    missing = [n for n in names if n not in metrics]
    if missing:
        die(f"no value reported for {missing}; checks: {checks}")
    print(json.dumps({"detail": {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "sf": os.path.basename(sf_dir), "checks": checks,
        "calibration": res["calibration"],
        "extra": {k: v for k, v in metrics.items() if k not in names}}}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed,
                      "metrics": {n: metrics[n] for n in names}}))


if __name__ == "__main__":
    main()
