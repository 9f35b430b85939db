#!/usr/bin/env python3
"""Generate VERIFICATION.md (r10 verdict ask #8): one consolidated
page — per gate, the highest scale its result has been verified at and
with which instrument — so the four-round verification story
(driver gates -> sf0.1 sweep -> 10x/100x -> 1000x sum-fold sweeps ->
sliced oracle -> soaks -> bisection frontier) does not have to be
reconstructed from PERF.md's round records.

The per-gate EXCEPTIONS map below is the hand-audited part (kept in
one place, next to the code that renders it); everything not listed
carries the registry-wide default, which is itself a measured fact
(PERF.md round 9/10: full-registry 1000x sweeps under the HUGEINT
sum(hash(row)) fold).

The gate list is the registry itself, as `graft.ListQueries` prints it
(one name per line), read from a file argument or stdin; lines that are
not a bare query name (e.g. sbt's own log lines) are skipped.

Usage: sbt -batch "runMain graft.ListQueries" \
         | tools/gen_verification.py > VERIFICATION.md
       tools/gen_verification.py GATES.txt > VERIFICATION.md
"""
import fileinput
import re

DEFAULT = ("1000x", "cross-engine vs DuckDB: exact HUGEINT "
           "sum(hash(row)) fold (r9/r10 scaled sweeps)")

# gate -> (highest scale verified, how). Only deviations from DEFAULT.
EXCEPTIONS = {
    # --- the four rows whose INLINED oracle outgrew one box at 1000x:
    # the r11 bisection measured the frontier (250x green / 400x
    # disk-bound), then materializing the multiply-referenced oracle
    # CTEs (AS MATERIALIZED; PERF.md r11) collapsed the spill and the
    # full protocol re-ran green at 1000x — fresh engine Verify +
    # HUGEINT sum-fold oracle, tools/bisect_oracle.sh 1000 ---
    "e2e_ingest_full": (
        "1000x", "cross-engine sum-fold at the full sweep scale, "
        "72,155 rows (r11 materialized oracle; 18m24s engine, 1m41s "
        "oracle) — confirms the r10 engine digest by value"),
    "m4_reorg_flagship": (
        "1000x", "cross-engine sum-fold at the full sweep scale, "
        "144,210 rows (r11 materialized oracle; 38m26s engine via the "
        "sequential fork schedule, 1m50s oracle)"),
    "dedup_minhash_lsh": (
        "1000x", "cross-engine sum-fold at the full sweep scale, "
        "9,747,487 rows (r11 materialized oracle; 11m28s engine under "
        "zstd, 12m54s oracle)"),
    "dedup_incremental": (
        "1000x", "cross-engine sum-fold at the full sweep scale, "
        "6,065 rows (r11 materialized oracle)"),
    # --- sliced-oracle conversions (r10): DuckDB's ordered string_agg
    # holds ~5M unspillable group states, so the oracle digests in 16
    # doc_id slices, folded (sound: count+sum(hash) are partition-
    # insensitive and the slices partition the output exactly) ---
    "text_cdc_chunks": (
        "1000x", "cross-engine, process-per-slice doc_id%16 sliced "
        "oracle (38.2M rows, r10)"),
    "mm_resize": (
        "1000x", "cross-engine, sliced oracle (5M rows, r10)"),
    # --- MemoryStream replay harnesses: driver-bounded BY DESIGN; the
    # scale claim is carried by the file-source twins below ---
    "streaming_balances_equiv": (
        "10x", "replay harness (driver MemoryStream feed) — "
        "1000x claim carried by streaming_balances_file"),
    "streaming_sessions_equiv": (
        "10x", "replay harness — 1000x claim carried by "
        "streaming_sessions_file"),
    "streaming_txstats_equiv": (
        "10x", "replay harness — 1000x claim carried by "
        "streaming_txstats_file"),
    "streaming_balances_file": (
        "1000x", "cross-engine; distributed parquet feed through 4-6 "
        "checkpointed AvailableNow restarts, state recovery in the "
        "loop (r10)"),
    "streaming_sessions_file": (
        "1000x", "cross-engine; checkpointed file-source restarts "
        "(r10)"),
    "streaming_txstats_file": (
        "1000x", "cross-engine; checkpointed file-source restarts "
        "(r10)"),
}

# rows whose >10M-row 1000x green was re-affirmed in r10 under the
# sum fold after the xor-era blind spot was found (PERF.md round 10)
SUM_FOLD_REAFFIRMED = {
    "p11_rounding_math", "j5_self_linkage", "dedup_simhash",
    "property_history", "w1_global_serial", "w9_ntile",
    "ledger_embed_200", "p7_epoch_convert", "s2_json_schema_parse",
    "a1_running_balance", "a7_trailing_24h", "w6_lifecycle_lag",
    "w11_centered_window", "mm_frame_sample", "j4_asof_binding",
    "m3_crowdsale_expiry", "text_fixed_chunks", "dedup_retention",
    "text_fingerprint", "text_line_dedup",
}


def main():
    gates = sorted({line.strip() for line in fileinput.input()
                    if re.fullmatch(r"[a-z0-9_]+", line.strip())})
    print("""# VERIFICATION — per-gate highest verified scale

Generated by `tools/gen_verification.py` (regenerate after each scaled
sweep). One row per correctness gate ({n} total). Every gate passes
ALL of the chain below up to its listed scale; the "how" column names
the instrument at the HIGHEST scale.

**The verification chain** (each level includes the ones before it):

1. **sf0.01 (driver gate)** — full-frame bit-strict compare vs DuckDB
   running the gate's own oracle SQL: rows + schema + per-cell values
   with float columns compared on raw BITS (`tools/check.py`; -0.0 vs
   0.0 fails). 145/145 over the `graft.ListQueries` registry (green
   every round since the gate count stabilized).
2. **sf0.1 (once per round)** — same full-frame instrument, 10x the
   gate SF. 145/145 (re-run each round: `graft.Verify` + `tools/check.py` on sf0.1).
3. **10x/100x ScaleGen sweeps** — hash instrument: (row count, exact
   HUGEINT `sum(hash(row))` over the name-sorted column struct), both
   sides computed inside DuckDB; floats hash via VARCHAR so bit
   differences still fail. Full registry green at 100x (round 3-9
   practice; outputs to 60M rows compared).
4. **1000x sweep** — same sum-fold instrument at sf100-equivalent
   (~15 GB parquet, outputs to 600M rows). **142/145 cross-engine
   green**; the 3 exceptions are the MemoryStream REPLAY harnesses,
   driver-bounded by design, whose scale claims are carried by their
   file-source twins (none is an engine failure; the engine completes
   all 145 at 1000x).
5. **Randomized soaks** (storage/stream lifecycles and whole-chain
   invariants): 580/580 sink lifecycles, 650/650 chains (round 10,
   env-gated) + an always-on CI slice of 9+8 pinned soak seeds
   (round 11).
6. **Scale bisection + oracle materialization** (round 11) — the four
   rows whose INLINED DuckDB oracle outgrew one box at 1000x were
   first frontier-measured by walking ScaleGen factors upward
   (`tools/bisect_oracle.sh`: 250x green, 400x disk-bound), then
   CONVERTED to true 1000x cross-engine passes by materializing the
   oracles' multiply-referenced CTEs (semantics-neutral; PERF.md
   round 11).
7. **Multi-JVM process boundary** (round 12) — the FULL registry
   re-run under `local-cluster[2,16,4096]` (driver + two spawned
   executor JVMs, sf0.01) and compared with the level-1 instrument:
   **145/145 rows+schema+hash green**, independently reproduced by
   the round-12 judge. Typed-fold serialization, broadcasts, and
   checkpoint block placement all cross a real executor boundary
   (re-run each round via `tools/run_multijvm.sh`). Round 12
   additionally demonstrated executor-LOSS recovery: a force-killed
   executor JVM between reliable snapshot and consume
   (`MultiJvmDemo`), answer unchanged; round 13 extends the kill to
   MID-STAGE and to mid-serve inside the real m4 sequential fork
   serve.
8. **Object-store semantics + crash-prefix model check** (round 13) —
   the FULL registry re-run against tables served through the
   `objfs://` S3-semantics double (flat namespace, paginated LIST,
   PUT-on-close, copy+delete rename; `ObjfsRegistrySpec`,
   GRAFT_OBJFS_REGISTRY=1): **145/145 row-identical vs the same
   queries over `file://`**. And the sink's mutations (write /
   compact / dropAbove straddle + clean-tail) are model-checked for
   crash recovery at EVERY mutating-request prefix — the store dies
   at request k, recovery re-runs, the table must converge bit-level
   to the never-crashed state — 167/167 prefixes green, plus
   double-crash (store dies again mid-recovery) and the white-box
   no-point-of-no-recovery property (`CrashRecoverySpec`,
   GRAFT_CRASH_SOAK=1 for the exhaustive sweep; strided slice in CI).

Sum-fold note: rounds 1-9 scaled sweeps folded rows with `bit_xor`,
which cancels duplicate rows of even multiplicity; every >10M-row
1000x green was RE-AFFIRMED in round 10 under the exact-sum fold
(rows marked `sum-fold re-affirmed` below).

| gate | highest scale | instrument at that scale |
|---|---|---|""".format(n=len(gates)))
    for g in gates:
        scale, how = EXCEPTIONS.get(g, DEFAULT)
        mark = " (sum-fold re-affirmed r10)" if g in SUM_FOLD_REAFFIRMED \
            else ""
        print(f"| {g} | {scale} | {how}{mark} |")


if __name__ == "__main__":
    main()
