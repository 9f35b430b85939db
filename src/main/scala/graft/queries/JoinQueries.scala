package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables.t
import graft.operators.GlobalSerial

/** Joins, ordering, set ops, and maintenance-as-derivation —
  * SURVEY.md §2.5 (J1–J11), §2.6 (W1), §2.7 (O1–O6), §2.8 (M2/M4).
  */
object JoinQueries {

  /** J1 — fact ⋈ fact on serial with validity filter (sql.py:270-274):
    * lineitem ⋈ orders, shuffle on the join key; aggregation after the
    * join is pre-shrunk by the status filter.
    */
  val j1 = Q(
    "j1_fact_join",
    """SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
      |  count(*) AS n
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY 1 ORDER BY month""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders").where(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum(round(col("l_extendedprice") * 100).cast(LongType))
        .cast(LongType).as("revenue_cents"),
        count(lit(1)).as("n"))
      .orderBy("month")
  }

  /** J2 — fact ⋈ small dimension (sql.py:272-274): explicit broadcast of
    * the property-like dimension — no shuffle of the fact side's join.
    */
  val j2 = Q(
    "j2_broadcast_dim",
    """SELECT p_brand,
      |  CAST(sum(CAST(round(l_quantity * 10000) AS BIGINT)) AS BIGINT) AS qty_units,
      |  count(*) AS n
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1 ORDER BY p_brand""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(sum(round(col("l_quantity") * 10000).cast(LongType))
        .cast(LongType).as("qty_units"),
        count(lit(1)).as("n"))
      .orderBy("p_brand")
  }

  /** J4 — as-of binding (sql.py:668-670): each accept binds to the
    * seller's then-active offer = running max over prior events, not a
    * join at all — one window pass.
    */
  val j4 = Q(
    "j4_asof_binding",
    """SELECT event_id, user_id, bound_signup FROM (
      |  SELECT event_id, user_id, event_type,
      |    max(CASE WHEN event_type = 'signup' THEN event_id END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bound_signup
      |  FROM events)
      |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin) {
    (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      t(s, dir, "events")
        .withColumn("bound_signup",
          max(when(col("event_type") === "signup", col("event_id"))).over(w))
        .where(col("event_type") === "purchase")
        .select("event_id", "user_id", "bound_signup")
        .orderBy("event_id")
  }

  /** J5 — UTXO-style linkage self-join (sql.py:1700-1716): link each row
    * to its successor within the same parent — equi self-join on
    * (parent, position+1); same-key shuffle on both sides, co-partitioned.
    */
  val j5 = Q(
    "j5_self_linkage",
    """SELECT a.l_orderkey, a.l_linenumber, b.l_linenumber AS next_line,
      |  CAST(round(b.l_quantity * 10000) AS BIGINT) AS next_qty_units
      |FROM lineitem a JOIN lineitem b
      |  ON a.l_orderkey = b.l_orderkey AND b.l_linenumber = a.l_linenumber + 1
      |ORDER BY a.l_orderkey, a.l_linenumber""".stripMargin) { (s, dir) =>
    val li = t(s, dir, "lineitem")
    val a = li.select(col("l_orderkey"), col("l_linenumber"))
    val b = li.select(col("l_orderkey").as("b_orderkey"),
      col("l_linenumber").as("b_linenumber"),
      round(col("l_quantity") * 10000).cast(LongType).as("next_qty_units"))
    a.join(b, col("l_orderkey") === col("b_orderkey") &&
        col("b_linenumber") === col("l_linenumber") + 1)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("b_linenumber").as("next_line"), col("next_qty_units"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** J6 — equi join + JSON-path theta predicate (sql.py:1427-1440).
    * The JSON path is projected BEFORE the join and the wide `props`
    * string dropped, so the exchange carries (user_id, k) instead of the
    * full payload and the JSON parses once per input row, not once per
    * join output row — the predicate referencing both sides then
    * evaluates post-join on two narrow longs (PlanSpec asserts the
    * exchange schema).
    */
  val j6 = Q(
    "j6_json_theta_join",
    """SELECT c_nationkey, count(*) AS n
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |WHERE CAST(json_extract_string(e.props, '$.k') AS BIGINT)
      |      > CAST(c.c_nationkey AS BIGINT)
      |GROUP BY 1 ORDER BY c_nationkey""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    // explicit broadcast: the entity side is dimension-sized; relying on
    // the size ESTIMATE risks a stats-driven SortMergeJoin fallback that
    // would shuffle the whole event stream
    ev.join(broadcast(cust), col("user_id") === col("c_custkey"))
      .where(col("k") > col("c_nationkey").cast(LongType))
      .groupBy("c_nationkey").agg(count(lit(1)).as("n"))
      .orderBy("c_nationkey")
  }

  /** J9 — the flagship wallet serving query (SQLstatements.md:15-86):
    * fact agg ⋈ entity ⋈ broadcast geography dims, balance×value
    * projections.
    */
  val j9 = Q(
    "j9_wallet_flagship",
    """WITH spend AS (SELECT o_custkey,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      |  FROM orders GROUP BY 1)
      |SELECT r_name, n_name, count(*) AS n_customers,
      |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents,
      |  CAST(coalesce(sum(spend.cents), 0) AS BIGINT) AS spend_cents
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |LEFT JOIN spend ON spend.o_custkey = c_custkey
      |GROUP BY 1, 2 ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
    val spend = t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100).cast(LongType)).as("cents"))
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .join(spend, col("o_custkey") === col("c_custkey"), "left")
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_customers"),
        sum(round(col("c_acctbal") * 100).cast(LongType))
          .cast(LongType).as("bal_cents"),
        coalesce(sum(col("cents")), lit(0L)).cast(LongType).as("spend_cents"))
      .orderBy("r_name", "n_name")
  }

  /** J10 — anti-join reconciliation (checkPending sql.py:314-354):
    * entities with no facts.
    */
  val j10a = Q(
    "j10_anti_join",
    """SELECT c_custkey FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"),
        "left_anti")
      .select("c_custkey")
      .orderBy("c_custkey")
  }

  /** J10 — semi-join half: entities with ≥1 fact, counted per nation. */
  val j10s = Q(
    "j10_semi_join",
    """SELECT c_nationkey, count(*) AS n FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY 1 ORDER BY c_nationkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"),
        "left_semi")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n"))
      .orderBy("c_nationkey")
  }

  /** W1 — deterministic global serial via [[GlobalSerial]] (range
    * partition + partition-offset stamp), never a one-partition
    * row_number. The
    * oracle IS the naive global row_number — proving the scalable path
    * computes the identical total order.
    */
  val w1 = Q(
    "w1_global_serial",
    """SELECT o_orderkey,
      |  row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS serial
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    GlobalSerial
      .assign(t(s, dir, "orders"), "serial", col("o_orderdate"), col("o_orderkey"))
      .select("o_orderkey", "serial")
      .orderBy("o_orderkey")
  }

  /** O1 — two-key sort + deterministic top-k (sortSTO sql.py:463-468):
    * Spark plans order+limit as TakeOrdered — no global sort
    * materialization.
    */
  val o1 = Q(
    "o1_topk_sort",
    """SELECT l_orderkey, l_linenumber,
      |  CAST(round(l_quantity * 10000) AS BIGINT) AS qty_units
      |FROM lineitem
      |ORDER BY qty_units DESC, l_orderkey ASC, l_linenumber ASC
      |LIMIT 100""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity") * 10000).cast(LongType).as("qty_units"))
      .orderBy(col("qty_units").desc, col("l_orderkey").asc,
        col("l_linenumber").asc)
      .limit(100)
  }

  /** O6 — set ops (EXCEPT): event actors that are not order customers. */
  val o6 = Q(
    "o6_set_except",
    """SELECT user_id AS id FROM events
      |EXCEPT
      |SELECT o_custkey AS id FROM orders
      |ORDER BY id""".stripMargin) { (s, dir) =>
    t(s, dir, "events").select(col("user_id").as("id"))
      .except(t(s, dir, "orders").select(col("o_custkey").as("id")))
      .orderBy("id")
  }

  /** M2 — block-height expiry sweep (expireAccepts sql.py:537-588) as a
    * derivation: expiry is a predicate against the tip, not a mutation.
    * The tip scalar is computed once and broadcast.
    */
  val m2 = Q(
    "m2_expiry_sweep",
    """WITH mx AS (SELECT max(o_orderdate) AS tip FROM orders)
      |SELECT o_orderpriority,
      |  count(CASE WHEN o_orderdate + INTERVAL 30 DAY <= tip THEN 1 END) AS expired,
      |  count(CASE WHEN o_orderdate + INTERVAL 30 DAY > tip THEN 1 END) AS live
      |FROM orders CROSS JOIN mx
      |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    val orders = t(s, dir, "orders")
    val mx = orders.agg(max("o_orderdate").as("tip"))
    orders.crossJoin(broadcast(mx))
      .withColumn("expires", expr("o_orderdate + INTERVAL 30 DAYS"))
      .groupBy("o_orderpriority")
      .agg(count(when(col("expires") <= col("tip"), 1)).as("expired"),
        count(when(col("expires") > col("tip"), 1)).as("live"))
      .orderBy("o_orderpriority")
  }

  /** M4 — reorg rollback as re-derivation (reorgRollback sql.py:85-218):
    * state at the fork = the same aggregation over facts filtered to the
    * fork point. No inverse operators — THE payoff of immutable facts.
    */
  val m4 = Q(
    "m4_reorg_rederive",
    """WITH tip AS (SELECT max(ts) AS mt FROM events)
      |SELECT user_id,
      |  CAST(sum(CASE WHEN ts <= mt - INTERVAL 7 DAY THEN delta END) AS BIGINT) AS fork_cents,
      |  CAST(sum(delta) AS BIGINT) AS tip_cents
      |FROM (SELECT user_id, ts,
      |        CASE WHEN event_type = 'purchase' THEN -CAST(round(value * 100) AS BIGINT)
      |             ELSE CAST(round(value * 100) AS BIGINT) END AS delta
      |      FROM events) CROSS JOIN tip
      |GROUP BY 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val tip = ev.agg(max("ts").as("mt"))
    ev.select(col("user_id"), col("ts"), Q.deltaCents.as("delta"))
      .crossJoin(broadcast(tip))
      .groupBy("user_id")
      .agg(
        sum(when(col("ts") <= expr("mt - INTERVAL 7 DAYS"), col("delta")))
          .cast(LongType).as("fork_cents"),
        sum(col("delta")).cast(LongType).as("tip_cents"))
      .orderBy("user_id")
  }


  /** J12 — range join via the scalable decomposition: a raw
    * `ts BETWEEN lo AND hi` theta join has no equi-key, so Spark plans
    * a nested-loop; instead both sides get a coarse time bucket (UTC
    * day — every interval here fits one bucket; intervals spanning
    * buckets explode into one row per covered bucket), the join becomes
    * an EQUI-join on the bucket, and the range predicate survives only
    * as a residual filter. Shuffles hash-partition on the bucket —
    * 100 TB-safe; the interval side is tiny here so it broadcasts.
    */
  val j12 = Q(
    "j12_range_join",
    """WITH iv AS (
      |  SELECT DISTINCT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |    CAST(floor(epoch_us(ts) / 86400000000) * 86400000000 + 10800000000 AS BIGINT) AS lo,
      |    CAST(floor(epoch_us(ts) / 86400000000) * 86400000000 + 75600000000 AS BIGINT) AS hi
      |  FROM events)
      |SELECT iv.day, count(*) AS n,
      |  CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM events e JOIN iv
      |  ON CAST(floor(epoch_us(e.ts) / 86400000000) AS BIGINT) = iv.day
      | AND epoch_us(e.ts) >= iv.lo AND epoch_us(e.ts) < iv.hi
      |GROUP BY 1 ORDER BY day""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
      .select(unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast(LongType).as("cents"))
      .withColumn("bucket", expr("floor(us / 86400000000)").cast(LongType))
    // interval dim: one [03:00, 21:00) window per observed UTC day
    val iv = ev.select(col("bucket").as("day")).distinct()
      .select(col("day"),
        (col("day") * 86400000000L + 10800000000L).as("lo"),
        (col("day") * 86400000000L + 75600000000L).as("hi"))
    ev.join(broadcast(iv),
        col("bucket") === col("day") &&
          col("us") >= col("lo") && col("us") < col("hi"))
      .groupBy("day")
      .agg(count(lit(1)).as("n"), sum("cents").cast(LongType).as("cents"))
      .orderBy("day")
  }

  /** J9 (serving payload) — the wallet rows serialized to the JSON
    * payload the API layer ships (SQLstatements.md's serving surface
    * emits jsonb): `to_json(struct(...))` with a fixed key order and
    * integer-only values, so the STRING is byte-identical across
    * engines — serialization fidelity is part of the contract, not
    * just the values. Serialization is a map-side projection over the
    * aggregated rows.
    */
  val j9json = Q(
    "j9_wallet_json",
    s"""SELECT r_name, n_name,
      |  to_json(struct_pack(region := r_name, nation := n_name,
      |    n_customers := n_customers, bal_cents := bal_cents,
      |    spend_cents := spend_cents))::VARCHAR AS payload
      |FROM (${j9.oracle.get})
      |ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
    j9.run(s, dir)
      .select(col("r_name"), col("n_name"),
        to_json(struct(col("r_name").as("region"), col("n_name").as("nation"),
          col("n_customers"), col("bal_cents"), col("spend_cents")))
          .as("payload"))
      .orderBy("r_name", "n_name")
  }

  /** O8 — serial-continuity audit (ingest integrity: the engine's
    * analog of the reference's consistency checks, sql.py:1205
    * checkbalances_MP — except over serials, where a hole means a lost
    * block/tx). Self-checking corpus: every 97th key (except 0, which
    * has no predecessor to report it from) is dropped first, and the
    * audit must report exactly those interior holes — `GapAuditSpec`
    * asserts the recovered set equals the planted set, so a symmetric
    * Spark+oracle bug cannot hide behind engine agreement.
    *
    * NOT a global-ORDER-BY window (the repo bans single-task data
    * paths): keys bucket by k div 8192, lead() runs per bucket, and
    * bucket-boundary gaps come from a bucket-cardinality-sized
    * (bucket → min,max) table self-joined to its successor — the same
    * partition-plus-boundary-union shape as the day-partitioned 24-h
    * window. The oracle keeps the naive global window (DuckDB needn't
    * scale).
    */
  val o8 = Q(
    "o8_gap_audit",
    """WITH s AS (
      |  SELECT o_orderkey AS k,
      |    lead(o_orderkey) OVER (ORDER BY o_orderkey) AS nxt
      |  FROM orders WHERE o_orderkey % 97 <> 0 OR o_orderkey = 0)
      |SELECT k AS gap_after, CAST(nxt - k - 1 AS BIGINT) AS n_missing
      |FROM s WHERE nxt - k > 1 ORDER BY gap_after""".stripMargin) {
    (s, dir) =>
      val keys = t(s, dir, "orders")
        .where(col("o_orderkey") % 97 =!= 0 || col("o_orderkey") === 0)
        .select(col("o_orderkey").as("k"))
        .withColumn("bucket", expr("k div 8192"))
      val wb = Window.partitionBy("bucket").orderBy("k")
      val inBucket = keys
        .withColumn("nxt", lead("k", 1).over(wb))
        .where(col("nxt") - col("k") > 1)
        .select(col("k").as("gap_after"),
          (col("nxt") - col("k") - 1).cast(LongType).as("n_missing"))
      val edges = keys.groupBy("bucket")
        .agg(min("k").as("lo"), max("k").as("hi"))
      // pair each bucket with the next PRESENT bucket (a gap can swallow
      // whole buckets); edges is metadata-scale (#keys/8192 rows), so
      // its global window is a broadcast-sized single task by design
      val we = Window.orderBy("bucket")
      val boundary = edges
        .withColumn("next_lo", lead("lo", 1).over(we))
        .where(col("next_lo") - col("hi") > 1)
        .select(col("hi").as("gap_after"),
          (col("next_lo") - col("hi") - 1).cast(LongType).as("n_missing"))
      inBucket.unionByName(boundary).orderBy("gap_after")
  }

  val all: Seq[Q] =
    Seq(j1, j2, j4, j5, j6, j9, j9json, j10a, j10s, j12, w1, o1, o6, m2, m4,
      o8)
}
