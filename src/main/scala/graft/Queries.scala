package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.functions.{HashOps, TextOps, VectorOps}

/** A named operator query plus (when SQL-expressible) its DuckDB oracle.
  *
  * Cross-engine determinism rules used throughout:
  *  - money sums = per-row round(x*100) to integer cents, then exact integer
  *    sums (order-independent, bit-exact in any engine);
  *  - vector math = sequential double folds, rounded at the end;
  *  - timestamps surfaced as epoch millis (unix_millis ↔ epoch_ms);
  *  - hashing = md5 (identical hex in Spark and DuckDB);
  *  - every result deterministically ORDER BY'd.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Shuffle partitions for a streaming drain: its state is small, so 8
    * partitions instead of the session's `cpus` keep the per-batch
    * state-store/sink commit overhead proportional to the data. Spark
    * freezes the count into the checkpoint at first start, so every drain
    * of one query sees the same value. */
  private val StreamStatePartitions = "8"

  private def withStreamStatePartitions[A](s: SparkSession)(body: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StreamStatePartitions)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  // ---------------------------------------------------------------------------
  // Relational core
  // ---------------------------------------------------------------------------

  /** TPC-H Q1-style pricing summary: partial aggregation map-side, one
    * shuffle on the (tiny-cardinality) group keys — scales linearly. */
  val q1Agg = QueryDef(
    "q1_agg",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_base_cents"),
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long")).as("sum_disc_cents"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
            CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
            CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
            count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""))

  /** TPC-H Q3-style: revenue per order for a market segment. Dim side
    * (customer ⋉ segment) broadcast; single shuffle for the orders join. */
  val q3JoinTopk = QueryDef(
    "q3_join_topk",
    (s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long")).as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("l_orderkey"))
        .limit(10)
    },
    Some("""SELECT l_orderkey,
            CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey
            ORDER BY revenue_cents DESC, l_orderkey
            LIMIT 10"""))

  // ---------------------------------------------------------------------------
  // Venice read path (SURVEY §2.1)
  // ---------------------------------------------------------------------------

  /** R1 get: point lookup — partition-pruned parquet scan at scale. */
  val r1Get = QueryDef(
    "r1_get",
    (s, dir) => t(s, dir, "customer").filter(col("c_custkey") === 42L)
      .orderBy(col("c_custkey")),
    Some("SELECT * FROM customer WHERE c_custkey = 42 ORDER BY c_custkey"))

  private val batchKeys = Seq(1L, 5L, 7L, 11L, 19L, 42L, 77L, 101L, 128L, 149L)

  /** R2 batchGet: broadcast-hash left-semi join against the key set
    * (missing keys omitted — Venice batchGet semantics). */
  val r2BatchGet = QueryDef(
    "r2_batchget",
    (s, dir) => {
      import s.implicits._
      val keys = batchKeys.toDF("c_custkey")
      t(s, dir, "customer").join(broadcast(keys), Seq("c_custkey"), "left_semi")
        .orderBy(col("c_custkey"))
    },
    Some(s"""SELECT * FROM customer
             WHERE c_custkey IN (${batchKeys.mkString(", ")})
             ORDER BY c_custkey"""))

  /** R3 project: server-side field projection → Catalyst column pruning
    * (ReadSchema in the parquet scan shows only these columns). */
  val r3Project = QueryDef(
    "r3_project",
    (s, dir) => t(s, dir, "part")
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
      .orderBy(col("p_partkey")),
    Some("SELECT p_partkey, p_name, p_retailprice FROM part ORDER BY p_partkey"))

  /** R11 streaming batchGet: partial results keep missing-key markers
    * (Venice's negative-index/null marker ↔ left-join nulls). */
  val r11Stream = QueryDef(
    "r11_batchget_stream",
    (s, dir) => {
      import s.implicits._
      val keys = (batchKeys ++ Seq(99991L, 99992L)).toDF("c_custkey")
      broadcast(keys).join(t(s, dir, "customer"), Seq("c_custkey"), "left")
        .select(col("c_custkey"), col("c_name"),
          col("c_name").isNull.as("missing"))
        .orderBy(col("c_custkey"))
    },
    Some(s"""SELECT k.c_custkey, c.c_name, c.c_name IS NULL AS missing
             FROM (SELECT unnest([${(batchKeys ++ Seq(99991L, 99992L)).mkString(", ")}]) AS c_custkey) k
             LEFT JOIN customer c ON k.c_custkey = c.c_custkey
             ORDER BY k.c_custkey"""))

  /** Window functions: running revenue + rank per user over event time. */
  val qWindow = QueryDef(
    "q_window_running",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("running_cents",
          sum(round(col("value") * 100).cast("long"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("rn", row_number().over(w))
        .select(col("user_id"), col("event_id"), col("rn"), col("running_cents"))
        .orderBy(col("user_id"), col("rn"))
    },
    Some("""SELECT user_id, event_id,
              row_number() OVER w AS rn,
              CAST(sum(CAST(round(value * 100) AS BIGINT))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ORDER BY user_id, rn"""))

  /** Rollup: revenue by (region, nation) with subtotals and grand total. */
  val qRollup = QueryDef(
    "q_rollup",
    (s, dir) => t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(sum(round(col("c_acctbal") * 100).cast("long")).as("acct_cents"),
        count(lit(1)).as("n_cust"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first),
    Some("""SELECT r_name, n_name,
              CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acct_cents,
              count(*) AS n_cust
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
            ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST"""))

  /** Semi-join: orders having a late line item (EXISTS). */
  val qSemi = QueryDef(
    "q_exists_semi",
    (s, dir) => {
      val late = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("2000-06-01").cast("timestamp"))
        .select(col("l_orderkey"))
      t(s, dir, "orders")
        .join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, o_orderstatus FROM orders
            WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > TIMESTAMP '2000-06-01')
            ORDER BY o_orderkey"""))

  /** TPC-H Q4 (order-priority checking), adapted to this schema: the
    * reference predicate l_commitdate &lt; l_receiptdate has no columns
    * here, so "late" = shipped &gt;30 days after the order date — same
    * correlated-EXISTS shape, same plan (date-windowed scan, left-semi
    * equi-join with the extra non-equi conjunct pushed into the join,
    * tiny-cardinality groupBy). This closes the Q-coverage audit: every
    * TPC-H query expressible over the shipped columns is registered
    * (Q2/Q16/Q20 need partsupp, Q12 needs shipmode/commit/receipt dates —
    * documented out of scope, not skipped silently). */
  val q4Priority = QueryDef(
    "q4_priority",
    (s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      ord.join(li,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, count(*) AS order_count FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-10-01'
              AND EXISTS (SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey
                  AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
            GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Anti-join: customers with no orders (NOT EXISTS). */
  val qAnti = QueryDef(
    "q_not_exists_anti",
    (s, dir) => t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey")),
    Some("""SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            ORDER BY c_custkey"""))

  /** Batch twin of the streaming sessionization operator: gap > 6h starts a
    * new session; per-session aggregates. (StreamingSpec asserts the
    * flatMapGroupsWithState path; this proves the same semantics in SQL.) */
  val qSessionize = QueryDef(
    "q_sessionize_batch",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_millis(col("ts")) - unix_millis(col("prev_ts")) > 6 * 3600 * 1000L, 1)
            .otherwise(0))
        .withColumn("sess_no", sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sess_no"))
        .agg(min(unix_millis(col("ts"))).as("session_start"),
          max(unix_millis(col("ts"))).as("session_end"),
          count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
        .orderBy(col("user_id"), col("sess_no"))
    },
    Some("""SELECT user_id, sess_no,
              min(epoch_ms(ts)) AS session_start,
              max(epoch_ms(ts)) AS session_end,
              count(*) AS n_events,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
            FROM (
              SELECT user_id, ts, value,
                CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_no
              FROM (
                SELECT user_id, ts, value, event_id,
                  CASE WHEN prev_ts IS NULL
                       OR epoch_ms(ts) - epoch_ms(prev_ts) > 21600000
                       THEN 1 ELSE 0 END AS new_sess
                FROM (SELECT user_id, ts, value, event_id,
                        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
                      FROM events)))
            GROUP BY user_id, sess_no
            ORDER BY user_id, sess_no"""))

  // ---------------------------------------------------------------------------
  // Venice write path / batch ETL (SURVEY §2.2–2.3)
  // ---------------------------------------------------------------------------

  /** B3 TTL filter: drop records older than the TTL start (repush TTL). */
  val b3Ttl = QueryDef(
    "b3_ttl_filter",
    (s, dir) => Tables.events(s, dir)
      .filter(col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp"))
      .select(col("event_id"), unix_millis(col("ts")).as("ts_ms"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id")),
    Some("""SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value
            FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
            ORDER BY event_id"""))

  /** B4 compaction: keep the latest record per key — one shuffle on the key,
    * rank inside partitions (Venice: per-key max offset; here (ts, event_id)
    * is the total order). */
  val b4Compaction = QueryDef(
    "b4_compaction",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_millis(col("ts")).as("ts_ms"), col("value"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms, value
            FROM events
            QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
            ORDER BY user_id"""))

  /** B4's audit half: per duplicated key, copies and distinct values —
    * Venice distinguishes identical vs divergent duplicates at compaction. */
  val b4DupAudit = QueryDef(
    "b4_dup_audit",
    (s, dir) => graft.operators.Compaction.duplicateAudit(
      Tables.events(s, dir), Seq("user_id"), col("event_type"))
      .orderBy(col("user_id")),
    Some("""SELECT user_id, count(*) AS copies,
              count(DISTINCT event_type) AS distinct_values
            FROM events GROUP BY user_id HAVING count(*) > 1
            ORDER BY user_id"""))

  // ---------------------------------------------------------------------------
  // Venice read compute (SURVEY §2.1 R4–R10) over the embeddings table
  // ---------------------------------------------------------------------------

  /** Deterministic 64-dim request param vector; exact short decimals so the
    * Scala literal and the SQL literal parse to identical doubles. */
  private val pvec: Seq[Double] = (0 until 64).map(i => ((i * 37) % 19 - 9) / 10.0)
  private val pvecSql: String =
    pvec.map(_.toString).mkString("[", ",", "]") + "::DOUBLE[]"

  /** R4 dotProduct: codegen'd zip_with+aggregate fold — no UDF, stays in
    * WholeStageCodegen; DuckDB's list_dot_product is bit-identical. */
  val r4Dot = QueryDef(
    "r4_dotproduct",
    (s, dir) => t(s, dir, "embeddings")
      .select(col("vec_id"),
        round(VectorOps.dotProduct(col("embedding"), pvec), 6).as("dot"))
      .orderBy(col("vec_id")),
    Some(s"""SELECT vec_id,
             round(list_dot_product(embedding::DOUBLE[], $pvecSql), 6) AS dot
             FROM embeddings ORDER BY vec_id"""))

  /** R5 cosineSimilarity: dot/sqrt(‖v‖²·‖p‖²), param norm constant-folded. */
  val r5Cosine = QueryDef(
    "r5_cosine",
    (s, dir) => t(s, dir, "embeddings")
      .select(col("vec_id"),
        round(VectorOps.cosineSimilarity(col("embedding"), pvec), 6).as("cos_sim"))
      .orderBy(col("vec_id")),
    Some(s"""SELECT vec_id,
             round(list_dot_product(embedding::DOUBLE[], $pvecSql)
               / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])
                      * list_dot_product($pvecSql, $pvecSql)), 6) AS cos_sim
             FROM embeddings ORDER BY vec_id"""))

  /** R6 hadamardProduct: element-wise product array. Surfaced as a
    * comma-joined integer-micros string — array-typed output columns crash
    * the driver's pandas comparator, and integer rendering is the only
    * cross-engine-stable double→string path. */
  val r6Hadamard = QueryDef(
    "r6_hadamard",
    (s, dir) => t(s, dir, "embeddings")
      .select(col("vec_id"),
        array_join(transform(VectorOps.hadamardProduct(col("embedding"), pvec),
          x => round(x * 1000000).cast("long").cast("string")), ",").as("hprod"))
      .orderBy(col("vec_id")),
    Some(s"""SELECT vec_id,
             array_to_string(list_transform(list_zip(embedding::DOUBLE[], $pvecSql),
               t -> CAST(round(t[1] * t[2] * 1000000) AS BIGINT)), ',') AS hprod
             FROM embeddings ORDER BY vec_id"""))

  /** R7 count: collection size (null → −1, Venice's error default). */
  val r7Count = QueryDef(
    "r7_count",
    (s, dir) => t(s, dir, "embeddings")
      .select(col("vec_id"),
        VectorOps.countElements(col("embedding")).as("n_elems"))
      .orderBy(col("vec_id")),
    Some("SELECT vec_id, len(embedding) AS n_elems FROM embeddings ORDER BY vec_id"))

  /** R7 over a MAP-typed field end-to-end: a per-user map column (event_type
    * → count) built distributively, counted via the same countElements op
    * (reference CountOperator.java:14-40 counts map entries too). */
  val r7CountMap = QueryDef(
    "r7_count_map",
    (s, dir) => {
      val m = Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(map_from_entries(array_sort(collect_list(
          struct(col("event_type").as("key"), col("n").as("value")))))
          .as("type_counts"))
      m.select(col("user_id"),
        VectorOps.countElements(col("type_counts")).as("n_types"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, count(DISTINCT event_type) AS n_types
            FROM events GROUP BY user_id ORDER BY user_id"""))

  /** R8 compute-request validation semantics: an op with a mismatched param
    * length yields 0.0 plus an entry in the __veniceComputationError__ map
    * (surfaced here as sorted keys + the message for hash-comparability). */
  val r8ComputeErrors = QueryDef(
    "r8_compute_errors",
    (s, dir) => {
      val errs = VectorOps.computationErrors(Seq(("dotProduct", col("embedding"), 32)))
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          round(VectorOps.dotProduct(col("embedding"),
            (0 until 32).map(i => ((i * 37) % 19 - 9) / 10.0)), 6).as("dot_bad"),
          array_join(array_sort(map_keys(errs)), ",").as("err_ops"),
          element_at(errs, "dotProduct").as("err_msg"))
        .orderBy(col("vec_id"))
    },
    Some("""SELECT vec_id, label, 0.0::DOUBLE AS dot_bad, 'dotProduct' AS err_ops,
            'array length ' || len(embedding) || ' does not match param length 32' AS err_msg
            FROM embeddings ORDER BY vec_id"""))

  /** R9 prefix-predicate compute scan: filter on leading key field range +
    * projection + computed field — min/max row-group pruning at scale. */
  val r9Prefix = QueryDef(
    "r9_prefix_scan",
    (s, dir) => t(s, dir, "orders")
      .filter(col("o_custkey") >= 100L && col("o_custkey") < 200L)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("total_cents"),
        when(col("o_orderpriority").startsWith("1") ||
          col("o_orderpriority").startsWith("2"), "high")
          .otherwise("low").as("priority_class"))
      .orderBy(col("o_orderkey")),
    Some("""SELECT o_orderkey, o_custkey,
            CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
            CASE WHEN o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'
                 THEN 'high' ELSE 'low' END AS priority_class
            FROM orders WHERE o_custkey >= 100 AND o_custkey < 200
            ORDER BY o_orderkey"""))

  /** R10 predicate algebra: and/or/anyOf/comparisons — 1:1 Catalyst. */
  val r10Predicates = QueryDef(
    "r10_predicates",
    (s, dir) => t(s, dir, "lineitem")
      .filter((col("l_quantity") >= 30 && col("l_discount") < 0.05) ||
        (col("l_returnflag") === "R" && col("l_suppkey").isin(1L, 3L, 5L)))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"), col("l_suppkey"))
      .orderBy(col("l_orderkey"), col("l_linenumber")),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_suppkey
            FROM lineitem
            WHERE (l_quantity >= 30 AND l_discount < 0.05)
               OR (l_returnflag = 'R' AND l_suppkey IN (1, 3, 5))
            ORDER BY l_orderkey, l_linenumber"""))

  // ---------------------------------------------------------------------------
  // Venice write path continued (W5 LWW merge, B7 quota, B8 partitioner)
  // ---------------------------------------------------------------------------

  /** W5/W6 value-level CRDT merge: snapshot (events before Jan 15) merged
    * with an update log (events after, 'error' type acting as DELETE).
    * LWW on ts, delete-wins-on-equal-ts, deterministic tie-break. */
  val w5Lww = QueryDef(
    "w5_lww_merge",
    (s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("user_id"),
        col("event_type"), col("value"),
        unix_millis(col("ts")).as("ts_ms"),
        (col("event_type") === "error").as("deleted"),
        col("event_id"))
      val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
      val snapshot = ev.filter(unix_millis(cutoff) > col("ts_ms"))
      val log = ev.filter(unix_millis(cutoff) <= col("ts_ms"))
      val merged = graft.operators.Merge.lww(
        snapshot, log, Seq("user_id"), col("ts_ms"), col("event_id"))
      graft.operators.Merge.dropTombstones(merged)
        .select(col("user_id"), col("event_type"), col("value"),
          col("ts_ms"), col("event_id"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, event_type, value, ts_ms, event_id FROM (
              SELECT user_id, event_type, value, epoch_ms(ts) AS ts_ms, event_id,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY epoch_ms(ts) DESC,
                           CASE WHEN event_type = 'error' THEN 1 ELSE 0 END DESC,
                           event_id DESC) AS rn
              FROM events)
            WHERE rn = 1 AND event_type <> 'error'
            ORDER BY user_id"""))

  /** W6 A/A DELETE-wins, end-to-end against the engine: a newer tombstone
    * must reject PUTs that carry an OLDER conflict-resolution timestamp
    * even when they ARRIVE after the delete, and the tombstone must keep
    * its timestamp through a repush so the rejection keeps holding against
    * the compacted version (reference semantics:
    * AbstractMerge.deleteWithValueLevelTimestamp — delete wins on
    * oldTs <= deleteTs and the RMD stores deleteTs "to reject future PUT
    * record with lower replication timestamp";
    * MergeConflictResolver.java:164-202).
    *
    * Exact-ts ties (pinned here in both arrival orders): the reference's
    * FIELD-level resolver is arrival-order-dependent — an incoming delete
    * kills a field at currFieldTs <= deleteTs
    * (PerFieldTimestampMergeRecordHelper.deleteRecordField), but an
    * incoming put at the same ts then resurrects it via value-compare
    * against the deleted field's default (putOnField → compareAndReturn,
    * where non-null beats the null default) — so two regions applying the
    * same tied ops in different orders DIVERGE. A commutative lattice
    * cannot (and should not) replay arrival order; this engine resolves
    * exact-ts put-vs-delete ties with the convergent refinement "live
    * value beats field tombstone", which agrees with the reference
    * whenever the put arrives last and guarantees cross-region
    * convergence when it doesn't. (The VALUE-level resolver — our non-A/A
    * [[graft.operators.Merge.lww]] — is delete-wins in BOTH directions:
    * AbstractMerge.java:53-55 plus MergeUtils.java:12-17 "nulls win … we
    * prefer deletes to win"; that path matches the reference exactly,
    * see w5_lww_merge.)
    *
    * Script on `nation` (25 keys): delete keys 0–9 @2000; put 0–4
    * 'LATE_OLD' @1000 (arrives after — stays dead); put 8–9 'RESURRECTED'
    * @3000 (newer — comes back); REPUSH (tombstones compact, RMD
    * persisted); put 0–1 'POST_REPUSH_OLD' @1500 (still dead — tombstone
    * ts survived the compaction); put 2 'POST_REPUSH_NEW' @2500 (alive —
    * the tombstone is a ts gate, not a permanent kill); then the tie
    * pins: delete 10 @7000 THEN put 10 'TIE_RESURRECT' @7000 (put arrives
    * last — alive, agreeing with the reference) and put 11
    * 'TIE_PUT_FIRST' @8000 THEN delete 11 @8000 (delete arrives last —
    * alive under the convergent refinement; the reference would kill this
    * one and diverge from its own other-order outcome). */
  val w6DeleteWins = QueryDef(
    "w6_delete_wins",
    (s, dir) => {
      val e = tempEngine(s, "graft-w6")
      e.createStore("n", Seq("n_nationkey"))
      val nat = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      e.push("n", nat, numBuckets = 4)
      e.enableActiveActive("n")
      def put(lo: Int, hi: Int, name: String, ts: Long): Unit =
        e.putAA("n", nat.filter(col("n_nationkey").between(lo, hi))
          .withColumn("n_name", lit(name)), tsMs = ts)
      e.deleteAA("n", nat.filter(col("n_nationkey") <= 9)
        .select("n_nationkey"), tsMs = 2000L)
      put(0, 4, "LATE_OLD", 1000L)
      put(8, 9, "RESURRECTED", 3000L)
      e.repush("n")
      put(0, 1, "POST_REPUSH_OLD", 1500L)
      put(2, 2, "POST_REPUSH_NEW", 2500L)
      // exact-ts ties, both arrival orders (see scaladoc)
      e.deleteAA("n", nat.filter(col("n_nationkey") === 10)
        .select("n_nationkey"), tsMs = 7000L)
      put(10, 10, "TIE_RESURRECT", 7000L)
      put(11, 11, "TIE_PUT_FIRST", 8000L)
      e.deleteAA("n", nat.filter(col("n_nationkey") === 11)
        .select("n_nationkey"), tsMs = 8000L)
      e.servingView("n")
        .select(col("n_nationkey"), col("n_name"))
        .orderBy(col("n_nationkey"))
    },
    Some("""SELECT n_nationkey,
              CASE WHEN n_nationkey = 2 THEN 'POST_REPUSH_NEW'
                   WHEN n_nationkey IN (8, 9) THEN 'RESURRECTED'
                   WHEN n_nationkey = 10 THEN 'TIE_RESURRECT'
                   WHEN n_nationkey = 11 THEN 'TIE_PUT_FIRST'
                   ELSE n_name END AS n_name
            FROM nation WHERE n_nationkey = 2 OR n_nationkey >= 8
            ORDER BY n_nationkey"""))

  /** W3 write-compute end-to-end: snapshot of per-user tag sets (events
    * before Jan 15) + an update stream (setUnion of each later event's type,
    * then a final setDiff removing 'error') folded per key in ts order. */
  val w3WriteCompute = QueryDef(
    "w3_write_compute",
    (s, dir) => {
      import graft.operators.WriteCompute
      val ev = Tables.events(s, dir)
      val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
      val snapshot = ev.filter(col("ts") < cutoff)
        .groupBy(col("user_id"))
        .agg(array_sort(collect_set(col("event_type"))).as("tags"))
      val nullArr = lit(null).cast("array<string>")
      val adds = ev.filter(col("ts") >= cutoff).select(
        col("user_id"), unix_millis(col("ts")).as(WriteCompute.TsCol),
        nullArr.as("tags"),
        array(col("event_type")).as("tags__setUnion"),
        nullArr.as("tags__setDiff"),
        array().cast("array<string>").as(WriteCompute.SetFieldsCol))
      val removeErr = ev.groupBy(col("user_id"))
        .agg((max(unix_millis(col("ts"))) + 1).as(WriteCompute.TsCol))
        .select(col("user_id"), col(WriteCompute.TsCol),
          nullArr.as("tags"), nullArr.as("tags__setUnion"),
          typedLit(Seq("error")).as("tags__setDiff"),
          array().cast("array<string>").as(WriteCompute.SetFieldsCol))
      WriteCompute.applyUpdates(snapshot, adds.unionByName(removeErr), Seq("user_id"))
        .select(col("user_id"),
          array_join(array_sort(col("tags")), ",").as("tags"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id,
            array_to_string(list_sort(list_filter(list(DISTINCT event_type), t -> t <> 'error')), ',') AS tags
            FROM events GROUP BY user_id ORDER BY user_id"""))

  /** W7 field-level RMD CRDT merge: a scripted active-active op stream
    * derived from the events table — op = event_id % 4 (0: full PUT
    * {score, tags}, 1: setField score, 2: add tag element, 3: remove tag
    * element), ts = event_id (globally unique, so LWW winners are purely
    * ts-determined) — folded through the commutative [[graft.operators.CrdtMerge]]
    * lattice (reference semantics: MergeConflictResolver.java:204-255,
    * SortBasedCollectionFieldOpHandler observed-remove sets). The oracle
    * recomputes the converged state directly: per-scalar arg-max ts; an
    * element is live iff its max add-ts ≥ the max full-put ts and > its max
    * remove-ts. */
  val w7Crdt = QueryDef(
    "w7_crdt_merge",
    (s, dir) => {
      import org.apache.spark.sql.types._
      import graft.operators.CrdtMerge
      val value = StructType(Seq(
        StructField("score", DoubleType),
        StructField("tags", ArrayType(StringType))))
      val ev = Tables.events(s, dir).select(
        col("user_id"), col("event_id").as("ts"),
        col("event_type"), col("value"),
        pmod(col("event_id"), lit(4)).as("op"))
      val state =
        when(col("op") === 0, CrdtMerge.putState(
          struct(col("value").as("score"), array(col("event_type")).as("tags")),
          col("ts"), value))
        .when(col("op") === 1,
          CrdtMerge.setFieldState("score", col("value"), col("ts"), value))
        .when(col("op") === 2, CrdtMerge.elementOpState(
          "tags", col("event_type"), col("ts"), isRemove = false, value))
        .otherwise(CrdtMerge.elementOpState(
          "tags", col("event_type"), col("ts"), isRemove = true, value))
      CrdtMerge.mergeEvents(
        ev.select(col("user_id"), state.as("state")), Seq("user_id"), value)
        .select(col("user_id"),
          round(col("score") * 100).cast("long").as("score_cents"),
          array_join(col("tags"), ",").as("tags"))
        .orderBy(col("user_id"))
    },
    Some("""WITH ops AS (
              SELECT user_id, event_id AS ts, event_type, value, event_id % 4 AS op
              FROM events),
            topts AS (
              SELECT user_id, max(CASE WHEN op = 0 THEN ts END) AS top_ts
              FROM ops GROUP BY user_id),
            score AS (
              SELECT user_id, arg_max(value, ts) AS score
              FROM ops WHERE op IN (0, 1) GROUP BY user_id),
            adds AS (
              SELECT user_id, event_type AS elem, max(ts) AS add_ts
              FROM ops WHERE op IN (0, 2) GROUP BY user_id, event_type),
            dels AS (
              SELECT user_id, event_type AS elem, max(ts) AS del_ts
              FROM ops WHERE op = 3 GROUP BY user_id, event_type),
            live AS (
              SELECT a.user_id, a.elem FROM adds a
              LEFT JOIN dels d ON a.user_id = d.user_id AND a.elem = d.elem
              LEFT JOIN topts t ON a.user_id = t.user_id
              WHERE a.add_ts >= coalesce(t.top_ts, -9223372036854775808)
                AND a.add_ts > coalesce(d.del_ts, -9223372036854775808)),
            tags AS (
              SELECT user_id, array_to_string(list_sort(list(elem)), ',') AS tags
              FROM live GROUP BY user_id)
            SELECT u.user_id,
              CAST(round(s.score * 100) AS BIGINT) AS score_cents,
              coalesce(g.tags, '') AS tags
            FROM (SELECT DISTINCT user_id FROM ops) u
            LEFT JOIN score s ON u.user_id = s.user_id
            LEFT JOIN tags g ON u.user_id = g.user_id
            ORDER BY u.user_id"""))

  /** W7 over a MAP field: per-entry RMD merge (put-entry / remove-key /
    * full put, op = event_id % 3, ts = event_id) — the map half of the
    * reference's collection handler (SortBasedCollectionFieldOpHandler).
    * The oracle recomputes per-entry LWW: an entry is live iff its max
    * put-ts ≥ the max full-put ts and > its max remove-ts; its value is the
    * arg-max-ts put. */
  val w7CrdtMap = QueryDef(
    "w7_crdt_map",
    (s, dir) => {
      import org.apache.spark.sql.types._
      import graft.operators.CrdtMerge
      val value = StructType(Seq(
        StructField("props", MapType(StringType, StringType))))
      val ev = Tables.events(s, dir).select(
        col("user_id"), col("event_id").as("ts"), col("event_type"),
        round(col("value") * 100).cast("long").cast("string").as("v"),
        pmod(col("event_id"), lit(3)).as("op"))
      val state =
        when(col("op") === 0, CrdtMerge.mapEntryState(
          "props", col("event_type"), col("v"), col("ts"), value))
        .when(col("op") === 1, CrdtMerge.mapRemoveState(
          "props", col("event_type"), col("ts"), value))
        .otherwise(CrdtMerge.putState(
          struct(map(col("event_type"), col("v")).as("props")),
          col("ts"), value))
      CrdtMerge.mergeEvents(
        ev.select(col("user_id"), state.as("state")), Seq("user_id"), value)
        .select(col("user_id"),
          array_join(transform(array_sort(map_entries(col("props"))),
            e => concat(e.getField("key"), lit("="), e.getField("value"))), ",")
            .as("props"))
        .orderBy(col("user_id"))
    },
    Some("""WITH ops AS (
              SELECT user_id, event_id AS ts, event_type AS k,
                CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR) AS v,
                event_id % 3 AS op
              FROM events),
            topts AS (
              SELECT user_id, max(CASE WHEN op = 2 THEN ts END) AS top_ts
              FROM ops GROUP BY user_id),
            adds AS (
              SELECT user_id, k, max(ts) AS add_ts, arg_max(v, ts) AS v
              FROM ops WHERE op IN (0, 2) GROUP BY user_id, k),
            dels AS (
              SELECT user_id, k, max(ts) AS del_ts
              FROM ops WHERE op = 1 GROUP BY user_id, k),
            live AS (
              SELECT a.user_id, a.k, a.v FROM adds a
              LEFT JOIN dels d ON a.user_id = d.user_id AND a.k = d.k
              LEFT JOIN topts t ON a.user_id = t.user_id
              WHERE a.add_ts >= coalesce(t.top_ts, -9223372036854775808)
                AND a.add_ts > coalesce(d.del_ts, -9223372036854775808)),
            m AS (
              SELECT user_id,
                array_to_string(list_sort(list(k || '=' || v)), ',') AS props
              FROM live GROUP BY user_id)
            SELECT u.user_id, coalesce(m.props, '') AS props
            FROM (SELECT DISTINCT user_id FROM ops) u
            LEFT JOIN m ON u.user_id = m.user_id
            ORDER BY u.user_id"""))

  /** B7 storage-quota enforcement: total serialized key+value bytes
    * (distributed sum, the single collected row is the quota verdict). */
  val b7Quota = QueryDef(
    "b7_quota",
    (s, dir) => t(s, dir, "customer")
      .agg(sum(octet_length(col("c_custkey").cast("string")) +
        octet_length(col("c_name")) + octet_length(col("c_mktsegment")))
        .as("total_bytes"),
        count(lit(1)).as("n_records")),
    Some("""SELECT CAST(sum(strlen(CAST(c_custkey AS VARCHAR))
                 + strlen(c_name) + strlen(c_mktsegment)) AS BIGINT) AS total_bytes,
            count(*) AS n_records FROM customer"""))

  /** B8 Venice-style md5-mod partitioner: per-partition record counts
    * (the partition+sort stage's audit; reproducible cross-engine). */
  val b8Partition = QueryDef(
    "b8_partition_counts",
    (s, dir) => t(s, dir, "customer")
      .select(HashOps.partitionId(col("c_custkey"), 16).as("partition_id"))
      .groupBy(col("partition_id")).agg(count(lit(1)).as("n"))
      .orderBy(col("partition_id")),
    Some("""SELECT (('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT % 16)::INT
              AS partition_id, count(*) AS n
            FROM customer GROUP BY 1 ORDER BY partition_id"""))

  // ---------------------------------------------------------------------------
  // SURVEY §2 engine-path ops, oracle-checked end-to-end: each query drives
  // the real GraftEngine (temp store, scripted ops) or plumbing operator and
  // is checked against a DuckDB oracle computing the same result from the
  // raw tables. These flip the spec-only coverage rows to pass.
  // ---------------------------------------------------------------------------

  private def tempEngine(s: SparkSession, prefix: String): graft.core.GraftEngine =
    new graft.core.GraftEngine(s,
      graft.core.TmpStores.dir(prefix).toString)

  /** Content-keyed staged "topic" for the streaming oracles: writes `ev`
    * once per JVM per source content (the bench's min-of-2 would otherwise
    * re-pay the write every pass) and symlinks it into a fresh per-
    * invocation `in/` dir the file-source stream reads. The key hashes the
    * source files' names+sizes+mtimes, not just the path: a regenerated
    * parquet at the same path must invalidate the cache. */
  private def stagedTopic(dir: String, prefix: String,
      ev: DataFrame, srcTable: String = "events"): (String, String) = {
    val srcSig = Option(new java.io.File(s"$dir/$srcTable.parquet").listFiles())
      .map(_.toSeq).getOrElse(Seq(new java.io.File(s"$dir/$srcTable.parquet")))
      .sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString(",")
    val stage = graft.core.TmpStores.fixed(s"$prefix-${
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"$dir|$srcSig".getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString}").toFile
    if (!new java.io.File(stage, "_SUCCESS").exists())
      ev.write.mode("overwrite").parquet(stage.toString)
    val root = graft.core.TmpStores.dir(prefix).toString
    val in = s"$root/in"
    new java.io.File(in).mkdirs()
    stage.listFiles().foreach { f =>
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(in, f.getName), f.toPath)
    }
    (root, in)
  }

  /** R12 store metadata: catalog + version pointer after two pushes. */
  val r12Meta = QueryDef(
    "r12_store_meta",
    (s, dir) => {
      import s.implicits._
      val e = tempEngine(s, "graft-r12")
      e.createStore("nat", Seq("n_nationkey"))
      e.push("nat", Tables.nation(s, dir).filter(col("n_nationkey") < 10),
        numBuckets = 4)
      e.push("nat", Tables.nation(s, dir), numBuckets = 4)
      val meta = e.storeMeta("nat")
      Seq((meta.name, e.currentVersion("nat"), meta.keyCols.mkString(","),
        e.snapshot("nat").count()))
        .toDF("store", "current_version", "key_cols", "n_rows")
    },
    Some("""SELECT 'nat' AS store, 2 AS current_version,
            'n_nationkey' AS key_cols, count(*) AS n_rows FROM nation"""))

  /** §1.4 multi-schema value evolution: push under schema v1, register an
    * evolved v2 (adds a field), then interleave writes from a v2 writer and
    * a still-running v1 writer. Each log batch carries its writer schema id;
    * the serving view resolves everything to the registered-schema superset
    * (old rows read the new field as null) — Venice's writer→reader
    * resolution (StorageReadRequestHandler.java:932-937 semantics). */
  val r13SchemaEvolution = QueryDef(
    "r13_schema_evolution",
    (s, dir) => {
      import org.apache.spark.sql.types._
      val e = tempEngine(s, "graft-sev")
      e.createStore("c", Seq("c_custkey"))
      val cust = t(s, dir, "customer").filter(col("c_custkey") <= 2000)
      e.push("c", cust.select(col("c_custkey"), col("c_name"), col("c_acctbal")),
        numBuckets = 4)
      // evolve: v2 adds a nullable segment field
      e.registerValueSchema("c", StructType(e.valueSchema("c", 1).fields :+
        StructField("segment", StringType)))
      // a v2 writer fills the new field…
      e.put("c", cust.filter(col("c_custkey") <= 50)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_mktsegment").as("segment")), tsMs = 1000L)
      // …while a v1 writer (no segment column) keeps writing
      e.put("c", cust.filter(col("c_custkey").between(51, 60))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")), tsMs = 2000L)
      e.servingView("c")
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"),
          col("segment"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name,
            CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
            CASE WHEN c_custkey <= 50 THEN c_mktsegment END AS segment
            FROM customer WHERE c_custkey <= 2000 ORDER BY c_custkey"""))

  /** Incremental materialized-view maintenance: a view re-keyed by
    * (o_custkey, o_orderkey) — the prefix-scan-by-customer layout — is
    * refreshed from the source changelog after puts that MOVE rows across
    * view keys (o_custkey changes) and deletes. Only changed keys are
    * touched (pinned in EngineSpec); result ≡ full recompute. */
  val b13IncrementalView = QueryDef(
    "b13_incremental_view",
    (s, dir) => {
      val e = tempEngine(s, "graft-b13")
      e.createStore("o", Seq("o_orderkey"))
      val ord = t(s, dir, "orders").filter(col("o_orderkey") <= 3000)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      e.push("o", ord, numBuckets = 4)
      e.materializedView("o", "o_by_cust", Seq("o_custkey", "o_orderkey"),
        numBuckets = 4)
      // re-key 1..20 to customer 1 (view rows must MOVE), delete 21..30
      e.put("o", ord.filter(col("o_orderkey") <= 20)
        .withColumn("o_custkey", lit(1L))
        .withColumn("o_orderstatus", lit("U")), tsMs = 1000L)
      e.delete("o", ord.filter(col("o_orderkey").between(21, 30))
        .select("o_orderkey"), tsMs = 2000L)
      e.refreshView("o_by_cust")
      e.servingView("o_by_cust")
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"),
          col("o_orderstatus"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT CASE WHEN o_orderkey <= 20 THEN 1 ELSE o_custkey END AS o_custkey,
            o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
            CASE WHEN o_orderkey <= 20 THEN 'U' ELSE o_orderstatus END AS o_orderstatus
            FROM orders
            WHERE o_orderkey <= 3000 AND o_orderkey NOT BETWEEN 21 AND 30
            ORDER BY 1, 2"""))

  /** Incremental JOIN-view maintenance (b19): two stores keyed by
    * o_orderkey (prices / statuses), inner-joined into a materialized
    * view, then puts on BOTH sides + deletes refreshed via the delta-join
    * (changed keys from both changelogs probe the other side's serving
    * view — never a full recompute; EngineSpec pins refresh ≡ recompute
    * and StressCheck pins the delta-sized cost). */
  val b19JoinView = QueryDef(
    "b19_join_view",
    (s, dir) => {
      val e = tempEngine(s, "graft-b19")
      e.createStore("op", Seq("o_orderkey"))
      e.createStore("os", Seq("o_orderkey"))
      val ord = t(s, dir, "orders").filter(col("o_orderkey") <= 3000)
      e.push("op", ord.select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents")),
        numBuckets = 4)
      e.push("os", ord.select(col("o_orderkey"), col("o_orderstatus")),
        numBuckets = 4)
      e.joinView("op", "os", "oj", numBuckets = 4)
      e.put("op", ord.filter(col("o_orderkey") <= 20)
        .select(col("o_orderkey"), lit(1L).as("price_cents")), tsMs = 1000L)
      e.put("os", ord.filter(col("o_orderkey").between(100, 110))
        .select(col("o_orderkey"), lit("X").as("o_orderstatus")), tsMs = 1500L)
      e.delete("os", ord.filter(col("o_orderkey").between(21, 30))
        .select("o_orderkey"), tsMs = 2000L)
      e.refreshJoinView("oj")
      e.servingView("oj")
        .select(col("o_orderkey"), col("price_cents"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey,
            CASE WHEN o_orderkey <= 20 THEN 1
                 ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS price_cents,
            CASE WHEN o_orderkey BETWEEN 100 AND 110 THEN 'X'
                 ELSE o_orderstatus END AS o_orderstatus
            FROM orders
            WHERE o_orderkey <= 3000 AND o_orderkey NOT BETWEEN 21 AND 30
            ORDER BY o_orderkey"""))

  /** W1 put/delete through the RT log: puts override, tombstones hide. */
  val w1PutDelete = QueryDef(
    "w1_put_delete",
    (s, dir) => {
      val e = tempEngine(s, "graft-w1")
      e.createStore("c", Seq("c_custkey"))
      // bounded key range: the op semantics don't depend on store size, and
      // a 4-bucket store keeps the per-query push cost flat across SFs
      val cust = t(s, dir, "customer").filter(col("c_custkey") <= 2000)
      e.push("c", cust, numBuckets = 4)
      e.put("c", cust.filter(col("c_custkey") <= 5)
        .withColumn("c_name", concat(lit("UPD-"), col("c_custkey").cast("string"))),
        tsMs = 1000L)
      e.delete("c", cust.filter(col("c_custkey").between(6, 10))
        .select("c_custkey"), tsMs = 2000L)
      e.servingView("c")
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"),
          col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey,
            CASE WHEN c_custkey <= 5 THEN 'UPD-' || c_custkey ELSE c_name END AS c_name,
            CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents, c_mktsegment
            FROM customer
            WHERE c_custkey <= 2000 AND c_custkey NOT BETWEEN 6 AND 10
            ORDER BY c_custkey"""))

  /** W1 as ONE atomic CDC batch (`GraftEngine.applyCdc`): a single log
    * append carrying puts AND tombstones with PER-ROW event times — the
    * changelog-consumer / streaming-sink delivery shape. The batch even
    * contains an intra-batch conflict (keys 11–13 are tombstoned at 2000
    * and re-put at 3000 in the SAME append) resolved by LWW, proving the
    * atomic mixed append needs no ordering between its rows. */
  val w15ApplyCdc = QueryDef(
    "w15_apply_cdc",
    (s, dir) => {
      val e = tempEngine(s, "graft-w15")
      e.createStore("c", Seq("c_custkey"))
      val cust = t(s, dir, "customer").filter(col("c_custkey") <= 2000)
      e.push("c", cust, numBuckets = 4)
      val puts = cust.filter(col("c_custkey") <= 5)
        .withColumn("c_name",
          concat(lit("CDC-"), col("c_custkey").cast("string")))
        .withColumn("__ts", lit(1000L) + col("c_custkey"))
        .withColumn("__dead", lit(false))
      val tombs = cust.filter(col("c_custkey").between(6, 13))
        .select(col("c_custkey"))
        .withColumn("__ts", lit(2000L)).withColumn("__dead", lit(true))
      val reputs = cust.filter(col("c_custkey").between(11, 13))
        .withColumn("c_name",
          concat(lit("RES-"), col("c_custkey").cast("string")))
        .withColumn("__ts", lit(3000L)).withColumn("__dead", lit(false))
      e.applyCdc("c",
        puts.unionByName(tombs, allowMissingColumns = true)
          .unionByName(reputs, allowMissingColumns = true),
        col("__ts"), col("__dead"))
      e.servingView("c")
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey,
            CASE WHEN c_custkey <= 5 THEN 'CDC-' || c_custkey
                 WHEN c_custkey BETWEEN 11 AND 13 THEN 'RES-' || c_custkey
                 ELSE c_name END AS c_name,
            CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
            FROM customer
            WHERE c_custkey <= 2000 AND c_custkey NOT BETWEEN 6 AND 10
            ORDER BY c_custkey"""))

  /** W16: write-compute updates in the CHANGELOG — Venice's leader
    * resolves an UPDATE into the full post-merge PUT on the version topic,
    * so a changelog consumer sees a RESOLVED AFTER-IMAGE, never a partial
    * record. Pins the whole contract: put-only keys stream raw records;
    * update-touched keys emit one after-image (raw rows suppressed) at
    * the key's latest contributing ts (log ∪ pending updates — so an
    * updated-then-deleted key surfaces as ONE event at the delete ts,
    * and it is LIVE: the W3 fold-on-top semantic recreates it from a
    * null base, exactly what the serving view answers);
    * an update to an absent key surfaces its null-base-created record.
    * The regression behind it: update() moved the change coordinate but
    * emitted nothing, so views saved the coordinate and skipped the
    * update forever. */
  val w16UpdateCdc = QueryDef(
    "w16_update_cdc",
    (s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      import graft.operators.{UpdateBuilder, WriteCompute}
      val e = tempEngine(s, "graft-w16")
      e.createStore("c", Seq("c_custkey"))
      val cust = t(s, dir, "customer").filter(col("c_custkey") <= 2000)
      e.push("c", cust, numBuckets = 4)
      e.put("c", cust.filter(col("c_custkey") <= 10)
        .withColumn("c_name",
          concat(lit("P-"), col("c_custkey").cast("string"))), tsMs = 1000L)
      val valueSchema = StructType(
        e.snapshot("c").schema.fields.filterNot(_.name == "c_custkey"))
      val u = new UpdateBuilder(valueSchema)
        .setField("c_mktsegment", "UPD").buildRow()
      val updSchema = StructType(StructField("c_custkey", LongType) +:
        WriteCompute.deriveUpdateSchema(valueSchema).fields)
      val updKeys = (6L to 15L) :+ 9999L // 6-10 overlap puts; 9999 absent
      e.update("c", s.createDataFrame(
        java.util.Arrays.asList(updKeys.map(k => Row.fromSeq(k +: u.toSeq)): _*),
        updSchema), tsMs = 2000L)
      e.delete("c", s.createDataFrame(
        java.util.Arrays.asList(Row(14L), Row(15L), Row(20L)),
        StructType(Seq(StructField("c_custkey", LongType)))), tsMs = 3000L)
      e.changelog("c", sinceTsMs = 0L)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col(graft.core.GraftEngine.TsCol).as("ts"),
          col(graft.core.GraftEngine.DeletedCol).as("deleted"))
        .orderBy(col("c_custkey"), col("ts"))
    },
    Some("""WITH base AS (SELECT c_custkey, c_name, c_mktsegment
              FROM customer WHERE c_custkey <= 2000)
            SELECT c_custkey, 'P-' || c_custkey AS c_name, c_mktsegment,
              CAST(1000 AS BIGINT) AS ts, false AS deleted
            FROM base WHERE c_custkey BETWEEN 0 AND 5
            UNION ALL
            SELECT c_custkey,
              CASE WHEN c_custkey <= 10 THEN 'P-' || c_custkey
                   ELSE c_name END AS c_name,
              'UPD' AS c_mktsegment, CAST(2000 AS BIGINT) AS ts,
              false AS deleted
            FROM base WHERE c_custkey BETWEEN 6 AND 13
            UNION ALL
            -- deleted-then-still-updated keys resolve LIVE (the W3
            -- fold-on-top semantic: pending updates apply onto the
            -- post-LWW state whatever the delete's ts — the fuzz-model
            -- pin), so their after-image is a null-base record carrying
            -- only the updated field, at the delete's (max) ts
            SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name,
              'UPD' AS c_mktsegment,
              CAST(3000 AS BIGINT) AS ts, false AS deleted
            FROM base WHERE c_custkey IN (14, 15)
            UNION ALL
            SELECT CAST(20 AS BIGINT), CAST(NULL AS VARCHAR),
              CAST(NULL AS VARCHAR), CAST(3000 AS BIGINT), true
            UNION ALL
            SELECT CAST(9999 AS BIGINT), CAST(NULL AS VARCHAR),
              'UPD', CAST(2000 AS BIGINT), false
            ORDER BY c_custkey, ts"""))

  /** DSv2 connector read: the same hybrid store as w1 (push + RT puts +
    * tombstones), but read back through VANILLA
    * `spark.read.format("graft")` — no engine API on the read path. The
    * analysis-time rewrite must reproduce servingView exactly (version
    * pointer, LWW overlay, delete-wins), so the oracle is the same
    * snapshot+ops replay the w1 oracle runs. */
  val dsv2StoreRead = QueryDef(
    "dsv2_store_read",
    (s, dir) => {
      val root = graft.core.TmpStores.dir("graft-dsv2q").toString
      val e = new graft.core.GraftEngine(s, root)
      e.createStore("c", Seq("c_custkey"))
      val cust = t(s, dir, "customer").filter(col("c_custkey") <= 2000)
      e.push("c", cust, numBuckets = 4)
      e.put("c", cust.filter(col("c_custkey") <= 5)
        .withColumn("c_name", concat(lit("DSV2-"), col("c_custkey").cast("string"))),
        tsMs = 1000L)
      e.delete("c", cust.filter(col("c_custkey").between(6, 10))
        .select("c_custkey"), tsMs = 2000L)
      s.read.format("graft").option("root", root).option("store", "c").load()
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"),
          col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey,
            CASE WHEN c_custkey <= 5 THEN 'DSV2-' || c_custkey ELSE c_name END AS c_name,
            CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents, c_mktsegment
            FROM customer
            WHERE c_custkey <= 2000 AND c_custkey NOT BETWEEN 6 AND 10
            ORDER BY c_custkey"""))

  /** The write path through the vanilla-Spark connector: `.mode("overwrite")`
    * is a full version push (bucketed layout + atomic pointer swap — the
    * VenicePushJob lifecycle as a DataFrameWriter), `.mode("append")` is a
    * nearline put at `option("tsMs")`. Store creation stays an admin op
    * (`createStore`), as Venice refuses pushes to undeclared stores; after
    * that, write→read round-trips never touch the graft API. The oracle is
    * the pushed data with the appended overlay applied — LWW through the
    * DSv2 write, byte-identical to the engine-API path (`dsv2_store_read`'s
    * contract, written via `df.write`). */
  val dsv2StoreWrite = QueryDef(
    "dsv2_store_write",
    (s, dir) => {
      val root = graft.core.TmpStores.dir("graft-dsv2w").toString
      val e = new graft.core.GraftEngine(s, root)
      e.createStore("c", Seq("c_custkey"))
      val cust = t(s, dir, "customer").filter(col("c_custkey") <= 2000)
      cust.write.format("graft").option("root", root).option("store", "c")
        .option("numBuckets", 4).mode("overwrite").save()
      cust.filter(col("c_custkey") <= 5)
        .withColumn("c_name", concat(lit("WRT-"), col("c_custkey").cast("string")))
        .write.format("graft").option("root", root).option("store", "c")
        .option("tsMs", 1000L).mode("append").save()
      s.read.format("graft").option("root", root).option("store", "c").load()
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey,
            CASE WHEN c_custkey <= 5 THEN 'WRT-' || c_custkey ELSE c_name END AS c_name,
            CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
            FROM customer WHERE c_custkey <= 2000
            ORDER BY c_custkey"""))

  /** The text/dedup primitives as pure SQL: shingling, MinHash signatures
    * and the store-layout bucket function through the injected `graft_*`
    * functions, replayed in DuckDB with the same md5 hash constructions
    * the dedup oracles use — SQL callers get the exact expressions the
    * dedup/LSH pipeline runs (one-pass codegen'd ShingleSet/MinHashSig),
    * not lookalikes. */
  val sqlTextFns = QueryDef(
    "sql_text_fns",
    (s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("docs_fns")
      s.sql("""SELECT doc_id,
          graft_bucket(doc_id, 8) AS bucket,
          size(graft_shingles(text, 3)) AS n_shingles,
          element_at(graft_minhash(graft_shingles(text, 3), 4), 1) AS mh0,
          element_at(graft_minhash(graft_shingles(text, 3), 4), 4) AS mh3
        FROM docs_fns ORDER BY doc_id""")
    },
    Some(s"""WITH sh AS (SELECT doc_id,
              ${shinglesSql(tokensSql)} AS shingles FROM documents),
            hv AS (SELECT doc_id,
                ('0x' || substr(md5(s), 1, 8))::BIGINT AS h1,
                ('0x' || substr(md5(s), 9, 8))::BIGINT AS h2
              FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
              WHERE s IS NOT NULL),
            mh AS (SELECT doc_id,
                CAST(min(h1 % 2147483647) AS BIGINT) AS mh0,
                CAST(min((h1 + 3 * h2) % 2147483647) AS BIGINT) AS mh3
              FROM hv GROUP BY doc_id)
            SELECT d.doc_id,
              CAST(('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT % 8
                AS INTEGER) AS bucket,
              CAST(len(sh.shingles) AS INTEGER) AS n_shingles,
              mh.mh0, mh.mh3
            FROM documents d
            JOIN sh USING (doc_id)
            LEFT JOIN mh USING (doc_id)
            ORDER BY d.doc_id"""))

  /** The changelog through the vanilla-Spark connector: the same writes as
    * `dsv2_store_read`, read back as CHANGE EVENTS with
    * `.option("changelog", "true")` (the B2/S4 surface for sessions with no
    * graft API on the classpath — batch here; `readStream` over the same
    * option is the live subscription, spec-verified in ConnectorSpec since
    * a streaming drain has no SQL oracle). Events carry the value, the
    * event-time, and the tombstone flag; the plan is the engine's
    * changelog plan via the analysis-time rewrite — a pruned scan of the
    * log directory only, never the snapshot. */
  val dsv2ChangelogRead = QueryDef(
    "dsv2_changelog_read",
    (s, dir) => {
      val root = graft.core.TmpStores.dir("graft-dsv2cl").toString
      val e = new graft.core.GraftEngine(s, root)
      e.createStore("c", Seq("c_custkey"))
      val cust = t(s, dir, "customer").filter(col("c_custkey") <= 2000)
      e.push("c", cust, numBuckets = 4)
      e.put("c", cust.filter(col("c_custkey") <= 5)
        .withColumn("c_name", concat(lit("DSV2-"), col("c_custkey").cast("string"))),
        tsMs = 1000L)
      e.delete("c", cust.filter(col("c_custkey").between(6, 10))
        .select("c_custkey"), tsMs = 2000L)
      s.read.format("graft").option("root", root).option("store", "c")
        .option("changelog", "true").load()
        .select(col("c_custkey"), col("c_name"),
          col(graft.core.GraftEngine.TsCol).as("ts_ms"),
          col(graft.core.GraftEngine.DeletedCol).as("deleted"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, 'DSV2-' || c_custkey AS c_name,
              CAST(1000 AS BIGINT) AS ts_ms, false AS deleted
            FROM customer WHERE c_custkey <= 5
            UNION ALL
            SELECT c_custkey, NULL AS c_name,
              CAST(2000 AS BIGINT) AS ts_ms, true AS deleted
            FROM customer WHERE c_custkey BETWEEN 6 AND 10
            ORDER BY c_custkey"""))

  /** S1 through `writeStream.format("graft")` — the NATIVE streaming sink
    * (no foreachBatch closure, no graft API in the stream body): a file
    * stream of nearline events lands on a compacted batch snapshot, each
    * microbatch one atomic log append with per-row event-time LWW
    * (`option("tsColumn")`), exactly-once via the sink's per-query batch
    * commit record. Same convergence contract as `s1_stream_ingest`, minus
    * the transformer — the oracle replays the LWW fold over both waves. */
  val dsv2StreamWrite = QueryDef(
    "dsv2_stream_write",
    (s, dir) => {
      val e = tempEngine(s, "graft-dsv2s")
      e.createStore("ev", Seq("user_id"))
      val evAll = Tables.events(s, dir).filter(col("user_id") < 200)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      e.push("ev", graft.operators.Compaction.latestPerKey(
        evAll.filter(col("event_id") % 10 < 5), Seq("user_id"),
        Seq(col("event_id"))), numBuckets = 4)
      val streamIn = s"${e.root}/in"
      evAll.filter(col("event_id") % 10 >= 5).write.parquet(streamIn)
      val q = s.readStream.schema(evAll.schema).parquet(streamIn)
        .writeStream.format("graft")
        .option("root", e.root).option("store", "ev")
        .option("tsColumn", "event_id")
        .option("checkpointLocation", s"${e.root}/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      require(q.awaitTermination(180000),
        "dsv2_stream_write: stream did not drain within 180s — refusing to " +
          "read a partially-ingested view")
      e.servingView("ev")
        .select(col("user_id"), col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("value_cents"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, event_id, event_type,
              CAST(round(value * 100) AS BIGINT) AS value_cents
            FROM (
              SELECT user_id, event_id, event_type, value,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY src DESC, event_id DESC) AS rn
              FROM (
                SELECT user_id, event_id, event_type, value, 1 AS src
                FROM events
                WHERE user_id < 200 AND event_id % 10 >= 5
                UNION ALL
                SELECT user_id, event_id, event_type, value, 0 AS src
                FROM events WHERE user_id < 200 AND event_id % 10 < 5
                QUALIFY row_number() OVER (PARTITION BY user_id
                  ORDER BY event_id DESC) = 1))
            WHERE rn = 1 ORDER BY user_id"""))

  /** Time travel through the vanilla-Spark connector:
    * `.option("asOfTs", t)` pins the serving view at a past instant (the
    * DuckDB-style `AT (TIMESTAMP …)` read as a DSv2 option — r16's read
    * primitive with no graft API in the read path). Three instants across
    * an update/delete/re-put history, same worlds as `r16_asof_read`. */
  val dsv2AsofRead = QueryDef(
    "dsv2_asof_read",
    (s, dir) => {
      val e = tempEngine(s, "graft-dsv2t")
      e.createStore("c", Seq("c_custkey"))
      val cust = t(s, dir, "customer").filter(col("c_custkey") <= 1000)
        .select(col("c_custkey"), col("c_name"))
      e.push("c", cust, numBuckets = 4)
      e.put("c", cust.filter(col("c_custkey") <= 100)
        .withColumn("c_name", concat(col("c_name"), lit("_U1"))), tsMs = 1000L)
      e.delete("c", cust.filter(col("c_custkey").between(101, 200))
        .select("c_custkey"), tsMs = 2000L)
      e.put("c", cust.filter(col("c_custkey").between(101, 150))
        .withColumn("c_name", concat(col("c_name"), lit("_U3"))), tsMs = 3000L)
      def read(ts: Long, tag: String) =
        s.read.format("graft").option("root", e.root).option("store", "c")
          .option("asOfTs", ts).load().withColumn("as_of", lit(tag))
      read(1500L, "t1500")
        .unionByName(read(2500L, "t2500"))
        .unionByName(read(3500L, "t3500"))
        .select(col("as_of"), col("c_custkey"), col("c_name"))
        .orderBy(col("as_of"), col("c_custkey"))
    },
    Some("""WITH c AS (SELECT c_custkey, c_name FROM customer
               WHERE c_custkey <= 1000)
             SELECT 't1500' AS as_of, c_custkey,
               CASE WHEN c_custkey <= 100 THEN c_name || '_U1'
                    ELSE c_name END AS c_name
             FROM c
             UNION ALL
             SELECT 't2500', c_custkey,
               CASE WHEN c_custkey <= 100 THEN c_name || '_U1'
                    ELSE c_name END
             FROM c WHERE c_custkey NOT BETWEEN 101 AND 200
             UNION ALL
             SELECT 't3500', c_custkey,
               CASE WHEN c_custkey <= 100 THEN c_name || '_U1'
                    WHEN c_custkey BETWEEN 101 AND 150 THEN c_name || '_U3'
                    ELSE c_name END
             FROM c WHERE c_custkey NOT BETWEEN 151 AND 200
             ORDER BY as_of, c_custkey"""))

  /** Cross-store (active-passive) replication over PURE connector
    * surfaces: `readStream(changelog)` → `writeStream(graft)` carries the
    * leader's puts AND tombstones with their original event times into a
    * follower store — no graft API in the pipeline body, exactly-once via
    * the sink's commit record, checkpoint-resumable. The follower's
    * serving view converges to the leader's (the cross-region
    * replication story; reference semantics, not code: Venice A/P
    * followers consume the leader's RT through the replication pipeline). */
  val dsv2Replication = QueryDef(
    "dsv2_replication",
    (s, dir) => {
      val e = tempEngine(s, "graft-rep")
      e.createStore("lead", Seq("c_custkey"))
      e.createStore("follow", Seq("c_custkey"))
      val cust = t(s, dir, "customer").filter(col("c_custkey") <= 2000)
      e.push("lead", cust, numBuckets = 4)
      // follower starts from the same batch base; the stream closes the gap
      e.push("follow", cust, numBuckets = 4)
      e.put("lead", cust.filter(col("c_custkey") <= 5)
        .withColumn("c_name", concat(lit("REP-"), col("c_custkey").cast("string"))),
        tsMs = 1000L)
      e.delete("lead", cust.filter(col("c_custkey").between(6, 10))
        .select("c_custkey"), tsMs = 2000L)
      val q = s.readStream.format("graft")
        .option("root", e.root).option("store", "lead")
        .option("changelog", "true").load()
        .writeStream.format("graft")
        .option("root", e.root).option("store", "follow")
        .option("tsColumn", graft.core.GraftEngine.TsCol)
        .option("deleteColumn", graft.core.GraftEngine.DeletedCol)
        .option("checkpointLocation", s"${e.root}/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      require(q.awaitTermination(180000),
        "dsv2_replication: stream did not drain within 180s")
      e.servingView("follow")
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey,
            CASE WHEN c_custkey <= 5 THEN 'REP-' || c_custkey ELSE c_name END AS c_name,
            CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
            FROM customer
            WHERE c_custkey <= 2000 AND c_custkey NOT BETWEEN 6 AND 10
            ORDER BY c_custkey"""))

  /** SQL-STANDARD time travel through the catalog: `TIMESTAMP AS OF`
    * pins a past instant (snapshot + log prefix), `VERSION AS OF n` is
    * the rollback-preview read (version n's immutable snapshot with the
    * LIVE log overlaid — the state `rollback` would serve; archived logs
    * from before n's repush stay folded into later versions, exactly
    * Venice's backup-version semantics). Three worlds in one result: the
    * current view, a pre-delete instant on the current version, and the
    * backup version under today's log. */
  val sqlTimeTravel = QueryDef(
    "sql_time_travel",
    (s, dir) => {
      val e = tempEngine(s, "graft-gtt")
      s.conf.set("spark.sql.catalog.gtt", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gtt.root", e.root)
      e.createStore("c", Seq("c_custkey"))
      val cust = t(s, dir, "customer").filter(col("c_custkey") <= 1000)
        .select(col("c_custkey"), col("c_name"))
      e.push("c", cust, numBuckets = 4)
      e.put("c", cust.filter(col("c_custkey") <= 100)
        .withColumn("c_name", concat(col("c_name"), lit("_U1"))), tsMs = 1000L)
      e.repush("c") // v2 folds the put, archives the log
      e.delete("c", cust.filter(col("c_custkey").between(201, 300))
        .select("c_custkey"), tsMs = 2000L)
      def read(clause: String, tag: String) = s.sql(
        s"SELECT '$tag' AS as_of, c_custkey, c_name FROM gtt.c $clause")
      read("TIMESTAMP AS OF '1970-01-01 00:00:01.5'", "t1500")
        .unionByName(read("VERSION AS OF 1", "v1"))
        .unionByName(read("", "now"))
        .orderBy(col("as_of"), col("c_custkey"))
    },
    Some("""WITH c AS (SELECT c_custkey, c_name FROM customer
               WHERE c_custkey <= 1000)
             SELECT 'now' AS as_of, c_custkey,
               CASE WHEN c_custkey <= 100 THEN c_name || '_U1'
                    ELSE c_name END AS c_name
             FROM c WHERE c_custkey NOT BETWEEN 201 AND 300
             UNION ALL
             SELECT 't1500', c_custkey,
               CASE WHEN c_custkey <= 100 THEN c_name || '_U1'
                    ELSE c_name END
             FROM c
             UNION ALL
             SELECT 'v1', c_custkey, c_name
             FROM c WHERE c_custkey NOT BETWEEN 201 AND 300
             ORDER BY as_of, c_custkey"""))

  /** The pure-SQL client, end to end: a store pushed through the engine is
    * read back via `format("graft")` (the DSv2 rewrite), registered as a
    * temp view, and ALL compute happens in `spark.sql` text through the
    * injected `graft_*` functions ([[graft.functions.SqlFunctions]]) — no
    * graft API call after the view registration. The SQL functions route
    * to the same codegen'd expressions as the programmatic compute DSL
    * (R4/R5/R6/R7), so this oracle doubles as the SQL↔DataFrame parity
    * proof. Plan shape: the self-join on `vec_id + 1` is a plain
    * broadcast/sort-merge equi-join over the store scan; per-row vector
    * kernels stay inside whole-stage codegen. */
  val sqlComputeClient = QueryDef(
    "sql_compute_client",
    (s, dir) => {
      val root = graft.core.TmpStores.dir("graft-sqlfn").toString
      val e = new graft.core.GraftEngine(s, root)
      e.createStore("emb", Seq("vec_id"))
      e.push("emb", t(s, dir, "embeddings"), numBuckets = 4)
      s.read.format("graft").option("root", root).option("store", "emb").load()
        .createOrReplaceTempView("emb_store")
      s.sql("""SELECT a.vec_id,
          round(graft_dot(a.embedding, b.embedding), 6) + 0.0 AS dot_next,
          round(graft_cosine(a.embedding, b.embedding), 6) + 0.0 AS cos_next,
          round(graft_l2norm(a.embedding), 6) + 0.0 AS nrm,
          graft_count(a.embedding) AS n_dim,
          round(graft_hadamard(a.embedding, b.embedding)[0], 6) + 0.0 AS had0
        FROM emb_store a JOIN emb_store b ON b.vec_id = a.vec_id + 1
        WHERE a.vec_id < 64
        ORDER BY a.vec_id""")
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
            SELECT a.vec_id,
              round(list_dot_product(a.v, b.v), 6) + 0.0 AS dot_next,
              round(list_dot_product(a.v, b.v) /
                sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)), 6)
                + 0.0 AS cos_next,
              round(sqrt(list_dot_product(a.v, a.v)), 6) + 0.0 AS nrm,
              CAST(len(a.v) AS INTEGER) AS n_dim,
              round(a.v[1] * b.v[1], 6) + 0.0 AS had0
            FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
            WHERE a.vec_id < 64
            ORDER BY a.vec_id"""))

  /** W2 UpdateBuilder → update log → serving view: one builder-constructed
    * partial update replicated over keys 1–20. */
  val w2UpdateBuilder = QueryDef(
    "w2_update_builder",
    (s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      import graft.operators.{UpdateBuilder, WriteCompute}
      val e = tempEngine(s, "graft-w2")
      e.createStore("c", Seq("c_custkey"))
      e.push("c", t(s, dir, "customer").filter(col("c_custkey") <= 2000),
        numBuckets = 4)
      val valueSchema = StructType(
        e.snapshot("c").schema.fields.filterNot(_.name == "c_custkey"))
      val u = new UpdateBuilder(valueSchema)
        .setField("c_mktsegment", "PARTIAL").buildRow()
      val updSchema = StructType(StructField("c_custkey", LongType) +:
        WriteCompute.deriveUpdateSchema(valueSchema).fields)
      val rows = (1L to 20L).map(k => Row.fromSeq(k +: u.toSeq))
      e.update("c", s.createDataFrame(
        java.util.Arrays.asList(rows: _*), updSchema), tsMs = 500L)
      e.servingView("c")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name,
            CASE WHEN c_custkey BETWEEN 1 AND 20 THEN 'PARTIAL'
                 ELSE c_mktsegment END AS c_mktsegment
            FROM customer WHERE c_custkey <= 2000 ORDER BY c_custkey"""))

  /** W4 update-schema derivation dumped as rows, checked against the golden
    * expansion (scalar → nullable; array → +setUnion/setDiff; map →
    * +mapUnion/mapDiff; trailing __set_fields). */
  val w4UpdateSchema = QueryDef(
    "w4_update_schema",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types._
      val value = StructType(Seq(
        StructField("score", DoubleType),
        StructField("tags", ArrayType(StringType)),
        StructField("props", MapType(StringType, StringType))))
      graft.operators.WriteCompute.deriveUpdateSchema(value)
        .fields.zipWithIndex
        .map { case (f, i) => (i.toLong, f.name, f.dataType.simpleString) }
        .toSeq.toDF("pos", "field", "dtype")
        .orderBy(col("pos"))
    },
    Some("""SELECT * FROM (VALUES
            (0, 'score', 'double'),
            (1, 'tags', 'array<string>'),
            (2, 'tags__setUnion', 'array<string>'),
            (3, 'tags__setDiff', 'array<string>'),
            (4, 'props', 'map<string,string>'),
            (5, 'props__mapUnion', 'map<string,string>'),
            (6, 'props__mapDiff', 'array<string>'),
            (7, '__set_fields', 'array<string>')) AS t(pos, field, dtype)
            ORDER BY pos"""))

  /** W9/B5 chunk → assemble round-trip: every oversized value splits into
    * ceil(bytes/100) chunks and reassembles byte-exactly (md5 equality vs
    * the oracle's digest of the original). */
  val w9Chunk = QueryDef(
    "w9_chunk_roundtrip",
    (s, dir) => {
      import graft.operators.WireFormat
      val docs = t(s, dir, "documents").filter(octet_length(col("text")) > 0)
      val chunks = WireFormat.chunk(docs, col("doc_id"),
        col("text").cast("binary"), maxBytes = 100)
      val counts = chunks.groupBy(col("key"))
        .agg(max(col("n_chunks")).as("n_chunks"), count(lit(1)).as("n_rows"))
      WireFormat.assemble(chunks).join(counts, "key")
        .select(col("key").as("doc_id"), col("n_chunks"), col("n_rows"),
          md5(col("value")).as("value_md5"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
            CAST(ceil(strlen(text) / 100.0) AS INT) AS n_chunks,
            CAST(ceil(strlen(text) / 100.0) AS BIGINT) AS n_rows,
            md5(text) AS value_md5
            FROM documents WHERE strlen(text) > 0 ORDER BY doc_id"""))

  /** B6 wire round-trip: encode to (key,value,ts) wire frames in executors,
    * decode back — encode∘decode = identity against the raw table. */
  val b6Wire = QueryDef(
    "b6_wire_roundtrip",
    (s, dir) => {
      import org.apache.spark.sql.types._
      import graft.operators.WireFormat
      val cust = t(s, dir, "customer")
      val wire = WireFormat.toWire(cust, Seq("c_custkey"), lit(0L))
      val keySchema = StructType(Seq(StructField("c_custkey", LongType)))
      val valueSchema = StructType(
        cust.schema.fields.filterNot(_.name == "c_custkey"))
      WireFormat.fromWire(wire, keySchema, valueSchema)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"),
          col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name, c_nationkey,
            CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents, c_mktsegment
            FROM customer ORDER BY c_custkey"""))

  /** B1 Avro input: write the table as Avro container files (the reference
    * push job's primary batch format), read it back through the
    * avro-mapred-based scan, and check identity against the raw table. */
  val b1Avro = QueryDef(
    "b1_avro_roundtrip",
    (s, dir) => {
      val root = graft.core.TmpStores.dir("graft-b1").toString
      graft.sources.AvroInput.write(t(s, dir, "customer"), root)
      graft.sources.InputSource.read(s, "avro", root)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"),
          col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name, c_nationkey,
            CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents, c_mktsegment
            FROM customer ORDER BY c_custkey"""))

  /** B1 general Avro unions (SURVEY §1.2): a multi-branch union field
    * `[null, long, string]` round-trips through the container-file writer
    * and the avro-mapred scan as a tagged struct-of-optionals —
    * write-compute's union-typed value fields are first-class, where the
    * reference's SQL projection skips them (AvroToSQL.java:43-49). Evens
    * carry the long branch, odds the string branch, every 10th key the
    * null branch; the oracle replays the branch routing in SQL. */
  val b20AvroUnion = QueryDef(
    "b20_avro_union",
    (s, dir) => {
      import org.apache.avro.Schema
      val root = graft.core.TmpStores.dir("graft-b20").toString
      val unionS = Schema.createUnion(java.util.List.of(
        Schema.create(Schema.Type.NULL), Schema.create(Schema.Type.LONG),
        Schema.create(Schema.Type.STRING)))
      val rec = Schema.createRecord("cust_u", null, "graft", false,
        java.util.List.of(
          new Schema.Field("c_custkey", Schema.create(Schema.Type.LONG)),
          new Schema.Field("u", unionS, null,
            Schema.Field.NULL_DEFAULT_VALUE)))
      val tagged = t(s, dir, "customer").select(col("c_custkey"),
        when(col("c_custkey") % 10 === 0,
          lit(null).cast("struct<tag:string,m_long:bigint,m_string:string>"))
          .when(col("c_custkey") % 2 === 0,
            struct(lit("long").as("tag"),
              col("c_nationkey").cast("long").as("m_long"),
              lit(null).cast("string").as("m_string")))
          .otherwise(struct(lit("string").as("tag"),
            lit(null).cast("bigint").as("m_long"),
            col("c_mktsegment").as("m_string"))).as("u"))
      graft.sources.AvroInput.write(tagged, root, rec)
      graft.sources.AvroInput.read(s, root)
        .select(col("c_custkey"), col("u").getField("tag").as("tag"),
          col("u").getField("m_long").as("m_long"),
          col("u").getField("m_string").as("m_string"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey,
            CASE WHEN c_custkey % 10 = 0 THEN NULL
                 WHEN c_custkey % 2 = 0 THEN 'long'
                 ELSE 'string' END AS tag,
            CASE WHEN c_custkey % 10 <> 0 AND c_custkey % 2 = 0
                 THEN CAST(c_nationkey AS BIGINT) END AS m_long,
            CASE WHEN c_custkey % 2 <> 0 THEN c_mktsegment END AS m_string
            FROM customer ORDER BY c_custkey"""))

  /** W10 compression strategy → codec mapping, proven by writing + re-reading
    * parquet under each codec. */
  val w10Compression = QueryDef(
    "w10_compression",
    (s, dir) => {
      import s.implicits._
      val root = graft.core.TmpStores.dir("graft-w10").toString
      Seq("GZIP", "NO_OP", "ZSTD").map { st =>
        val codec = graft.operators.WireFormat.codecFor(st)
        t(s, dir, "region").write.mode("overwrite")
          .option("compression", codec).parquet(s"$root/$st")
        (st, codec, s.read.parquet(s"$root/$st").count())
      }.toDF("strategy", "codec", "n_rows").orderBy(col("strategy"))
    },
    Some("""SELECT t.strategy, t.codec, (SELECT count(*) FROM region) AS n_rows
            FROM (VALUES ('GZIP', 'gzip'), ('NO_OP', 'uncompressed'),
                         ('ZSTD', 'zstd')) t(strategy, codec)
            ORDER BY strategy"""))

  /** B10 job metrics: distributed accumulator counts every record the job
    * touches; the collected counter equals the table count. */
  val b10Metrics = QueryDef(
    "b10_job_metrics",
    (s, dir) => {
      import s.implicits._
      val m = new graft.operators.JobMetrics(s)
      val rec = m.counter("records_read")
      t(s, dir, "supplier").foreach(_ => rec.add(1))
      Seq(("records_read", m.snapshot("records_read")))
        .toDF("metric", "value")
    },
    Some("SELECT 'records_read' AS metric, count(*) AS value FROM supplier"))

  /** B11 incremental push: a delta batch lands in the current version's RT
    * log (no version bump) and overrides via LWW in the serving view. */
  val b11Incremental = QueryDef(
    "b11_incremental_push",
    (s, dir) => {
      val e = tempEngine(s, "graft-b11")
      e.createStore("c", Seq("c_custkey"))
      val cust = t(s, dir, "customer").filter(col("c_custkey") <= 2000)
      e.push("c", cust, numBuckets = 4)
      e.incrementalPush("c", cust.filter(col("c_custkey") <= 10)
        .withColumn("c_mktsegment", lit("INCR")), tsMs = 1000L)
      e.servingView("c")
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"),
          col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name,
            CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
            CASE WHEN c_custkey <= 10 THEN 'INCR' ELSE c_mktsegment END AS c_mktsegment
            FROM customer WHERE c_custkey <= 2000 ORDER BY c_custkey"""))

  /** B12 ETL normalization: a nullable live/deleted union pair coalesces to
    * the live column (every event lands in exactly one side). */
  val b12Etl = QueryDef(
    "b12_etl_normalize",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val unioned = ev.select(col("event_id"),
        when(col("event_type") =!= "error", col("value")).as("value_live"),
        when(col("event_type") === "error", col("value")).as("value_deleted"))
      graft.operators.WireFormat.normalizeEtl(
        unioned, Seq(("value_live", "value_deleted")))
        .select(col("event_id"),
          round(col("value_live") * 100).cast("long").as("value_cents"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, CAST(round(value * 100) AS BIGINT) AS value_cents
            FROM events ORDER BY event_id"""))

  /** S1+S5 streaming ingestion end-to-end: a file-source stream (events with
    * event_id%10 ≥ 5, transformer dropping 'error' rows — the S5 hook)
    * ingests onto a compacted batch snapshot (event_id%10 < 5); the serving
    * view converges to per-user LWW on the per-row event time (= event_id,
    * globally unique). ONE log append per microbatch — no driver loops. */
  val s1Ingest = QueryDef(
    "s1_stream_ingest",
    (s, dir) => {
      import graft.streaming.StreamIngest
      val e = tempEngine(s, "graft-s1")
      e.createStore("ev", Seq("user_id"))
      // bounded user population — the ingest semantics don't depend on it
      val evAll = Tables.events(s, dir).filter(col("user_id") < 200)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      e.push("ev", graft.operators.Compaction.latestPerKey(
        evAll.filter(col("event_id") % 10 < 5), Seq("user_id"),
        Seq(col("event_id"))), numBuckets = 4)
      // stage the stream's input into a directory (file sources stream
      // directories, not single files)
      val streamIn = s"${e.root}/in"
      evAll.filter(col("event_id") % 10 >= 5).write.parquet(streamIn)
      val stream = s.readStream.schema(evAll.schema).parquet(streamIn)
        .withColumn(StreamIngest.EventTsCol, col("event_id"))
      val q = StreamIngest.ingest(e, "ev", stream,
        transformer = df => df.filter(col("event_type") =!= "error"),
        checkpoint = s"${e.root}/cp")
      require(q.awaitTermination(180000),
        "s1_stream_ingest: stream did not drain within 180s — refusing to " +
          "read a partially-ingested view")
      e.servingView("ev")
        .select(col("user_id"), col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("value_cents"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, event_id, event_type,
              CAST(round(value * 100) AS BIGINT) AS value_cents
            FROM (
              SELECT user_id, event_id, event_type, value,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY src DESC, event_id DESC) AS rn
              FROM (
                SELECT user_id, event_id, event_type, value, 1 AS src
                FROM events
                WHERE user_id < 200 AND event_id % 10 >= 5
                  AND event_type <> 'error'
                UNION ALL
                SELECT user_id, event_id, event_type, value, 0 AS src
                FROM events WHERE user_id < 200 AND event_id % 10 < 5
                QUALIFY row_number() OVER (PARTITION BY user_id
                  ORDER BY event_id DESC) = 1))
            WHERE rn = 1 ORDER BY user_id"""))

  /** S2 hybrid rewind: re-feed the last rewindMs of the log — only entries
    * inside the rewind window come back. */
  val s2Rewind = QueryDef(
    "s2_rewind",
    (s, dir) => {
      val e = tempEngine(s, "graft-s2")
      e.createStore("c", Seq("c_custkey"))
      val cust = t(s, dir, "customer").filter(col("c_custkey") <= 2000)
      e.push("c", cust, numBuckets = 4)
      e.put("c", cust.filter(col("c_custkey") <= 5)
        .withColumn("c_name", lit("EARLY")), tsMs = 1000L)
      e.put("c", cust.filter(col("c_custkey").between(6, 8))
        .withColumn("c_name", lit("LATE")), tsMs = 2000L)
      graft.streaming.StreamIngest.rewind(e, "c", nowMs = 2500L, rewindMs = 1000L)
        .select(col("c_custkey"), col("c_name"),
          col(graft.core.GraftEngine.TsCol).as("ts_ms"),
          col(graft.core.GraftEngine.DeletedCol).as("deleted"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, 'LATE' AS c_name, CAST(2000 AS BIGINT) AS ts_ms,
              false AS deleted
            FROM customer WHERE c_custkey BETWEEN 6 AND 8
            ORDER BY c_custkey"""))

  /** Per-store persisted config driving engine behavior end-to-end
    * (Store.java / HybridStoreConfig.java semantics: rewind window, quota,
    * compression and merge flags live on the store record, not the job):
    * a 1-byte-quota store REFUSES its push before any swap; a GZIP-strategy
    * store writes .gz.parquet files; `lwwByteTieBreak` resolves an
    * equal-timestamp put pair by serialized-Avro unsigned bytes (10 beats 9
    * — string order would pick 9); the config-default rewind window (1 s)
    * admits only the late put wave. All four behaviors read the SAME
    * persisted CONFIG through a fresh engine instance. */
  val storeConfigQ = QueryDef(
    "store_config",
    (s, dir) => {
      import s.implicits._
      import graft.core.{GraftEngine, StoreConfig}
      val e = tempEngine(s, "graft-cfgq")
      val cust = t(s, dir, "customer").filter(col("c_custkey") <= 2000)
      // quota refusal: 1 byte admits nothing, serving version stays at 0
      e.createStore("q0", Seq("c_custkey"), StoreConfig(quotaBytes = 1L))
      val refused =
        try { e.push("q0", cust, numBuckets = 2); 0L }
        catch { case ex: IllegalStateException =>
          if (ex.getMessage.contains("quota") &&
            e.currentVersion("q0") == 0) 1L else 0L }
      // the configured store, read back through a SECOND engine instance
      e.createStore("c", Seq("c_custkey"), StoreConfig(
        rewindSeconds = 1L, compressionStrategy = "GZIP",
        quotaBytes = 4L << 30, lwwByteTieBreak = true))
      val e2 = new GraftEngine(s, e.root)
      e2.push("c", cust, numBuckets = 4)
      val gz = {
        val w = java.nio.file.Files.walk(
          java.nio.file.Paths.get(s"${e.root}/c/v=1"))
        try { if (w.anyMatch(p =>
          p.getFileName.toString.endsWith(".gz.parquet"))) 1L else 0L }
        finally w.close()
      }
      val tied = cust.filter(col("c_custkey") <= 5)
      e2.put("c", tied.withColumn("c_nationkey", lit(9)), tsMs = 1000L)
      e2.put("c", tied.withColumn("c_nationkey", lit(10)), tsMs = 1000L)
      e2.put("c", cust.filter(col("c_custkey").between(6, 8)), tsMs = 2500L)
      val evidence = Seq(("quota_refused", 0L, refused),
        ("gzip_files", 0L, gz)).toDF("chk", "k", "v")
      val tieRows = e2.servingView("c").filter(col("c_custkey") <= 5)
        .select(lit("tie").as("chk"), col("c_custkey").as("k"),
          col("c_nationkey").cast("long").as("v"))
      val rewindRows = graft.streaming.StreamIngest
        .rewind(e2, "c", nowMs = 3000L) // window from the persisted config
        .select(lit("rewind").as("chk"), col("c_custkey").as("k"),
          col(GraftEngine.TsCol).as("v"))
      evidence.unionByName(tieRows).unionByName(rewindRows)
        .orderBy(col("chk"), col("k"))
    },
    Some("""SELECT chk, k, v FROM (
              SELECT 'quota_refused' AS chk, CAST(0 AS BIGINT) AS k,
                     CAST(1 AS BIGINT) AS v
              UNION ALL SELECT 'gzip_files', 0, 1
              UNION ALL SELECT 'tie', c_custkey, 10 FROM customer
                WHERE c_custkey <= 5
              UNION ALL SELECT 'rewind', c_custkey, 2500 FROM customer
                WHERE c_custkey BETWEEN 6 AND 8)
            ORDER BY chk, k"""))

  /** S4 CDC seek: changelog entries at/after the checkpoint timestamp —
    * the tombstones and the second put wave, not the first. */
  val s4Changelog = QueryDef(
    "s4_changelog",
    (s, dir) => {
      val e = tempEngine(s, "graft-s4")
      e.createStore("c", Seq("c_custkey"))
      val cust = t(s, dir, "customer").filter(col("c_custkey") <= 2000)
      e.push("c", cust, numBuckets = 4)
      e.put("c", cust.filter(col("c_custkey") <= 5)
        .withColumn("c_name", lit("V2")), tsMs = 1000L)
      e.delete("c", cust.filter(col("c_custkey").between(6, 8))
        .select("c_custkey"), tsMs = 2000L)
      e.put("c", cust.filter(col("c_custkey") <= 3)
        .withColumn("c_name", lit("V3")), tsMs = 3000L)
      e.changelog("c", sinceTsMs = 2000L)
        .select(col("c_custkey"), col("c_name"),
          col(graft.core.GraftEngine.TsCol).as("ts_ms"),
          col(graft.core.GraftEngine.DeletedCol).as("deleted"))
        .orderBy(col("ts_ms"), col("c_custkey"))
    },
    Some("""SELECT c_custkey, NULL AS c_name, CAST(2000 AS BIGINT) AS ts_ms,
              true AS deleted
            FROM customer WHERE c_custkey BETWEEN 6 AND 8
            UNION ALL
            SELECT c_custkey, 'V3' AS c_name, CAST(3000 AS BIGINT) AS ts_ms,
              false AS deleted
            FROM customer WHERE c_custkey <= 3
            ORDER BY ts_ms, c_custkey"""))

  /** B16 incremental AGGREGATE view: count + exact-cents sum per nation,
    * maintained from the changelog by retract-old/add-new group deltas —
    * never a source rescan. The write mix hits every maintenance case:
    * update-in-place (sums move), GROUP MOVE (retraction from the old
    * group — the case blind upserts get wrong), delete, and inserts
    * including a brand-new group. The oracle recomputes the aggregate
    * from scratch; equality proves the delta algebra. */
  val b16AggView = QueryDef(
    "b16_agg_view",
    (s, dir) => {
      val e = tempEngine(s, "graft-b16")
      e.createStore("cust", Seq("c_custkey"))
      val cust = t(s, dir, "customer")
      e.push("cust", cust, numBuckets = 4)
      e.aggregateView("cust", "by_nation", Seq("c_nationkey"),
        Seq("acct_cents" -> "CAST(round(c_acctbal * 100) AS BIGINT)"),
        numBuckets = 4)
      // update in place: sums move, counts don't
      e.put("cust", cust.filter(col("c_custkey") <= 50)
        .withColumn("c_acctbal", col("c_acctbal") + 10), tsMs = 1000L)
      // group move: keys 51-60 emigrate to a brand-new nation 99
      e.put("cust", cust.filter(col("c_custkey").between(51, 60))
        .withColumn("c_nationkey", lit(99).cast("int")), tsMs = 2000L)
      e.delete("cust", cust.filter(col("c_custkey").between(61, 70))
        .select("c_custkey"), tsMs = 3000L)
      // inserts: two into the new group, one into an existing one
      e.put("cust", cust.filter(col("c_custkey").between(1, 3))
        .withColumn("c_custkey", col("c_custkey") + 90000)
        .withColumn("c_nationkey",
          when(col("c_custkey") === 90003, lit(7)).otherwise(lit(99))
            .cast("int"))
        .withColumn("c_acctbal",
          when(col("c_custkey") === 90001, lit(111.11))
            .when(col("c_custkey") === 90002, lit(222.22))
            .otherwise(lit(333.33))), tsMs = 4000L)
      e.refreshAggView("by_nation")
      e.servingView("by_nation")
        .select(col("c_nationkey"), col("n"), col("acct_cents"))
        .orderBy(col("c_nationkey"))
    },
    Some("""WITH mod AS (
              SELECT CASE WHEN c_custkey BETWEEN 51 AND 60 THEN 99
                          ELSE c_nationkey END AS g,
                CASE WHEN c_custkey <= 50 THEN c_acctbal + 10
                     ELSE c_acctbal END AS bal
              FROM customer WHERE c_custkey NOT BETWEEN 61 AND 70
              UNION ALL
              SELECT g, bal FROM (VALUES (99, 111.11), (99, 222.22),
                (7, 333.33)) t(g, bal))
            SELECT g AS c_nationkey, count(*) AS n,
              CAST(sum(CAST(round(bal * 100) AS BIGINT)) AS BIGINT)
                AS acct_cents
            FROM mod GROUP BY 1 ORDER BY c_nationkey"""))

  /** S4b bootstrapping changelog consumer: a consumer attaching mid-stream
    * gets (full-state after-images, resume coordinate); LWW-applying the
    * bootstrap then the post-coordinate tail must reconstruct the serving
    * view EXACTLY — any gap (a lost op) or overlap (a doubled tombstone)
    * between the two frames breaks the oracle. Exercises put, delete, and
    * post-bootstrap writes on both previously-clean and already-written
    * keys. */
  val s9Bootstrap = QueryDef(
    "s9_bootstrap_changelog",
    (s, dir) => {
      val e = tempEngine(s, "graft-s9")
      e.createStore("c", Seq("c_custkey"))
      val cust = t(s, dir, "customer").filter(col("c_custkey") <= 2000)
      e.push("c", cust, numBuckets = 4)
      e.put("c", cust.filter(col("c_custkey") <= 5)
        .withColumn("c_name", lit("V2")), tsMs = 1000L)
      e.delete("c", cust.filter(col("c_custkey").between(6, 8))
        .select("c_custkey"), tsMs = 2000L)
      // new consumer attaches here: snapshot + all ops so far, plus the
      // coordinate the live stream resumes from
      val (boot, coord) = e.bootstrapChangelog("c")
      // live writes landing after the bootstrap point
      e.put("c", cust.filter(col("c_custkey") <= 3)
        .withColumn("c_name", lit("V3")), tsMs = 3000L)
      e.delete("c", cust.filter(col("c_custkey") === 10)
        .select("c_custkey"), tsMs = 4000L)
      val tail = e.changelogSince("c", coord)
      // consumer-side LWW apply over bootstrap ∪ tail
      val tsC = graft.core.GraftEngine.TsCol
      val delC = graft.core.GraftEngine.DeletedCol
      val w = Window.partitionBy(col("c_custkey"))
        .orderBy(col(tsC).desc)
      boot.unionByName(tail)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && !col(delC))
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey,
              CASE WHEN c_custkey <= 3 THEN 'V3'
                   WHEN c_custkey <= 5 THEN 'V2'
                   ELSE c_name END AS c_name
            FROM customer
            WHERE c_custkey <= 2000 AND c_custkey NOT BETWEEN 6 AND 8
              AND c_custkey <> 10
            ORDER BY c_custkey"""))

  /** S6 SQL materialization: the serving view registered as a SQL-queryable
    * temp view, aggregated via spark.sql. */
  val s6SqlView = QueryDef(
    "s6_sql_view",
    (s, dir) => {
      val e = tempEngine(s, "graft-s6")
      e.createStore("nat", Seq("n_nationkey"))
      e.push("nat", Tables.nation(s, dir), numBuckets = 4)
      e.registerSql("nat", "nat_view")
      s.sql("""SELECT n_regionkey, count(*) AS n FROM nat_view
               GROUP BY n_regionkey ORDER BY n_regionkey""")
    },
    Some("""SELECT n_regionkey, count(*) AS n FROM nation
            GROUP BY n_regionkey ORDER BY n_regionkey"""))

  // ---------------------------------------------------------------------------
  // Training-data pipeline: dedup family, similarity search, text analysis
  // ---------------------------------------------------------------------------

  // lazy: referenced by QueryDef vals declared ABOVE this point in the
  // object body (a plain val would interpolate null at init order)
  private lazy val tokensSql =
    "list_filter(string_split(lower(text), ' '), x -> x <> '')"
  private def shinglesSql(toks: String) =
    s"list_distinct(list_transform(range(1, greatest(len($toks)-1, 1)), " +
      s"i -> $toks[i] || $toks[i+1] || $toks[i+2]))"

  /** Exact dedup: group on the normalized-text md5 fingerprint. */
  val dedupExact = QueryDef(
    "dedup_exact",
    (s, dir) => graft.operators.Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("fingerprint")),
    Some("""SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
            min(doc_id) AS keep_id, count(*) AS copies
            FROM documents GROUP BY 1 ORDER BY fingerprint"""))

  /** The full MinHash→LSH→Jaccard-verify pair pipeline as one (unordered)
    * DuckDB query — shared by the dedup_minhash_lsh oracle and, as a
    * subquery edge list, by the dedup_clusters oracle. */
  /** The shingle→signature→band-key CTE chain (through `bk`), shared by
    * the same-table pair pipeline and the cross-side incremental variant. */
  private val minhashBandsCtes: String =
    s"""sh AS (
               SELECT doc_id AS id, ${shinglesSql("t")} AS shingles
               FROM (SELECT doc_id, $tokensSql AS t FROM documents)),
             sh2 AS (SELECT id, shingles FROM sh WHERE len(shingles) > 0),
             hpairs AS (SELECT id, shingles,
               list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS h1s,
               list_transform(shingles, s -> ('0x' || substr(md5(s), 9, 8))::BIGINT) AS h2s
               FROM sh2),
             sig AS (SELECT id, [
               list_min(list_transform(range(1, len(h1s)+1), j -> (h1s[j] + 0*h2s[j]) % 2147483647)),
               list_min(list_transform(range(1, len(h1s)+1), j -> (h1s[j] + 1*h2s[j]) % 2147483647)),
               list_min(list_transform(range(1, len(h1s)+1), j -> (h1s[j] + 2*h2s[j]) % 2147483647)),
               list_min(list_transform(range(1, len(h1s)+1), j -> (h1s[j] + 3*h2s[j]) % 2147483647)),
               list_min(list_transform(range(1, len(h1s)+1), j -> (h1s[j] + 4*h2s[j]) % 2147483647)),
               list_min(list_transform(range(1, len(h1s)+1), j -> (h1s[j] + 5*h2s[j]) % 2147483647)),
               list_min(list_transform(range(1, len(h1s)+1), j -> (h1s[j] + 6*h2s[j]) % 2147483647)),
               list_min(list_transform(range(1, len(h1s)+1), j -> (h1s[j] + 7*h2s[j]) % 2147483647))] AS sig
               FROM hpairs),
             bk AS (SELECT id, unnest([
               md5('0|' || sig[1]::VARCHAR || ',' || sig[2]::VARCHAR),
               md5('1|' || sig[3]::VARCHAR || ',' || sig[4]::VARCHAR),
               md5('2|' || sig[5]::VARCHAR || ',' || sig[6]::VARCHAR),
               md5('3|' || sig[7]::VARCHAR || ',' || sig[8]::VARCHAR)]) AS bandkey FROM sig)"""

  private val minhashPairsSql: String =
    s"""WITH $minhashBandsCtes,
             cand AS (SELECT DISTINCT l.id AS id_a, r.id AS id_b
               FROM bk l JOIN bk r ON l.bandkey = r.bandkey AND l.id < r.id),
             j AS (SELECT id_a, id_b,
                 len(list_intersect(a.shingles, b.shingles)) AS inter,
                 len(a.shingles) AS na, len(b.shingles) AS nb
               FROM cand JOIN sh2 a ON a.id = cand.id_a
                         JOIN sh2 b ON b.id = cand.id_b)
             SELECT id_a, id_b,
               round(inter::DOUBLE / (na + nb - inter), 6) AS jaccard
             FROM j WHERE inter::DOUBLE / (na + nb - inter) >= 0.5"""

  /** MinHash (k=8) + LSH (4 bands × 2 rows) candidates, verified with exact
    * 3-gram Jaccard ≥ 0.5. Candidate generation is an equi-join on band
    * keys — the 100 TB-safe shape. */
  val dedupMinhash = QueryDef(
    "dedup_minhash_lsh",
    (s, dir) => {
      val sh = graft.operators.Dedup.shingleSets(t(s, dir, "documents"), "doc_id", "text", 3)
      val cand = graft.operators.Dedup.minhashCandidates(sh, k = 8, bands = 4)
      graft.operators.Dedup.jaccardVerify(cand, sh, 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"$minhashPairsSql ORDER BY id_a, id_b"))

  /** Duplicate clusters: connected components over the verified MinHash
    * near-dup pairs (min-label propagation + pointer jumping engine-side;
    * the oracle replays component discovery with a recursive CTE — the
    * component min propagates along every path, so min(label) per node is
    * exactly the component id). */
  val dedupClusters = QueryDef(
    "dedup_clusters",
    (s, dir) => {
      val sh = graft.operators.Dedup.shingleSets(t(s, dir, "documents"), "doc_id", "text", 3)
      val cand = graft.operators.Dedup.minhashCandidates(sh, k = 8, bands = 4)
      val pairs = graft.operators.Dedup.jaccardVerify(cand, sh, 0.5)
      graft.operators.Dedup.clusters(pairs)
        .select(col("id").as("doc_id"), col("cluster_id"),
          count(lit(1)).over(Window.partitionBy(col("cluster_id")))
            .as("cluster_size"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE pairs AS (
               SELECT id_a, id_b FROM ($minhashPairsSql)),
             und AS (SELECT id_a AS a, id_b AS b FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
             cc AS (
               SELECT DISTINCT a AS node, a AS lbl FROM und
               UNION
               SELECT u.b AS node, cc.lbl FROM cc JOIN und u ON u.a = cc.node
               WHERE cc.lbl < u.b),
             lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id
               FROM cc GROUP BY node)
             SELECT doc_id, cluster_id,
               count(*) OVER (PARTITION BY cluster_id) AS cluster_size
             FROM lab ORDER BY doc_id"""))

  /** LEAKAGE-SAFE splits ([[graft.operators.Dedup.splitByCluster]]): the
    * split hash keys on the near-dup CLUSTER id, so every member of a
    * duplicate cluster lands in the SAME split by construction — the fix
    * for what `split_leakage` detects after the fact. Singletons key on
    * their own id (identical to plain `split_assign`). Oracle replays the
    * full minhash→verify→CC chain and the md5 split hash. */
  val splitByClusterQ = QueryDef(
    "split_by_cluster",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val sh = graft.operators.Dedup.shingleSets(docs, "doc_id", "text", 3)
      val cand = graft.operators.Dedup.minhashCandidates(sh, k = 8, bands = 4)
      val pairs = graft.operators.Dedup.jaccardVerify(cand, sh, 0.5)
      graft.operators.Dedup.splitByCluster(docs, "doc_id", pairs)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE pairs AS (
               SELECT id_a, id_b FROM ($minhashPairsSql)),
             und AS (SELECT id_a AS a, id_b AS b FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
             cc AS (
               SELECT DISTINCT a AS node, a AS lbl FROM und
               UNION
               SELECT u.b AS node, cc.lbl FROM cc JOIN und u ON u.a = cc.node
               WHERE cc.lbl < u.b),
             lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id
               FROM cc GROUP BY node),
             j AS (SELECT d.doc_id, lab.cluster_id,
                 coalesce(lab.cluster_id, d.doc_id) AS split_key
               FROM documents d LEFT JOIN lab USING (doc_id))
             SELECT doc_id, cluster_id, split_key,
               CASE WHEN ('0x' || substr(md5(split_key::VARCHAR), 1, 4))::INT % 100 < 80
                      THEN 'train'
                    WHEN ('0x' || substr(md5(split_key::VARCHAR), 1, 4))::INT % 100 < 90
                      THEN 'val'
                    ELSE 'test' END AS split
             FROM j ORDER BY doc_id"""))

  /** Duplicate-cluster keeper election, QUALITY-aware: RefinedWeb-style
    * "keep the best copy", not min-id — per connected component the
    * longest document wins (ties to the smaller doc_id). The election is
    * a partial-aggregated min(struct(-len, id)) per cluster — a hot
    * cluster of 10^6 copies combines map-side instead of landing on one
    * window task — followed by one equi-join back for per-doc verdicts. */
  val dedupClusterKeeper = QueryDef(
    "dedup_cluster_keeper",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val sh = graft.operators.Dedup.shingleSets(docs, "doc_id", "text", 3)
      val cand = graft.operators.Dedup.minhashCandidates(sh, k = 8, bands = 4)
      val pairs = graft.operators.Dedup.jaccardVerify(cand, sh, 0.5)
      val clustered = graft.operators.Dedup.clusters(pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      val keeper = clustered.groupBy(col("cluster_id"))
        .agg(min(struct((-col("n_chars")).as("neg_len"), col("doc_id")))
          .getField("doc_id").as("keeper_id"))
      clustered.join(keeper, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("keeper_id"),
          (col("doc_id") === col("keeper_id")).as("kept"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE pairs AS (
               SELECT id_a, id_b FROM ($minhashPairsSql)),
             und AS (SELECT id_a AS a, id_b AS b FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
             cc AS (
               SELECT DISTINCT a AS node, a AS lbl FROM und
               UNION
               SELECT u.b AS node, cc.lbl FROM cc JOIN und u ON u.a = cc.node
               WHERE cc.lbl < u.b),
             lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id
               FROM cc GROUP BY node),
             withq AS (SELECT l.doc_id, l.cluster_id, d.n_chars
               FROM lab l JOIN documents d ON l.doc_id = d.doc_id),
             keep AS (SELECT cluster_id, doc_id AS keeper_id FROM (
               SELECT cluster_id, doc_id, row_number() OVER (
                 PARTITION BY cluster_id
                 ORDER BY n_chars DESC, doc_id ASC) AS rn FROM withq)
               WHERE rn = 1)
             SELECT w.doc_id, w.cluster_id, k.keeper_id,
               w.doc_id = k.keeper_id AS kept
             FROM withq w JOIN keep k ON w.cluster_id = k.cluster_id
             ORDER BY w.doc_id"""))

  /** SimHash near-dups: 16-bit signature, 2×8-bit bands, Hamming ≤ 1. */
  val dedupSimhash = QueryDef(
    "dedup_simhash",
    (s, dir) => graft.operators.Dedup.simhashPairs(
      t(s, dir, "documents").filter(size(TextOps.tokens(col("text"))) > 0),
      "doc_id", "text")
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH toks AS (SELECT doc_id AS id, unnest($tokensSql) AS tk
               FROM documents WHERE len($tokensSql) > 0),
             votes AS (SELECT id, i.i AS i,
                 sum(CASE WHEN strpos('89abcdef', substr(md5(tk), i.i::INT, 1)) > 0
                     THEN 1 ELSE -1 END) AS v
               FROM toks, (SELECT unnest(range(1, 17)) AS i) i GROUP BY id, i.i),
             sh AS (SELECT id,
                 sum(CASE WHEN v > 0 THEN (1 << (16 - i))::INT ELSE 0 END)::INT AS simhash
               FROM votes GROUP BY id),
             banded AS (SELECT id, simhash, unnest([
                 'hi:' || (simhash // 256)::VARCHAR,
                 'lo:' || (simhash % 256)::VARCHAR]) AS bandkey FROM sh),
             cand AS (SELECT DISTINCT l.id AS id_a, r.id AS id_b,
                 bit_count(xor(l.simhash::BIGINT, r.simhash::BIGINT))::INT AS hamming
               FROM banded l JOIN banded r ON l.bandkey = r.bandkey AND l.id < r.id)
             SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 1
             ORDER BY id_a, id_b"""))

  /** 64-bit SimHash near-dups, 4×16-bit bands, Hamming ≤ 3 — the SCALE
    * path for signature dedup (65536 values per band ⇒ Θ(n²/65536)
    * random-pair candidates vs the 16-bit scheme's Θ(n²/256)). The oracle
    * replays every md5 BIT vote, the per-band 16-bit composition, the
    * band equi-join AND the band-bucket cap in SQL, so the hash pins the
    * full banded semantics bit-for-bit. */
  val dedupSimhash64 = QueryDef(
    "dedup_simhash64",
    (s, dir) => graft.operators.Dedup.simhashPairs64(
      t(s, dir, "documents").filter(size(TextOps.tokens(col("text"))) > 0),
      "doc_id", "text")
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH toks AS (SELECT doc_id AS id, unnest($tokensSql) AS tk
               FROM documents WHERE len($tokensSql) > 0),
             votes AS (SELECT id, i.i AS i,
                 sum(CASE WHEN ((strpos('0123456789abcdef',
                       substr(md5(tk), (i.i // 4)::INT + 1, 1)) - 1)
                     >> (3 - i.i % 4)) & 1 = 1
                     THEN 1 ELSE -1 END) AS v
               FROM toks, (SELECT unnest(range(0, 64)) AS i) i
               GROUP BY id, i.i),
             bands AS (SELECT id, (i // 16) AS band,
                 sum(CASE WHEN v > 0 THEN (1 << (15 - (i % 16)))::INT
                     ELSE 0 END)::INT AS bval
               FROM votes GROUP BY id, (i // 16)),
             sig AS (SELECT id,
                 max(CASE WHEN band = 0 THEN bval END) AS b0,
                 max(CASE WHEN band = 1 THEN bval END) AS b1,
                 max(CASE WHEN band = 2 THEN bval END) AS b2,
                 max(CASE WHEN band = 3 THEN bval END) AS b3
               FROM bands GROUP BY id),
             banded AS (SELECT id, b0, b1, b2, b3, unnest([
                 '0:' || b0::VARCHAR, '1:' || b1::VARCHAR,
                 '2:' || b2::VARCHAR, '3:' || b3::VARCHAR]) AS bandkey
               FROM sig),
             capped AS (SELECT * FROM (
                 SELECT *, count(*) OVER (PARTITION BY bandkey) AS df
                 FROM banded) WHERE df <= 1048576),
             cand AS (SELECT DISTINCT l.id AS id_a, r.id AS id_b,
                 (bit_count(xor(l.b0::BIGINT, r.b0::BIGINT)) +
                  bit_count(xor(l.b1::BIGINT, r.b1::BIGINT)) +
                  bit_count(xor(l.b2::BIGINT, r.b2::BIGINT)) +
                  bit_count(xor(l.b3::BIGINT, r.b3::BIGINT)))::INT AS hamming
               FROM capped l JOIN capped r
                 ON l.bandkey = r.bandkey AND l.id < r.id)
             SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3
             ORDER BY id_a, id_b"""))

  /** Exact n-gram Jaccard via shared-shingle inverted index (no cross join). */
  val dedupNgram = QueryDef(
    "dedup_ngram_jaccard",
    (s, dir) => graft.operators.Dedup.ngramJaccardPairs(
      graft.operators.Dedup.shingleSets(t(s, dir, "documents"), "doc_id", "text", 3), 0.5)
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH sh AS (
               SELECT doc_id AS id, ${shinglesSql("t")} AS shingles
               FROM (SELECT doc_id, $tokensSql AS t FROM documents)),
             sized AS (SELECT id, shingles, len(shingles) AS n FROM sh WHERE len(shingles) > 0),
             posts AS (SELECT id, n, unnest(shingles) AS sh FROM sized),
             shared AS (SELECT l.id AS id_a, r.id AS id_b, l.n AS n_a, r.n AS n_b,
                 count(*) AS inter
               FROM posts l JOIN posts r ON l.sh = r.sh AND l.id < r.id
               GROUP BY 1, 2, 3, 4)
             SELECT id_a, id_b,
               round(inter::DOUBLE / (n_a + n_b - inter), 6) AS jaccard
             FROM shared WHERE inter::DOUBLE / (n_a + n_b - inter) >= 0.5
             ORDER BY id_a, id_b"""))

  /** n-gram Jaccard with the document-frequency cap — the PRODUCTION
    * scale path of `dedup_ngram_jaccard`, oracled: shingles shared by
    * more than 64 docs are dropped before the self-join (a hot
    * boilerplate shingle otherwise creates a df²/2 join bucket — measured
    * 40.7 → 1.9 s at sf1), and the oracle replays the exact same cap in
    * SQL, so the hash pins the capped semantics, not just the plan. The
    * Jaccard stays computed from exact set sizes; only the intersection
    * count sees the cap (a ≤-side estimate — see the operator scaladoc
    * for why true near-dups keep their pairs). */
  val dedupNgramCapped = QueryDef(
    "dedup_ngram_capped",
    (s, dir) => graft.operators.Dedup.ngramJaccardPairs(
      graft.operators.Dedup.shingleSets(t(s, dir, "documents"), "doc_id", "text", 3),
      0.5, maxPostings = 64)
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH sh AS (
               SELECT doc_id AS id, ${shinglesSql("t")} AS shingles
               FROM (SELECT doc_id, $tokensSql AS t FROM documents)),
             sized AS (SELECT id, shingles, len(shingles) AS n FROM sh
               WHERE len(shingles) > 0),
             posts AS (SELECT id, n, unnest(shingles) AS sh FROM sized),
             capped AS (SELECT id, n, sh FROM (
                 SELECT id, n, sh, count(*) OVER (PARTITION BY sh) AS df
                 FROM posts) WHERE df <= 64),
             shared AS (SELECT l.id AS id_a, r.id AS id_b, l.n AS n_a,
                 r.n AS n_b, count(*) AS inter
               FROM capped l JOIN capped r ON l.sh = r.sh AND l.id < r.id
               GROUP BY 1, 2, 3, 4)
             SELECT id_a, id_b,
               round(inter::DOUBLE / (n_a + n_b - inter), 6) AS jaccard
             FROM shared WHERE inter::DOUBLE / (n_a + n_b - inter) >= 0.5
             ORDER BY id_a, id_b"""))

  /** DIRECTED n-gram containment (|A∩B|/|A| — Broder's containment, not
    * resemblance): catches a short doc quoted inside a long one, which
    * Jaccard's union denominator drowns. Production-capped (df ≤ 64) like
    * `dedup_ngram_capped`; the oracle replays the cap and BOTH directions
    * from the same intersection counts. */
  val dedupContainment = QueryDef(
    "dedup_containment",
    (s, dir) => graft.operators.Dedup.containmentPairs(
      graft.operators.Dedup.shingleSets(t(s, dir, "documents"), "doc_id", "text", 3),
      0.6, maxPostings = 64)
      .orderBy(col("id_inner"), col("id_outer")),
    Some(s"""WITH sh AS (
               SELECT doc_id AS id, ${shinglesSql("t")} AS shingles
               FROM (SELECT doc_id, $tokensSql AS t FROM documents)),
             sized AS (SELECT id, shingles, len(shingles) AS n FROM sh
               WHERE len(shingles) > 0),
             posts AS (SELECT id, n, unnest(shingles) AS sh FROM sized),
             capped AS (SELECT id, n, sh FROM (
                 SELECT id, n, sh, count(*) OVER (PARTITION BY sh) AS df
                 FROM posts) WHERE df <= 64),
             shared AS (SELECT l.id AS id_a, r.id AS id_b, l.n AS n_a,
                 r.n AS n_b, count(*) AS inter
               FROM capped l JOIN capped r ON l.sh = r.sh AND l.id < r.id
               GROUP BY 1, 2, 3, 4)
             SELECT id_inner, id_outer, containment FROM (
               SELECT id_a AS id_inner, id_b AS id_outer,
                 round(inter::DOUBLE / n_a, 6) AS containment,
                 inter::DOUBLE / n_a AS raw
               FROM shared
               UNION ALL
               SELECT id_b, id_a, round(inter::DOUBLE / n_b, 6),
                 inter::DOUBLE / n_b
               FROM shared)
             WHERE raw >= 0.6 ORDER BY id_inner, id_outer"""))

  /** Cluster-balanced diversity sampling: assign every embedding to its
    * nearest of K fixed prototypes (cosine argmax — a deterministic
    * diversity cell, no training loop to replay), then exact-k per cell by
    * salted-md5 rank ([[graft.operators.Sampling.exactKPerGroup]]) — the
    * "sample uniformly ACROSS semantic clusters, not across documents"
    * step that keeps a curated corpus from collapsing onto its densest
    * mode. Plan: broadcast K prototype rows (crossJoin + windowed argmax —
    * one corpus scan, no shuffle until the per-cell window), then the
    * window's cell partitioning carries the sampler. At 100 TB: K grows
    * with the corpus, the corpus never self-joins, and the only shuffle
    * keys on cell. */
  val sampleClusterBalanced = QueryDef(
    "sample_cluster_balanced",
    (s, dir) => {
      import graft.functions.VectorOps
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val protos = broadcast(emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"), col("embedding").as("pvec")))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("sim").desc, col("cell"))
      val assigned = emb.crossJoin(protos)
        .withColumn("sim",
          round(VectorOps.cosineCols(col("embedding"), col("pvec")), 6)
            + lit(0.0))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cell"), col("vec_id"), col("sim"))
      graft.operators.Sampling.exactKPerGroup(
          assigned, col("cell"), col("vec_id"), k = 5, salt = "cb")
        .orderBy(col("cell"), col("vec_id"))
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec
              FROM embeddings),
            p AS (SELECT vec_id AS cell, vec AS pvec FROM v WHERE vec_id < 8),
            assigned AS (SELECT cell, vec_id, sim FROM (
              SELECT v.vec_id, p.cell,
                round(list_dot_product(v.vec, p.pvec) /
                  sqrt(list_dot_product(v.vec, v.vec) *
                    list_dot_product(p.pvec, p.pvec)), 6) + 0.0 AS sim,
                row_number() OVER (PARTITION BY v.vec_id ORDER BY
                  round(list_dot_product(v.vec, p.pvec) /
                    sqrt(list_dot_product(v.vec, v.vec) *
                      list_dot_product(p.pvec, p.pvec)), 6) + 0.0 DESC,
                  p.cell) AS rn
              FROM v, p) WHERE rn = 1)
            SELECT cell, vec_id, sim FROM (
              SELECT cell, vec_id, sim,
                row_number() OVER (PARTITION BY cell
                  ORDER BY md5('cb' || vec_id::VARCHAR), vec_id) AS rk
              FROM assigned)
            WHERE rk <= 5 ORDER BY cell, vec_id"""))

  /** Embedding near-dup pairs: cosine ≥ 0.4 (testdata max ≈ 0.51). */
  val dedupEmbedding = QueryDef(
    "dedup_embedding",
    (s, dir) => graft.operators.Similarity.cosinePairs(
      t(s, dir, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec")),
      0.4).orderBy(col("id_a"), col("id_b")),
    // norms precomputed per row engine-side ⇒ oracle must use the same
    // association: dot / (sqrt(na)·sqrt(nb)), not sqrt(na·nb)
    Some("""WITH c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v,
              sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
              FROM embeddings)
            SELECT id_a, id_b, sim FROM (
              SELECT a.id AS id_a, b.id AS id_b,
                round(list_dot_product(a.v, b.v) / (a.n * b.n), 6) + 0.0 AS sim
              FROM c a JOIN c b ON a.id < b.id)
            WHERE sim >= 0.4 ORDER BY id_a, id_b"""))

  /** Embedding near-dup via multi-band hyperplane LSH — the PRODUCTION
    * path `dedup_embedding`'s guard refusal points at
    * (Similarity.lshCosinePairs): banded candidate generation (an
    * equi-join on (band, code) — near-linear when near-dups are near) +
    * exact cosine verify of candidates only. The hyperplanes are the
    * deterministic md5 literals (Similarity.planeSignVal), so the oracle
    * replays the WHOLE pipeline — plane construction, per-band sign
    * codes, candidate join, exact verify — in SQL; planted-dup recall is
    * additionally pinned in PipelineSpec (the dedup_minhash_lsh
    * pattern). 12 bits × 8 bands: collision ≈ 2.4e-4 per band for
    * orthogonal pairs, so candidates stay ~1e-3·n² while genuinely-close
    * pairs (the ones a near-dup pass is FOR) collide with high
    * probability. */
  val dedupEmbeddingLsh = QueryDef(
    "dedup_embedding_lsh",
    (s, dir) => graft.operators.Similarity.lshCosinePairs(
        t(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec")),
        threshold = 0.2, dim = 64, bitsPerBand = 12, bands = 8)
      .orderBy(col("id_a"), col("id_b")),
    Some("""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
              sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
              FROM embeddings),
            planes AS (SELECT j,
                list(CASE WHEN substr(md5(j::VARCHAR || '|' || d::VARCHAR), 1, 1) >= '8'
                  THEN 1.0 ELSE -1.0 END ORDER BY d)::DOUBLE[] AS plane
              FROM range(96) pj(j), range(64) pd(d) GROUP BY j),
            codes AS (SELECT v.id, p.j // 12 AS band,
                sum(CASE WHEN list_dot_product(v.vec, p.plane) > 0
                  THEN 1 << (p.j % 12) ELSE 0 END)::BIGINT AS code
              FROM v, planes p GROUP BY v.id, p.j // 12),
            cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
              FROM codes a JOIN codes b
                ON a.band = b.band AND a.code = b.code AND a.id < b.id)
            SELECT id_a, id_b, sim FROM (
              SELECT c.id_a, c.id_b,
                round(list_dot_product(a.vec, b.vec) / (a.n * b.n), 6) + 0.0 AS sim
              FROM cand c JOIN v a ON a.id = c.id_a JOIN v b ON b.id = c.id_b)
            WHERE sim >= 0.2 ORDER BY id_a, id_b"""))

  /** SemDeDup: semantic dedup via k-means cells + within-cell cosine. The
    * oracle replays the deterministic 2-step Lloyd training exactly (the
    * ann_ivf CTE chain), then the same smaller-id-wins pair rule in SQL.
    * Cells turn the global n² pair problem into K bounded cell problems —
    * the 100 TB shape is "numCells grows with the corpus". This row PINS
    * numCells = 8 as the reproducible Lloyd-replay fixture, so its input
    * is bounded to the base id block (vec_id < 1e5 — every row at
    * sf ≤ 0.1, the same 2000-row fixture at any larger SF): fixed K over
    * a growing corpus is deliberately quadratic, and the corpus-driven
    * production shape is measured by `semdedup_scaled`/
    * `semdedup_incremental` instead (a fixed-K full-corpus run measured
    * 46.8×/decade at sf10 for nothing the scaled row doesn't verify). */
  val semdedup = QueryDef(
    "semdedup",
    (s, dir) => graft.operators.Similarity.semDedup(
        t(s, dir, "embeddings").filter(col("vec_id") < 100000L)
          .select(col("vec_id").as("id"), col("embedding").as("vec")),
        threshold = 0.4, numCells = 8)
      .orderBy(col("vec_id")),
    Some("""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
              sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
              FROM embeddings WHERE vec_id < 100000),
            c0 AS (SELECT id AS cid, vec AS cvec FROM v WHERE id < 8),
            a0 AS (SELECT id, vec, cid FROM (
              SELECT v.id, v.vec, c.cid, row_number() OVER (PARTITION BY v.id
                ORDER BY round(list_dot_product(v.vec, c.cvec) /
                  (v.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0 DESC,
                  c.cid) AS rn
              FROM v, c0 c) WHERE rn = 1),
            c1 AS (SELECT cid, list(val ORDER BY pos) AS cvec FROM (
              SELECT cid, p.p AS pos,
                CAST(sum(CAST(round(vec[p.p + 1] * 1000) AS BIGINT)) AS DOUBLE)
                  / (count(*) * 1000.0) AS val
              FROM a0, range(64) p(p) GROUP BY cid, p.p) GROUP BY cid),
            a1 AS (SELECT id, vec, cid FROM (
              SELECT v.id, v.vec, c.cid, row_number() OVER (PARTITION BY v.id
                ORDER BY round(list_dot_product(v.vec, c.cvec) /
                  (v.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0 DESC,
                  c.cid) AS rn
              FROM v, c1 c) WHERE rn = 1),
            c2 AS (SELECT cid, list(val ORDER BY pos) AS cvec FROM (
              SELECT cid, p.p AS pos,
                CAST(sum(CAST(round(vec[p.p + 1] * 1000) AS BIGINT)) AS DOUBLE)
                  / (count(*) * 1000.0) AS val
              FROM a1, range(64) p(p) GROUP BY cid, p.p) GROUP BY cid),
            assign AS (SELECT id, vec, n, cid FROM (
              SELECT v.id, v.vec, v.n, c.cid, row_number() OVER (PARTITION BY v.id
                ORDER BY round(list_dot_product(v.vec, c.cvec) /
                  (v.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0 DESC,
                  c.cid) AS rn
              FROM v, c2 c) WHERE rn = 1),
            d AS (SELECT id_b AS vec_id, min(id_a) AS dup_of FROM (
                SELECT a.id AS id_a, b.id AS id_b,
                  round(list_dot_product(a.vec, b.vec) / (a.n * b.n), 6) + 0.0
                    AS sim
                FROM assign a JOIN assign b
                  ON a.cid = b.cid AND a.id < b.id)
              WHERE sim >= 0.4 GROUP BY 1)
            SELECT s.id AS vec_id, s.cid AS cell, d.dup_of,
              d.dup_of IS NOT NULL AS is_dup
            FROM assign s LEFT JOIN d ON s.id = d.vec_id
            ORDER BY vec_id"""))

  /** SemDeDup with the CORPUS-DRIVEN cell count — the 100 TB shape. The
    * pinned `semdedup` oracle freezes numCells = 8 for a reproducible
    * small-SF Lloyd replay, but a fixed K makes the within-cell exact
    * pass Θ(n²/K): measured 47× time for 10× data at sf10. Here K =
    * max(16, ⌈n / 2000⌉) — the operator's own `numCells = 0` default —
    * so cells hold ~2000 rows at any corpus size and the pair work grows
    * linearly with n. The oracle derives K from the same count formula
    * and replays the identical seeded-Lloyd chain, so the scale knob
    * itself is hash-pinned, not just the small-SF special case. */
  val semdedupScaled = QueryDef(
    "semdedup_scaled",
    (s, dir) => graft.operators.Similarity.semDedup(
        t(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec")),
        threshold = 0.4, numCells = 0)
      .orderBy(col("vec_id")),
    Some("""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
              sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
              FROM embeddings),
            kk AS (SELECT greatest(16, CAST(ceil(count(*) / 2000.0) AS BIGINT))
              AS k FROM v),
            c0 AS (SELECT id AS cid, vec AS cvec FROM v
              WHERE id < (SELECT k FROM kk)),
            a0 AS (SELECT id, vec, cid FROM (
              SELECT v.id, v.vec, c.cid, row_number() OVER (PARTITION BY v.id
                ORDER BY round(list_dot_product(v.vec, c.cvec) /
                  (v.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0 DESC,
                  c.cid) AS rn
              FROM v, c0 c) WHERE rn = 1),
            c1r AS (SELECT cid, list(val ORDER BY pos) AS cvec FROM (
              SELECT cid, p.p AS pos,
                CAST(sum(CAST(round(vec[p.p + 1] * 1000) AS BIGINT)) AS DOUBLE)
                  / (count(*) * 1000.0) AS val
              FROM a0, range(64) p(p) GROUP BY cid, p.p) GROUP BY cid),
            c1 AS (SELECT cid, cvec FROM c1r UNION ALL
              SELECT cid, cvec FROM c0
              WHERE cid NOT IN (SELECT cid FROM c1r)),
            a1 AS (SELECT id, vec, cid FROM (
              SELECT v.id, v.vec, c.cid, row_number() OVER (PARTITION BY v.id
                ORDER BY round(list_dot_product(v.vec, c.cvec) /
                  (v.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0 DESC,
                  c.cid) AS rn
              FROM v, c1 c) WHERE rn = 1),
            c2r AS (SELECT cid, list(val ORDER BY pos) AS cvec FROM (
              SELECT cid, p.p AS pos,
                CAST(sum(CAST(round(vec[p.p + 1] * 1000) AS BIGINT)) AS DOUBLE)
                  / (count(*) * 1000.0) AS val
              FROM a1, range(64) p(p) GROUP BY cid, p.p) GROUP BY cid),
            c2 AS (SELECT cid, cvec FROM c2r UNION ALL
              SELECT cid, cvec FROM c0
              WHERE cid NOT IN (SELECT cid FROM c2r)),
            assign AS (SELECT id, vec, n, cid FROM (
              SELECT v.id, v.vec, v.n, c.cid, row_number() OVER (PARTITION BY v.id
                ORDER BY round(list_dot_product(v.vec, c.cvec) /
                  (v.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0 DESC,
                  c.cid) AS rn
              FROM v, c2 c) WHERE rn = 1),
            d AS (SELECT id_b AS vec_id, min(id_a) AS dup_of FROM (
                SELECT a.id AS id_a, b.id AS id_b,
                  round(list_dot_product(a.vec, b.vec) / (a.n * b.n), 6) + 0.0
                    AS sim
                FROM assign a JOIN assign b
                  ON a.cid = b.cid AND a.id < b.id)
              WHERE sim >= 0.4 GROUP BY 1)
            SELECT s.id AS vec_id, s.cid AS cell, d.dup_of,
              d.dup_of IS NOT NULL AS is_dup
            FROM assign s LEFT JOIN d ON s.id = d.vec_id
            ORDER BY vec_id"""))

  /** Incremental SemDeDup over a crawl delta — the embedding-side twin of
    * `dedup_incremental_near`: the accepted corpus (vec_id % 10 < 8) never
    * self-joins; only the arriving batch (vec_id % 10 >= 8) is scored,
    * against corpus AND smaller-id batch neighbors sharing a cell. The
    * quantizer trains on the corpus only (seeds = corpus ids < K, two
    * Lloyd steps), so cell geometry is stable across successive deltas.
    * K is CORPUS-DRIVEN (the semdedup_scaled formula, on the corpus
    * count): a pinned K measured 21.6× time for 10× data because cells
    * grow with the corpus; the derived K holds cells at ~2000 rows and
    * the decade near-linear. The oracle replays the whole chain —
    * corpus-only training with the K formula, both assignments, the
    * asymmetric pair rule — in SQL. */
  val semdedupIncremental = QueryDef(
    "semdedup_incremental",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      graft.operators.Similarity.semDedupIncremental(
          corpus = e.filter(col("id") % 10 < 8),
          batch = e.filter(col("id") % 10 >= 8),
          threshold = 0.4, numCells = 0)
        .orderBy(col("vec_id"))
    },
    Some("""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
              sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
              FROM embeddings),
            corp AS (SELECT * FROM v WHERE id % 10 < 8),
            bat AS (SELECT * FROM v WHERE id % 10 >= 8),
            kk AS (SELECT greatest(16, CAST(ceil(count(*) / 2000.0) AS BIGINT))
              AS k FROM corp),
            c0 AS (SELECT id AS cid, vec AS cvec FROM corp
              WHERE id < (SELECT k FROM kk)),
            a0 AS (SELECT id, vec, cid FROM (
              SELECT t.id, t.vec, c.cid, row_number() OVER (PARTITION BY t.id
                ORDER BY round(list_dot_product(t.vec, c.cvec) /
                  (t.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0 DESC,
                  c.cid) AS rn
              FROM corp t, c0 c) WHERE rn = 1),
            c1r AS (SELECT cid, list(val ORDER BY pos) AS cvec FROM (
              SELECT cid, p.p AS pos,
                CAST(sum(CAST(round(vec[p.p + 1] * 1000) AS BIGINT)) AS DOUBLE)
                  / (count(*) * 1000.0) AS val
              FROM a0, range(64) p(p) GROUP BY cid, p.p) GROUP BY cid),
            c1 AS (SELECT cid, cvec FROM c1r UNION ALL
              SELECT cid, cvec FROM c0
              WHERE cid NOT IN (SELECT cid FROM c1r)),
            a1 AS (SELECT id, vec, cid FROM (
              SELECT t.id, t.vec, c.cid, row_number() OVER (PARTITION BY t.id
                ORDER BY round(list_dot_product(t.vec, c.cvec) /
                  (t.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0 DESC,
                  c.cid) AS rn
              FROM corp t, c1 c) WHERE rn = 1),
            c2r AS (SELECT cid, list(val ORDER BY pos) AS cvec FROM (
              SELECT cid, p.p AS pos,
                CAST(sum(CAST(round(vec[p.p + 1] * 1000) AS BIGINT)) AS DOUBLE)
                  / (count(*) * 1000.0) AS val
              FROM a1, range(64) p(p) GROUP BY cid, p.p) GROUP BY cid),
            c2 AS (SELECT cid, cvec FROM c2r UNION ALL
              SELECT cid, cvec FROM c0
              WHERE cid NOT IN (SELECT cid FROM c2r)),
            ca AS (SELECT id, vec, n, cid FROM (
              SELECT t.id, t.vec, t.n, c.cid, row_number() OVER (PARTITION BY t.id
                ORDER BY round(list_dot_product(t.vec, c.cvec) /
                  (t.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0 DESC,
                  c.cid) AS rn
              FROM corp t, c2 c) WHERE rn = 1),
            ba AS (SELECT id, vec, n, cid FROM (
              SELECT t.id, t.vec, t.n, c.cid, row_number() OVER (PARTITION BY t.id
                ORDER BY round(list_dot_product(t.vec, c.cvec) /
                  (t.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0 DESC,
                  c.cid) AS rn
              FROM bat t, c2 c) WHERE rn = 1),
            aside AS (SELECT cid, id AS id_a, vec AS vec_a, n AS n_a,
                TRUE AS from_corpus FROM ca
              UNION ALL SELECT cid, id, vec, n, FALSE FROM ba),
            d AS (SELECT id_b AS vec_id, min(id_a) AS dup_of FROM (
                SELECT a.id_a, b.id AS id_b,
                  round(list_dot_product(a.vec_a, b.vec) / (a.n_a * b.n), 6)
                    + 0.0 AS sim
                FROM aside a JOIN ba b ON a.cid = b.cid
                  AND (a.from_corpus OR a.id_a < b.id))
              WHERE sim >= 0.4 GROUP BY 1)
            SELECT s.id AS vec_id, s.cid AS cell, d.dup_of,
              d.dup_of IS NOT NULL AS is_dup
            FROM ba s LEFT JOIN d ON s.id = d.vec_id
            ORDER BY vec_id"""))

  /** Nearest-centroid classification + confusion matrix: one
    * scaled-integer mean vector per label (10 labels × 64 dims —
    * broadcast), every embedding assigned to its most cosine-similar
    * label centroid, confusion counted per (true, predicted). The label-
    * noise eval for embedded corpora; the oracle replays centroid math,
    * assignment, and tie-breaks exactly. */
  val centroidClassify = QueryDef(
    "centroid_classify",
    (s, dir) => graft.operators.Similarity.centroidClassify(
        t(s, dir, "embeddings").select(col("vec_id").as("id"),
          col("embedding").as("vec"), col("label")))
      .groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("pred")),
    Some("""WITH v AS (SELECT vec_id AS id, label, embedding::DOUBLE[] AS vec,
              sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                AS n
              FROM embeddings),
            cent AS (SELECT clabel, list(val ORDER BY pos) AS cvec FROM (
              SELECT label AS clabel, p.p AS pos,
                CAST(sum(CAST(round(vec[p.p + 1] * 1000) AS BIGINT)) AS DOUBLE)
                  / (count(*) * 1000.0) AS val
              FROM v, range(64) p(p) GROUP BY label, p.p) GROUP BY clabel),
            assign AS (SELECT id, label, clabel AS pred FROM (
              SELECT v.id, v.label, c.clabel, row_number() OVER (
                PARTITION BY v.id
                ORDER BY round(list_dot_product(v.vec, c.cvec) /
                  (v.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0
                  DESC, c.clabel) AS rn
              FROM v, cent c) WHERE rn = 1)
            SELECT label, pred, count(*) AS n FROM assign
            GROUP BY 1, 2 ORDER BY label, pred"""))

  /** Brute-force cosine top-10 for 5 query vectors (the exact-ANN baseline;
    * the LSH-bucketed scale path is ann_lsh, verified by recall test). */
  val annTopk = QueryDef(
    "ann_topk",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.operators.Similarity.bruteForceTopK(corpus, queries, 10)
        .orderBy(col("qid"), col("rank"))
    },
    Some("""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec,
              sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS qn
              FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
              sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
              FROM embeddings)
            SELECT qid, rank, id, sim FROM (
              SELECT qid, id, sim,
                row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rank
              FROM (SELECT qid, id,
                  round(list_dot_product(vec, qvec) / (n * qn), 6) + 0.0 AS sim
                FROM c, q WHERE id <> qid))
            WHERE rank <= 10 ORDER BY qid, rank"""))

  /** SQ8 ANN (compression rung #1, below PQ's): candidates ranked by the
    * EXACT integer dot product of 8-bit unit-scaled codes — 4× less scan
    * IO than float32 with no codebook to train, the drop-in quantization a
    * 100 TB embedding store applies before anything else. Codes here are
    * RANK-comparable across vectors (fixed 127/‖x‖ scale — contrast
    * `embed_quantize`'s per-vector max-abs STORAGE codes); scores are
    * integer-valued, so the ranking is bit-exact in any engine and the
    * oracle replays quantization + scoring verbatim. Exhaustive over the
    * corpus by design (the oracleable baseline; compose with IVF cells for
    * the pruned scan, and the two-stage exact rerank is pinned against
    * brute force in PipelineSpec). */
  val annSq8 = QueryDef(
    "ann_sq8",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.operators.Similarity.sq8TopK(corpus, queries, k = 10)
        .orderBy(col("qid"), col("rank"))
    },
    Some("""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
              sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                AS n
              FROM embeddings),
            c AS (SELECT id, CASE WHEN n > 0 THEN
                list_transform(vec, x -> floor(x * 127.0 / n + 0.5))
              ELSE list_transform(vec, x -> 0.0) END AS q FROM v),
            qs AS (SELECT id AS qid, q AS qq FROM c WHERE id < 5),
            sc AS (SELECT qs.qid, c.id,
                CAST(list_dot_product(c.q, qs.qq) AS BIGINT) AS qdot
              FROM c, qs WHERE c.id <> qs.qid)
            SELECT qid, rank, id, qdot FROM (
              SELECT qid, id, qdot, row_number() OVER (
                PARTITION BY qid ORDER BY qdot DESC, id) AS rank FROM sc)
            WHERE rank <= 10 ORDER BY qid, rank"""))

  /** IVF ANN (scale path #2): k-means-trained coarse quantizer (2 Lloyd
    * steps from the deterministic ids&lt;8 seed, scaled-integer recentring so
    * the means are engine-exact), 2-probe search, exact rank within probed
    * cells. The oracle replays training, assignment, probing and ranking
    * in SQL. */
  val annIvf = QueryDef(
    "ann_ivf",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.operators.Similarity.ivfTopK(corpus, queries, k = 10,
        numCells = 8, nProbe = 2)
        .orderBy(col("qid"), col("rank"))
    },
    Some("""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
              sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
              FROM embeddings),
            c0 AS (SELECT id AS cid, vec AS cvec FROM v WHERE id < 8),
            a0 AS (SELECT id, vec, cid FROM (
              SELECT v.id, v.vec, c.cid, row_number() OVER (PARTITION BY v.id
                ORDER BY round(list_dot_product(v.vec, c.cvec) /
                  (v.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0 DESC,
                  c.cid) AS rn
              FROM v, c0 c) WHERE rn = 1),
            c1 AS (SELECT cid, list(val ORDER BY pos) AS cvec FROM (
              SELECT cid, p.p AS pos,
                CAST(sum(CAST(round(vec[p.p + 1] * 1000) AS BIGINT)) AS DOUBLE)
                  / (count(*) * 1000.0) AS val
              FROM a0, range(64) p(p) GROUP BY cid, p.p) GROUP BY cid),
            a1 AS (SELECT id, vec, cid FROM (
              SELECT v.id, v.vec, c.cid, row_number() OVER (PARTITION BY v.id
                ORDER BY round(list_dot_product(v.vec, c.cvec) /
                  (v.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0 DESC,
                  c.cid) AS rn
              FROM v, c1 c) WHERE rn = 1),
            c2 AS (SELECT cid, list(val ORDER BY pos) AS cvec FROM (
              SELECT cid, p.p AS pos,
                CAST(sum(CAST(round(vec[p.p + 1] * 1000) AS BIGINT)) AS DOUBLE)
                  / (count(*) * 1000.0) AS val
              FROM a1, range(64) p(p) GROUP BY cid, p.p) GROUP BY cid),
            assign AS (SELECT id, vec, n, cid FROM (
              SELECT v.id, v.vec, v.n, c.cid, row_number() OVER (PARTITION BY v.id
                ORDER BY round(list_dot_product(v.vec, c.cvec) /
                  (v.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0 DESC,
                  c.cid) AS rn
              FROM v, c2 c) WHERE rn = 1),
            probes AS (SELECT id AS qid, vec AS qvec, n AS qn, cid FROM (
              SELECT v.id, v.vec, v.n, c.cid, row_number() OVER (PARTITION BY v.id
                ORDER BY round(list_dot_product(v.vec, c.cvec) /
                  (v.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0 DESC,
                  c.cid) AS rn
              FROM v, c2 c WHERE v.id < 5) WHERE rn <= 2),
            cand AS (SELECT DISTINCT p.qid, a.id,
                round(list_dot_product(a.vec, p.qvec) / (a.n * p.qn), 6) + 0.0 AS sim
              FROM assign a JOIN probes p ON a.cid = p.cid
              WHERE a.id <> p.qid)
            SELECT qid, rank, id, sim FROM (
              SELECT qid, id, sim,
                row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rank
              FROM cand)
            WHERE rank <= 10 ORDER BY qid, rank"""))

  /** ANN quality harness: recall@10 of IVF search vs the brute-force
    * baseline, at nProbe = 1 AND 2 — the measured probe/recall tradeoff an
    * ANN deployment tunes on (Similarity.recallAtK; never guess nProbe).
    * The oracle replays the shared Lloyd chain once, ranks both probe
    * depths and the exact baseline, and counts overlaps per query. */
  val annRecallReport = QueryDef(
    "ann_recall_report",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val exact = graft.operators.Similarity.bruteForceTopK(corpus, queries, 10)
      val p1 = graft.operators.Similarity.ivfTopK(corpus, queries, k = 10,
        numCells = 8, nProbe = 1)
      val p2 = graft.operators.Similarity.ivfTopK(corpus, queries, k = 10,
        numCells = 8, nProbe = 2)
      val r1 = graft.operators.Similarity.recallAtK(exact, p1, 10)
        .select(col("qid"), col("hits").as("hits_p1"),
          col("recall").as("recall_p1"))
      val r2 = graft.operators.Similarity.recallAtK(exact, p2, 10)
        .select(col("qid"), col("hits").as("hits_p2"),
          col("recall").as("recall_p2"))
      r1.join(r2, Seq("qid")).orderBy(col("qid"))
    },
    Some("""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
              sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
              FROM embeddings),
            c0 AS (SELECT id AS cid, vec AS cvec FROM v WHERE id < 8),
            a0 AS (SELECT id, vec, cid FROM (
              SELECT v.id, v.vec, c.cid, row_number() OVER (PARTITION BY v.id
                ORDER BY round(list_dot_product(v.vec, c.cvec) /
                  (v.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0 DESC,
                  c.cid) AS rn
              FROM v, c0 c) WHERE rn = 1),
            c1 AS (SELECT cid, list(val ORDER BY pos) AS cvec FROM (
              SELECT cid, p.p AS pos,
                CAST(sum(CAST(round(vec[p.p + 1] * 1000) AS BIGINT)) AS DOUBLE)
                  / (count(*) * 1000.0) AS val
              FROM a0, range(64) p(p) GROUP BY cid, p.p) GROUP BY cid),
            a1 AS (SELECT id, vec, cid FROM (
              SELECT v.id, v.vec, c.cid, row_number() OVER (PARTITION BY v.id
                ORDER BY round(list_dot_product(v.vec, c.cvec) /
                  (v.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0 DESC,
                  c.cid) AS rn
              FROM v, c1 c) WHERE rn = 1),
            c2 AS (SELECT cid, list(val ORDER BY pos) AS cvec FROM (
              SELECT cid, p.p AS pos,
                CAST(sum(CAST(round(vec[p.p + 1] * 1000) AS BIGINT)) AS DOUBLE)
                  / (count(*) * 1000.0) AS val
              FROM a1, range(64) p(p) GROUP BY cid, p.p) GROUP BY cid),
            assign AS (SELECT id, vec, n, cid FROM (
              SELECT v.id, v.vec, v.n, c.cid, row_number() OVER (PARTITION BY v.id
                ORDER BY round(list_dot_product(v.vec, c.cvec) /
                  (v.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0 DESC,
                  c.cid) AS rn
              FROM v, c2 c) WHERE rn = 1),
            probes AS (SELECT id AS qid, vec AS qvec, n AS qn, cid, rn FROM (
              SELECT v.id, v.vec, v.n, c.cid, row_number() OVER (PARTITION BY v.id
                ORDER BY round(list_dot_product(v.vec, c.cvec) /
                  (v.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0 DESC,
                  c.cid) AS rn
              FROM v, c2 c WHERE v.id < 5) WHERE rn <= 2),
            cand1 AS (SELECT DISTINCT p.qid, a.id,
                round(list_dot_product(a.vec, p.qvec) / (a.n * p.qn), 6) + 0.0 AS sim
              FROM assign a JOIN probes p ON a.cid = p.cid AND p.rn = 1
              WHERE a.id <> p.qid),
            cand2 AS (SELECT DISTINCT p.qid, a.id,
                round(list_dot_product(a.vec, p.qvec) / (a.n * p.qn), 6) + 0.0 AS sim
              FROM assign a JOIN probes p ON a.cid = p.cid
              WHERE a.id <> p.qid),
            ivf1 AS (SELECT qid, id FROM (SELECT qid, id, row_number() OVER (
                PARTITION BY qid ORDER BY sim DESC, id) AS rk FROM cand1)
              WHERE rk <= 10),
            ivf2 AS (SELECT qid, id FROM (SELECT qid, id, row_number() OVER (
                PARTITION BY qid ORDER BY sim DESC, id) AS rk FROM cand2)
              WHERE rk <= 10),
            bf AS (SELECT qid, id FROM (
              SELECT q.qid, c.id, row_number() OVER (PARTITION BY q.qid
                ORDER BY round(list_dot_product(c.vec, q.qvec) /
                  (c.n * q.qn), 6) + 0.0 DESC, c.id) AS rk
              FROM v c, (SELECT id AS qid, vec AS qvec, n AS qn FROM v
                WHERE id < 5) q
              WHERE c.id <> q.qid) WHERE rk <= 10),
            r1 AS (SELECT bf.qid, CAST(sum(CASE WHEN i.id IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS hits
              FROM bf LEFT JOIN ivf1 i ON bf.qid = i.qid AND bf.id = i.id
              GROUP BY bf.qid),
            r2 AS (SELECT bf.qid, CAST(sum(CASE WHEN i.id IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS hits
              FROM bf LEFT JOIN ivf2 i ON bf.qid = i.qid AND bf.id = i.id
              GROUP BY bf.qid)
            SELECT r1.qid, r1.hits AS hits_p1,
              round(r1.hits / 10.0, 6) + 0.0 AS recall_p1,
              r2.hits AS hits_p2, round(r2.hits / 10.0, 6) + 0.0 AS recall_p2
            FROM r1 JOIN r2 ON r1.qid = r2.qid ORDER BY r1.qid"""))

  /** The IVF index as a SERVABLE STORE (Similarity.ivfIndexFrame /
    * probeIvfIndex): the k-means codebook is pushed to a centroid store,
    * the assigned corpus to a cell-keyed posting-list store; queries then
    * assign against the SERVED codebook and fetch only their probed cells
    * by batchGet point reads — no re-training, no corpus re-assignment,
    * no corpus scan per search. The oracle is `ann_ivf`'s SQL verbatim:
    * the store round-trip must not move a single rank or similarity. */
  val annIndexProbe = QueryDef(
    "ann_index_probe",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val e = tempEngine(s, "graft-annidx")
      val trained = graft.operators.Similarity.kmeansCentroids(
        corpus, k = 8, iters = 2)
      e.createStore("cent", Seq("cid"))
      e.push("cent", trained.select(col("id").as("cid"), col("vec").as("cvec")),
        numBuckets = 2)
      val cents = e.servingView("cent")
        .select(col("cid").as("id"), col("cvec").as("vec"))
      e.createStore("ivf", Seq("cid"))
      e.push("ivf", graft.operators.Similarity.ivfIndexFrame(corpus, cents),
        numBuckets = 4)
      graft.operators.Similarity.probeIvfIndex(e, "ivf", "cent",
          queries, k = 10, nProbe = 2)
        .orderBy(col("qid"), col("rank"))
    },
    annIvf.oracle)

  /** The SQ8-COMPRESSED servable index, probed end-to-end: cell posting
    * lists store TINYINT code vectors (1 byte/dim — the 4× shrink applied
    * to the serving layout), the probe batchGets only the probed cells,
    * shortlists by the exact integer code dot, and fetches just the
    * shortlist ids' float vectors from the separate id→vec value store
    * for the exact rerank — candidate generation never touches the float
    * corpus. Wide shortlist ⇒ result ≡ ivfTopK with the same parameters,
    * so the oracle is `ann_ivf`'s SQL verbatim; the narrow production
    * shortlist is PipelineSpec-pinned. */
  val annIndexSq8 = QueryDef(
    "ann_index_sq8",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val e = tempEngine(s, "graft-annsq8")
      val trained = graft.operators.Similarity.kmeansCentroids(
        corpus, k = 8, iters = 2)
      e.createStore("cent", Seq("cid"))
      e.push("cent", trained.select(col("id").as("cid"), col("vec").as("cvec")),
        numBuckets = 2)
      val cents = e.servingView("cent")
        .select(col("cid").as("id"), col("cvec").as("vec"))
      e.createStore("ivf8", Seq("cid"))
      e.push("ivf8", graft.operators.Similarity.ivfSq8IndexFrame(corpus, cents),
        numBuckets = 4)
      e.createStore("vecs", Seq("id"))
      e.push("vecs", corpus, numBuckets = 4)
      graft.operators.Similarity.probeIvfSq8Index(e, "ivf8", "cent", "vecs",
          queries, k = 10, nProbe = 2)
        .orderBy(col("qid"), col("rank"))
    },
    annIvf.oracle)

  /** LSH-bucketed ANN (scale path): the hyperplanes are deterministic md5
    * literals (Similarity.planeSignVal), so the oracle replays the whole
    * pipeline — plane construction, sign-bit code, radius-1 multi-probe,
    * exact rank within probed buckets — in SQL. Recall vs brute force is
    * additionally asserted in PipelineSpec. */
  val annLsh = QueryDef(
    "ann_lsh",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.operators.Similarity.lshTopK(corpus, queries, 10, bits = 4,
          dim = 64, probeRadius = 1)
        .orderBy(col("qid"), col("rank"))
    },
    // plane_j[d] = +1 iff first md5("j|d") hex nibble ≥ 8 — same literal
    // family as Similarity.planeSignVal; dots/norms use the same
    // association as the engine (see dedup_embedding note)
    Some("""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
              sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
              FROM embeddings),
            planes AS (SELECT j,
                list(CASE WHEN substr(md5(j::VARCHAR || '|' || d::VARCHAR), 1, 1) >= '8'
                  THEN 1.0 ELSE -1.0 END ORDER BY d)::DOUBLE[] AS plane
              FROM range(4) pj(j), range(64) pd(d) GROUP BY j),
            codes AS (SELECT v.id,
                sum(CASE WHEN list_dot_product(v.vec, p.plane) > 0
                  THEN 1 << p.j ELSE 0 END)::BIGINT AS code
              FROM v, planes p GROUP BY v.id),
            probes AS (SELECT v.id AS qid, v.vec AS qvec, v.n AS qn,
                xor(c.code, m.m) AS pcode
              FROM v JOIN codes c ON v.id = c.id,
                (SELECT 0::BIGINT AS m
                 UNION ALL SELECT (1 << j)::BIGINT FROM range(4) mj(j)) m
              WHERE v.id < 5),
            cand AS (SELECT p.qid, v.id,
                round(list_dot_product(v.vec, p.qvec) / (v.n * p.qn), 6) + 0.0 AS sim
              FROM v JOIN codes c ON v.id = c.id
                JOIN probes p ON c.code = p.pcode
              WHERE v.id <> p.qid)
            SELECT qid, rank, id, sim FROM (
              SELECT qid, id, sim,
                row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rank
              FROM cand)
            WHERE rank <= 10 ORDER BY qid, rank"""))

  /** Language id + token count + quality score, all SQL-reproducible. */
  val textStats = QueryDef(
    "text_stats",
    (s, dir) => {
      // ONE pass over the tokens per row (TokenStats expression) for every
      // integer count; persist blocks projection re-inlining so each
      // derived column reads the struct. The double math and the lang
      // argmax stay in Catalyst — identical to the SQL oracle's formulas.
      val stats = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          graft.functions.TokenStatsExpr.tokenStats(col("text")).as("st"))
        .persist()
      val st = col("st")
      val nTok = greatest(st.getField("n_tokens"), lit(1)).cast("double")
      val lenSig = least(length(col("text")), lit(500)).cast("double") / 500.0
      val stopSig = least(st.getField("s_en").cast("double") * 5.0 / nTok, lit(1.0))
      val longSig = st.getField("n_long").cast("double") / nTok
      stats.select(col("doc_id"),
        st.getField("n_tokens").as("n_tokens"),
        TextOps.argmaxLang(Seq(
          "de" -> st.getField("s_de"), "en" -> st.getField("s_en"),
          "es" -> st.getField("s_es"), "fr" -> st.getField("s_fr"),
          "zh" -> st.getField("s_zh"))).as("lang_pred"),
        round((lenSig + stopSig + longSig) / 3.0, 6).as("quality"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH base AS (SELECT doc_id, text, $tokensSql AS toks FROM documents),
             s AS (SELECT doc_id,
               len(toks) AS n_tokens,
               len(list_filter(toks, t -> list_contains(['der','die','das','und','nicht','ist','ich','ein','mit','von'], t))) AS s_de,
               len(list_filter(toks, t -> list_contains(['the','and','of','to','is','in','that','it','for','with'], t))) AS s_en,
               len(list_filter(toks, t -> list_contains(['el','la','los','las','es','en','que','por','una','para'], t))) AS s_es,
               len(list_filter(toks, t -> list_contains(['le','la','les','et','est','dans','que','pour','une','des'], t))) AS s_fr,
               len(list_filter(toks, t -> list_contains(['的','是','了','在','我','有','和','不','人','这'], t))) AS s_zh,
               length(text) AS n_chars,
               len(list_filter(toks, t -> length(t) >= 4)) AS n_long
               FROM base)
             SELECT doc_id, n_tokens,
               CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                    WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                    ELSE 'zh' END AS lang_pred,
               round((least(n_chars, 500)::DOUBLE / 500.0
                    + least(s_en::DOUBLE * 5.0 / greatest(n_tokens, 1)::DOUBLE, 1.0)
                    + n_long::DOUBLE / greatest(n_tokens, 1)::DOUBLE) / 3.0, 6) AS quality
             FROM s ORDER BY doc_id"""))

  /** W8 update-record squash analog: per-key set-union of pending values
    * (sorted for determinism) + W12 exact distinct count. */
  val w8Squash = QueryDef(
    "w8_squash_sets",
    (s, dir) => Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(array_join(array_sort(collect_set(col("event_type"))), ",")
          .as("event_types"),
        countDistinct(col("event_id")).as("n_events"))
      .orderBy(col("user_id")),
    Some("""SELECT user_id,
            array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types,
            count(DISTINCT event_id) AS n_events
            FROM events GROUP BY user_id ORDER BY user_id"""))

  /** W13 hot-key profile: exact top hot keys (CMS estimate is library-side). */
  val w13HotKeys = QueryDef(
    "w13_hot_keys",
    (s, dir) => Tables.events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id")).limit(5),
    Some("""SELECT user_id, count(*) AS n FROM events GROUP BY user_id
            ORDER BY n DESC, user_id LIMIT 5"""))

  /** W11 DIV: per-producer sequence audit — gaps/duplicates flagged in one
    * window pass (user_id stands in for the producer GUID). */
  val w11Div = QueryDef(
    "w11_div_audit",
    (s, dir) => graft.operators.Integrity.sequenceAudit(
      Tables.events(s, dir).select(col("user_id"), col("event_id")),
      col("user_id"), col("event_id"))
      .orderBy(col("user_id"), col("event_id")),
    Some("""SELECT user_id, event_id, issue FROM (
              SELECT user_id, event_id,
                CASE WHEN prev IS NULL THEN NULL
                     WHEN event_id = prev THEN 'DUPLICATE'
                     WHEN event_id > prev + 1 THEN 'MISSING_BEFORE'
                     ELSE NULL END AS issue
              FROM (SELECT user_id, event_id,
                      lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
                    FROM events))
            WHERE issue IS NOT NULL
            ORDER BY user_id, event_id"""))

  /** W12 HLL cardinality sketch: approx_count_distinct at Venice's ~1.15%
    * rsd (lgK=13 analog). DuckDB's HLL differs bit-for-bit, so the sketch
    * value itself can't be hash-compared — instead the query surfaces the
    * EXACT distinct count (both engines agree) plus a Spark-side
    * `approx_within_bound` flag asserting the sketch landed within 5× rsd
    * of exact; the oracle expects literal `true`. The row hash-matches iff
    * the exact counts match AND the sketch was in bound — a real
    * cross-engine accuracy check, not rows-only. Tight 1-rsd behavior is
    * additionally asserted in PipelineSpec. */
  val w12Hll = QueryDef(
    "w12_hll_distinct",
    (s, dir) => Tables.events(s, dir)
      // HLL is duplicate-insensitive, so exact and approx both come off the
      // deduped (type, user) pairs — one distinct-shuffle, no Expand (the
      // mixed countDistinct+approx_count_distinct aggregate doubles the
      // input through an Expand node; this shape measured 2× faster)
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type"))
      .agg(
        // count(user_id), not count(*): a NULL user_id survives the pair
        // distinct as one row, but count(DISTINCT user_id) (the oracle) and
        // approx_count_distinct both ignore NULLs — counting the column
        // keeps all three aligned should events ever carry NULL users
        count(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.0115).as("approx"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx") - col("exact_users")).cast("double") <=
          lit(5 * 0.0115) * col("exact_users")).as("approx_within_bound"))
      .orderBy(col("event_type")),
    Some("""SELECT event_type, count(DISTINCT user_id) AS exact_users,
            true AS approx_within_bound
            FROM events GROUP BY event_type ORDER BY event_type"""))

  /** W14 sketch UNION — the production shape W12's one-shot distinct
    * can't cover: per-day Datasketches HLL sketches built independently
    * (the per-partition/per-ingest-batch unit a 100-TB pipeline
    * materializes once), then merged with `hll_union_agg` — distinct
    * users over any day range WITHOUT re-touching the raw events. The
    * estimate must land within the sketch's error bound of the exact
    * count (lgConfigK=14 ⇒ RSE ≈ 1.04/√2¹⁴ ≈ 0.81%; 6σ gate), which is what the oracle
    * pins: sketches are duplicate-insensitive, so union-of-days equals
    * distinct-over-range. One groupBy builds the daily sketches, one
    * merges — both partial-aggregated, no Expand. */
  val w14HllUnion = QueryDef(
    "w14_hll_union",
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx"))
        .join(Tables.events(s, dir)
          .groupBy(col("event_type"))
          .agg(count_distinct(col("user_id")).as("exact_users")), "event_type")
        .select(col("event_type"), col("n_days"), col("exact_users"),
          (abs(col("approx") - col("exact_users")).cast("double") <=
            lit(6 * 0.0081) * col("exact_users")).as("union_within_bound"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(DISTINCT CAST(ts AS DATE)) AS n_days,
              count(DISTINCT user_id) AS exact_users,
              true AS union_within_bound
            FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Multimodal decode pipeline: documents as binary payloads → typed
    * mapPartitions batch decode (STUB codec, md5-derived fake dims) →
    * resize metadata. The oracle reproduces the md5 math in SQL. */
  val mmDecode = QueryDef(
    "mm_decode",
    (s, dir) => {
      val media = graft.operators.Multimodal.asMedia(
        t(s, dir, "documents"), "doc_id", "text")
      val decoded = graft.operators.Multimodal.decode(media).toDF()
      graft.operators.Multimodal.resizeMeta(decoded, 128)
        .select(col("media_id"), col("n_bytes"), col("content_hash"),
          col("width"), col("height"), col("out_width"), col("out_height"))
        .orderBy(col("media_id"))
    },
    Some("""SELECT media_id, n_bytes, content_hash, width, height,
              CAST(floor(width * scale) AS INT) AS out_width,
              CAST(floor(height * scale) AS INT) AS out_height
            FROM (SELECT media_id, n_bytes, content_hash, width, height,
              least(1.0, 128 / greatest(width, height)::DOUBLE) AS scale
              FROM (SELECT doc_id AS media_id,
                strlen(text)::BIGINT AS n_bytes,
                md5(text) AS content_hash,
                ('0x' || substr(md5(text), 1, 4))::INT % 192 + 64 AS width,
                ('0x' || substr(md5(text), 5, 4))::INT % 192 + 64 AS height
                FROM documents))
            ORDER BY media_id"""))

  /** Frame sampling over "video" payloads: n equal byte-chunks per media
    * row, exploded shuffle-free. Output = per-frame byte lengths (the
    * oracle recomputes the chunk arithmetic; frame BYTES equality is
    * covered by the byte-exact chunk/assemble round-trip in w9). */
  val mmFrames = QueryDef(
    "mm_frame_sample",
    (s, dir) => {
      val media = graft.operators.Multimodal.asMedia(
        t(s, dir, "documents"), "doc_id", "text")
      graft.operators.Multimodal.frameSample(media, frames = 4)
        .select(col("media_id"), col("frame_no"),
          octet_length(col("frame_bytes")).cast("long").as("frame_len"))
        .orderBy(col("media_id"), col("frame_no"))
    },
    Some("""SELECT media_id, frame_no, least(chunk, n - frame_no * chunk) AS frame_len
            FROM (SELECT doc_id AS media_id, strlen(text)::BIGINT AS n,
                    greatest(1, CAST(ceil(strlen(text) / 4.0) AS BIGINT)) AS chunk
                  FROM documents)
            CROSS JOIN (SELECT unnest(range(4)) AS frame_no)
            WHERE least(chunk, n - frame_no * chunk) > 0
            ORDER BY media_id, frame_no"""))

  /** Token counting both ways a data pipeline needs it: whitespace tokens
    * and a BPE-ish regex segmentation (letter runs | single digits |
    * single non-alphanumerics — the GPT-2-style pre-tokenizer shape). */
  val textTokenCounts = QueryDef(
    "text_token_counts",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("ws_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))).as("bpe_tokens"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
            len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS ws_tokens,
            len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS bpe_tokens
            FROM documents ORDER BY doc_id"""))

  /** S7 read-quota token bucket, replayed as a batch audit over the event
    * log: per-user bucket of 5 tokens, 1 token per minute refill, cost 1
    * per event. Integer scaled-unit math (1 unit = 1/60000 token) keeps
    * the replay bit-exact; the oracle walks each user's event sequence
    * with a recursive CTE. Engine shape: one shuffle + in-order partition
    * pass, O(1) state per task. */
  val s7TokenBucket = QueryDef(
    "s7_token_bucket",
    (s, dir) => graft.operators.TokenBucket.simulate(
        Tables.events(s, dir), col("user_id"), unix_millis(col("ts")),
        col("event_id"), capacityTokens = 5, refillIntervalMs = 60000L)
      .select(col("id").as("event_id"), col("key").as("user_id"),
        col("allowed"), col("tokens_after"))
      .orderBy(col("event_id")),
    Some("""WITH RECURSIVE e AS (
              SELECT user_id::BIGINT AS user_id, epoch_ms(ts) AS ts,
                event_id::BIGINT AS event_id,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY epoch_ms(ts), event_id) AS rn
              FROM events),
            sim AS (
              SELECT user_id, rn, ts, event_id, true AS allowed,
                (5 * 60000 - 60000)::BIGINT AS tokens
              FROM e WHERE rn = 1
              UNION ALL
              SELECT e.user_id, e.rn, e.ts, e.event_id,
                least(5 * 60000, s.tokens + (e.ts - s.ts)) >= 60000 AS allowed,
                (CASE WHEN least(5 * 60000, s.tokens + (e.ts - s.ts)) >= 60000
                  THEN least(5 * 60000, s.tokens + (e.ts - s.ts)) - 60000
                  ELSE least(5 * 60000, s.tokens + (e.ts - s.ts))
                  END)::BIGINT AS tokens
              FROM sim s JOIN e ON e.user_id = s.user_id AND e.rn = s.rn + 1)
            SELECT event_id, user_id, allowed, tokens AS tokens_after
            FROM sim ORDER BY event_id"""))

  /** PII scrubbing over the corpus: URLs/emails/phones → placeholders with
    * per-kind counts. The input plants one of each PII kind per doc (the
    * raw corpus has none), so the redaction paths are actually exercised;
    * output carries md5(redacted) to keep rows compact. */
  val textPiiRedact = QueryDef(
    "text_pii_redact",
    (s, dir) => {
      val aug = concat(col("text"),
        lit(" reach user"), col("doc_id"), lit("@example.com or"),
        lit(" https://docs.example.com/d/"), col("doc_id"),
        lit(" tel +1 555 0100 42"))
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.redactPii(aug).as("p"))
        .select(col("doc_id"),
          md5(col("p.redacted")).as("redacted_hash"),
          col("p.n_urls"), col("p.n_emails"), col("p.n_phones"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH aug AS (SELECT doc_id,
               text || ' reach user' || doc_id || '@example.com or' ||
               ' https://docs.example.com/d/' || doc_id ||
               ' tel +1 555 0100 42' AS t
               FROM documents),
             st AS (SELECT doc_id, t,
               regexp_replace(t, '${TextOps.urlRe}', '<URL>', 'g') AS r1
               FROM aug),
             st2 AS (SELECT doc_id, t, r1,
               regexp_replace(r1, '${TextOps.emailRe}', '<EMAIL>', 'g') AS r2
               FROM st)
             SELECT doc_id,
               md5(regexp_replace(r2, '${TextOps.phoneRe}', '<PHONE>', 'g')) AS redacted_hash,
               len(regexp_extract_all(t, '${TextOps.urlRe}')) AS n_urls,
               len(regexp_extract_all(r1, '${TextOps.emailRe}')) AS n_emails,
               len(regexp_extract_all(r2, '${TextOps.phoneRe}')) AS n_phones
             FROM st2 ORDER BY doc_id"""))

  /** Deterministic train/val/test split (80/10/10) keyed on md5(doc_id) —
    * reproducible across engines, row orders and partitionings. */
  val splitAssignQ = QueryDef(
    "split_assign",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.splitBucket(col("doc_id")).as("bucket"),
        TextOps.splitAssign(col("doc_id")).as("split"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
              ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 100 AS bucket,
              CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 100 < 80 THEN 'train'
                   WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 100 < 90 THEN 'val'
                   ELSE 'test' END AS split
            FROM documents ORDER BY doc_id"""))

  /** Benchmark decontamination: docs with id &lt; 50 act as the eval set, the
    * rest is the training corpus; every training doc gets its best eval
    * overlap (|shared 3-gram shingles| / |eval shingles|) and a
    * contaminated flag at ≥ 0.5. The tiny eval n-gram index broadcasts —
    * the corpus side never shuffles (the 100 TB decontamination shape). */
  val decontaminate = QueryDef(
    "decontaminate",
    (s, dir) => {
      val sh = graft.operators.Dedup.shingleSets(
        t(s, dir, "documents"), "doc_id", "text", 3)
      graft.operators.Dedup.contamination(
        sh.filter(col("id") >= 50), sh.filter(col("id") < 50), 0.5)
        .orderBy(col("train_id"))
    },
    Some(s"""WITH sh AS (SELECT doc_id AS id, ${shinglesSql("t")} AS shingles
               FROM (SELECT doc_id, $tokensSql AS t FROM documents)),
             ev AS (SELECT id AS eval_id, shingles, len(shingles) AS n_eval
               FROM sh WHERE id < 50 AND len(shingles) > 0),
             tr AS (SELECT id AS train_id, shingles FROM sh WHERE id >= 50),
             tp AS (SELECT train_id, unnest(shingles) AS s FROM tr),
             ep AS (SELECT eval_id, n_eval, unnest(shingles) AS s FROM ev),
             ov AS (SELECT train_id, eval_id, n_eval, count(*) AS inter
               FROM tp JOIN ep USING (s) GROUP BY 1, 2, 3),
             best AS (SELECT train_id, eval_id,
                 round(inter::DOUBLE / n_eval, 6) AS overlap,
                 row_number() OVER (PARTITION BY train_id
                   ORDER BY inter::DOUBLE / n_eval DESC, eval_id) AS rn
               FROM ov)
             SELECT t.train_id, b.eval_id,
               coalesce(b.overlap, 0.0) AS overlap,
               coalesce(b.overlap, 0.0) >= 0.5 AS contaminated
             FROM tr t LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
               USING (train_id)
             ORDER BY train_id"""))

  /** Decontamination SPAN SURGERY ([[graft.operators.Dedup
    * .decontamSurgery]]): instead of dropping flagged docs wholesale,
    * excise exactly the token positions covered by an eval-shingle match
    * and keep the rest — the treatment that saves the clean 99% of a long
    * doc quoting one benchmark item. Eval grams broadcast; the corpus side
    * is one narrow positional explode + semi-join, never a corpus shuffle
    * on gram keys. The kept-token md5 pins the exact surgery, not just
    * the counts. */
  val decontamSurgeryQ = QueryDef(
    "decontam_surgery",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Dedup.decontamSurgery(
          docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
          "doc_id", "text", n = 3)
        .orderBy(col("id"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
             ev AS (SELECT DISTINCT unnest(shingles) AS g FROM
               (SELECT ${shinglesSql("t")} AS shingles FROM tk
                WHERE doc_id < 50)),
             tr AS (SELECT doc_id AS id, t FROM tk WHERE doc_id >= 50),
             pos AS (SELECT id, t, unnest(range(1, len(t) - 1)) AS i
               FROM tr WHERE len(t) >= 3),
             hits AS (SELECT id, i FROM pos
               WHERE (t[i] || t[i+1] || t[i+2]) IN (SELECT g FROM ev)),
             cov AS (SELECT id, list(DISTINCT p) AS ps FROM
               (SELECT id, i + d AS p FROM hits, range(3) r(d))
               GROUP BY id),
             k AS (SELECT tr.id, tr.t,
                 list_filter(list_transform(range(1, len(tr.t) + 1),
                   j -> CASE WHEN ps IS NULL OR NOT list_contains(ps, j)
                     THEN tr.t[j] END), x -> x IS NOT NULL) AS kept
               FROM tr LEFT JOIN cov USING (id))
             SELECT id, len(t)::BIGINT AS n_tokens,
               (len(t) - len(kept))::BIGINT AS n_removed,
               md5(coalesce(array_to_string(kept, ' '), '')) AS kept_hash,
               len(t) = len(kept) AS clean
             FROM k ORDER BY id"""))

  /** Stratified hash sampling with per-language keep rates (en 30%, zh 80%,
    * default 50%) — a salted-md5 filter, no shuffle, reproducible across
    * engines and row orders. */
  val sampleStratified = QueryDef(
    "sample_stratified",
    (s, dir) => graft.operators.Sampling.stratifiedSample(
      t(s, dir, "documents"), col("lang"), col("doc_id"),
      Map("en" -> 30, "zh" -> 80), defaultPct = 50)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, lang, source FROM documents
            WHERE ('0x' || substr(md5('strat' || doc_id::VARCHAR), 1, 4))::INT % 100 <
              CASE lang WHEN 'en' THEN 30 WHEN 'zh' THEN 80 ELSE 50 END
            ORDER BY doc_id"""))

  /** Domain-mix curation: admit documents per language, in stable hash
    * order, until each language's running token count reaches a 3000-token
    * budget (the "sample each domain down to N tokens" step of a training
    * mix). One shuffle on the group key; window cumsum. */
  val mixTokenBudget = QueryDef(
    "mix_token_budget",
    (s, dir) => graft.operators.Sampling.tokenBudgetSample(
      t(s, dir, "documents"), "lang", "doc_id",
      TextOps.tokenCount(col("text")), budgetTokens = 3000L)
      .select(col("lang"), col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"), col("cum_tokens"))
      .orderBy(col("lang"), col("cum_tokens")),
    Some(s"""WITH d AS (SELECT lang, doc_id, len($tokensSql) AS n_tokens
               FROM documents),
             c AS (SELECT lang, doc_id, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY lang
                   ORDER BY md5(doc_id::VARCHAR), doc_id
                   ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
               FROM d)
             SELECT lang, doc_id, n_tokens, cum_tokens FROM c
             WHERE cum_tokens <= 3000 ORDER BY lang, cum_tokens"""))

  /** Winnowing fingerprints (rolling-hash sketch; k=3-gram hashes, window
    * w=4 minima): detects verbatim passage reuse that whole-doc Jaccard
    * dilutes. Output is the sorted distinct fingerprint set per doc. */
  val textWinnow = QueryDef(
    "text_winnow",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.winnowFingerprints(col("text"), 3, 4).as("fps"))
      .select(col("doc_id"), size(col("fps")).as("n_fps"),
        array_join(col("fps"), ",").as("fps_str"))
      .orderBy(col("doc_id")),
    Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
             g AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN
                 list_transform(range(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
               ELSE [] END AS grams FROM tk),
             h AS (SELECT doc_id, list_transform(grams,
                 g2 -> ('0x' || substr(md5(g2), 1, 8))::BIGINT) AS hs FROM g),
             w AS (SELECT doc_id, CASE
                 WHEN len(hs) = 0 THEN []
                 WHEN len(hs) >= 4 THEN list_transform(range(1, len(hs) - 2),
                   i -> list_min(hs[i:i+3]))
                 ELSE [list_min(hs)] END AS wins FROM h),
             f AS (SELECT doc_id, list_sort(list_distinct(wins)) AS fps FROM w)
             SELECT doc_id, len(fps)::INT AS n_fps,
               array_to_string(fps, ',') AS fps_str
             FROM f ORDER BY doc_id"""))

  /** Intra-document repetition metrics (the Gopher-rules family): distinct
    * token fraction and most-frequent-bigram coverage, plus a repetitive
    * flag. Explode + two keyed aggregations — both partial-aggregate
    * map-side, the 100 TB shape (no per-doc lambda fold). */
  val textRepetition = QueryDef(
    "text_repetition",
    (s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .withColumn("n_tokens", size(col("t")))
      val stats = base.select(col("doc_id"), col("n_tokens"),
        size(array_distinct(col("t"))).as("n_distinct"))
      val topBigram = base.filter(col("n_tokens") >= 2)
        .select(col("doc_id"), explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max(col("c")).as("top_bigram_n"))
      val distinctFrac = round(col("n_distinct").cast("double") /
        greatest(col("n_tokens"), lit(1)), 6)
      val bigramFrac = when(col("n_tokens") >= 2,
        round(coalesce(col("top_bigram_n"), lit(0L)).cast("double") /
          (col("n_tokens") - 1), 6)).otherwise(lit(0.0))
      stats.join(topBigram, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          distinctFrac.as("distinct_frac"),
          coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
          bigramFrac.as("top_bigram_frac"),
          (distinctFrac < 0.3 || bigramFrac > 0.1).as("repetitive"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
             st AS (SELECT doc_id, len(t) AS n_tokens,
                 len(list_distinct(t)) AS n_distinct FROM tk),
             g AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
                 i -> t[i] || ' ' || t[i+1])) AS bg
               FROM tk WHERE len(t) >= 2),
             c AS (SELECT doc_id, bg, count(*) AS c FROM g GROUP BY 1, 2),
             m AS (SELECT doc_id, max(c) AS top_bigram_n FROM c GROUP BY 1)
             SELECT s.doc_id, s.n_tokens,
               round(s.n_distinct::DOUBLE / greatest(s.n_tokens, 1), 6)
                 AS distinct_frac,
               coalesce(m.top_bigram_n, 0) AS top_bigram_n,
               CASE WHEN s.n_tokens >= 2 THEN
                 round(coalesce(m.top_bigram_n, 0)::DOUBLE / (s.n_tokens - 1), 6)
               ELSE 0.0 END AS top_bigram_frac,
               (round(s.n_distinct::DOUBLE / greatest(s.n_tokens, 1), 6) < 0.3
                OR CASE WHEN s.n_tokens >= 2 THEN
                     round(coalesce(m.top_bigram_n, 0)::DOUBLE / (s.n_tokens - 1), 6)
                   ELSE 0.0 END > 0.1) AS repetitive
             FROM st s LEFT JOIN m USING (doc_id)
             ORDER BY s.doc_id"""))

  /** Rule-based corpus cleaning: every doc gets a keep flag and the FIRST
    * failing rule as its reject reason (blocked source → too short →
    * language allowlist → quality floor) — the audit-friendly shape (a
    * dropped doc is always explainable). Pure narrow per-row expressions
    * over metadata + the shared quality formula; filters push to the scan. */
  val corpusFilter = QueryDef(
    "corpus_filter",
    (s, dir) => {
      val toks = TextOps.tokens(col("text"))
      val reason = when(col("source").isin("src13", "src7"), "blocked_source")
        .when(size(toks) < 20, "too_short")
        .when(!col("lang").isin("en", "de", "zh"), "lang")
        .when(TextOps.qualityScore(col("text")) < 0.35, "low_quality")
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          reason.isNull.as("keep"), reason.as("reject_reason"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH base AS (SELECT doc_id, lang, source, text,
                 $tokensSql AS toks FROM documents),
             sig AS (SELECT doc_id, lang, source,
                 len(toks) AS n_tokens,
                 round((least(length(text), 500)::DOUBLE / 500.0
                   + least(len(list_filter(toks, t -> list_contains(
                       ['the','and','of','to','is','in','that','it','for','with'],
                       t)))::DOUBLE * 5.0 / greatest(len(toks), 1), 1.0)
                   + len(list_filter(toks, t -> length(t) >= 4))::DOUBLE
                     / greatest(len(toks), 1)) / 3.0, 6) AS quality
               FROM base),
             r AS (SELECT doc_id, lang, source,
                 CASE WHEN source IN ('src13', 'src7') THEN 'blocked_source'
                      WHEN n_tokens < 20 THEN 'too_short'
                      WHEN lang NOT IN ('en', 'de', 'zh') THEN 'lang'
                      WHEN quality < 0.35 THEN 'low_quality'
                 END AS reject_reason FROM sig)
             SELECT doc_id, lang, source,
               reject_reason IS NULL AS keep, reject_reason
             FROM r ORDER BY doc_id"""))

  /** Corpus mix report: per (lang, source) doc/token totals, mean quality,
    * and the kept fraction under [[corpusFilter]]'s rules — the planning
    * input for a training-mix (what's available per domain BEFORE
    * sampling). One partial-aggregated groupBy over narrow per-row
    * signals. */
  val mixReport = QueryDef(
    "mix_report",
    (s, dir) => {
      val toks = TextOps.tokens(col("text"))
      val keep = !col("source").isin("src13", "src7") &&
        size(toks) >= 20 && col("lang").isin("en", "de", "zh") &&
        TextOps.qualityScore(col("text")) >= 0.35
      t(s, dir, "documents")
        .select(col("lang"), col("source"), size(toks).as("n_tok"),
          TextOps.qualityScore(col("text")).as("q"), keep.as("keep"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok").cast("long")).as("total_tokens"),
          // mean quality in exact micro-units with INTEGER division — a
          // double avg() exposes summation-order noise, and even an exact
          // integer sum divided as doubles lands on .5 rounding boundaries
          // the two engines break differently
          { val sq = sum(round(col("q") * 1e6).cast("long"))
            val n = count(lit(1))
            // (sq - sq%n)/n is an exact multiple, so the double division is
            // exact — integral mean without engine-specific div operators
            ((sq - pmod(sq, n)) / n).cast("long").as("mean_quality_micro") },
          // kept fraction in integer ppm (same convention as every other
          // ratio in the suite — exact integer division on both engines)
          expr("(1000000 * sum(CASE WHEN keep THEN 1 ELSE 0 END)) div count(1)")
            .as("kept_ppm"))
        .orderBy(col("lang"), col("source"))
    },
    Some(s"""WITH base AS (SELECT lang, source, text, $tokensSql AS toks
               FROM documents),
             sig AS (SELECT lang, source, len(toks) AS n_tok,
                 round((least(length(text), 500)::DOUBLE / 500.0
                   + least(len(list_filter(toks, t -> list_contains(
                       ['the','and','of','to','is','in','that','it','for','with'],
                       t)))::DOUBLE * 5.0 / greatest(len(toks), 1), 1.0)
                   + len(list_filter(toks, t -> length(t) >= 4))::DOUBLE
                     / greatest(len(toks), 1)) / 3.0, 6) AS q
               FROM base),
             k AS (SELECT lang, source, n_tok, q,
                 (source NOT IN ('src13', 'src7') AND n_tok >= 20
                  AND lang IN ('en', 'de', 'zh') AND q >= 0.35) AS keep
               FROM sig)
             SELECT lang, source, count(*) AS n_docs,
               sum(n_tok)::BIGINT AS total_tokens,
               (sum(round(q * 1000000)::BIGINT) // count(*))::BIGINT
                 AS mean_quality_micro,
               ((1000000 * sum(CASE WHEN keep THEN 1 ELSE 0 END))
                 // count(*))::BIGINT AS kept_ppm
             FROM k GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Sequence packing manifest: every document's tokens laid end-to-end in
    * doc_id order, cut into 2048-token training sequences — each doc gets
    * its exact global start offset and the sequence ids it spans. The
    * offset is a DISTRIBUTED two-phase prefix sum ([[graft.operators.Packing]]):
    * one range shuffle + per-partition running sums + O(#partitions)
    * driver state, never a single-partition global window (PlanSpec-pinned).
    * The oracle spells the same total order as a plain window cumsum. */
  val packSequences = QueryDef(
    "pack_sequences",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      graft.operators.Packing
        .packSequences(docs, "doc_id", "n_tok", seqLen = 2048L)
        .select(col("doc_id"), col("n_tok"), col("start_offset"),
          col("first_seq"), col("last_seq"), col("n_seqs"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, len($tokensSql) AS n_tok
               FROM documents),
             o AS (SELECT doc_id, n_tok,
                 coalesce(sum(n_tok) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                   AS start_offset
               FROM tk)
             SELECT doc_id, n_tok, start_offset,
               (CASE WHEN n_tok > 0 THEN start_offset // 2048 END)::BIGINT
                 AS first_seq,
               (CASE WHEN n_tok > 0 THEN (start_offset + n_tok - 1) // 2048
                 END)::BIGINT AS last_seq,
               (CASE WHEN n_tok > 0 THEN (start_offset + n_tok - 1) // 2048
                 - start_offset // 2048 + 1 ELSE 0 END)::BIGINT AS n_seqs
             FROM o ORDER BY doc_id"""))

  /** Loss-mask manifest for the packed layout: one row per
    * (sequence, document) overlap of [[packSequences]]' 2048-token
    * sequences — the per-sequence attention-reset spans a trainer feeds
    * alongside the token stream so attention can't cross document
    * boundaries inside a pack. Integer interval intersection over the
    * distributed prefix-sum offsets (`graft.operators.Packing.packMaskSpans`);
    * the oracle replays the same layout with a window cumsum +
    * generate_series. Invariants the hash pins: spans within a sequence
    * tile it exactly (sum of span_len = 2048 for every full sequence), and
    * every doc's spans sum to its token count. */
  val packMasks = QueryDef(
    "pack_masks",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      graft.operators.Packing
        .packMaskSpans(docs, "doc_id", "n_tok", seqLen = 2048L)
        .orderBy(col("seq_id"), col("doc_id"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, len($tokensSql) AS n_tok
               FROM documents),
             o AS (SELECT doc_id, n_tok,
                 coalesce(sum(n_tok) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                   AS off
               FROM tk WHERE n_tok > 0),
             spans AS (SELECT o.doc_id, o.off, o.n_tok, s.seq_id
               FROM o, LATERAL (SELECT unnest(generate_series(
                 off // 2048, (off + n_tok - 1) // 2048)) AS seq_id) s)
             SELECT seq_id, doc_id,
               greatest(off - seq_id * 2048, 0)::BIGINT AS start_in_seq,
               (least(off + n_tok - seq_id * 2048, 2048)
                 - greatest(off - seq_id * 2048, 0))::BIGINT AS span_len
             FROM spans ORDER BY seq_id, doc_id"""))

  /** Length-bucketed batching manifest with padding-waste accounting: docs
    * sorted by token length, cut into fixed-size batches of 64, each batch
    * reporting actual vs padded-to-batch-max tokens — the accounting that
    * justifies length bucketing (padding a random batch to its max wastes
    * the length spread; a sorted batch's max ≈ its min). The GLOBAL rank
    * comes from `graft.operators.Packing.withGlobalOffsets` with weight 1
    * (range shuffle + per-partition sums, O(#partitions) driver state) —
    * never a single-partition `row_number` window, which is the
    * die-at-100-TB way to rank a corpus. One keyed agg after the rank. */
  val batchPaddingWaste = QueryDef(
    "batch_padding_waste",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
        // composite sort key: length-major, id-minor — zero-padded so the
        // string order equals the (n_tok, doc_id) numeric order; 19 digits
        // covers any non-negative Long (Spark's lpad TRUNCATES overflow,
        // which would silently corrupt the rank order)
        .withColumn("__k", concat(lpad(col("n_tok").cast("string"), 19, "0"),
          lit("|"), lpad(col("doc_id").cast("string"), 19, "0")))
        .withColumn("__one", lit(1L))
      graft.operators.Packing.withGlobalOffsets(docs, "__k", "__one")
        .withColumn("batch_id", expr("start_offset div 64"))
        .groupBy(col("batch_id"))
        .agg(count(lit(1)).as("n_docs"), max(col("n_tok")).as("max_tok"),
          sum(col("n_tok")).as("actual_tokens"))
        .withColumn("padded_tokens", col("n_docs") * col("max_tok"))
        .withColumn("waste_tokens", col("padded_tokens") - col("actual_tokens"))
        .select(col("batch_id"), col("n_docs"), col("max_tok"),
          col("actual_tokens"), col("padded_tokens"), col("waste_tokens"))
        .orderBy(col("batch_id"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, len($tokensSql)::BIGINT AS n_tok
               FROM documents),
             r AS (SELECT n_tok,
                 (row_number() OVER (ORDER BY n_tok, doc_id) - 1) // 64
                   AS batch_id
               FROM tk)
             SELECT batch_id::BIGINT AS batch_id, count(*) AS n_docs,
               max(n_tok) AS max_tok,
               CAST(sum(n_tok) AS BIGINT) AS actual_tokens,
               (count(*) * max(n_tok))::BIGINT AS padded_tokens,
               (count(*) * max(n_tok) - sum(n_tok))::BIGINT AS waste_tokens
             FROM r GROUP BY 1 ORDER BY batch_id"""))

  /** Unigram-LM rarity scoring (the integer-exact stand-in for perplexity
    * filtering): corpus-wide term frequencies, then each doc scored by the
    * mean and max "surprisal" of its tokens — rarity(tok) = total_tokens
    * div tf(tok), so stopwords score ~1 and hapaxes score ~corpus size.
    * All integer arithmetic: bit-exact across engines, no log() whose last
    * ulp differs between libm implementations. Shape: ONE explode feeding
    * a per-(doc,token) partial-aggregated count; the vocabulary and the
    * corpus total both derive from that compact table, so the raw token
    * stream is materialized once. The vocab join is an equi-join on token
    * (AQE handles the stopword skew); everything else is keyed aggs. */
  val lmRarity = QueryDef(
    "lm_rarity",
    (s, dir) => {
      // three consumers (vocab, total, the scoring join) — localCheckpoint
      // over persist so the blocks free with the plan, not never
      val dtc = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val vocab = dtc.groupBy(col("tok")).agg(sum(col("c")).as("tf"))
      val tot = dtc.agg(sum(col("c")).as("t_total"))
      dtc.join(vocab, Seq("tok"))
        .crossJoin(broadcast(tot))
        .withColumn("r", expr("t_total div tf"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c") * col("r")).as("ssum"),
          sum(col("c")).as("n_tok"),
          max(col("r")).as("rarity_max"))
        .select(col("doc_id"), col("n_tok"),
          expr("ssum div n_tok").as("rarity_mean"), col("rarity_max"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, unnest($tokensSql) AS tok
               FROM documents),
             dtc AS (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
             vocab AS (SELECT tok, sum(c) AS tf FROM dtc GROUP BY 1),
             tot AS (SELECT sum(c) AS t_total FROM dtc)
             SELECT doc_id, sum(c)::BIGINT AS n_tok,
               (sum(c * (t.t_total // v.tf)) // sum(c))::BIGINT AS rarity_mean,
               max(t.t_total // v.tf)::BIGINT AS rarity_max
             FROM dtc JOIN vocab v USING (tok) CROSS JOIN tot t
             GROUP BY doc_id ORDER BY doc_id"""))

  /** Model-based corpus filtering, trained AND applied in-engine: a
    * multinomial Naive-Bayes bag-of-words classifier (the
    * fastText/CCNet/FineWeb-style linear filter) learned in one corpus
    * scan, then every doc scored by summing its tokens' learned weights.
    * The training label is a PLANTED signal — y = the doc contains the
    * (rare, ~5%) marker token 'dup' — so the oracle pins that the
    * estimator recovers the generating rule from counts alone (the same
    * planted-recall pattern as the near-dup pins): the marker's
    * smoothed odds explode positive while every shared token's
    * class-normalized odds stay ≈1, and in-sample prediction matches the
    * label everywhere.
    *
    * Weights are QUANTIZED log-odds computed in integer space to stay
    * cross-engine exact: odds(t) scaled by 1024 via ordered integer
    * division (the multiply-then-divide order is part of the contract;
    * the 1e9 cap on the first ratio bounds the sf10-scale product under
    * Long), then 2·floor(4·log2(·)) − 79 — quarter-log2 resolution
    * expressed in half-quanta, the −79 (not −80) centering the floor's
    * −½-quantum systematic bias to MEAN-ZERO error so neutral tokens
    * don't drift negative and drown a rare marker in long docs.
    * floor(k·log2) of an integer is ulp-safe because both engines round
    * the integer to the same double and the floor boundaries sit at
    * irrational 2^(j/4) (never hit exactly) except integer powers of two,
    * where log2 is exact. Smoothing is add-one over the vocabulary; the
    * class prior (doc-count log-odds through the same quantizer) is added
    * to every score — with a ~5% positive class it contributes ≈ −33
    * half-quanta, the margin that keeps neutral-noise docs (σ ≈ √n_tok)
    * below zero while one marker occurrence (≈ +73) clears it. Train =
    * test corpus (in-sample), as a filtering pass over the same corpus
    * would be.
    *
    * Plan shape: one tokenize scan → (doc, y, tok) counts
    * (localCheckpoint'd for its two consumers), a vocab-sized weights
    * aggregate, one tok-keyed scoring join, one doc-keyed sum — at 100 TB
    * the corpus crosses a shuffle only twice (class counts + scoring
    * join), both partial-agged; weights stay vocab-bounded. */
  val nbClassifierFilter = QueryDef(
    "nb_classifier_filter",
    (s, dir) => {
      val dtc = t(s, dir, "documents")
        .select(col("doc_id"),
          array_contains(TextOps.tokens(col("text")), "dup")
            .cast("int").cast("long").as("y"),
          explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("y"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val cls = dtc.groupBy(col("tok"))
        .agg(sum(when(col("y") === 1L, col("c")).otherwise(0L)).as("c1"),
          sum(when(col("y") === 0L, col("c")).otherwise(0L)).as("c0"))
      val tot = cls.agg(sum(col("c1")).as("n1"), sum(col("c0")).as("n0"),
        count(lit(1)).as("v"))
      val weights = cls.crossJoin(broadcast(tot))
        .withColumn("a",
          least(expr("((c1 + 1) * 1024) div (c0 + 1)"), lit(1000000000L)))
        .withColumn("o",
          greatest(expr("(a * (n0 + v)) div (n1 + v)"), lit(1L)))
        .withColumn("w", floor(log2(col("o")) * 4d).cast("long") * 2L - 79L)
        .select(col("tok"), col("w"))
      val prior = dtc.select(col("doc_id"), col("y")).distinct()
        .agg(sum(col("y")).as("p1"), sum(lit(1L) - col("y")).as("p0"))
        .withColumn("op",
          greatest(expr("((p1 + 1) * 1024) div (p0 + 1)"), lit(1L)))
        .withColumn("wp",
          floor(log2(col("op")) * 4d).cast("long") * 2L - 79L)
        .select(col("wp"))
      dtc.join(weights, Seq("tok"))
        .groupBy(col("doc_id"), col("y"))
        .agg(sum(col("c") * col("w")).as("raw"),
          sum(col("c")).as("n_tok"))
        .crossJoin(broadcast(prior))
        .select(col("doc_id"), col("n_tok"),
          (col("raw") + col("wp")).as("score"),
          ((col("raw") + col("wp")) > 0L).cast("int").as("pred"),
          col("y").cast("int").as("label"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH tk AS (SELECT doc_id,
               CASE WHEN list_contains($tokensSql, 'dup')
                 THEN 1 ELSE 0 END AS y,
               unnest($tokensSql) AS tok FROM documents),
             dtc AS (SELECT doc_id, y, tok, count(*)::BIGINT AS c
               FROM tk GROUP BY 1, 2, 3),
             cls AS (SELECT tok,
                 sum(CASE WHEN y = 1 THEN c ELSE 0 END)::BIGINT AS c1,
                 sum(CASE WHEN y = 0 THEN c ELSE 0 END)::BIGINT AS c0
               FROM dtc GROUP BY 1),
             tot AS (SELECT sum(c1)::BIGINT AS n1, sum(c0)::BIGINT AS n0,
                 count(*)::BIGINT AS v FROM cls),
             w AS (SELECT tok,
                 (floor(log2(greatest(
                   (least(((c1 + 1) * 1024) // (c0 + 1), 1000000000)
                     * (n0 + v)) // (n1 + v), 1)) * 4)::BIGINT * 2 - 79) AS w
               FROM cls CROSS JOIN tot),
             pr AS (SELECT (floor(log2(greatest(
                   ((sum(y) + 1) * 1024) // (sum(1 - y) + 1), 1)) * 4)
                 ::BIGINT * 2 - 79) AS wp
               FROM (SELECT DISTINCT doc_id, y FROM tk))
             SELECT doc_id, sum(c)::BIGINT AS n_tok,
               (sum(c * w.w) + max(pr.wp))::BIGINT AS score,
               (CASE WHEN sum(c * w.w) + max(pr.wp) > 0
                  THEN 1 ELSE 0 END)::INT AS pred,
               max(y)::INT AS label
             FROM dtc JOIN w USING (tok) CROSS JOIN pr
             GROUP BY doc_id ORDER BY doc_id"""))

  /** Temperature-flattened language mix (α = 0.5): per-language keep rates
    * (n_min/n_g)^0.5 — sqrt, so both engines agree bit-exactly — and the
    * deterministic salted-md5 admission per doc. The counts aggregate is
    * tiny and broadcast back; the admission is a pure narrow expression. */
  val mixTemperature = QueryDef(
    "mix_temperature",
    (s, dir) => graft.operators.Sampling
      .temperatureSample(t(s, dir, "documents"), "lang", col("doc_id"))
      .select(col("doc_id"), col("lang"), col("rate"), col("kept"))
      .orderBy(col("doc_id")),
    Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
            m AS (SELECT min(n) AS nmin FROM c),
            r AS (SELECT lang, round(sqrt(nmin::DOUBLE / n), 6) AS rate
              FROM c, m)
            SELECT d.doc_id, d.lang, r.rate,
              ('0x' || substr(md5('mixt' || d.doc_id::VARCHAR), 1, 6))::BIGINT
                ::DOUBLE / 16777216.0 < r.rate AS kept
            FROM documents d JOIN r USING (lang) ORDER BY d.doc_id"""))

  /** Cross-document boilerplate detection (the C4/RefinedWeb repeated-span
    * signal): 5-gram spans appearing in ≥2 DISTINCT documents are
    * boilerplate; every doc reports how much of it is covered by such
    * spans. Shape: one explode to per-doc distinct grams (document
    * frequency), one to gram occurrences; both aggregations partial
    * map-side, the join an equi-join on the gram — no per-doc lambda
    * folds, integer counts + one terminal round. */
  val boilerplateNgrams = QueryDef(
    "boilerplate_ngrams",
    (s, dir) => {
      val n = 5
      // three consumers (DF pass, occurrence pass, final projection) —
      // materialize the gram table ONCE so the tokenizer + interpreted
      // gram lambdas don't run three times (localCheckpoint over persist:
      // blocks free with the plan; at 100 TB this is the "write the gram
      // table once" step any boilerplate pass starts with)
      val base = t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .withColumn("grams", when(size(col("t")) >= n,
          transform(sequence(lit(1), size(col("t")) - (n - 1)),
            i => array_join(slice(col("t"), i, lit(n)), " ")))
          .otherwise(array().cast("array<string>")))
        .drop("t")
        .localCheckpoint()
      val df5 = base
        .select(col("doc_id"), explode(array_distinct(col("grams"))).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2)
      val occ = base
        .select(col("doc_id"), explode(col("grams")).as("g"))
        .join(df5, Seq("g"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boiler"))
      base.select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"))
        .join(occ, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
          round(coalesce(col("n_boiler"), lit(0L)).cast("double") /
            greatest(col("n_grams"), lit(1L)), 6).as("boiler_frac"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
             g AS (SELECT doc_id, CASE WHEN len(t) >= 5 THEN
                 list_transform(range(1, len(t) - 3),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                     || t[i+3] || ' ' || t[i+4])
               ELSE [] END AS grams FROM tk),
             df AS (SELECT g2 AS g, count(*) AS df FROM (
                 SELECT doc_id, unnest(list_distinct(grams)) AS g2 FROM g)
               GROUP BY 1 HAVING count(*) >= 2),
             occ AS (SELECT doc_id, count(*) AS n_boiler FROM (
                 SELECT doc_id, unnest(grams) AS g2 FROM g) o
               WHERE EXISTS (SELECT 1 FROM df WHERE df.g = o.g2)
               GROUP BY 1)
             SELECT g.doc_id, len(g.grams)::BIGINT AS n_grams,
               coalesce(occ.n_boiler, 0) AS n_boiler,
               round(coalesce(occ.n_boiler, 0)::DOUBLE /
                 greatest(len(g.grams), 1), 6) AS boiler_frac
             FROM g LEFT JOIN occ USING (doc_id)
             ORDER BY g.doc_id"""))

  /** Int8 embedding quantization (the 4× storage cut a 100 TB embedding
    * store takes before ANN): per-vector max-abs scaling, codes =
    * floor(127·x/m + 0.5) — floor-of-shifted instead of round() because
    * both engines floor identically while their round() halfway rules can
    * differ — plus the worst-element reconstruction error. Pure narrow
    * per-row HOFs, no shuffle at all. */
  val embedQuantize = QueryDef(
    "embed_quantize",
    (s, dir) => {
      val m = col("__m")
      t(s, dir, "embeddings")
        .withColumn("__m", array_max(transform(col("embedding"), x => abs(x))))
        .withColumn("codes", when(m > 0, transform(col("embedding"),
            x => floor(x * 127.0d / m + 0.5d).cast("int")))
          .otherwise(transform(col("embedding"), _ => lit(0))))
        // m is FloatType (array_max over float[]): round to 6 in DOUBLE —
        // a float can't hold 0.303005 and would surface its full double
        // expansion in the compare
        // codes serialized to a CSV string: the driver's comparator can't
        // sort/hash array cells, and a joined string is hash-stable on both
        // engines (same digits, same separator)
        .select(col("vec_id"), round(m.cast("double"), 6).as("max_abs"),
          array_join(col("codes").cast("array<string>"), ",").as("codes"),
          round(array_max(zip_with(col("embedding"), col("codes"),
            (x, c) => abs(x - c * m / 127.0d))), 6).as("max_err"))
        .orderBy(col("vec_id"))
    },
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
            s AS (SELECT vec_id, vec,
                list_max(list_transform(vec, x -> abs(x))) AS m FROM v),
            c AS (SELECT vec_id, vec, m,
                CASE WHEN m > 0 THEN list_transform(vec,
                  x -> floor(x * 127.0 / m + 0.5)::INT)
                ELSE list_transform(vec, x -> 0) END AS codes
              FROM s)
            SELECT vec_id, round(m, 6) AS max_abs,
              array_to_string(codes, ',') AS codes,
              round(list_max(list_transform(range(1, len(vec) + 1),
                i -> abs(vec[i] - codes[i] * m / 127.0))), 6) AS max_err
            FROM c ORDER BY vec_id"""))

  /** A/A incremental materialized view: an ACTIVE-ACTIVE source (field-level
    * CRDT ops — a scalar set that MOVES rows across view keys, a collection
    * add, a collection remove, record deletes) maintained into a re-keyed
    * view through the A/A after-image changelog. Only changed keys are
    * touched (pinned in EngineSpec); result ≡ full recompute. */
  val b14AaView = QueryDef(
    "b14_aa_incremental_view",
    (s, dir) => {
      val e = tempEngine(s, "graft-b14")
      e.createStore("o", Seq("o_orderkey"))
      val ord = t(s, dir, "orders").filter(col("o_orderkey") <= 3000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          array(col("o_orderstatus")).as("tags"))
      e.push("o", ord, numBuckets = 4)
      e.enableActiveActive("o")
      e.materializedView("o", "o_by_cust", Seq("o_custkey", "o_orderkey"),
        numBuckets = 4)
      // move keys 1..20 to customer 1 (view rows must MOVE)
      e.setFieldAA("o", ord.filter(col("o_orderkey") <= 20)
        .select(col("o_orderkey"), lit(1L).as("o_custkey")),
        "o_custkey", tsMs = 1000L)
      // tag keys 1..40 with X (collection add)
      e.addToSetAA("o", ord.filter(col("o_orderkey") <= 40)
        .select(col("o_orderkey"), lit("X").as("tag")), "tags", "tag",
        tsMs = 1100L)
      // strip keys 41..60 of their status tag (collection remove)
      e.removeFromSetAA("o", t(s, dir, "orders")
        .filter(col("o_orderkey").between(41, 60))
        .select(col("o_orderkey"), col("o_orderstatus").as("tag")),
        "tags", "tag", tsMs = 1200L)
      // delete keys 21..30 (record tombstones — delete wins the earlier add)
      e.deleteAA("o", ord.filter(col("o_orderkey").between(21, 30))
        .select("o_orderkey"), tsMs = 2000L)
      e.refreshView("o_by_cust")
      e.servingView("o_by_cust")
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"),
          array_join(col("tags"), ",").as("tags"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    // tags: snapshot element at ts0 + X@1100, sorted ⇒ status,X (every
    // status letter sorts before X); removed status for 41..60 ⇒ ''
    Some("""SELECT CASE WHEN o_orderkey <= 20 THEN 1 ELSE o_custkey END AS o_custkey,
            o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
            CASE WHEN o_orderkey <= 40 THEN o_orderstatus || ',X'
                 WHEN o_orderkey BETWEEN 41 AND 60 THEN ''
                 ELSE o_orderstatus END AS tags
            FROM orders
            WHERE o_orderkey <= 3000 AND o_orderkey NOT BETWEEN 21 AND 30
            ORDER BY 1, 2"""))

  /** A/A value-schema evolution (§1.4 × W7): evolve an ACTIVE-ACTIVE store
    * (v2 adds `segment`), then interleave a v2 writer setting the new field,
    * a v2 writer bumping an old field, and a LATE v1 full put that does not
    * know `segment`. The old-schema put wins the fields it knows but
    * carries BOTTOM state for `segment` — it must not clobber the value a
    * v2 writer set earlier (Venice superset-schema put resolution). */
  val r14AaEvolution = QueryDef(
    "r14_aa_schema_evolution",
    (s, dir) => {
      import org.apache.spark.sql.types._
      val e = tempEngine(s, "graft-r14")
      e.createStore("c", Seq("c_custkey"))
      val cust = t(s, dir, "customer").filter(col("c_custkey") <= 2000)
      e.push("c", cust.select(col("c_custkey"), col("c_name"), col("c_acctbal")),
        numBuckets = 4)
      e.enableActiveActive("c")
      e.registerValueSchema("c", StructType(e.valueSchema("c", 1).fields :+
        StructField("segment", StringType)))
      // v2 writer fills the NEW field at ts 1000…
      e.setFieldAA("c", cust.filter(col("c_custkey") <= 50)
        .select(col("c_custkey"), col("c_mktsegment").as("segment")),
        "segment", tsMs = 1000L)
      // …and bumps an OLD field at ts 1500…
      e.setFieldAA("c", cust.filter(col("c_custkey").between(10, 40))
        .select(col("c_custkey"),
          (col("c_acctbal") + lit(100.0)).as("c_acctbal")),
        "c_acctbal", tsMs = 1500L)
      // …then a late v1 full put (no segment column → writer schema 1)
      e.putAA("c", cust.filter(col("c_custkey") <= 30)
        .select(col("c_custkey"),
          concat(col("c_name"), lit("!")).as("c_name"), col("c_acctbal")),
        tsMs = 2000L)
      e.servingView("c")
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"),
          col("segment"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey,
            CASE WHEN c_custkey <= 30 THEN c_name || '!' ELSE c_name END AS c_name,
            CAST(round((CASE WHEN c_custkey <= 30 THEN c_acctbal
                             WHEN c_custkey BETWEEN 10 AND 40 THEN c_acctbal + 100
                             ELSE c_acctbal END) * 100) AS BIGINT) AS acctbal_cents,
            CASE WHEN c_custkey <= 50 THEN c_mktsegment END AS segment
            FROM customer WHERE c_custkey <= 2000 ORDER BY c_custkey"""))

  /** S3 gated version swap, end-to-end: a store lagging beyond the time
    * threshold REFUSES the swap (nothing consumed, version unchanged); once
    * a fresh batch lands within the threshold the swap proceeds and the new
    * version carries both batches' LWW-merged state. */
  val s3LagGate = QueryDef(
    "s3_lag_gate",
    (s, dir) => {
      val e = tempEngine(s, "graft-s3")
      e.createStore("n", Seq("n_nationkey"))
      val nat = t(s, dir, "nation")
      e.push("n", nat.select(col("n_nationkey"), col("n_name")), numBuckets = 2)
      // stale batch: event time 1000 vs now 100000 → lag 99000 > 10000
      e.put("n", nat.filter(col("n_nationkey") < 5)
        .select(col("n_nationkey"),
          concat(col("n_name"), lit("_A")).as("n_name")), tsMs = 1000L)
      val refused = graft.streaming.StreamIngest.swapIfCaughtUp(e, "n",
        maxTimeLagMs = 10000L, nowMs = 100000L)
      // drained: newest ingested ts 95000 → lag 5000 ≤ 10000 → swap
      e.put("n", nat.filter(col("n_nationkey").between(5, 9))
        .select(col("n_nationkey"),
          concat(col("n_name"), lit("_B")).as("n_name")), tsMs = 95000L)
      val swapped = graft.streaming.StreamIngest.swapIfCaughtUp(e, "n",
        maxTimeLagMs = 10000L, nowMs = 100000L)
      e.snapshot("n")
        .select(col("n_nationkey"), col("n_name"))
        .withColumn("first_swap_refused", lit(refused.isEmpty))
        .withColumn("swapped_version", lit(swapped.getOrElse(-1)))
        .orderBy(col("n_nationkey"))
    },
    Some("""SELECT n_nationkey,
            CASE WHEN n_nationkey < 5 THEN n_name || '_A'
                 WHEN n_nationkey BETWEEN 5 AND 9 THEN n_name || '_B'
                 ELSE n_name END AS n_name,
            true AS first_swap_refused, 2 AS swapped_version
            FROM nation ORDER BY n_nationkey"""))

  /** Streaming watermarked window aggregation, oracle-checked END TO END:
    * hourly (bucket, event_type) counts + cent-sums over a file-source
    * stream in APPEND mode — each window is emitted exactly once, when the
    * watermark passes its end. Draining tail windows uses the production
    * close-out pattern: a second run whose data (one sentinel row beyond
    * max+delay) advances the watermark past every real window. The same
    * run carries a LATE row whose window was already finalized — true
    * watermark semantics must DROP it; if the engine merged or re-emitted,
    * the sentinel/late rows would surface and the oracle hash would break.
    * So the DuckDB batch GROUP BY is a full oracle for emit-once,
    * drop-late streaming semantics. */
  val streamWindowAgg = QueryDef(
    "stream_window_agg",
    (s, dir) => {
      import graft.streaming.StreamWindow
      import org.apache.spark.sql.streaming.Trigger
      val root = graft.core.TmpStores.dir("graft-swin").toString
      val ev = Tables.events(s, dir)
        .select(col("ts"), col("event_type"), col("value"))
      // the staged "topic" is deterministic per source CONTENT — reuse it
      // across invocations in one JVM (the bench's min-of-2 would otherwise
      // re-pay the 1M-row write per pass); out/ and cp/ stay per-invocation.
      // The key hashes the source files' names+sizes+mtimes, not just the
      // path: a regenerated events.parquet at the same path must invalidate
      // the cache, or a stale stage would silently break the oracle.
      val srcSig = Option(new java.io.File(s"$dir/events.parquet").listFiles())
        .map(_.toSeq).getOrElse(Seq(new java.io.File(s"$dir/events.parquet")))
        .sortBy(_.getName)
        .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString(",")
      val stage = graft.core.TmpStores.fixed(s"graft-swin-in-${
          java.security.MessageDigest.getInstance("MD5")
            .digest(s"$dir|$srcSig".getBytes("UTF-8"))
            .map(b => f"$b%02x").mkString}").toFile
      if (!new java.io.File(stage, "_SUCCESS").exists())
        ev.write.mode("overwrite").parquet(stage.toString)
      val in = s"$root/in"
      new java.io.File(in).mkdirs()
      stage.listFiles().foreach { f =>
        java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(in, f.getName), f.toPath)
      }
      val maxTs = ev.agg(max(unix_millis(col("ts")))).head().getLong(0)

      def drainOnce(): Unit = {
        // the windowed state is small (hour buckets × event types)
        withStreamStatePartitions(s) {
          val stream = s.readStream.schema(ev.schema).parquet(s"$root/in")
          val agged = StreamWindow.windowedAgg(stream, "ts",
            delay = "1 hour", window = "1 hour", keys = Seq("event_type"),
            aggs = Seq(count(lit(1)).as("n_events"),
              sum(round(col("value") * 100).cast("long")).as("value_cents")))
          val q = agged.writeStream.format("parquet")
            .option("path", s"$root/out").option("checkpointLocation", s"$root/cp")
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          require(q.awaitTermination(180000),
            "stream_window_agg: stream did not drain within 180s")
        }
      }
      drainOnce()
      // close-out run: sentinel 3h past max advances the watermark to
      // max+2h (> every real window end); the late row's window closed in
      // run 1, so the watermark filter must drop it
      import s.implicits._
      Seq((maxTs + 3 * 3600 * 1000L, "zz_sentinel", 0.0),
        (maxTs - 3 * 3600 * 1000L, "zz_late", 1e9))
        .toDF("ts_ms", "event_type", "value")
        .select(timestamp_millis(col("ts_ms")).as("ts"), col("event_type"),
          col("value"))
        .write.mode("append").parquet(s"$root/in")
      drainOnce()
      s.read.parquet(s"$root/out")
        .select(col("bucket_ms"), col("event_type"), col("n_events"),
          col("value_cents"))
        .orderBy(col("bucket_ms"), col("event_type"))
    },
    Some("""SELECT (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
              event_type, count(*) AS n_events,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                AS value_cents
            FROM events GROUP BY 1, 2 ORDER BY bucket_ms, event_type"""))

  /** TPC-H Q5-style local-supplier revenue: a six-table join where the
    * dimension chain (region → nation) filters and labels, and the fact
    * chain (customer ⨝ orders ⨝ lineitem ⨝ supplier) carries the volume.
    * The plan Catalyst should (and does) pick at any scale: region/nation
    * broadcast (tiny), supplier/customer broadcast while they fit then
    * hash-shuffle beyond, orders filtered on the date BEFORE joining
    * lineitem (pushed scan), one final tiny-cardinality agg on n_name.
    * Revenue in integer cents (order-independent exact sums). */
  val q5LocalSupplier = QueryDef(
    "q5_local_supplier",
    (s, dir) => {
      val asia = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("rev_cents"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(asia), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("rev_cents")).as("revenue_cents"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue_cents").desc, col("n_name"))
    },
    Some("""SELECT n_name,
              CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                AS BIGINT)) AS BIGINT) AS revenue_cents,
              count(*) AS n_items
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY n_name
            ORDER BY revenue_cents DESC, n_name"""))

  /** Streaming trending top-k over SLIDING windows: per 2-hour window
    * sliding hourly, the 3 most frequent event types — the "what's hot
    * now, refreshed hourly" dashboard feed. The stream emits each
    * overlapping window's per-type counts exactly once (append mode,
    * watermark-finalized, late rows dropped — immutable facts); the top-3
    * rank runs as a bounded batch window over the drained sink, which is
    * how a trending consumer reads the emitted aggregates. A planted late
    * row and an unclosed-window sentinel would break the hash if drop /
    * emit-once failed. Each row fans out to window÷slide = 2 state rows —
    * state is (2 × hours × types), partitioned on (window, type). */
  val streamTrending = QueryDef(
    "stream_trending",
    (s, dir) => {
      import graft.streaming.StreamWindow
      import org.apache.spark.sql.streaming.Trigger
      val ev = Tables.events(s, dir).select(col("ts"), col("event_type"))
      val (root, in) = stagedTopic(dir, "graft-strend", ev)
      val maxTs = ev.agg(max(unix_millis(col("ts")))).head().getLong(0)
      def drainOnce(): Unit = {
        withStreamStatePartitions(s) {
          val stream = s.readStream.schema(ev.schema).parquet(in)
          val agged = StreamWindow.windowedAgg(stream, "ts",
            delay = "1 hour", window = "2 hours", keys = Seq("event_type"),
            aggs = Seq(count(lit(1)).as("n")), slide = Some("1 hour"))
          val q = agged.writeStream.format("parquet")
            .option("path", s"$root/out").option("checkpointLocation", s"$root/cp")
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          require(q.awaitTermination(180000),
            "stream_trending: stream did not drain within 180s")
        }
      }
      drainOnce()
      import s.implicits._
      // sentinel 4h ahead: watermark → max+3h, strictly past every real
      // window end (≤ max+2h) but NOT past its own (never emitted); the
      // late row's windows (ends ≤ max−2h) closed in run 1 → dropped
      Seq((maxTs + 4 * 3600 * 1000L, "zz_sentinel"),
        (maxTs - 4 * 3600 * 1000L, "zz_late"))
        .toDF("ts_ms", "event_type")
        .select(timestamp_millis(col("ts_ms")).as("ts"), col("event_type"))
        .write.mode("append").parquet(in)
      drainOnce()
      val wr = Window.partitionBy(col("bucket_ms"))
        .orderBy(col("n").desc, col("event_type"))
      s.read.parquet(s"$root/out")
        .withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= 3)
        .select(col("bucket_ms"), col("rank"), col("event_type"), col("n"))
        .orderBy(col("bucket_ms"), col("rank"))
    },
    Some("""WITH wins AS (SELECT
                ((epoch_ms(ts) // 3600000) - o.o) * 3600000 AS bucket_ms,
                event_type
              FROM events, (VALUES (0), (1)) AS o(o)),
            cnt AS (SELECT bucket_ms, event_type, count(*) AS n
              FROM wins GROUP BY 1, 2)
            SELECT bucket_ms,
              row_number() OVER (PARTITION BY bucket_ms
                ORDER BY n DESC, event_type) AS rank,
              event_type, n
            FROM cnt
            QUALIFY rank <= 3
            ORDER BY bucket_ms, rank"""))

  /** TPC-H Q18-style large-volume orders: aggregate-then-filter-then-join.
    * The per-order quantity agg runs FIRST and its HAVING kills ~97% of
    * groups before any join — the dimension joins then run over the tiny
    * survivor set (broadcast at any scale). Final top-100 is
    * TakeOrderedAndProject (per-partition heaps + driver merge of 100-row
    * heads), never a global sort. */
  val q18BigOrders = QueryDef(
    "q18_big_orders",
    (s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).cast("long").as("qty"))
        .filter(col("qty") > 250)
      big.join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select(col("c_custkey"), col("c_name")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"), col("qty"))
        .orderBy(col("qty").desc, col("o_orderkey"))
        .limit(100)
    },
    Some("""WITH big AS (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS qty
               FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
            SELECT c_name, o_orderkey, qty
            FROM big
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            ORDER BY qty DESC, o_orderkey LIMIT 100"""))

  /** Per-source-pair near-duplicate contamination report: where do the
    * corpus' near-dups come from — within one source (re-crawls) or across
    * sources (syndication)? Reuses the full MinHash→LSH→verify pair
    * pipeline (same bucketed equi-join shape) and joins each verified pair
    * to its two sources; (least, greatest) normalizes the pair so (a,b)
    * and (b,a) count once. The report is |sources|² rows — a driver-safe
    * training-mix hygiene table at any corpus size. */
  val dedupRateReport = QueryDef(
    "dedup_rate_report",
    (s, dir) => {
      val sh = graft.operators.Dedup.shingleSets(
        t(s, dir, "documents"), "doc_id", "text", 3)
      val cand = graft.operators.Dedup.minhashCandidates(sh, k = 8, bands = 4)
      val pairs = graft.operators.Dedup.jaccardVerify(cand, sh, 0.5)
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
        .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
        .groupBy(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("source_a"), col("source_b"))
    },
    Some(s"""SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b,
               count(*) AS n_pairs
             FROM ($minhashPairsSql) p
             JOIN documents da ON da.doc_id = p.id_a
             JOIN documents db ON db.doc_id = p.id_b
             GROUP BY 1, 2 ORDER BY source_a, source_b"""))

  /** Streaming exact dedup-on-arrival, fully oracled: the corpus streams
    * through [[graft.streaming.StreamDedup.exact]] (cross-microbatch
    * fingerprint state); a second drain plants one exact duplicate of an
    * existing doc (must be DROPPED — state survives the restart via the
    * checkpoint) and one novel doc (must be KEPT). The output is the
    * arrival-order-independent summary (which fingerprints survived, how
    * many planted rows kept) — the kept doc_id per fingerprint is
    * arrival-order-dependent under parallel file sources, so the oracle
    * checks the deterministic set, not the racy representative. */
  val streamDedupQ = QueryDef(
    "stream_dedup",
    (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val (root, in) = stagedTopic(dir, "graft-sdedup", docs,
        srcTable = "documents")
      def drainOnce(): Unit = {
        withStreamStatePartitions(s) {
          val stream = s.readStream.schema(docs.schema).parquet(in)
          val deduped = graft.streaming.StreamDedup.exact(stream, "text")
          val q = deduped.writeStream.format("parquet")
            .option("path", s"$root/out").option("checkpointLocation", s"$root/cp")
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          require(q.awaitTermination(180000),
            "stream_dedup: stream did not drain within 180s")
        }
      }
      drainOnce()
      import s.implicits._
      val dupeText = docs.orderBy(col("doc_id")).select(col("text"))
        .head().getString(0)
      Seq((900001L, dupeText), (900002L, "graft stream dedup novel planted doc"))
        .toDF("doc_id", "text")
        .write.mode("append").parquet(in)
      drainOnce()
      val out = s.read.parquet(s"$root/out")
        .withColumn("fp", graft.functions.TextOps.fingerprint(col("text")))
      out.agg(
        countDistinct(col("fp")).as("n_unique"),
        count(lit(1)).as("n_kept"),
        sum(when(col("doc_id") >= 900000L, 1L).otherwise(0L)).as("n_planted_kept"))
    },
    Some("""SELECT count(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) + 1 AS n_unique,
              count(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) + 1 AS n_kept,
              CAST(1 AS BIGINT) AS n_planted_kept
            FROM documents"""))

  /** Streaming NEAR-dup detection on arrival
    * ([[graft.streaming.StreamDedup.nearDupPairs]]): the corpus streams in
    * 2-file microbatches; each batch probes the store-backed LSH index for
    * band collisions with everything indexed before it, self-joins its own
    * band rows, then appends itself to the index (A/A set-union). A second
    * drain plants an exact text copy of the min-id doc — the restart must
    * find its pairs purely from STORE state (the index outlives the
    * query). The collected pair set is pinned ≡ the batch band join over
    * corpus + planted doc: microbatch boundaries, arrival order and the
    * restart must leave no trace. */
  val streamNearDupQ = QueryDef(
    "stream_neardup",
    (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val (root, in) = stagedTopic(dir, "graft-sneardup", docs,
        srcTable = "documents")
      val e = tempEngine(s, "graft-sneardup")
      e.createStore("lsh", Seq("bandkey"))
      e.push("lsh", Seq.empty[(String, Array[Long])].toDF("bandkey", "ids"),
        numBuckets = 8)
      e.enableActiveActive("lsh")
      val outDir = s"$root/pairs"
      // schema-carrying empty seed: an all-empty drain must still read back
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")
        .write.mode("overwrite").parquet(outDir)
      def drainOnce(): Unit = {
        withStreamStatePartitions(s) {
          val stream = s.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "2").parquet(in)
          val q = graft.streaming.StreamDedup.nearDupPairs(
              stream, e, "lsh", "doc_id", "text") {
              (pairs, _) => pairs.write.mode("append").parquet(outDir)
            }
            .option("checkpointLocation", s"$root/cp")
            .trigger(Trigger.AvailableNow()).start()
          require(q.awaitTermination(180000),
            "stream_neardup: stream did not drain within 180s")
        }
      }
      drainOnce()
      val firstText = docs.orderBy(col("doc_id")).select(col("text"))
        .head().getString(0)
      Seq((900001L, firstText)).toDF("doc_id", "text")
        .write.mode("append").parquet(in)
      drainOnce()
      s.read.parquet(outDir).distinct().orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""WITH $minhashBandsCtes,
             bk2 AS (SELECT id, bandkey FROM bk
                     UNION ALL
                     SELECT CAST(900001 AS BIGINT) AS id, bandkey FROM bk
                     WHERE id = (SELECT min(doc_id) FROM documents))
             SELECT DISTINCT l.id AS id_a, r.id AS id_b
             FROM bk2 l JOIN bk2 r ON l.bandkey = r.bandkey AND l.id < r.id
             ORDER BY id_a, id_b"""))

  /** Streaming SEMANTIC near-dup detection on arrival — the embedding twin
    * of `stream_neardup` ([[graft.streaming.StreamDedup
    * .nearDupPairsEmbedding]]): embeddings stream in 2-file microbatches;
    * each batch probes a store-backed HYPERPLANE-band index (the
    * training-free `lshCosinePairs` geometry — stable from the first
    * arrival, no quantizer to fit) for collisions with everything indexed
    * before it, self-joins its own band rows, then appends itself (A/A
    * set-union). A second drain plants an exact copy of the min-id vector
    * under a fresh id — the restart must find its pairs purely from STORE
    * state. The collected pair set is pinned ≡ the batch hyperplane band
    * join over corpus + planted vector: microbatch boundaries, arrival
    * order and the restart leave no trace. */
  val streamSemDedupQ = QueryDef(
    "stream_semdedup",
    (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val (root, in) = stagedTopic(dir, "graft-ssemdedup", emb,
        srcTable = "embeddings")
      val e = tempEngine(s, "graft-ssemdedup")
      e.createStore("hlsh", Seq("bandkey"))
      e.push("hlsh", Seq.empty[(String, Array[Long])].toDF("bandkey", "ids"),
        numBuckets = 8)
      e.enableActiveActive("hlsh")
      val outDir = s"$root/pairs"
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")
        .write.mode("overwrite").parquet(outDir)
      def drainOnce(): Unit = {
        withStreamStatePartitions(s) {
          val stream = s.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", "2").parquet(in)
          val q = graft.streaming.StreamDedup.nearDupPairsEmbedding(
              stream, e, "hlsh", "vec_id", "embedding", dim = 64,
              bitsPerBand = 12, bands = 8) {
              (pairs, _) => pairs.write.mode("append").parquet(outDir)
            }
            .option("checkpointLocation", s"$root/cp")
            .trigger(Trigger.AvailableNow()).start()
          require(q.awaitTermination(180000),
            "stream_semdedup: stream did not drain within 180s")
        }
      }
      drainOnce()
      val minId = emb.agg(min(col("vec_id"))).head().getLong(0)
      // plant id is above any scale block's id range, never colliding
      emb.filter(col("vec_id") === minId)
        .select(lit(9999999999L).as("vec_id"), col("embedding"))
        .write.mode("append").parquet(in)
      drainOnce()
      s.read.parquet(outDir).distinct().orderBy(col("id_a"), col("id_b"))
    },
    Some("""WITH v0 AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec
              FROM embeddings),
            v AS (SELECT * FROM v0 UNION ALL
              SELECT 9999999999 AS id, vec FROM v0
              WHERE id = (SELECT min(id) FROM v0)),
            planes AS (SELECT j,
                list(CASE WHEN substr(md5(j::VARCHAR || '|' || d::VARCHAR), 1, 1) >= '8'
                  THEN 1.0 ELSE -1.0 END ORDER BY d)::DOUBLE[] AS plane
              FROM range(96) pj(j), range(64) pd(d) GROUP BY j),
            codes AS (SELECT v.id, p.j // 12 AS band,
                sum(CASE WHEN list_dot_product(v.vec, p.plane) > 0
                  THEN 1 << (p.j % 12) ELSE 0 END)::BIGINT AS code
              FROM v, planes p GROUP BY v.id, p.j // 12)
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM codes a JOIN codes b
              ON a.band = b.band AND a.code = b.code AND a.id < b.id
            ORDER BY id_a, id_b"""))

  /** Streaming DECONTAMINATION on arrival ([[graft.streaming.StreamDedup
    * .contaminationOnArrival]]): training docs stream in 2-file
    * microbatches; each batch probes a STATIC eval-shingle posting store
    * (bucket-pruned batchGet — O(batch shingles), never O(eval set)) and
    * emits per-doc best-eval overlap + contaminated flag BEFORE the doc
    * can enter the corpus — the gate a 100 TB pipeline runs at ingest so
    * benchmark leakage never lands on disk. The drained union over
    * microbatches is pinned ≡ the batch [[graft.operators.Dedup
    * .contamination]] replay (the `decontaminate` oracle): microbatch
    * boundaries and arrival order leave no trace, zero-hit docs included
    * at 0.0. */
  val streamDecontamQ = QueryDef(
    "stream_decontam",
    (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val eval = docs.filter(col("doc_id") < 50)
      val train = docs.filter(col("doc_id") >= 50)
      val (root, in) = stagedTopic(dir, "graft-sdecon", train,
        srcTable = "documents")
      val e = tempEngine(s, "graft-sdecon")
      val esh = graft.operators.Dedup.shingleSets(eval, "doc_id", "text", 3)
        .filter(size(col("shingles")) > 0)
      e.createStore("evalix", Seq("sh"))
      e.push("evalix", esh
        .select(col("id"), explode(col("shingles")).as("sh"))
        .groupBy("sh").agg(sort_array(collect_set(col("id"))).as("ids")),
        numBuckets = 8)
      e.createStore("evaln", Seq("eval_id"))
      e.push("evaln", esh.select(col("id").as("eval_id"),
        size(col("shingles")).cast("long").as("n_eval")), numBuckets = 4)
      val outDir = s"$root/scored"
      withStreamStatePartitions(s) {
        val stream = s.readStream.schema(train.schema)
          .option("maxFilesPerTrigger", "2").parquet(in)
        val q = graft.streaming.StreamDedup.contaminationOnArrival(
            stream, e, "evalix", "evaln", "doc_id", "text",
            shingleN = 3, minOverlap = 0.5) {
            (scored, _) => scored.write.mode("append").parquet(outDir)
          }
          .option("checkpointLocation", s"$root/cp")
          .trigger(Trigger.AvailableNow()).start()
        require(q.awaitTermination(180000),
          "stream_decontam: stream did not drain within 180s")
      }
      s.read.parquet(outDir).orderBy(col("train_id"))
    },
    Some(s"""WITH sh AS (SELECT doc_id AS id, ${shinglesSql("t")} AS shingles
               FROM (SELECT doc_id, $tokensSql AS t FROM documents)),
             ev AS (SELECT id AS eval_id, shingles, len(shingles) AS n_eval
               FROM sh WHERE id < 50 AND len(shingles) > 0),
             tr AS (SELECT id AS train_id, shingles FROM sh WHERE id >= 50),
             tp AS (SELECT train_id, unnest(shingles) AS s FROM tr),
             ep AS (SELECT eval_id, n_eval, unnest(shingles) AS s FROM ev),
             ov AS (SELECT train_id, eval_id, n_eval, count(*) AS inter
               FROM tp JOIN ep USING (s) GROUP BY 1, 2, 3),
             best AS (SELECT train_id, eval_id,
                 round(inter::DOUBLE / n_eval, 6) AS overlap,
                 row_number() OVER (PARTITION BY train_id
                   ORDER BY inter::DOUBLE / n_eval DESC, eval_id) AS rn
               FROM ov)
             SELECT t.train_id, b.eval_id,
               coalesce(b.overlap, 0.0) AS overlap,
               coalesce(b.overlap, 0.0) >= 0.5 AS contaminated
             FROM tr t LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
               USING (train_id)
             ORDER BY train_id"""))

  /** Ordered, ATTRIBUTED conversion funnel (view → click within 7 days of
    * the first view → purchase within 7 days of that click): the classic
    * product-analytics query, computed as three STAGED keyed mins — each
    * stage's first-event time must strictly follow the previous stage's
    * AND land inside the attribution window, so a plain per-type min (or
    * an unwindowed exists) is wrong on both counts. Three partial-agged
    * groupBys + equi-joins on user_id (co-partitioned after the first
    * shuffle); all comparisons in epoch millis. Output is the 4-row stage
    * histogram + mean view→purchase latency for converters — driver-safe
    * at any event volume. */
  val funnelAnalysis = QueryDef(
    "funnel_analysis",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_millis(col("ts")).as("ts_ms"))
      graft.operators.Funnel.stages(ev, "user_id", "event_type", "ts_ms",
          Seq("view", "click", "purchase"), windowMs = 7L * 86400000L)
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_users"),
          expr("CASE WHEN count(conv_ms) > 0 " +
            "THEN sum(conv_ms) div count(conv_ms) ELSE 0L END")
            .as("mean_conv_ms"))
        .orderBy(col("stage"))
    },
    Some("""WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms
               FROM events),
             v AS (SELECT user_id, min(ts_ms) AS v_ts FROM ev
               WHERE event_type = 'view' GROUP BY user_id),
             c AS (SELECT e.user_id, min(e.ts_ms) AS c_ts FROM ev e
               JOIN v ON v.user_id = e.user_id
               WHERE e.event_type = 'click' AND e.ts_ms > v.v_ts
                 AND e.ts_ms <= v.v_ts + 604800000
               GROUP BY e.user_id),
             p AS (SELECT e.user_id, min(e.ts_ms) AS p_ts FROM ev e
               JOIN c ON c.user_id = e.user_id
               WHERE e.event_type = 'purchase' AND e.ts_ms > c.c_ts
                 AND e.ts_ms <= c.c_ts + 604800000
               GROUP BY e.user_id),
             st AS (SELECT a.user_id,
                 CASE WHEN p.p_ts IS NOT NULL THEN 3
                      WHEN c.c_ts IS NOT NULL THEN 2
                      WHEN v.v_ts IS NOT NULL THEN 1 ELSE 0 END AS stage,
                 p.p_ts - v.v_ts AS conv_ms
               FROM (SELECT DISTINCT user_id FROM ev) a
               LEFT JOIN v USING (user_id)
               LEFT JOIN c USING (user_id)
               LEFT JOIN p USING (user_id))
             SELECT stage, count(*) AS n_users,
               CAST(CASE WHEN count(conv_ms) > 0
                 THEN sum(conv_ms) // count(conv_ms) ELSE 0 END AS BIGINT)
                 AS mean_conv_ms
             FROM st GROUP BY stage ORDER BY stage"""))

  /** Per-source token-distribution divergence: which tokens a source
    * over-represents vs the whole corpus (the "is this source weird"
    * audit before folding it into a training mix). Lift in ppm as pure
    * integer arithmetic — tf_src·T_corpus·1e6 div (tf_corpus·T_src) — a
    * df floor of 5 in-source occurrences kills noise tokens; top-5 per
    * source by (lift desc, token asc). Two partial-agged token groupBys
    * + one token-keyed equi-join; the per-source window runs over the
    * (source, token) agg, never raw tokens. The ×1e6 runs in a
    * DECIMAL(38,0) intermediate (HUGEINT on the oracle side) so a
    * ≳1e13-token corpus can't wrap the Long. */
  val sourceDivergence = QueryDef(
    "source_divergence",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("token"))
      val st = toks.groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("tf_s"))
      val ct = toks.groupBy(col("token")).agg(count(lit(1)).as("tf_c"))
      val srcTot = st.groupBy(col("source")).agg(sum(col("tf_s")).as("t_s"))
      val tCorpus = toks.count()
      val w = Window.partitionBy(col("source"))
        .orderBy(col("lift_ppm").desc, col("token"))
      st.filter(col("tf_s") >= 5)
        .join(ct, "token").join(srcTot, "source")
        .withColumn("lift_ppm",
          expr(s"CAST((CAST(tf_s AS DECIMAL(20,0)) * ${tCorpus}L * 1000000)" +
            " div (CAST(tf_c AS DECIMAL(20,0)) * t_s) AS BIGINT)"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("source"), col("rank"), col("token"), col("tf_s"),
          col("tf_c"), col("lift_ppm"))
        .orderBy(col("source"), col("rank"))
    },
    Some(s"""WITH toks AS (SELECT source, unnest($tokensSql) AS token
               FROM documents),
             st AS (SELECT source, token, count(*) AS tf_s FROM toks
               GROUP BY source, token),
             ct AS (SELECT token, count(*) AS tf_c FROM toks GROUP BY token),
             tot AS (SELECT source, CAST(sum(tf_s) AS BIGINT) AS t_s
               FROM st GROUP BY source),
             n AS (SELECT count(*) AS t_corpus FROM toks)
             SELECT source,
               (row_number() OVER (PARTITION BY source
                 ORDER BY (tf_s::HUGEINT * n.t_corpus * 1000000)
                   // (tf_c::HUGEINT * t_s) DESC, token))::INT AS rank,
               token, tf_s, tf_c,
               (tf_s::HUGEINT * n.t_corpus * 1000000
                 // (tf_c::HUGEINT * t_s))::BIGINT AS lift_ppm
             FROM st JOIN ct USING (token) JOIN tot USING (source), n
             WHERE tf_s >= 5
             QUALIFY rank <= 5
             ORDER BY source, rank"""))

  /** JSON property extraction over the events' `props` column (the
    * semi-structured payload path every event pipeline has): per event
    * type, count/sum/min/max of the extracted integer — the extraction is
    * a narrow codegen'd path expression (`get_json_object` ↔ DuckDB
    * `json_extract`), never a UDF or a full JSON parse into rows; the only
    * shuffle is the tiny-cardinality final agg. */
  val propsJson = QueryDef(
    "props_json",
    (s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type,
              count(json_extract(props, '$.k')) AS n,
              CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
                AS sum_k,
              CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
                AS min_k,
              CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
                AS max_k
            FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Co-visitation candidate generation ([[graft.operators.Covisit
    * .topNeighbors]]) — the recommender training-data shape whose SERVING
    * side (item → ranked neighbor list) is exactly what a Venice store
    * holds: top-5 co-visited items per item, from distinct items the same
    * user touched within one hour, pair explode CAPPED at 20 items per
    * (user, hour) with a deterministic item-ascending cut, pairs seen
    * once dropped. The self-join is an equi-join on (user, bucket) —
    * ≤ cap² pair work per group no matter how hot a user-hour gets. */
  val covisitPairs = QueryDef(
    "covisit_pairs",
    (s, dir) => graft.operators.Covisit.topNeighbors(
        Tables.events(s, dir)
          .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
            get_json_object(col("props"), "$.k").cast("long").as("item"))
          .filter(col("item").isNotNull),
        "user_id", "ts_ms", "item", bucketMs = 3600000L, k = 5,
        maxPerBucket = 20, minCount = 2L)
      .orderBy(col("item"), col("rank")),
    Some("""WITH e AS (SELECT DISTINCT user_id AS u,
                epoch_ms(ts) // 3600000 AS b,
                CAST(json_extract(props, '$.k') AS BIGINT) AS item
              FROM events
              WHERE json_extract(props, '$.k') IS NOT NULL),
            capped AS (SELECT u, b, item FROM (
                SELECT u, b, item,
                  row_number() OVER (PARTITION BY u, b ORDER BY item) AS rn
                FROM e) WHERE rn <= 20),
            p AS (SELECT l.item AS item_a, r.item AS item_b,
                count(*) AS n_co
              FROM capped l JOIN capped r
                ON l.u = r.u AND l.b = r.b AND l.item < r.item
              GROUP BY 1, 2 HAVING count(*) >= 2),
            sym AS (SELECT item_a AS item, item_b AS neighbor, n_co FROM p
              UNION ALL
              SELECT item_b, item_a, n_co FROM p)
            SELECT item, neighbor, n_co, rank FROM (
              SELECT item, neighbor, n_co, row_number() OVER (
                  PARTITION BY item ORDER BY n_co DESC, neighbor) AS rank
              FROM sym)
            WHERE rank <= 5 ORDER BY item, rank"""))

  /** Deterministic popularity-weighted NEGATIVE SAMPLING
    * ([[graft.operators.Sampling.negativeTriples]]) — the
    * (user, positive, negative) triples a two-tower recommender trainer
    * consumes. Drawing a hash-indexed interaction ROW uniformly samples
    * items exactly ∝ interaction count (the popularity-weighted negative
    * distribution) with NO range/inverse-CDF lookup: draw → item is an
    * equi-join on the global row position from the two-phase prefix sum,
    * seen items drop via an anti-join, first 2 survivors per positive
    * kept in draw order. Hash-keyed draws, never rand() — the same
    * triples on every run, engine and partitioning. */
  val negSampling = QueryDef(
    "neg_sampling",
    (s, dir) => graft.operators.Sampling.negativeTriples(
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("item"))
          .filter(col("item").isNotNull),
        "event_id", "user_id", "item", negPerPos = 2, candidatesPerPos = 6)
      .orderBy(col("user"), col("pos_item"), col("neg_rank")),
    Some("""WITH i AS (SELECT event_id, user_id AS u,
                CAST(json_extract(props, '$.k') AS BIGINT) AS it
              FROM events WHERE json_extract(props, '$.k') IS NOT NULL),
            idx AS (SELECT row_number() OVER (ORDER BY event_id) - 1 AS pos,
                it FROM i),
            n AS (SELECT count(*) AS total FROM i),
            p AS (SELECT DISTINCT u AS usr, it AS pos_item FROM i),
            c AS (SELECT usr, pos_item, j AS draw_j,
                ('0x' || substr(md5('neg-' || usr::VARCHAR || '-'
                  || pos_item::VARCHAR || '-' || j::VARCHAR), 1, 12))::BIGINT
                  % total AS pos
              FROM p, range(6) r(j), n),
            cand AS (SELECT c.usr, c.pos_item, c.draw_j, idx.it AS neg_item
              FROM c JOIN idx ON c.pos = idx.pos),
            unseen AS (SELECT * FROM cand WHERE NOT EXISTS
              (SELECT 1 FROM p
               WHERE p.usr = cand.usr AND p.pos_item = cand.neg_item))
            SELECT usr AS "user", pos_item, neg_rank, neg_item, draw_j FROM (
              SELECT *, row_number() OVER (PARTITION BY usr, pos_item
                  ORDER BY draw_j) AS neg_rank
              FROM unseen) WHERE neg_rank <= 2
            ORDER BY "user", pos_item, neg_rank"""))

  /** Next-item training examples ([[graft.operators.Covisit
    * .nextItemExamples]]) — the sequential-recommendation dataset: per
    * user ordered by (ts, event_id), every interaction after the first
    * becomes (context = last 3 items oldest-first, label = this item).
    * One keyed window per user — state bounded by user activity, no
    * explode, no join; the (ts, id) tie-break keeps same-millisecond
    * events ordered identically across engines. */
  val nextItemExamplesQ = QueryDef(
    "next_item_examples",
    (s, dir) => graft.operators.Covisit.nextItemExamples(
        Tables.events(s, dir)
          .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
            col("event_id"),
            get_json_object(col("props"), "$.k").cast("long").as("item"))
          .filter(col("item").isNotNull),
        "user_id", "ts_ms", "event_id", "item", contextLen = 3)
      .orderBy(col("user"), col("seq_no")),
    Some("""WITH i AS (SELECT user_id AS u, epoch_ms(ts) AS ts_ms, event_id,
                CAST(json_extract(props, '$.k') AS BIGINT) AS item
              FROM events WHERE json_extract(props, '$.k') IS NOT NULL),
            w AS (SELECT u, item,
                row_number() OVER (PARTITION BY u
                  ORDER BY ts_ms, event_id) - 1 AS seq_no,
                list(item::VARCHAR) OVER (PARTITION BY u
                  ORDER BY ts_ms, event_id
                  ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS ctx
              FROM i)
            SELECT u AS "user", seq_no,
              coalesce(array_to_string(ctx, ','), '') AS context,
              item AS label
            FROM w WHERE seq_no >= 1 ORDER BY "user", seq_no"""))

  /** Window-function breadth on one keyed pass: lag/lead (neighboring
    * event values), first_value (session anchor), rank and ntile quartile
    * — all over the SAME (user, ts, event_id) window spec, so Catalyst
    * plans ONE shuffle + one in-partition sort for all five. Integer
    * cents; total order via the (ts, event_id) tiebreak makes every
    * offset function deterministic. Bounded to 20 users for a stable
    * result set (the window itself is the per-user any-scale shape). */
  val qWindowFuncs = QueryDef(
    "q_window_funcs",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms"), col("event_id"))
      Tables.events(s, dir)
        .filter(col("user_id") <= 20)
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("ts_ms"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("prev_cents", lag(col("cents"), 1).over(w))
        .withColumn("next_cents", lead(col("cents"), 1).over(w))
        .withColumn("first_event", first(col("event_id")).over(w))
        .withColumn("rk", rank().over(w).cast("long"))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .select(col("user_id"), col("event_id"), col("ts_ms"), col("cents"),
          col("prev_cents"), col("next_cents"), col("first_event"),
          col("rk"), col("quartile"))
        .orderBy(col("user_id"), col("ts_ms"), col("event_id"))
    },
    Some("""SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
              CAST(round(value * 100) AS BIGINT) AS cents,
              lag(CAST(round(value * 100) AS BIGINT), 1) OVER w AS prev_cents,
              lead(CAST(round(value * 100) AS BIGINT), 1) OVER w AS next_cents,
              first_value(event_id) OVER w AS first_event,
              rank() OVER w AS rk,
              ntile(4) OVER w AS quartile
            FROM events WHERE user_id <= 20
            WINDOW w AS (PARTITION BY user_id
              ORDER BY epoch_ms(ts), event_id)
            ORDER BY user_id, ts_ms, event_id"""))

  /** Incremental NEAR-dup dedup (crawl delta vs corpus): every 10th doc
    * plays the freshly-crawled batch; its MinHash band keys equi-join the
    * corpus' band rows (corpus NEVER self-joins — work is
    * O(batch × collisions), the nightly-delta-against-100TB shape), then
    * exact Jaccard verifies at 0.5. Per batch doc: corpus-match count,
    * best match (jaccard desc, id asc — deterministic), and the keep/drop
    * verdict; no-shingle batch docs still report n_dups = 0. Complements
    * `dedup_incremental` (exact fingerprints) at the near-dup level. */
  val dedupIncrementalNear = QueryDef(
    "dedup_incremental_near",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val isBatch = pmod(col("doc_id"), lit(10)) === 7
      val shB = graft.operators.Dedup.shingleSets(
        docs.filter(isBatch), "doc_id", "text", 3)
      val shC = graft.operators.Dedup.shingleSets(
        docs.filter(!isBatch), "doc_id", "text", 3)
      val cand = graft.operators.Dedup.crossMinhashCandidates(
        shC, shB, k = 8, bands = 4)
      val ver = cand
        .join(shB.select(col("id").as("id_batch"), col("shingles").as("sh_a")),
          "id_batch")
        .join(shC.select(col("id").as("id_corpus"), col("shingles").as("sh_b")),
          "id_corpus")
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("jaccard", col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
        .filter(col("jaccard") >= 0.5)
      val wb = Window.partitionBy(col("id_batch"))
        .orderBy(col("jaccard").desc, col("id_corpus"))
      val best = ver.withColumn("rn", row_number().over(wb))
        .filter(col("rn") === 1)
        .select(col("id_batch"), col("id_corpus").as("best_match"),
          round(col("jaccard"), 6).as("best_jaccard"))
      val cnt = ver.groupBy(col("id_batch"))
        .agg(count(lit(1)).as("n_dups"))
      docs.filter(isBatch).select(col("doc_id"))
        .join(cnt.withColumnRenamed("id_batch", "doc_id"), Seq("doc_id"), "left")
        .join(best.withColumnRenamed("id_batch", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_dups"), lit(0L)).as("n_dups"),
          col("best_match"), col("best_jaccard"),
          (coalesce(col("n_dups"), lit(0L)) > 0).as("is_dup"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $minhashBandsCtes,
             cand AS (SELECT DISTINCT b.id AS id_batch, c.id AS id_corpus
               FROM bk b JOIN bk c ON b.bandkey = c.bandkey
               WHERE b.id % 10 = 7 AND c.id % 10 <> 7),
             j AS (SELECT id_batch, id_corpus,
                 len(list_intersect(a.shingles, b.shingles)) AS inter,
                 len(a.shingles) AS na, len(b.shingles) AS nb
               FROM cand JOIN sh2 a ON a.id = cand.id_batch
                         JOIN sh2 b ON b.id = cand.id_corpus),
             ver AS (SELECT id_batch, id_corpus,
                 inter::DOUBLE / (na + nb - inter) AS jaccard
               FROM j WHERE inter::DOUBLE / (na + nb - inter) >= 0.5),
             best AS (SELECT id_batch, id_corpus, jaccard,
                 row_number() OVER (PARTITION BY id_batch
                   ORDER BY jaccard DESC, id_corpus) AS rn
               FROM ver),
             cnt AS (SELECT id_batch, count(*) AS n FROM ver GROUP BY id_batch)
             SELECT d.doc_id,
               CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_dups,
               best.id_corpus AS best_match,
               round(best.jaccard, 6) AS best_jaccard,
               COALESCE(cnt.n, 0) > 0 AS is_dup
             FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) d
             LEFT JOIN cnt ON cnt.id_batch = d.doc_id
             LEFT JOIN (SELECT * FROM best WHERE rn = 1) best
               ON best.id_batch = d.doc_id
             ORDER BY d.doc_id"""))

  /** Store-backed LSH dedup index — the 100-TB production shape where the
    * corpus's MinHash band rows live in an engine STORE (bandkey → sorted
    * doc-id set) instead of being recomputed per run: built ONCE by push
    * (docs ≢ 3,7 mod 10), GROWN incrementally (docs ≡ 3 arrive later as
    * A/A set-union element-adds — commutative appends, no
    * read-modify-write, no index rebuild), then PROBED by a crawl batch
    * (docs ≡ 7) via bucket-set-pruned batchGet point reads — the corpus
    * is never scanned at probe time. The result is pinned ≡ the stateless
    * cross band join recomputed from the full corpus, proving
    * push + CRDT union + batchGet compose exactly. */
  val dedupIndexProbe = QueryDef(
    "dedup_index_probe",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val isBatch = pmod(col("doc_id"), lit(10)) === 7
      val isDelta = pmod(col("doc_id"), lit(10)) === 3
      val shB = graft.operators.Dedup.shingleSets(
        docs.filter(isBatch), "doc_id", "text", 3)
      val shSeed = graft.operators.Dedup.shingleSets(
        docs.filter(!isBatch && !isDelta), "doc_id", "text", 3)
      val shDelta = graft.operators.Dedup.shingleSets(
        docs.filter(isDelta), "doc_id", "text", 3)
      val e = tempEngine(s, "graft-lshidx")
      e.createStore("lsh", Seq("bandkey"))
      e.push("lsh",
        graft.operators.Dedup.lshIndexFrame(shSeed, k = 8, bands = 4),
        numBuckets = 8)
      e.enableActiveActive("lsh")
      e.addToSetAA("lsh",
        graft.operators.Dedup.bandRows(shDelta, k = 8, bands = 4)
          .select(col("bandkey"), col("id")), "ids", "id", tsMs = 1000L)
      graft.operators.Dedup.probeLshIndex(e, "lsh", shB, k = 8, bands = 4)
        .orderBy(col("id_batch"), col("id_corpus"))
    },
    Some(s"""WITH $minhashBandsCtes
             SELECT DISTINCT b.id AS id_batch, c.id AS id_corpus
             FROM bk b JOIN bk c ON b.bandkey = c.bandkey
             WHERE b.id % 10 = 7 AND c.id % 10 <> 7
             ORDER BY id_batch, id_corpus"""))

  /** One-row dataset card — the corpus summary a dataset release ships
    * (docs/tokens/chars, language & source cardinality, exact-dup rate,
    * mean quality proxy): five independent partial-agged aggregates
    * composed by cross-join of singletons (each input is one row, so the
    * "join" is free at any corpus size); the dup rate reuses the exact-
    * fingerprint groupBy. All integer (ppm rates, micro-unit means). */
  val datasetCard = QueryDef(
    "dataset_card",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val base = docs.agg(
        count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"))
      val dups = docs
        .groupBy(TextOps.fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("copies"))
        .agg(count(lit(1)).as("n_unique"),
          sum(col("copies") - 1).as("n_dup_docs"))
      base.crossJoin(dups)
        .withColumn("dup_ppm",
          expr("n_dup_docs * 1000000L div n_docs"))
        .select(col("n_docs"), col("n_tokens"), col("n_chars"),
          col("n_langs"), col("n_sources"), col("n_unique"),
          col("n_dup_docs"), col("dup_ppm"))
    },
    Some(s"""WITH base AS (SELECT count(*) AS n_docs,
                 CAST(sum(len($tokensSql)) AS BIGINT) AS n_tokens,
                 CAST(sum(n_chars) AS BIGINT) AS n_chars,
                 count(DISTINCT lang) AS n_langs,
                 count(DISTINCT source) AS n_sources
               FROM documents),
             dups AS (SELECT count(*) AS n_unique,
                 CAST(sum(copies - 1) AS BIGINT) AS n_dup_docs
               FROM (SELECT count(*) AS copies FROM documents
                 GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))))
             SELECT n_docs, n_tokens, n_chars, n_langs, n_sources,
               n_unique, n_dup_docs,
               (n_dup_docs * 1000000) // n_docs AS dup_ppm
             FROM base, dups"""))

  /** k-anonymity audit over the events "who did what" projection: event
    * types whose distinct-user support falls below k = 10 would
    * re-identify users if released — the privacy pre-flight before
    * publishing behavioral aggregates. One partial-agged groupBy; the
    * HAVING filter is evaluated post-agg, rows stay bounded by the
    * event-type cardinality. */
  val kAnonymity = QueryDef(
    "k_anonymity",
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .withColumn("k_anonymous", col("n_users") >= 10)
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(DISTINCT user_id) AS n_users,
              count(*) AS n_events,
              count(DISTINCT user_id) >= 10 AS k_anonymous
            FROM events GROUP BY event_type ORDER BY event_type"""))

  /** TPC-H Q17-style small-quantity-order revenue: "lineitems below 20%
    * of their part's average quantity" — the correlated-scalar-subquery
    * shape, decorrelated (as Catalyst itself would) into a per-part agg +
    * equi-join. The avg comparison is EXACT integer cross-multiplication:
    * qty < 0.2·(sum/n)  ⇔  5·qty·n < sum (quantities are integer-valued)
    * — no float division crosses an engine boundary. Per-part agg and the
    * probe co-shuffle on l_partkey; the brand filter prunes the part side
    * before its join. */
  /** Pivot: event types rotated into columns per user bucket — the
    * wide-format report shape. The pivot value list is EXPLICIT, so the
    * plan skips the extra distinct-collect job `.pivot(col)` would run
    * and stays a single partial-aggregated groupBy (pivot compiles to
    * conditional aggregates, one shuffle on the 10 bucket keys — the
    * same shape at any corpus size since the output is bounded by
    * buckets × types). */
  val qPivot = QueryDef(
    "q_pivot",
    (s, dir) => {
      Tables.events(s, dir)
        .withColumn("user_bucket", pmod(col("user_id"), lit(10)))
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .groupBy(col("user_bucket"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy(col("user_bucket"))
    },
    Some("""SELECT user_id % 10 AS user_bucket,
              count(*) FILTER (event_type = 'click') AS click_n,
              CAST(sum(CAST(round(value * 100) AS BIGINT))
                FILTER (event_type = 'click') AS BIGINT) AS click_cents,
              count(*) FILTER (event_type = 'error') AS error_n,
              CAST(sum(CAST(round(value * 100) AS BIGINT))
                FILTER (event_type = 'error') AS BIGINT) AS error_cents,
              count(*) FILTER (event_type = 'purchase') AS purchase_n,
              CAST(sum(CAST(round(value * 100) AS BIGINT))
                FILTER (event_type = 'purchase') AS BIGINT) AS purchase_cents,
              count(*) FILTER (event_type = 'signup') AS signup_n,
              CAST(sum(CAST(round(value * 100) AS BIGINT))
                FILTER (event_type = 'signup') AS BIGINT) AS signup_cents,
              count(*) FILTER (event_type = 'view') AS view_n,
              CAST(sum(CAST(round(value * 100) AS BIGINT))
                FILTER (event_type = 'view') AS BIGINT) AS view_cents
            FROM events GROUP BY 1 ORDER BY user_bucket"""))

  /** Cohort retention matrix: users bucketed by first-activity week,
    * counted per (cohort, weeks-since) cell — the standard product
    * retention table. Week = epoch-days div 7 (pure integer, no engine
    * week-truncation rules to disagree on). Two keyed aggregations (first
    * activity per user, then the matrix over a user-key join); the matrix
    * distinct-count partial-aggregates on (cohort, offset, user) before
    * the final shuffle. */
  val cohortRetention = QueryDef(
    "cohort_retention",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_date(to_date(col("ts")))
          .cast("long").as("d"))
      val firsts = ev.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
      ev.join(firsts, "user_id")
        .withColumn("cohort_week", expr("d0 div 7"))
        .withColumn("weeks_since", expr("(d - d0) div 7"))
        .groupBy(col("cohort_week"), col("weeks_since"))
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_week"), col("weeks_since"))
    },
    Some("""WITH ev AS (SELECT user_id,
              date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
              FROM events),
            f AS (SELECT user_id, min(d) AS d0 FROM ev GROUP BY 1)
            SELECT d0 // 7 AS cohort_week, (e.d - d0) // 7 AS weeks_since,
              count(DISTINCT e.user_id) AS n_users
            FROM ev e JOIN f USING (user_id)
            GROUP BY 1, 2 ORDER BY cohort_week, weeks_since"""))

  /** Event debounce: flag repeat (user, type) events arriving within the
    * debounce window of the PREVIOUS event — the lag-based one-pass rule
    * (a chained burst collapses because every row in it trails its
    * predecessor by less than the window). One keyed shuffle + one
    * in-partition sort; the (ts, event_id) total order makes the lag
    * deterministic under duplicate timestamps. */
  val eventsDebounce = QueryDef(
    "events_debounce",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ms"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_millis(col("ts")).as("ms"))
        .withColumn("prev_ms", lag(col("ms"), 1).over(w))
        .withColumn("kept", col("prev_ms").isNull ||
          col("ms") - col("prev_ms") > lit(86400000L))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("kept").cast("long")).as("n_kept"))
        .orderBy(col("event_type"))
    },
    Some("""WITH x AS (SELECT event_type,
              epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                PARTITION BY user_id, event_type
                ORDER BY epoch_ms(ts), event_id) AS gap
              FROM events)
            SELECT event_type, count(*) AS n_events,
              CAST(sum(CASE WHEN gap IS NULL OR gap > 86400000
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
            FROM x GROUP BY 1 ORDER BY event_type"""))

  /** Subsample stability audit: 16 deterministic half-samples (md5(doc|b)
    * parity — order/partition-independent, reproducible) of the corpus,
    * mean doc length per (lang, replicate) in integer micro-units, spread
    * across replicates per lang. The cheap bootstrap-style CI a corpus
    * release runs to see whether a reported mean is stable or
    * heavy-tail-driven — and every step is exact integer arithmetic, so
    * the oracle replays it bit-for-bit (no float variance formulas).
    * Shape: one narrow replicate explode (×16 bounded), two keyed aggs. */
  val qualityCi = QueryDef(
    "quality_ci",
    (s, dir) => {
      val reps = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          explode(sequence(lit(0), lit(15))).as("b"))
        .filter(conv(substring(md5(concat_ws("|", col("doc_id"), col("b"))),
          32, 1), 16, 10).cast("int") % 2 === 0)
      val perRep = reps.groupBy(col("lang"), col("b"))
        // DECIMAL intermediate: 1e6 · a 100-TB replicate's char sum
        // (~1e14) wraps Long; the per-doc mean itself is BIGINT-safe
        .agg(expr("CAST((1000000 * CAST(sum(n_chars) AS DECIMAL(20,0)))" +
          " div count(1) AS BIGINT)").as("m"))
      perRep.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_reps"),
          expr("sum(m) div count(1)").as("mean_micro"),
          min(col("m")).as("min_micro"), max(col("m")).as("max_micro"))
        .join(perRep, "lang")
        .groupBy(col("lang"), col("n_reps"), col("mean_micro"),
          col("min_micro"), col("max_micro"))
        .agg(expr("sum((m - mean_micro) * (m - mean_micro)) div n_reps")
          .as("var_micro2"))
        .select(col("lang"), col("n_reps"), col("mean_micro"),
          col("min_micro"), col("max_micro"), col("var_micro2"))
        .orderBy(col("lang"))
    },
    Some("""WITH reps AS (SELECT lang, n_chars, b.b AS b
              FROM documents, range(16) b(b)
              WHERE ('0x' || substr(md5(doc_id || '|' || b.b), 32, 1))::INT
                % 2 = 0),
            pr AS (SELECT lang, b,
              ((1000000 * sum(n_chars)) // count(*))::BIGINT AS m
              FROM reps GROUP BY 1, 2),
            agg AS (SELECT lang, count(*) AS n_reps,
              (sum(m) // count(*))::BIGINT AS mean_micro,
              min(m) AS min_micro, max(m) AS max_micro
              FROM pr GROUP BY 1)
            SELECT a.lang AS lang, a.n_reps, a.mean_micro, a.min_micro,
              a.max_micro,
              CAST(sum((p.m - a.mean_micro) * (p.m - a.mean_micro))
                // a.n_reps AS BIGINT) AS var_micro2
            FROM agg a JOIN pr p ON a.lang = p.lang
            GROUP BY 1, 2, 3, 4, 5 ORDER BY a.lang"""))

  /** SCD-style history enrichment: every event labeled with the store
    * state its user had AT THE EVENT'S TIMESTAMP — the time-travel read
    * (`r16_asof_read`) generalized from three probe instants to a
    * per-event as-of join. The store's full history (snapshot at ts 0 +
    * upsert log) feeds [[graft.operators.Joins.asOfBackward]]: one keyed
    * shuffle + running last() carry, never an n·m range join. Two put
    * waves at thresholds derived from the data (integer-div math both
    * engines replay) make three distinct state epochs. */
  val qScdJoin = QueryDef(
    "q_scd_join",
    (s, dir) => {
      val e = tempEngine(s, "graft-scd")
      e.createStore("cust", Seq("c_custkey"))
      val cust = t(s, dir, "customer")
      e.push("cust", cust, numBuckets = 4)
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id").as("c_custkey"),
          unix_millis(col("ts")).as("ms"))
      val b = ev.agg(min(col("ms")), max(col("ms"))).head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val t1 = mn + (mx - mn) / 3
      val t2 = mn + 2 * ((mx - mn) / 3)
      e.put("cust", cust.filter(col("c_custkey") < 80)
        .withColumn("c_name", lit("EPOCH2")), tsMs = t1)
      e.put("cust", cust.filter(col("c_custkey") < 40)
        .withColumn("c_name", lit("EPOCH3")), tsMs = t2)
      val (history, _) = e.bootstrapChangelog("cust")
      graft.operators.Joins.asOfBackward(ev, history, Seq("c_custkey"),
          leftTs = "ms", rightTs = graft.core.GraftEngine.TsCol,
          payload = Seq("c_name"))
        .select(col("event_id"),
          when(col("asof_c_name").isin("EPOCH2", "EPOCH3"),
            col("asof_c_name")).otherwise(lit("BASE")).as("state"))
        .groupBy(col("state")).agg(count(lit(1)).as("n_events"))
        .orderBy(col("state"))
    },
    Some("""WITH b AS (SELECT min(epoch_ms(ts)) AS mn, max(epoch_ms(ts))
              AS mx FROM events),
            ev AS (SELECT event_id, user_id AS ck, epoch_ms(ts) AS ms
              FROM events)
            SELECT CASE
                WHEN ms >= (SELECT mn + 2*((mx-mn)//3) FROM b) AND ck < 40
                  THEN 'EPOCH3'
                WHEN ms >= (SELECT mn + (mx-mn)//3 FROM b) AND ck < 80
                  THEN 'EPOCH2'
                ELSE 'BASE' END AS state,
              count(*) AS n_events
            FROM ev GROUP BY 1 ORDER BY state"""))

  /** TPC-H Q7-style bilateral volume shipping: revenue between two nation
    * pairs per year. The dimension side prunes BEFORE the fact join —
    * nation filters to the two names, supplier/customer shrink through
    * their broadcast nation joins, and only then does lineitem meet
    * orders — so the fact-table shuffle carries already-filtered rows.
    * Exact integer cents; years via calendar year() both engines share. */
  val q7Volume = QueryDef(
    "q7_volume",
    (s, dir) => {
      val pair = Seq("NATION_3", "NATION_7")
      val n1 = t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      val supp = t(s, dir, "supplier")
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cust = t(s, dir, "customer")
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .select(col("c_custkey"), col("cust_nation"))
      val ord = t(s, dir, "orders")
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("cust_nation"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").between(
          lit("1996-01-01").cast("timestamp"),
          lit("1998-12-31").cast("timestamp")))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).as("l_year"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("cents"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(sum(col("cents")).as("revenue_cents"),
          count(lit(1)).as("n_lineitems"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
    Some("""SELECT supp_nation, cust_nation, l_year,
              CAST(sum(cents) AS BIGINT) AS revenue_cents,
              count(*) AS n_lineitems
            FROM (
              SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                year(l_shipdate) AS l_year,
                CAST(round(l_extendedprice * (1 - l_discount) * 100)
                  AS BIGINT) AS cents
              FROM lineitem
              JOIN supplier ON s_suppkey = l_suppkey
              JOIN orders ON o_orderkey = l_orderkey
              JOIN customer ON c_custkey = o_custkey
              JOIN nation n1 ON s_nationkey = n1.n_nationkey
              JOIN nation n2 ON c_nationkey = n2.n_nationkey
              WHERE n1.n_name IN ('NATION_3', 'NATION_7')
                AND n2.n_name IN ('NATION_3', 'NATION_7')
                AND n1.n_name <> n2.n_name
                AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                  AND TIMESTAMP '1998-12-31')
            GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year"""))

  /** TPC-H Q17 shape: revenue impact of small-quantity orders for one
    * brand+container — the correlated per-part average rewritten as one
    * keyed aggregate joined back (never a per-row subquery). */
  val q17SmallQty = QueryDef(
    "q17_small_qty",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val perPart = li.groupBy(col("l_partkey"))
        .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("n_li"))
      val brand = t(s, dir, "part")
        .filter(col("p_brand") === "Brand#1").select(col("p_partkey"))
      li.join(brand, col("l_partkey") === col("p_partkey"))
        .join(perPart, "l_partkey")
        .filter(col("qty") * 5 * col("n_li") < col("sum_qty"))
        .agg(count(lit(1)).as("n_small"),
          sum(col("cents")).as("revenue_cents"))
        .select(expr("revenue_cents div 7L").as("avg_yearly_cents"),
          col("n_small"))
    },
    Some("""WITH li AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
               FROM lineitem),
             pp AS (SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS sum_qty,
                 count(*) AS n_li
               FROM li GROUP BY l_partkey),
             b AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1')
             SELECT CAST(sum(cents) AS BIGINT) // 7 AS avg_yearly_cents,
               count(*) AS n_small
             FROM li
             JOIN b ON l_partkey = p_partkey
             JOIN pp USING (l_partkey)
             WHERE qty * 5 * n_li < sum_qty"""))

  /** As-of join (backward): each click gets the user's most recent
    * at-or-before purchase — an operator Spark has no native plan for
    * (the range-join spelling blows up n·m within key). The engine's
    * union + keyed-sort + running carry is ONE shuffle; the oracle is
    * DuckDB's NATIVE ASOF JOIN — an independent algorithm computing the
    * same semantics, so the hash check is a true cross-implementation
    * pin. Times compare as epoch millis on BOTH sides (the parquet ts is
    * TIMESTAMP(NANOS); comparing raw would let a sub-microsecond
    * difference order the engines differently). */
  val qAsofJoin = QueryDef(
    "q_asof_join",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("ts_ms", unix_millis(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts_ms"))
      // right side unique per (user, ts): max event_id wins coincident ts
      val purchases = graft.operators.Compaction.latestPerKey(
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_ms"), col("event_id"), col("value")),
        Seq("user_id", "ts_ms"), Seq(col("event_id")))
      graft.operators.Joins.asOfBackward(clicks, purchases,
        Seq("user_id"), "ts_ms", "ts_ms", Seq("event_id", "value"))
        .select(col("user_id"), col("event_id"), col("ts_ms"),
          col("asof_event_id").as("purchase_event_id"),
          round(col("asof_value") * 100).cast("long").as("purchase_cents"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""SELECT l.user_id, l.event_id, l.ts_ms,
              r.event_id AS purchase_event_id,
              CAST(round(r.value * 100) AS BIGINT) AS purchase_cents
            FROM (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms
                  FROM events WHERE event_type = 'click') l
            ASOF LEFT JOIN (
              SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, value
              FROM events WHERE event_type = 'purchase'
              QUALIFY row_number() OVER (PARTITION BY user_id, epoch_ms(ts)
                ORDER BY event_id DESC) = 1) r
              ON l.user_id = r.user_id AND l.ts_ms >= r.ts_ms
            ORDER BY l.user_id, l.event_id"""))

  /** R15 compute aggregation (facet counting): countGroupByValue top-3
    * market segments + countGroupByBucket over acctbal predicate buckets,
    * through the engine store + broadcast key set — the serving-side
    * aggregation the reference's ComputeAggregationRequestBuilder does
    * client-side over fetched records. Ties break (count desc, value asc)
    * deterministically in both engines. */
  val r15FacetCount = QueryDef(
    "r15_facet_count",
    (s, dir) => {
      val e = tempEngine(s, "graft-r15")
      e.createStore("cust", Seq("c_custkey"))
      e.push("cust", t(s, dir, "customer"), numBuckets = 4)
      val keys = t(s, dir, "customer")
        .select(col("c_custkey")).filter(col("c_custkey") <= 1000)
      e.computeAggregation("cust")
        .countGroupByValue(3, "c_mktsegment")
        .countGroupByBucket(Seq(
          "neg" -> ((c: org.apache.spark.sql.Column) => c < 0),
          "low" -> ((c: org.apache.spark.sql.Column) => c >= 0 && c < 5000),
          "high" -> ((c: org.apache.spark.sql.Column) => c >= 5000)),
          "c_acctbal")
        .executeForKeys(keys)
        .orderBy(col("kind"), col("field"), col("cnt").desc, col("facet"))
    },
    Some("""WITH ks AS (SELECT * FROM customer WHERE c_custkey <= 1000),
            v AS (
              SELECT 'value' AS kind, 'c_mktsegment' AS field,
                     facet, cnt FROM (
                SELECT c_mktsegment AS facet, count(*) AS cnt
                FROM ks GROUP BY c_mktsegment)
              QUALIFY row_number() OVER (ORDER BY cnt DESC, facet ASC) <= 3),
            b AS (
              SELECT 'bucket' AS kind, 'c_acctbal' AS field, 'neg' AS facet,
                CAST(coalesce(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS cnt FROM ks
              UNION ALL
              SELECT 'bucket', 'c_acctbal', 'low',
                CAST(coalesce(sum(CASE WHEN c_acctbal >= 0 AND c_acctbal < 5000 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM ks
              UNION ALL
              SELECT 'bucket', 'c_acctbal', 'high',
                CAST(coalesce(sum(CASE WHEN c_acctbal >= 5000 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM ks)
            SELECT kind, field, facet, cnt
            FROM (SELECT * FROM v UNION ALL SELECT * FROM b)
            ORDER BY kind, field, cnt DESC, facet"""))

  /** Incremental dedup, the production crawl shape: the first 300 docs are
    * the standing corpus; the rest arrive as a new batch and are flagged
    * against the corpus (semi-join on distinct fingerprints) and within
    * the batch (min-id keeper). */
  val dedupIncremental = QueryDef(
    "dedup_incremental",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Dedup.incrementalExact(
        docs.filter(col("doc_id") < 300),
        docs.filter(col("doc_id") >= 300), "doc_id", "text")
        .orderBy(col("id"))
    },
    Some("""WITH fp AS (SELECT doc_id,
              md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
              FROM documents)
            SELECT b.doc_id AS id, b.fingerprint,
              EXISTS (SELECT 1 FROM fp c WHERE c.doc_id < 300
                      AND c.fingerprint = b.fingerprint) AS dup_of_corpus,
              b.doc_id <> min(b.doc_id)
                OVER (PARTITION BY b.fingerprint) AS dup_in_batch
            FROM (SELECT * FROM fp WHERE doc_id >= 300) b
            ORDER BY id"""))

  /** Exactly-k-per-group sampling: deterministic hash-order rank, never
    * rand(); a group smaller than k keeps everything. The oracle replays
    * the salted-md5 rank with QUALIFY. */
  val sampleExactK = QueryDef(
    "sample_exact_k",
    (s, dir) => graft.operators.Sampling.exactKPerGroup(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        col("lang"), col("doc_id"), k = 40)
      .orderBy(col("lang"), col("doc_id")),
    Some("""SELECT doc_id, lang FROM documents
            QUALIFY row_number() OVER (PARTITION BY lang
              ORDER BY md5('exactk' || CAST(doc_id AS VARCHAR)), doc_id) <= 40
            ORDER BY lang, doc_id"""))

  /** Range (interval) join: every click inside the hour after the same
    * user's signup — binned equi-join + containment filter, never the
    * nested-loop Spark plans for a raw BETWEEN. The oracle is DuckDB's
    * own inequality join. Overlapping intervals multi-match by design. */
  val qRangeJoin = QueryDef(
    "q_range_join",
    (s, dir) => {
      val ev = Tables.events(s, dir).withColumn("ts_ms", unix_millis(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts_ms"))
      val signupWindows = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts_ms").as("s_ms"),
          (col("ts_ms") + 3600000L).as("e_ms"),
          col("event_id").as("signup_event_id"))
      graft.operators.Joins.rangeJoin(clicks, signupWindows,
        Seq("user_id"), "ts_ms", "s_ms", "e_ms", binSize = 3600000L,
        payload = Seq("signup_event_id"))
        .select(col("user_id"), col("event_id"),
          col("range_signup_event_id").as("signup_event_id"))
        .orderBy(col("user_id"), col("event_id"), col("signup_event_id"))
    },
    Some("""SELECT l.user_id, l.event_id, r.event_id AS signup_event_id
            FROM (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms
                  FROM events WHERE event_type = 'click') l
            JOIN (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms
                  FROM events WHERE event_type = 'signup') r
              ON l.user_id = r.user_id
             AND l.ts_ms BETWEEN r.ts_ms AND r.ts_ms + 3600000
            ORDER BY l.user_id, l.event_id, signup_event_id"""))

  /** Per-group top-k without a global sort: window row_number inside each
    * group (partial sort per partition, one shuffle on the group key),
    * deterministic tiebreak. The global-top-k variant is q3 (TakeOrdered);
    * this is the grouped shape a leaderboard/per-segment report needs. */
  val qTopkGroup = QueryDef(
    "q_topk_group",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * 100).cast("long").as("price_cents"))
      // two-phase top-k (guide §2.5): l_returnflag has THREE distinct
      // values, so a single window funnels the whole table through 3 sort
      // tasks (measured 8.4×/decade at sf10, the worst non-refused shape
      // in the sweep). Phase 1 takes each group's top-3 within 64
      // deterministic salt slices (hash of the unique line key — never
      // rand(), see SPARK-38388), phase 2 ranks the ≤ 3·64·3 survivors.
      // The global top-3 of a group is contained in the union of its
      // per-slice top-3s, so the result is row-identical to the single
      // window; the oracle replays the unsalted window.
      val salt = pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(64))
      val w1 = Window.partitionBy(col("l_returnflag"), col("__salt"))
        .orderBy(col("price_cents").desc, col("l_orderkey"), col("l_linenumber"))
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("price_cents").desc, col("l_orderkey"), col("l_linenumber"))
      li.withColumn("__salt", salt)
        .withColumn("__lrk", row_number().over(w1))
        .filter(col("__lrk") <= 3)
        .drop("__salt", "__lrk")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("l_returnflag"), col("rk"), col("l_orderkey"),
          col("l_linenumber"), col("price_cents"))
        .orderBy(col("l_returnflag"), col("rk"))
    },
    Some("""SELECT l_returnflag, rk, l_orderkey, l_linenumber, price_cents
            FROM (SELECT l_returnflag, l_orderkey, l_linenumber,
                    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
                    row_number() OVER (PARTITION BY l_returnflag
                      ORDER BY CAST(round(l_extendedprice * 100) AS BIGINT) DESC,
                               l_orderkey, l_linenumber) AS rk
                  FROM lineitem)
            WHERE rk <= 3 ORDER BY l_returnflag, rk"""))

  /** Exact per-language token-count percentiles (corpus QA): histogram-
    * based distributed quantile_disc — p50/p90/p99 of document length
    * without a global sort or an approx sketch. The oracle is DuckDB's
    * native quantile_disc, an independent implementation of the same
    * discrete-quantile rule. */
  val corpusPercentiles = QueryDef(
    "corpus_percentiles",
    (s, dir) => graft.operators.Percentiles.disc(
        t(s, dir, "documents"),
        Seq("lang"), TextOps.tokenCount(col("text")), Seq(50, 90, 99))
      .orderBy(col("lang")),
    Some("""SELECT lang, count(*) AS n_rows,
              quantile_disc(tok, 0.50) AS p50,
              quantile_disc(tok, 0.90) AS p90,
              quantile_disc(tok, 0.99) AS p99
            FROM (SELECT lang,
                    len(list_filter(string_split(lower(text), ' '),
                        x -> x <> ''))::BIGINT AS tok
                  FROM documents)
            GROUP BY lang ORDER BY lang"""))

  /** Deterministic corpus shuffle for a training epoch: seeded-md5 global
    * order + exact position from the distributed prefix sum (no
    * single-partition window), sharded for parallel epoch writers. The
    * oracle replays the order with a window row_number — safe in DuckDB at
    * oracle scale, fatal in Spark at 100 TB, which is the point of the
    * operator. */
  val corpusShuffle = QueryDef(
    "corpus_shuffle",
    (s, dir) => graft.operators.Packing.globalShuffleOrder(
        t(s, dir, "documents").select(col("doc_id")),
        "doc_id", seed = 42L, shardSize = 1000L)
      .select(col("doc_id"), col("position"), col("shard"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
              row_number() OVER (ORDER BY md5('42-' || CAST(doc_id AS VARCHAR))
                || '-' || CAST(doc_id AS VARCHAR)) - 1 AS position,
              (row_number() OVER (ORDER BY md5('42-' || CAST(doc_id AS VARCHAR))
                || '-' || CAST(doc_id AS VARCHAR)) - 1) // 1000 AS shard
            FROM documents ORDER BY doc_id"""))

  /** Audio resample plumbing: PCM16 metadata (md5-derived stub source rate
    * standing in for the container header), exact integer sample-count /
    * duration math for the 16 kHz target, stub byte truncation where a real
    * resampler would go. Narrow and shuffle-free at any scale. */
  val mmAudioResample = QueryDef(
    "mm_audio_resample",
    (s, dir) => {
      val media = graft.operators.Multimodal.asMedia(
        t(s, dir, "documents"), "doc_id", "text")
      graft.operators.Multimodal.resampleAudio(media, targetRate = 16000)
        .select(col("media_id"), col("n_samples"), col("src_rate"),
          col("duration_us"), col("out_samples"),
          octet_length(col("resampled")).cast("long").as("stub_bytes"))
        .orderBy(col("media_id"))
    },
    Some("""SELECT media_id, n_samples, src_rate,
              (n_samples * 1000000) // src_rate AS duration_us,
              (n_samples * 16000) // src_rate AS out_samples,
              least((n_samples * 16000) // src_rate * 2, n_bytes) AS stub_bytes
            FROM (SELECT doc_id AS media_id, strlen(text)::BIGINT AS n_bytes,
                    strlen(text)::BIGINT // 2 AS n_samples,
                    [8000, 16000, 22050, 44100, 48000]
                      [('0x' || substr(md5(text), 1, 4))::INT % 5 + 1] AS src_rate
                  FROM documents)
            ORDER BY media_id"""))

  /** Context-window chunking: 32-token windows every 24 tokens (8-token
    * overlap), the doc→training-example split an LLM data loader consumes.
    * Tokenize → bounded explode, shuffle-free; the oracle replays the
    * slice arithmetic with a lateral range(). */
  val docChunk = QueryDef(
    "doc_chunk",
    (s, dir) => graft.operators.Packing.chunkTokens(
        t(s, dir, "documents"), "doc_id", "text", chunkLen = 32, stride = 24)
      .orderBy(col("doc_id"), col("chunk_no")),
    Some(s"""WITH d AS (SELECT doc_id, $tokensSql AS toks FROM documents),
             d2 AS (SELECT doc_id, toks, len(toks) AS n FROM d
                    WHERE len(toks) > 0),
             ch AS (SELECT doc_id, toks,
                    unnest(range(0, (n-1)//24 + 1)) AS chunk_no FROM d2)
             SELECT doc_id, chunk_no,
               len(list_slice(toks, chunk_no*24 + 1, chunk_no*24 + 32)) AS n_tokens,
               array_to_string(list_slice(toks, chunk_no*24 + 1, chunk_no*24 + 32),
                 ' ') AS chunk_text
             FROM ch ORDER BY doc_id, chunk_no"""))

  /** WHOLE-DOC packing ([[graft.operators.Packing.packBinsWholeDoc]]):
    * pieces (docs chunked to ≤64 tokens) packed into 64-token bins that
    * only ever hold pieces of one length — ⌊64/ℓ⌋ per bin, no piece cut
    * across a sequence boundary, the padding-based layout for trainers
    * that can't mask cross-document attention. The rank inside a length
    * class comes from the SAME two-phase distributed prefix sum as
    * `pack_sequences` (global order (len, id); rank = position − the
    * class's min position) — never a `Window.partitionBy(len)`, which at
    * 100 TB puts a billion-row length class in one task. The oracle
    * replays the whole assignment with a per-length row_number. */
  val packBins = QueryDef(
    "pack_bins",
    (s, dir) => {
      val pieces = graft.operators.Packing.chunkTokens(
          t(s, dir, "documents"), "doc_id", "text", chunkLen = 64, stride = 64)
        .select((col("doc_id") * 100 + col("chunk_no")).as("piece_id"),
          col("n_tokens"))
      graft.operators.Packing.packBinsWholeDoc(
          pieces, "piece_id", "n_tokens", seqLen = 64)
        .orderBy(col("piece_id"))
    },
    Some(s"""WITH d AS (SELECT doc_id, $tokensSql AS toks FROM documents),
             d2 AS (SELECT doc_id, toks, len(toks) AS n FROM d
                    WHERE len(toks) > 0),
             p AS (SELECT doc_id*100 + cn AS piece_id,
                 least(64, n - cn*64)::BIGINT AS n_tokens
               FROM (SELECT doc_id, n, unnest(range(0, (n-1)//64 + 1)) AS cn
                     FROM d2)),
             r AS (SELECT piece_id, n_tokens, 64 // n_tokens AS per_bin,
                 row_number() OVER (PARTITION BY n_tokens
                   ORDER BY piece_id) - 1 AS rk
               FROM p WHERE n_tokens BETWEEN 1 AND 64)
             SELECT piece_id, n_tokens, per_bin,
               rk // per_bin AS bin_no, rk % per_bin AS slot
             FROM r ORDER BY piece_id"""))

  /** Vocabulary coverage audit: per-doc OOV rate against the corpus
    * top-16 vocabulary (count-desc, token-asc tie-break so the rank-k cut
    * is engine-deterministic). OOV rate is integer parts-per-million —
    * exact integer math. Vocab broadcast; corpus crosses the network once
    * per stage. */
  val vocabCoverage = QueryDef(
    "vocab_coverage",
    (s, dir) => graft.operators.Vocab.oovAudit(
        t(s, dir, "documents"), "doc_id", "text", k = 16)
      .orderBy(col("doc_id")),
    Some(s"""WITH toks AS (SELECT doc_id, unnest($tokensSql) AS token
               FROM documents),
             v AS (SELECT token FROM (
               SELECT token, count(*) AS n_occ FROM toks GROUP BY token
               ORDER BY n_occ DESC, token LIMIT 16))
             SELECT doc_id, count(*) AS n_tokens,
               count(CASE WHEN v.token IS NULL THEN 1 END) AS n_oov,
               count(CASE WHEN v.token IS NULL THEN 1 END) * 1000000
                 // count(*) AS oov_ppm
             FROM toks LEFT JOIN v ON toks.token = v.token
             GROUP BY doc_id ORDER BY doc_id"""))

  /** Contrastive hard-negative mining: top-5 most-similar different-label
    * vectors per query — the in-batch negatives an embedding trainer
    * wants. Brute-force exactness baseline (queries broadcast, corpus
    * scanned once); the scale path feeds IVF candidates through the same
    * label filter. */
  val hardNegativesQ = QueryDef(
    "hard_negatives",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"),
        col("embedding").as("vec"), col("label"))
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("qlabel"))
      graft.operators.Similarity.hardNegatives(corpus, queries, 5)
        .orderBy(col("qid"), col("rank"))
    },
    Some("""WITH q AS (SELECT vec_id AS qid, label AS qlabel,
              embedding::DOUBLE[] AS qvec,
              sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS qn
              FROM embeddings WHERE vec_id < 10),
            c AS (SELECT vec_id AS id, label, embedding::DOUBLE[] AS vec,
              sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
              FROM embeddings)
            SELECT qid, qlabel, rank, id, label, sim FROM (
              SELECT qid, qlabel, id, label, sim,
                row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rank
              FROM (SELECT qid, qlabel, id, c.label AS label,
                  round(list_dot_product(vec, qvec) / (n * qn), 6) + 0.0 AS sim
                FROM c, q WHERE c.label <> q.qlabel))
            WHERE rank <= 5 ORDER BY qid, rank"""))

  /** Streaming enrichment join: an order stream enriched per microbatch by
    * batchGet against a live customer store (every 10th customer withheld
    * from the push, so the left-preserve/missing-marker path is exercised
    * — a missing key keeps its event with null enrichment, R11's marker).
    * The store is re-resolved every microbatch; multiple microbatches are
    * forced via maxFilesPerTrigger, so the appended output proves
    * cross-batch enrichment equals one batch join. */
  val streamEnrichJoin = QueryDef(
    "stream_enrich_join",
    (s, dir) => {
      import graft.streaming.EnrichJoin
      val root = graft.core.TmpStores.dir("graft-enr").toString
      val e = new graft.core.GraftEngine(s, s"$root/stores")
      e.createStore("cust", Seq("c_custkey"))
      e.push("cust", t(s, dir, "customer")
        .filter(col("c_custkey") % 10 =!= 0)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment")))
      val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      ord.coalesce(4).write.parquet(s"$root/in")
      val stream = s.readStream.schema(ord.schema)
        .option("maxFilesPerTrigger", 2).parquet(s"$root/in")
      val q = EnrichJoin.enrichStream(e, "cust", stream,
        Seq("o_custkey" -> "c_custkey"), s"$root/out", s"$root/cp",
        finish = _.select(col("o_orderkey"), col("o_custkey"),
          col("c_name"), col("c_mktsegment"),
          col("c_name").isNull.as("missing")))
      require(q.awaitTermination(180000),
        "stream_enrich_join: stream did not drain within 180s")
      s.read.parquet(s"$root/out").orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, o_custkey, c_name, c_mktsegment,
              c_name IS NULL AS missing
            FROM orders LEFT JOIN
              (SELECT * FROM customer WHERE c_custkey % 10 <> 0) c
              ON o_custkey = c_custkey
            ORDER BY o_orderkey"""))

  /** TF-IDF keyword extraction with an integer-exact IDF surrogate:
    * score = tf · (N div df) — rank-equivalent to tf·log-idf for top-term
    * extraction without cross-engine log() ulp risk (the lm_rarity rule).
    * The token→df join is a plain equi-join: vocabulary-sized, so Catalyst
    * broadcasts it at small SF and sort-merges at corpus scale — both are
    * the shape you want (df is tiny relative to the tf table either way).
    * Top-3 per doc, ties token-ascending. */
  val tfidfTopTerms = QueryDef(
    "tfidf_topterms",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      val tf = toks.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = toks.distinct().groupBy(col("token"))
        .agg(count(lit(1)).as("df"))
      val n = toks.select(col("doc_id")).distinct().count()
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("token"))
      tf.join(dfreq, "token")
        .withColumn("score", col("tf") * expr(s"${n}L div df"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("token"), col("tf"),
          col("df"), col("score"))
        .orderBy(col("doc_id"), col("rank"))
    },
    Some(s"""WITH toks AS (SELECT doc_id, unnest($tokensSql) AS token
               FROM documents),
             tf AS (SELECT doc_id, token, count(*) AS tf
               FROM toks GROUP BY doc_id, token),
             dfreq AS (SELECT token, count(*) AS df
               FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token),
             n AS (SELECT count(DISTINCT doc_id) AS n FROM toks)
             SELECT doc_id, row_number() OVER (PARTITION BY doc_id
                 ORDER BY tf * (n.n // df) DESC, token) AS rank,
               token, tf, df, tf * (n.n // df) AS score
             FROM tf JOIN dfreq USING (token), n
             QUALIFY rank <= 3
             ORDER BY doc_id, rank"""))

  /** BM25 document retrieval ("find documents related to a query doc").
    * Queries are corpus-derived: every 97th doc contributes its top-3
    * TF-IDF terms (same integer scoring + tie-break as `tfidf_topterms`).
    * Scoring is an all-integer BM25 surrogate with k1=1.2, b=0.75 as exact
    * rationals: the tf saturation term tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl))
    * becomes 44·tf·T / (20·tf·T + 6·T + 18·dl·N) with avgdl = T/N
    * substituted (T = corpus tokens, N = docs), scaled ×1000 under integer
    * div; the idf becomes the scaled odds ratio (2N−2df+1)/(2df+1) — the
    * argument of Robertson's log-idf, a per-term monotone surrogate (the
    * same no-log() trick `lm_rarity`/`tfidf_topterms` use, so both engines
    * agree bit-for-bit; at >~1e13 corpus tokens drop the ×1000 resolution
    * factor to stay inside int64). Shape at scale: the query-term set is
    * tiny (3 terms × N/97 docs) and BROADCAST into the token-keyed tf
    * postings join — the corpus-side tables (tf, dl) shuffle once each on
    * their natural keys; final per-query top-5 is a bounded window. */
  /** The BM25 scored frame shared by [[bm25Retrieval]] and [[rrfFusion]]:
    * (query_id, doc_id, score) for every candidate doc sharing a query
    * term with a query doc (doc_id % 97 == 0, top-3 TF-IDF terms each). */
  private def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = toks.distinct().groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val st = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("t")).collect()(0)
    val n = st.getLong(0)
    val tt = st.getLong(1)
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("tscore").desc, col("token"))
    val qterms = tf.filter(pmod(col("doc_id"), lit(97)) === 0)
      .join(dfreq, "token")
      .withColumn("tscore", col("tf") * expr(s"${n}L div df"))
      .withColumn("query_id", col("doc_id"))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= 3)
      .select(col("query_id"), col("token"))
    // accident guard (same contract as Retrieval.probeBm25Index): the
    // exact scorer explodes Σ df posting rows over the selected query
    // terms — workload-quadratic on a closed vocabulary (measured ~7·10¹⁰
    // rows at sf10). The count is knowable from dfreq before the join;
    // refuse past budget with a pointer to the top-fetch production path.
    val fetched = qterms.join(dfreq, "token")
      .agg(coalesce(sum(col("df")), lit(0L))).collect()(0).getLong(0)
    graft.core.Guard.admit(fetched <= 2000000000L,
      s"bm25 exact scorer would join $fetched posting rows for this " +
        "query batch (budget 2e9) — use bm25_index_topfetch " +
        "(Retrieval.probeBm25IndexSharded, impact-ordered truncation) " +
        "at corpus scale.")
    val cand = tf
      .join(broadcast(qterms.join(dfreq, "token")), "token")
      .filter(col("doc_id") =!= col("query_id"))
      .join(dl, "doc_id")
    cand
      .withColumn("term_score",
        expr(s"((1000000L * (2L*${n}L - 2L*df + 1L)) div (2L*df + 1L)) * " +
          s"((44L * tf * ${tt}L * 1000L) div " +
          s"(20L * tf * ${tt}L + 6L * ${tt}L + 18L * dl * ${n}L))"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_score")).as("score"))
  }

  /** CTE chain ending in `scored(query_id, doc_id, score)` — the oracle
    * replay of [[bm25Scored]], shared by both oracles. */
  private val bm25ScoredCtes: String =
    s"""toks AS (SELECT doc_id, unnest($tokensSql) AS token
               FROM documents),
             tf AS (SELECT doc_id, token, count(*) AS tf
               FROM toks GROUP BY doc_id, token),
             dfreq AS (SELECT token, count(*) AS df
               FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token),
             dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
             stats AS (SELECT count(*) AS n, sum(dl) AS t FROM dl),
             qterms AS (SELECT query_id, token FROM (
                 SELECT tf.doc_id AS query_id, tf.token,
                   row_number() OVER (PARTITION BY tf.doc_id
                     ORDER BY tf.tf * (stats.n // dfreq.df) DESC, tf.token) AS rk
                 FROM tf JOIN dfreq USING (token), stats
                 WHERE tf.doc_id % 97 = 0)
               WHERE rk <= 3),
             scored AS (
               SELECT q.query_id, tf.doc_id,
                 CAST(sum(((1000000 * (2*stats.n - 2*dfreq.df + 1)) // (2*dfreq.df + 1))
                   * ((44 * tf.tf * stats.t * 1000) //
                      (20 * tf.tf * stats.t + 6 * stats.t + 18 * dl.dl * stats.n))) AS BIGINT) AS score
               FROM qterms q
               JOIN tf ON tf.token = q.token
               JOIN dl ON dl.doc_id = tf.doc_id
               JOIN dfreq ON dfreq.token = q.token, stats
               WHERE tf.doc_id <> q.query_id
               GROUP BY q.query_id, tf.doc_id)"""

  val bm25Retrieval = QueryDef(
    "bm25_retrieval",
    (s, dir) => {
      val wr = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))
      bm25Scored(s, dir).withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH $bm25ScoredCtes
             SELECT query_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, doc_id) AS rank,
               doc_id, score
             FROM scored
             QUALIFY rank <= 5
             ORDER BY query_id, rank"""))

  /** The BM25 inverted index as a SERVABLE STORE
    * (Retrieval.bm25IndexFrame / probeBm25Index) — the retrieval leg of
    * the store-backed index family (LSH dedup, IVF ANN, BM25 lexical):
    * postings (token → df + (doc_id, tf, dl) structs, doc length
    * denormalized into the posting) and the 1-row corpus stats each live
    * in a store; a query batch tokenizes, fetches its distinct tokens'
    * postings in ONE bucket-set-pruned batchGet round, picks its top
    * terms from the FETCHED df values and scores the already-fetched
    * postings — the corpus is never scanned at query time. Oracle is
    * `bm25_retrieval`'s SQL verbatim: serving from the store must not
    * move a rank or score. */
  val bm25IndexProbe = QueryDef(
    "bm25_index_probe",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val e = tempEngine(s, "graft-bm25idx")
      e.createStore("post", Seq("token"))
      e.push("post",
        graft.operators.Retrieval.bm25IndexFrame(docs, "doc_id", "text"),
        numBuckets = 8)
      e.createStore("stats", Seq("stats_id"))
      e.push("stats",
        graft.operators.Retrieval.bm25StatsFrame(docs, "doc_id", "text"),
        numBuckets = 1)
      val queries = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id"), col("text"))
      graft.operators.Retrieval.probeBm25Index(e, "post", "stats",
          queries, "doc_id", "text")
        .orderBy(col("query_id"), col("rank"))
    },
    bm25Retrieval.oracle)

  /** The PRODUCTION BM25 index layout: SHARDED posting lists
    * (Retrieval.bm25IndexFrameSharded, key = (token, shard)). On a
    * closed-vocabulary corpus every posting list grows ∝ corpus (this
    * corpus has 31 tokens; measured: the unsharded build OOMs at sf10),
    * and a df cap is the WRONG fix — any binding cap drops the entire
    * vocabulary, because no token is a true stop word (max df here is
    * ~6.5% of n). Sharding salts the hot token's collect across nShards
    * reducers and bounds every store value by df/nShards, while leaving
    * the RESULT identical: the oracle is `bm25_retrieval`'s SQL verbatim. */
  val bm25IndexSharded = QueryDef(
    "bm25_index_sharded",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val e = tempEngine(s, "graft-bm25sh")
      e.createStore("post", Seq("token", "shard"))
      e.push("post",
        graft.operators.Retrieval.bm25IndexFrameSharded(docs, "doc_id",
          "text", nShards = 16),
        numBuckets = 8)
      e.createStore("stats", Seq("stats_id"))
      e.push("stats",
        graft.operators.Retrieval.bm25StatsFrame(docs, "doc_id", "text"),
        numBuckets = 1)
      val queries = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id"), col("text"))
      graft.operators.Retrieval.probeBm25IndexSharded(e, "post", "stats",
          queries, "doc_id", "text", nShards = 16)
        .orderBy(col("query_id"), col("rank"))
    },
    bm25Retrieval.oracle)

  /** Impact-ordered early termination on the sharded BM25 index
    * (`maxFetch = 200`, binding at sf0.01+): each query term's posting
    * list is truncated to its 200 highest-impact entries (tf desc,
    * doc_id) ONCE per token before the query join — the WAND-family
    * tradeoff that keeps scoring O(terms × maxFetch) where the exact
    * join is quadratic on a closed vocabulary (measured: the sf10 exact
    * probe explodes ~7·10¹⁰ candidate rows; truncated it is linear).
    * The oracle replays the truncation exactly, so the recall tradeoff
    * is pinned, not fuzzed. */
  val bm25IndexTopFetch = QueryDef(
    "bm25_index_topfetch",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val e = tempEngine(s, "graft-bm25tf")
      e.createStore("post", Seq("token", "shard"))
      e.push("post",
        graft.operators.Retrieval.bm25IndexFrameSharded(docs, "doc_id",
          "text", nShards = 16),
        numBuckets = 8)
      e.createStore("stats", Seq("stats_id"))
      e.push("stats",
        graft.operators.Retrieval.bm25StatsFrame(docs, "doc_id", "text"),
        numBuckets = 1)
      val queries = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id"), col("text"))
      graft.operators.Retrieval.probeBm25IndexSharded(e, "post", "stats",
          queries, "doc_id", "text", nShards = 16, maxFetch = 200)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH toks AS (SELECT doc_id, unnest($tokensSql) AS token
               FROM documents),
             tf AS (SELECT doc_id, token, count(*) AS tf
               FROM toks GROUP BY doc_id, token),
             dfreq AS (SELECT token, count(*) AS df
               FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token),
             dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
             stats AS (SELECT count(*) AS n, sum(dl) AS t FROM dl),
             tft AS (SELECT doc_id, token, tf FROM (
                 SELECT doc_id, token, tf, row_number() OVER (
                   PARTITION BY token ORDER BY tf DESC, doc_id) AS prk
                 FROM tf) WHERE prk <= 200),
             qterms AS (SELECT query_id, token FROM (
                 SELECT tf.doc_id AS query_id, tf.token,
                   row_number() OVER (PARTITION BY tf.doc_id
                     ORDER BY tf.tf * (stats.n // dfreq.df) DESC, tf.token) AS rk
                 FROM tf JOIN dfreq USING (token), stats
                 WHERE tf.doc_id % 97 = 0)
               WHERE rk <= 3),
             scored AS (
               SELECT q.query_id, p.doc_id,
                 CAST(sum(((1000000 * (2*stats.n - 2*dfreq.df + 1)) // (2*dfreq.df + 1))
                   * ((44 * p.tf * stats.t * 1000) //
                      (20 * p.tf * stats.t + 6 * stats.t + 18 * dl.dl * stats.n))) AS BIGINT) AS score
               FROM qterms q
               JOIN tft p ON p.token = q.token
               JOIN dl ON dl.doc_id = p.doc_id
               JOIN dfreq ON dfreq.token = q.token, stats
               WHERE p.doc_id <> q.query_id
               GROUP BY q.query_id, p.doc_id)
             SELECT query_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, doc_id) AS rank,
               doc_id, score
             FROM scored
             QUALIFY rank <= 5
             ORDER BY query_id, rank"""))

  /** Hybrid retrieval with reciprocal-rank fusion (Cormack, Clarke &
    * Buettcher, SIGIR'09): the lexical leg is [[bm25Scored]]'s top-10 per
    * query, the dense leg is exact cosine top-10 over the same query docs'
    * embeddings, fused by [[graft.operators.Retrieval.rrfFuse]] with the
    * standard k=60 constant — scaled to 1e6/(60+rank) under integer
    * division so both engines agree bit-for-bit (rank is exact in each
    * leg, so no float ever enters the fusion). The RAG-stack shape: BM25
    * catches exact-term matches the embedding misses, the dense leg
    * catches paraphrases sharing no token.
    *
    * Shape at scale: each leg already ends in a bounded per-query top-K
    * (queries × K rows — tiny), so the fusion itself is one groupBy over
    * |queries|·2K rows regardless of corpus size; ALL corpus-sized work
    * lives inside the legs, which are the independently-benched scale
    * paths (BM25's broadcast postings join; swap the exact dense leg for
    * [[graft.operators.Similarity.ivfTopK]]/lshTopK past brute-force
    * range). */
  val rrfFusion = QueryDef(
    "rrf_fusion",
    (s, dir) => {
      val wl = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))
      val lex = bm25Scored(s, dir)
        .withColumn("rank", row_number().over(wl))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val qs = emb.filter(pmod(col("vec_id"), lit(97)) === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val den = graft.operators.Similarity.bruteForceTopK(corpus, qs, 10)
        .select(col("qid").as("query_id"), col("id").as("doc_id"), col("rank"))
      graft.operators.Retrieval.rrfFuse(Seq(lex, den), k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH $bm25ScoredCtes,
             lex AS (SELECT query_id, doc_id, row_number() OVER (
                 PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
               FROM scored QUALIFY rank <= 10),
             qv AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec,
                 sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS qn
               FROM embeddings WHERE vec_id % 97 = 0),
             cv AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
                 sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
               FROM embeddings),
             den AS (SELECT qid AS query_id, id AS doc_id, rank FROM (
                 SELECT qid, id, row_number() OVER (PARTITION BY qid
                   ORDER BY round(list_dot_product(vec, qvec) / (n * qn), 6) + 0.0
                     DESC, id) AS rank
                 FROM cv, qv WHERE id <> qid) WHERE rank <= 10),
             fused AS (SELECT query_id, doc_id,
                 CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_score,
                 count(*) AS legs
               FROM (SELECT * FROM lex UNION ALL SELECT * FROM den)
               GROUP BY query_id, doc_id)
             SELECT query_id, row_number() OVER (PARTITION BY query_id
                 ORDER BY rrf_score DESC, doc_id) AS rank,
               doc_id, rrf_score, legs
             FROM fused QUALIFY rank <= 5
             ORDER BY query_id, rank"""))

  /** Hybrid retrieval with a SCALE-GREEN lexical leg: same RRF fusion as
    * `rrf_fusion`, but the lexical leg is the impact-ordered top-fetch
    * probe of the sharded BM25 index (probeBm25IndexSharded,
    * maxFetch = 200 — the bm25_index_topfetch production path) instead
    * of the exact scorer, which refuses past its Σ df budget on
    * closed-vocabulary corpora. Reference analog: the read-path top-K
    * compute-aggregation surface
    * (ComputeAggregationRequestBuilder.java:16-31 — semantics, not
    * code). The dense leg is IVF top-10 with the CORPUS-DRIVEN cell
    * count (K = max(16, ⌈n/2000⌉), the semdedup_scaled formula): the
    * query set here grows with the corpus (every 97th doc), so a
    * brute-force dense leg is O(q·n) = workload-quadratic (measured
    * 20.7× for a 10× decade), while bounded cells make it
    * O(q·nProbe·cellRows) — linear. `rrf_fusion` keeps the exact legs
    * as the refusing exactness baseline. This is the row that keeps
    * hybrid retrieval green at every SF: both legs' truncations are
    * replayed exactly by the oracle, so the recall tradeoffs are
    * pinned, not fuzzed. */
  val rrfFusionTopFetch = QueryDef(
    "rrf_fusion_topfetch",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val e = tempEngine(s, "graft-rrftf")
      e.createStore("post", Seq("token", "shard"))
      e.push("post",
        graft.operators.Retrieval.bm25IndexFrameSharded(docs, "doc_id",
          "text", nShards = 16),
        numBuckets = 8)
      e.createStore("stats", Seq("stats_id"))
      e.push("stats",
        graft.operators.Retrieval.bm25StatsFrame(docs, "doc_id", "text"),
        numBuckets = 1)
      val queries = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id"), col("text"))
      val lex = graft.operators.Retrieval.probeBm25IndexSharded(e, "post",
          "stats", queries, "doc_id", "text", nShards = 16, k = 10,
          maxFetch = 200)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val qs = emb.filter(pmod(col("vec_id"), lit(97)) === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val kCells = math.max(16L,
        math.ceil(corpus.count().toDouble / 2000).toLong).toInt
      val den = graft.operators.Similarity.ivfTopK(corpus, qs, 10,
          numCells = kCells, nProbe = 2)
        .select(col("qid").as("query_id"), col("id").as("doc_id"), col("rank"))
      graft.operators.Retrieval.rrfFuse(Seq(lex, den), k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH toks AS (SELECT doc_id, unnest($tokensSql) AS token
               FROM documents),
             tf AS (SELECT doc_id, token, count(*) AS tf
               FROM toks GROUP BY doc_id, token),
             dfreq AS (SELECT token, count(*) AS df
               FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token),
             dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
             stats AS (SELECT count(*) AS n, sum(dl) AS t FROM dl),
             tft AS (SELECT doc_id, token, tf FROM (
                 SELECT doc_id, token, tf, row_number() OVER (
                   PARTITION BY token ORDER BY tf DESC, doc_id) AS prk
                 FROM tf) WHERE prk <= 200),
             qterms AS (SELECT query_id, token FROM (
                 SELECT tf.doc_id AS query_id, tf.token,
                   row_number() OVER (PARTITION BY tf.doc_id
                     ORDER BY tf.tf * (stats.n // dfreq.df) DESC, tf.token) AS rk
                 FROM tf JOIN dfreq USING (token), stats
                 WHERE tf.doc_id % 97 = 0)
               WHERE rk <= 3),
             lexscored AS (
               SELECT q.query_id, p.doc_id,
                 CAST(sum(((1000000 * (2*stats.n - 2*dfreq.df + 1)) // (2*dfreq.df + 1))
                   * ((44 * p.tf * stats.t * 1000) //
                      (20 * p.tf * stats.t + 6 * stats.t + 18 * dl.dl * stats.n))) AS BIGINT) AS score
               FROM qterms q
               JOIN tft p ON p.token = q.token
               JOIN dl ON dl.doc_id = p.doc_id
               JOIN dfreq ON dfreq.token = q.token, stats
               WHERE p.doc_id <> q.query_id
               GROUP BY q.query_id, p.doc_id),
             lex AS (SELECT query_id, doc_id, row_number() OVER (
                 PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
               FROM lexscored QUALIFY rank <= 10),
             vv AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
                 sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
               FROM embeddings),
             kk AS (SELECT greatest(16, CAST(ceil(count(*) / 2000.0) AS BIGINT))
               AS k FROM vv),
             c0 AS (SELECT id AS cid, vec AS cvec FROM vv
               WHERE id < (SELECT k FROM kk)),
             a0 AS (SELECT id, vec, cid FROM (
               SELECT v.id, v.vec, c.cid, row_number() OVER (PARTITION BY v.id
                 ORDER BY round(list_dot_product(v.vec, c.cvec) /
                   (v.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0 DESC,
                   c.cid) AS rn
               FROM vv v, c0 c) WHERE rn = 1),
             c1r AS (SELECT cid, list(val ORDER BY pos) AS cvec FROM (
               SELECT cid, p.p AS pos,
                 CAST(sum(CAST(round(vec[p.p + 1] * 1000) AS BIGINT)) AS DOUBLE)
                   / (count(*) * 1000.0) AS val
               FROM a0, range(64) p(p) GROUP BY cid, p.p) GROUP BY cid),
             c1 AS (SELECT cid, cvec FROM c1r UNION ALL
               SELECT cid, cvec FROM c0
               WHERE cid NOT IN (SELECT cid FROM c1r)),
             a1 AS (SELECT id, vec, cid FROM (
               SELECT v.id, v.vec, c.cid, row_number() OVER (PARTITION BY v.id
                 ORDER BY round(list_dot_product(v.vec, c.cvec) /
                   (v.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0 DESC,
                   c.cid) AS rn
               FROM vv v, c1 c) WHERE rn = 1),
             c2r AS (SELECT cid, list(val ORDER BY pos) AS cvec FROM (
               SELECT cid, p.p AS pos,
                 CAST(sum(CAST(round(vec[p.p + 1] * 1000) AS BIGINT)) AS DOUBLE)
                   / (count(*) * 1000.0) AS val
               FROM a1, range(64) p(p) GROUP BY cid, p.p) GROUP BY cid),
             c2 AS (SELECT cid, cvec FROM c2r UNION ALL
               SELECT cid, cvec FROM c0
               WHERE cid NOT IN (SELECT cid FROM c2r)),
             asg AS (SELECT id, vec, n, cid FROM (
               SELECT v.id, v.vec, v.n, c.cid, row_number() OVER (PARTITION BY v.id
                 ORDER BY round(list_dot_product(v.vec, c.cvec) /
                   (v.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0 DESC,
                   c.cid) AS rn
               FROM vv v, c2 c) WHERE rn = 1),
             qp AS (SELECT id AS qid, vec AS qvec, n AS qn, cid FROM (
               SELECT v.id, v.vec, v.n, c.cid, row_number() OVER (PARTITION BY v.id
                 ORDER BY round(list_dot_product(v.vec, c.cvec) /
                   (v.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0 DESC,
                   c.cid) AS rn
               FROM vv v, c2 c WHERE v.id % 97 = 0) WHERE rn <= 2),
             den AS (SELECT query_id, doc_id, rank FROM (
                 SELECT q.qid AS query_id, a.id AS doc_id, row_number() OVER (
                   PARTITION BY q.qid
                   ORDER BY round(list_dot_product(a.vec, q.qvec) / (a.n * q.qn), 6)
                     + 0.0 DESC, a.id) AS rank
                 FROM asg a JOIN qp q ON a.cid = q.cid
                 WHERE a.id <> q.qid) WHERE rank <= 10),
             fused AS (SELECT query_id, doc_id,
                 CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_score,
                 count(*) AS legs
               FROM (SELECT * FROM lex UNION ALL SELECT * FROM den)
               GROUP BY query_id, doc_id)
             SELECT query_id, row_number() OVER (PARTITION BY query_id
                 ORDER BY rrf_score DESC, doc_id) AS rank,
               doc_id, rrf_score, legs
             FROM fused QUALIFY rank <= 5
             ORDER BY query_id, rank"""))

  /** Bigram language-model quality scoring with stupid backoff (Brants et
    * al. 2007): train bigram + unigram counts on the even-doc_id half of
    * the corpus, score the odd half — the KenLM-ish "perplexity filter"
    * signal a pretraining pipeline uses, with held-out scoring so the
    * backoff path is actually exercised. Per scored bigram the surprisal
    * surrogate is the scaled INVERSE probability (all integer, no log()):
    * seen bigram → 1e6·c(w1)/c(w1w2); unseen → 1/(0.4·c(w2)/T) =
    * 5e6·T/(2·c(w2)), add-one for OOV w2. Per doc: mean/max inverse-prob
    * and the backoff count. Shape at scale: model training is one groupBy
    * each over the training half (map-side partial agg); scoring
    * pre-aggregates the held-out half to (doc, w1, w2, cnt) — map-side
    * combine, evenly keyed — and joins the count tables against the
    * DISTINCT-bigram table only (≤ vocab² rows; here 31² = 961), whose
    * scored result broadcasts back. No corpus-sized row ever joins on a
    * bare token key, so the hot-token skew that made the naive
    * instance-level join 12.6×/decade (the vocabulary is closed — every
    * (w1,w2) key funnels ~n/961 instances) never materializes. */
  val lmBigram = QueryDef(
    "lm_bigram",
    (s, dir) => {
      val tk = t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      val toks = tk.select(col("doc_id"), explode(col("tk")).as("w"))
      val cu = toks.filter(pmod(col("doc_id"), lit(2)) === 0)
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val tot = cu.agg(sum(col("c"))).collect()(0).getLong(0)
      val bgAll = tk.select(col("doc_id"), explode(expr(
          "zip_with(slice(tk, 1, greatest(size(tk)-1, 0)), " +
            "slice(tk, 2, greatest(size(tk)-1, 0)), " +
            "(a, b) -> struct(a AS w1, b AS w2))")).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val cb = bgAll.filter(pmod(col("doc_id"), lit(2)) === 0)
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
      // held-out instances collapsed per (doc, bigram) FIRST — the only
      // corpus-sized shuffle, on an even composite key
      val bgc = bgAll.filter(pmod(col("doc_id"), lit(2)) === 1)
        .groupBy(col("doc_id"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("cnt"))
      // score each DISTINCT bigram once (≤ vocab² rows): the three
      // token-keyed joins now move hundreds of rows, not the corpus
      val ippmTbl = bgc.select(col("w1"), col("w2")).distinct()
        .join(cb, Seq("w1", "w2"), "left")
        .join(cu.select(col("w").as("w1"), col("c").as("cu1")), Seq("w1"), "left")
        .join(cu.select(col("w").as("w2"), col("c").as("cu2")), Seq("w2"), "left")
        // DECIMAL intermediates: 1e6·unigram-count (and 5e6·corpus-total)
        // wrap Long once the half-corpus passes ~1e13 tokens
        .withColumn("ippm",
          when(col("cb").isNotNull,
            expr("CAST((1000000 * CAST(cu1 AS DECIMAL(20,0))) div cb" +
              " AS BIGINT)"))
            .otherwise(expr(s"CAST((5000000 * CAST(${tot}L AS DECIMAL(20,0)))" +
              " div (2L * coalesce(cu2, 1L)) AS BIGINT)")))
        .withColumn("backoff",
          when(col("cb").isNull, lit(1L)).otherwise(lit(0L)))
        .select(col("w1"), col("w2"), col("ippm"), col("backoff"))
      // no broadcast HINT: closed-vocab runs broadcast via AQE's runtime
      // size stats anyway, and an open-vocab corpus (distinct bigrams ∝
      // corpus) must be allowed to fall back to a shuffle join on the
      // even (w1,w2) composite key rather than OOM the driver
      val scored = bgc.join(ippmTbl, Seq("w1", "w2"))
      scored.groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_bigrams"),
          sum(col("backoff") * col("cnt")).as("n_backoff"),
          expr("sum(ippm * cnt) div sum(cnt)").as("mean_ippm"),
          max(col("ippm")).as("max_ippm"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
             toks AS (SELECT doc_id, unnest(t) AS w FROM tk),
             cu AS (SELECT w, count(*) AS c FROM toks
               WHERE doc_id % 2 = 0 GROUP BY w),
             tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cu),
             bgf AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
                 SELECT doc_id, unnest(list_transform(range(1, len(t)),
                   i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS b
                 FROM tk)),
             cb AS (SELECT w1, w2, count(*) AS c FROM bgf
               WHERE doc_id % 2 = 0 GROUP BY w1, w2),
             sc AS (SELECT f.doc_id,
                 CASE WHEN cb.c IS NOT NULL
                      THEN (1000000::HUGEINT * cu1.c // cb.c)::BIGINT
                      ELSE (5000000::HUGEINT * tot.t
                        // (2 * COALESCE(cu2.c, 1)))::BIGINT
                 END AS ippm,
                 CASE WHEN cb.c IS NULL THEN 1 ELSE 0 END AS backoff
               FROM bgf f
               LEFT JOIN cb ON cb.w1 = f.w1 AND cb.w2 = f.w2
               LEFT JOIN cu cu1 ON cu1.w = f.w1
               LEFT JOIN cu cu2 ON cu2.w = f.w2, tot
               WHERE f.doc_id % 2 = 1)
             SELECT doc_id, count(*) AS n_bigrams,
               CAST(sum(backoff) AS BIGINT) AS n_backoff,
               CAST(sum(ippm) // count(*) AS BIGINT) AS mean_ippm,
               CAST(max(ippm) AS BIGINT) AS max_ippm
             FROM sc GROUP BY doc_id ORDER BY doc_id"""))

  /** Fixed-point PageRank over a crawl link graph — the "domain/page
    * authority" weight a crawl-prioritizing pipeline folds into quality
    * scores (Page et al. 1999; the synthetic corpus has no hyperlinks, so
    * the edge list is derived deterministically: doc u links to
    * (u·m+o) mod M for three multiplier/offset pairs, kept only when the
    * target doc exists and isn't u itself — the oracle derives the same
    * edges). Four unrolled power iterations in ALL-integer arithmetic:
    * pr0 = S/N at scale S=1e12; each step pr' = (15·S)/(100·N) +
    * 85·Σ_in(pr/outdeg)/100 under integer div (dangling-node mass is
    * dropped, deterministically, in both engines). Shape at scale: the
    * edge list shuffles ONCE on src per iteration (join to pr) and once
    * on dst (the contribution sum) — the classic Pregel shape expressed
    * as joins, with the node table reused; iterations are a fixed small
    * constant, not a convergence loop. */
  val crawlPagerank = QueryDef(
    "crawl_pagerank",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val st = docs.agg(count(lit(1)).as("n"),
        (max(col("doc_id")) + 1).as("m")).collect()(0)
      val n = st.getLong(0)
      val m = st.getLong(1)
      val scale = 1000000000000L
      val base = (15L * scale) / (100L * n)
      val rawEdges = docs.select(col("doc_id").as("src"),
          explode(array(
            pmod(col("doc_id") * 31 + 7, lit(m)),
            pmod(col("doc_id") * 17 + 3, lit(m)),
            pmod(col("doc_id") * 13 + 11, lit(m)))).as("dst"))
        .filter(col("src") =!= col("dst"))
        .join(docs.select(col("doc_id").as("dst")), Seq("dst"))
      val outdeg = rawEdges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      val edges = rawEdges.join(outdeg, "src")
      var pr = docs.withColumn("pr", lit(scale / n))
      for (_ <- 1 to 4) {
        val contrib = edges
          .join(pr.select(col("doc_id").as("src"), col("pr")), "src")
          .select(col("dst"), expr("pr div outdeg").as("share"))
          .groupBy(col("dst")).agg(sum(col("share")).as("insum"))
        pr = docs.join(contrib.withColumnRenamed("dst", "doc_id"),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            (lit(base) + expr("(85L * coalesce(insum, 0L)) div 100L")).as("pr"))
      }
      pr.orderBy(col("doc_id"))
    },
    Some("""WITH docs AS (SELECT doc_id FROM documents),
            st AS (SELECT count(*) AS n, max(doc_id) + 1 AS m FROM docs),
            edges0 AS (
              SELECT d.doc_id AS src, (d.doc_id * mult + off) % st.m AS dst
              FROM docs d, st,
                (VALUES (31, 7), (17, 3), (13, 11)) AS lk(mult, off)
              WHERE (d.doc_id * mult + off) % st.m <> d.doc_id),
            edges1 AS (SELECT e.src, e.dst FROM edges0 e
              JOIN docs x ON x.doc_id = e.dst),
            outdeg AS (SELECT src, count(*) AS outdeg FROM edges1 GROUP BY src),
            edges AS (SELECT e.src, e.dst, o.outdeg
              FROM edges1 e JOIN outdeg o USING (src)),
            it0 AS (SELECT doc_id, (1000000000000 // st.n) AS pr FROM docs, st),
            it1 AS (SELECT d.doc_id,
                ((15 * 1000000000000) // (100 * st.n))
                  + (85 * COALESCE(s.insum, 0)) // 100 AS pr
              FROM docs d LEFT JOIN (
                SELECT e.dst, CAST(sum(p.pr // e.outdeg) AS BIGINT) AS insum
                FROM edges e JOIN it0 p ON p.doc_id = e.src GROUP BY e.dst) s
              ON s.dst = d.doc_id, st),
            it2 AS (SELECT d.doc_id,
                ((15 * 1000000000000) // (100 * st.n))
                  + (85 * COALESCE(s.insum, 0)) // 100 AS pr
              FROM docs d LEFT JOIN (
                SELECT e.dst, CAST(sum(p.pr // e.outdeg) AS BIGINT) AS insum
                FROM edges e JOIN it1 p ON p.doc_id = e.src GROUP BY e.dst) s
              ON s.dst = d.doc_id, st),
            it3 AS (SELECT d.doc_id,
                ((15 * 1000000000000) // (100 * st.n))
                  + (85 * COALESCE(s.insum, 0)) // 100 AS pr
              FROM docs d LEFT JOIN (
                SELECT e.dst, CAST(sum(p.pr // e.outdeg) AS BIGINT) AS insum
                FROM edges e JOIN it2 p ON p.doc_id = e.src GROUP BY e.dst) s
              ON s.dst = d.doc_id, st),
            it4 AS (SELECT d.doc_id,
                ((15 * 1000000000000) // (100 * st.n))
                  + (85 * COALESCE(s.insum, 0)) // 100 AS pr
              FROM docs d LEFT JOIN (
                SELECT e.dst, CAST(sum(p.pr // e.outdeg) AS BIGINT) AS insum
                FROM edges e JOIN it3 p ON p.doc_id = e.src GROUP BY e.dst) s
              ON s.dst = d.doc_id, st)
            SELECT doc_id, pr FROM it4 ORDER BY doc_id"""))

  /** T5-style span corruption (Raffel et al. 2020 §3.1.4): the doc →
    * (input, target) pretraining-example transform. Tokens bucket into
    * 5-token groups; a group is masked iff its md5(doc_id|group) bucket
    * lands under 3/16 (the same engine-shared md5 idiom as
    * `split_assign`, so the choice is deterministic, order-independent
    * and oracle-replayable). Masked groups collapse to `<extra_id_k>`
    * sentinels (k = per-doc masked ordinal via a running sum window);
    * the target is the sentinel-prefixed masked spans in order. Shape at
    * scale: a bounded explode (one row per 5 tokens), ONE keyed window +
    * groupBy on doc_id — reassembly is ordered-struct array_sort inside
    * the agg, never a driver collect. */
  val spanCorrupt = QueryDef(
    "span_corrupt",
    (s, dir) => {
      val tk = t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) > 0)
      val grp = tk.select(col("doc_id"), explode(expr(
          "transform(sequence(0, (size(tk)-1) div 5), " +
            "g -> struct(g AS g, array_join(slice(tk, g*5+1, 5), ' ') AS piece))"))
          .as("sp"))
        .select(col("doc_id"), col("sp.g").as("g"), col("sp.piece").as("piece"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("g"))
      val flagged = grp
        .withColumn("masked",
          conv(substring(md5(concat(col("doc_id"), lit("|"), col("g"))), 1, 4),
            16, 10).cast("int") % 16 < 3)
        .withColumn("sidx",
          sum(when(col("masked"), 1L).otherwise(0L)).over(w) - 1)
        .withColumn("in_piece",
          when(col("masked"),
            concat(lit("<extra_id_"), col("sidx"), lit(">")))
            .otherwise(col("piece")))
        .withColumn("tgt_struct", expr(
          "CASE WHEN masked THEN struct(g, concat('<extra_id_', sidx, '> ', piece) AS tp) END"))
      flagged.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"),
          expr("array_join(transform(array_sort(collect_list(struct(g, in_piece))), " +
            "x -> x.in_piece), ' ')").as("input_text"),
          expr("array_join(transform(array_sort(collect_list(tgt_struct)), " +
            "x -> x.tp), ' ')").as("target_text"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents
               WHERE len($tokensSql) > 0),
             grp AS (SELECT doc_id, g,
                 array_to_string(t[g*5+1 : g*5+5], ' ') AS piece
               FROM (SELECT doc_id, t,
                   unnest(range(0, (len(t)-1)//5 + 1)) AS g FROM tk)),
             flg AS (SELECT doc_id, g, piece,
                 (('0x' || substr(md5(doc_id::VARCHAR || '|' || g::VARCHAR),
                    1, 4))::INT % 16) < 3 AS masked
               FROM grp),
             idx AS (SELECT doc_id, g, piece, masked,
                 sum(CASE WHEN masked THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY g) - 1 AS sidx
               FROM flg)
             SELECT doc_id, count(*) AS n_groups,
               CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
               string_agg(CASE WHEN masked
                   THEN '<extra_id_' || sidx::VARCHAR || '>'
                   ELSE piece END, ' ' ORDER BY g) AS input_text,
               COALESCE(string_agg(CASE WHEN masked
                   THEN '<extra_id_' || sidx::VARCHAR || '> ' || piece END,
                   ' ' ORDER BY g), '') AS target_text
             FROM idx GROUP BY doc_id ORDER BY doc_id"""))

  /** Fill-in-the-middle (FIM) transform manifest: each document split
    * into prefix | middle | suffix at two md5-derived cut points (order/
    * partition-independent, reproducible — the same determinism contract
    * as splits and sampling), applied to ~half the corpus (the FIM-rate
    * knob); the hash pins the exact cuts AND the exact segment contents
    * via per-segment md5 (a off-by-one slice on either engine breaks the
    * row). Docs shorter than 3 tokens or outside the rate keep
    * fim = false with null cuts. Pure narrow per-row expressions — no
    * shuffle, embarrassingly parallel at any corpus size. */
  val fimTransform = QueryDef(
    "fim_transform",
    (s, dir) => {
      def h(salt: String) = conv(substring(
        md5(concat(col("doc_id").cast("string"), lit("|" + salt))), 1, 4),
        16, 10).cast("long")
      val toks = TextOps.tokens(col("text"))
      val n = size(toks).cast("long")
      val fim = (h("rate") % 100 < 50) && n >= 3
      val cut1 = lit(1L) + h("c1") % (n - 2)
      val cut2 = cut1 + lit(1L) + h("c2") % (n - cut1 - 1)
      def seg(start: org.apache.spark.sql.Column,
          len: org.apache.spark.sql.Column) = md5(array_join(
        slice(toks, start.cast("int"), len.cast("int")), " "))
      t(s, dir, "documents")
        .select(col("doc_id"), n.as("n_tok"), fim.as("fim"),
          when(fim, cut1).as("cut1"), when(fim, cut2).as("cut2"),
          when(fim, seg(lit(1L), cut1)).as("prefix_md5"),
          when(fim, seg(cut1 + 1, cut2 - cut1)).as("middle_md5"),
          when(fim, seg(cut2 + 1, n - cut2)).as("suffix_md5"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
             c AS (SELECT doc_id, t, len(t)::BIGINT AS n,
                 ((('0x' || substr(md5(doc_id::VARCHAR || '|rate'), 1, 4))::INT
                   % 100 < 50) AND len(t) >= 3) AS fim,
                 1 + ('0x' || substr(md5(doc_id::VARCHAR || '|c1'), 1, 4))::BIGINT
                   % greatest(len(t) - 2, 1) AS cut1
               FROM tk),
             c2 AS (SELECT *, cut1 + 1 +
                 ('0x' || substr(md5(doc_id::VARCHAR || '|c2'), 1, 4))::BIGINT
                   % greatest(n - cut1 - 1, 1) AS cut2
               FROM c)
             SELECT doc_id, n AS n_tok, fim,
               CASE WHEN fim THEN cut1 END AS cut1,
               CASE WHEN fim THEN cut2 END AS cut2,
               CASE WHEN fim THEN md5(array_to_string(t[1:cut1::INT], ' ')) END
                 AS prefix_md5,
               CASE WHEN fim THEN md5(array_to_string(
                 t[(cut1 + 1)::INT:cut2::INT], ' ')) END AS middle_md5,
               CASE WHEN fim THEN md5(array_to_string(
                 t[(cut2 + 1)::INT:n::INT], ' ')) END AS suffix_md5
             FROM c2 ORDER BY doc_id"""))

  /** Training-mix planning table WITH subtotals: per (lang, source) plus
    * per-lang and grand-total rollup rows in one pass — `GROUP BY ROLLUP`
    * computes all three grains from a single shuffle (Catalyst expands to
    * one Expand + one agg; no re-scan per grain). Rollup NULL markers are
    * folded to the '(all)' label so both engines order rows identically. */
  val mixRollup = QueryDef(
    "mix_rollup",
    (s, dir) => {
      t(s, dir, "documents")
        .withColumn("tokens", TextOps.tokenCount(col("text")).cast("long"))
        .rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("tokens"),
          sum(col("n_chars")).as("chars"))
        .select(coalesce(col("lang"), lit("(all)")).as("lang"),
          coalesce(col("source"), lit("(all)")).as("source"),
          col("n_docs"), col("tokens"), col("chars"))
        .orderBy(col("lang"), col("source"))
    },
    Some(s"""SELECT COALESCE(lang, '(all)') AS lang,
               COALESCE(source, '(all)') AS source,
               count(*) AS n_docs,
               CAST(sum(len($tokensSql)) AS BIGINT) AS tokens,
               CAST(sum(n_chars) AS BIGINT) AS chars
             FROM documents GROUP BY ROLLUP (lang, source)
             ORDER BY lang, source"""))

  /** Time-range rolling features: per event, the same user's event count
    * and value sum over the trailing hour — a RANGE window frame (frame
    * membership decided by the ts VALUE, so same-ts ties are symmetric and
    * order-independent: deterministic where a ROWS frame would not be).
    * One shuffle on user_id + in-partition sort — the standard
    * feature-engineering shape; DuckDB's native RANGE frame is the
    * independent implementation. */
  val rollingFeatures = QueryDef(
    "rolling_features",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("ts_ms"),
          round(col("value") * 100).cast("long").as("cents"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
        .rangeBetween(-3600000L, Window.currentRow)
      ev.withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("cents_1h", sum(col("cents")).over(w))
        .select(col("user_id"), col("event_id"), col("ts_ms"),
          col("n_1h"), col("cents_1h"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
              count(*) OVER w AS n_1h,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
                AS cents_1h
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
              RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
            ORDER BY user_id, event_id"""))

  /** Corpus snapshot diff: what changed between two corpus versions —
    * added / removed / changed / unchanged per doc, by content fingerprint.
    * The curation primitive behind "what did this week's crawl refresh
    * actually do": ONE full-outer equi-join on the doc key (both sides
    * shuffle-partitioned on doc_id, or co-located for free when both
    * versions are bucket-pushed stores), fingerprints narrow md5 — never a
    * text comparison. Versions are derived deterministically here (v1 drops
    * doc_id%10==3, v2 drops %10==7 and revises %5==0) so both engines
    * replay the same snapshots. */
  val corpusDiff = QueryDef(
    "corpus_diff",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val v1 = docs.filter(pmod(col("doc_id"), lit(10)) =!= 3)
        .select(col("doc_id"), md5(col("text")).as("old_fp"))
      val v2 = docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
        .select(col("doc_id"),
          md5(when(pmod(col("doc_id"), lit(5)) === 0,
              concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text"))).as("new_fp"))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("old_fp").isNull, "added")
            .when(col("new_fp").isNull, "removed")
            .when(col("old_fp") =!= col("new_fp"), "changed")
            .otherwise("unchanged"))
        .select(col("doc_id"), col("status"), col("old_fp"), col("new_fp"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH v1 AS (SELECT doc_id, md5(text) AS old_fp FROM documents
               WHERE doc_id % 10 <> 3),
             v2 AS (SELECT doc_id,
                 md5(CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]'
                     ELSE text END) AS new_fp
               FROM documents WHERE doc_id % 10 <> 7)
             SELECT doc_id,
               CASE WHEN old_fp IS NULL THEN 'added'
                    WHEN new_fp IS NULL THEN 'removed'
                    WHEN old_fp <> new_fp THEN 'changed'
                    ELSE 'unchanged' END AS status,
               old_fp, new_fp
             FROM v1 FULL OUTER JOIN v2 USING (doc_id)
             ORDER BY doc_id"""))

  /** Per-domain crawl report: parse a URL into scheme / host / registered
    * domain with engine-portable regexps (no UDF, no URL library — the
    * patterns avoid every Java-vs-RE2 divergence the same way the PII
    * rules do), then one partial-aggregated groupBy per domain. URLs are
    * derived deterministically from (source, doc_id) in four shapes that
    * exercise the parser: www prefix, explicit port, subdomain, and
    * mixed-case scheme/host (normalization is part of the contract). */
  val domainStats = QueryDef(
    "domain_stats",
    (s, dir) => {
      val did = col("doc_id").cast("string")
      // variant key decorrelated from source (source ≡ doc_id mod 20, so a
      // doc_id mod 4 variant would give every source a single URL shape)
      val variant = pmod(expr("doc_id div 20"), lit(4))
      val url = when(variant === 0,
          concat(lit("https://www."), col("source"), lit(".example.com/p/"), did))
        .when(variant === 1,
          concat(lit("http://"), col("source"), lit(".example.org:8080/a?q="), did))
        .when(variant === 2,
          concat(lit("https://cdn."), col("source"), lit(".example.net/x/"), did,
            lit(".html")))
        .otherwise(
          concat(lit("HTTPS://"), upper(col("source")), lit(".Example.COM/"), did))
      val scheme = lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1))
      val host = lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/:?#]+)", 1))
      t(s, dir, "documents")
        .withColumn("url", url)
        .withColumn("scheme", scheme)
        .withColumn("domain", regexp_replace(host, "^(www|cdn)\\.", ""))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("scheme") === "https", 1L).otherwise(0L)).as("n_https"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("domain"))
    },
    Some("""WITH u AS (SELECT doc_id, source, n_chars,
                 CASE (doc_id // 20) % 4
                   WHEN 0 THEN 'https://www.' || source || '.example.com/p/' || doc_id
                   WHEN 1 THEN 'http://' || source || '.example.org:8080/a?q=' || doc_id
                   WHEN 2 THEN 'https://cdn.' || source || '.example.net/x/' || doc_id || '.html'
                   ELSE 'HTTPS://' || upper(source) || '.Example.COM/' || doc_id
                 END AS url
               FROM documents),
             p AS (SELECT doc_id, n_chars,
                 lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
                 regexp_replace(lower(regexp_extract(url,
                   '^[A-Za-z]+://([^/:?#]+)', 1)), '^(www|cdn)\.', '') AS domain
               FROM u)
             SELECT domain, count(*) AS n_docs,
               sum(CASE WHEN scheme = 'https' THEN 1 ELSE 0 END)::BIGINT AS n_https,
               sum(n_chars)::BIGINT AS total_chars
             FROM p GROUP BY domain ORDER BY domain"""))

  /** Bloom-filter exclusion audit: the blocklist (fingerprints of blocked
    * sources) is folded into a 1024-bit [[graft.operators.Bloom]] bitmap —
    * a distributed bit-OR whose result is 16 longs REGARDLESS of blocklist
    * cardinality — and the corpus is tested with narrow per-row bit
    * probes: no corpus-side join or shuffle, the shape that survives a
    * billion-entry blocklist where a semi-join would shuffle 100 TB.
    * Output per doc: the probabilistic verdict, the exact verdict, and the
    * false-positive flag (bloom guarantees no false NEGATIVES — pinned by
    * spec). The oracle replays the same md5 bit positions in SQL via the
    * position-set view of the bitmap (bit set ⟺ some entry hashes there). */
  val bloomExclusion = QueryDef(
    "bloom_exclusion",
    (s, dir) => {
      import graft.operators.Bloom
      val docs = t(s, dir, "documents")
      val blocked = docs.filter(col("source").isin("src13", "src7"))
        .select(md5(col("text")).as("fp")).distinct()
      val bitmap = Bloom.build(blocked, col("fp"), k = 3, mBits = 1024)
      Bloom.withMightContain(docs.withColumn("fp", md5(col("text"))),
          col("fp"), bitmap, "maybe_blocked", k = 3, mBits = 1024)
        .withColumn("exact_blocked", col("source").isin("src13", "src7"))
        .withColumn("false_positive",
          col("maybe_blocked") && !col("exact_blocked"))
        .select(col("doc_id"), col("maybe_blocked"), col("exact_blocked"),
          col("false_positive"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH block AS (SELECT DISTINCT md5(text) AS fp FROM documents
               WHERE source IN ('src13', 'src7')),
             setbits AS (SELECT DISTINCT
                 ('0x' || substr(md5(fp || ':' || j), 1, 15))::BIGINT % 1024 AS p
               FROM block, (VALUES (0), (1), (2)) t(j)),
             probes AS (SELECT doc_id, source,
                 ('0x' || substr(md5(md5(text) || ':' || j), 1, 15))::BIGINT
                   % 1024 AS p
               FROM documents, (VALUES (0), (1), (2)) t(j)),
             hits AS (SELECT doc_id, source,
                 bool_and(s.p IS NOT NULL) AS maybe_blocked
               FROM probes pr LEFT JOIN setbits s ON pr.p = s.p
               GROUP BY doc_id, source)
             SELECT doc_id, maybe_blocked,
               source IN ('src13', 'src7') AS exact_blocked,
               maybe_blocked AND source NOT IN ('src13', 'src7')
                 AS false_positive
             FROM hits ORDER BY doc_id"""))

  /** Join-key skew profile: per-key row counts folded into a power-of-two
    * histogram — the pre-flight a 100-TB join runs to decide whether it
    * needs `operators/Salting` or an AQE skew hint BEFORE the shuffle that
    * would discover the hot key the hard way. Two partial-aggregated
    * groupBys (key, then log2 bucket = binary-representation length —
    * integer-exact in both engines, no float log2); never a sort or a
    * driver-side key list. */
  val skewProfile = QueryDef(
    "skew_profile",
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
        .withColumn("bucket", length(bin(col("c"))))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("c")).as("rows_in_bucket"),
          max(col("c")).as("max_count"))
        .orderBy(col("bucket"))
    },
    Some("""WITH k AS (SELECT user_id, count(*) AS c FROM events
               GROUP BY user_id)
             SELECT length(format('{:b}', c)) AS bucket,
               count(*) AS n_keys, sum(c)::BIGINT AS rows_in_bucket,
               max(c) AS max_count
             FROM k GROUP BY 1 ORDER BY bucket"""))

  /** Salted skew join: the mitigation `skew_profile` exists to trigger.
    * `event_type` has a handful of values owning ~60k rows each — a plain
    * shuffle join on it serializes every hot key through one reducer.
    * [[graft.operators.Joins.saltedJoin]] splits each key across 32 salt
    * sub-partitions (probe side salted by xxhash64(event_id) — a per-row
    * id, never rand(), so the plan is deterministic; build side explodes
    * ×32) and joins on (key, salt) with a pinned sort-merge join, so the
    * hottest key sorts on 32 reducers instead of one. The salt never
    * escapes the operator: the oracle is the UNSALTED join — equality
    * proves the salt is pure plumbing. */
  val qSaltedJoin = QueryDef(
    "q_salted_join",
    (s, dir) => {
      import graft.operators.Joins
      val ev = Tables.events(s, dir)
      // build side keyed on the skewed column; weight is deterministic
      val dim = ev.select(col("event_type")).distinct()
        .withColumn("w", length(col("event_type")).cast("long"))
      Joins.saltedJoin(ev, dim, Seq("event_type"), col("event_id"), 32)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long") * col("w"))
            .as("weighted_cents"))
        .orderBy(col("event_type"))
    },
    Some("""WITH dim AS (SELECT DISTINCT event_type,
               CAST(length(event_type) AS BIGINT) AS w FROM events)
             SELECT e.event_type, count(*) AS n_events,
               CAST(sum(CAST(round(e.value * 100) AS BIGINT) * d.w)
                 AS BIGINT) AS weighted_cents
             FROM events e JOIN dim d ON e.event_type = d.event_type
             GROUP BY e.event_type ORDER BY e.event_type"""))

  /** Stream-stream interval join, oracle-checked END TO END: click-through
    * attribution (every click within 6 h of the same user's view) over two
    * file-source streams. Inner pairs emit as soon as both sides arrive;
    * the watermarked time-range condition lets the state store evict rows
    * the moment the watermark passes their last possible match — bounded
    * state at any rate. A second drain plants a LATE click (10 days behind
    * the watermark) on a real view: correct semantics DROP it at the gate,
    * and since the DuckDB oracle joins only the REAL events table, a
    * leaked late pair would break the hash — the batch join is a full
    * oracle for the streaming join + late-drop semantics. */
  val streamJoinQ = QueryDef(
    "stream_join",
    (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.StreamJoin
      val ev = Tables.events(s, dir)
        .select(col("ts"), col("event_type"), col("event_id"), col("user_id"))
      val (root, _) = stagedTopic(dir, "graft-sjoin", ev)
      val bounds = ev.agg(min(unix_millis(col("ts"))),
        max(unix_millis(col("ts")))).head()
      val (minTs, maxTs) = (bounds.getLong(0), bounds.getLong(1))

      def drainOnce(): Unit = {
        // join state is partitioned on user_id
        withStreamStatePartitions(s) {
          val src = s.readStream.schema(ev.schema).parquet(s"$root/in")
          val views = src.filter(col("event_type") === "view")
            .select(col("user_id"), col("event_id").as("view_id"),
              col("ts").as("view_ts"))
          val clicks = src.filter(col("event_type") === "click")
            .select(col("user_id"), col("event_id").as("click_id"),
              col("ts").as("click_ts"))
          val pairs = StreamJoin.intervalJoin(views, clicks, Seq("user_id"),
            "view_ts", "click_ts", windowMs = 6L * 3600 * 1000,
            delay = "1 hour")
          val q = pairs
            .select(col("user_id"), col("view_id"),
              unix_millis(col("view_ts")).as("view_ts_ms"), col("click_id"),
              unix_millis(col("click_ts")).as("click_ts_ms"))
            .writeStream.format("parquet")
            .option("path", s"$root/out").option("checkpointLocation", s"$root/cp")
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          require(q.awaitTermination(180000),
            "stream_join: stream did not drain within 180s")
        }
      }
      drainOnce()
      // the late plant: a click 10 days behind the run-1 watermark
      // (maxTs − 1 h), aimed at the earliest view's user — in a batch join
      // it WOULD pair; the streaming gate must drop it
      import s.implicits._
      val earlyUser = ev.filter(col("event_type") === "view")
        .orderBy(col("ts")).select(col("user_id")).head().getLong(0)
      Seq((minTs + 60000L, "click", -1L, earlyUser))
        .toDF("ts_ms", "event_type", "event_id", "user_id")
        .select(timestamp_millis(col("ts_ms")).as("ts"), col("event_type"),
          col("event_id"), col("user_id"))
        .write.mode("append").parquet(s"$root/in")
      drainOnce()
      s.read.parquet(s"$root/out")
        .orderBy(col("view_id"), col("click_id"))
    },
    Some("""SELECT v.user_id, v.event_id AS view_id,
              epoch_ms(v.ts) AS view_ts_ms,
              c.event_id AS click_id, epoch_ms(c.ts) AS click_ts_ms
            FROM events v JOIN events c ON v.user_id = c.user_id
              AND v.event_type = 'view' AND c.event_type = 'click'
              AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 6 HOUR
            ORDER BY view_id, click_id"""))

  /** Stream-stream LEFT OUTER interval join, oracle-checked end to end:
    * every view, attributed clicks where they exist, and NULL-click rows
    * for unconverted views — where the null verdict is only emitted when
    * the watermark passes the view's last possible match and its state
    * evicts (never a premature guess). Close-out uses one sentinel per
    * side (negative user ids that match nothing) to advance BOTH
    * watermarks past every real view's eviction bound; the DuckDB batch
    * LEFT JOIN over the real events is the full oracle — a missing or
    * duplicated null-row would break the hash. */
  val streamJoinOuterQ = QueryDef(
    "stream_join_outer",
    (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.StreamJoin
      val ev = Tables.events(s, dir)
        .select(col("ts"), col("event_type"), col("event_id"), col("user_id"))
      val (root, _) = stagedTopic(dir, "graft-sjoin", ev)
      val maxTs = ev.agg(max(unix_millis(col("ts")))).head().getLong(0)

      def drainOnce(): Unit = {
        withStreamStatePartitions(s) {
          val src = s.readStream.schema(ev.schema).parquet(s"$root/in")
          val views = src.filter(col("event_type") === "view")
            .select(col("user_id"), col("event_id").as("view_id"),
              col("ts").as("view_ts"))
          val clicks = src.filter(col("event_type") === "click")
            .select(col("user_id"), col("event_id").as("click_id"),
              col("ts").as("click_ts"))
          val pairs = StreamJoin.intervalJoin(views, clicks, Seq("user_id"),
            "view_ts", "click_ts", windowMs = 6L * 3600 * 1000,
            delay = "1 hour", joinType = "left_outer")
          val q = pairs
            .select(col("user_id"), col("view_id"),
              unix_millis(col("view_ts")).as("view_ts_ms"), col("click_id"),
              unix_millis(col("click_ts")).as("click_ts_ms"))
            .writeStream.format("parquet")
            .option("path", s"$root/out").option("checkpointLocation", s"$root/cp")
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          require(q.awaitTermination(180000),
            "stream_join_outer: stream did not drain within 180s")
        }
      }
      drainOnce()
      // close-out: one sentinel per SIDE (the watermark is the min across
      // both withWatermark nodes) 8h past max — beyond every real view's
      // view_ts + 6h window + 1h delay — so all left state evicts and the
      // final null verdicts emit; negative user ids match nothing
      import s.implicits._
      Seq((maxTs + 8 * 3600 * 1000L, "view", -1L, -1L),
        (maxTs + 8 * 3600 * 1000L, "click", -2L, -2L))
        .toDF("ts_ms", "event_type", "event_id", "user_id")
        .select(timestamp_millis(col("ts_ms")).as("ts"), col("event_type"),
          col("event_id"), col("user_id"))
        .write.mode("append").parquet(s"$root/in")
      drainOnce()
      s.read.parquet(s"$root/out")
        .filter(col("user_id") >= 0) // drop the sentinel view's own row
        .orderBy(col("view_id"), col("click_id"))
    },
    Some("""SELECT v.user_id, v.event_id AS view_id,
              epoch_ms(v.ts) AS view_ts_ms,
              c.event_id AS click_id, epoch_ms(c.ts) AS click_ts_ms
            FROM (SELECT * FROM events WHERE event_type = 'view') v
            LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON v.user_id = c.user_id
              AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 6 HOUR
            ORDER BY view_id, click_id"""))

  /** Per-language quality-decile binning — "drop the bottom decile per
    * language" without the global-sort ntile trap: decile BOUNDARIES come
    * from the exact distributed percentile histogram (keyed by lang, so
    * every window is cardinality-bounded; a bare ntile(10) would funnel
    * the corpus through ONE partition), then each doc's bin is a narrow
    * comparison against the 9 broadcast boundaries. Quality compares in
    * exact integer micro-units; a doc equal to a boundary belongs to that
    * decile (qm > b strictly counts). */
  val qualityDeciles = QueryDef(
    "quality_deciles",
    (s, dir) => {
      import graft.operators.Percentiles
      val sig = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          round(TextOps.qualityScore(col("text")) * 1e6).cast("long").as("qm"))
      val bounds = Percentiles.disc(sig, Seq("lang"), col("qm"),
        (10 to 90 by 10).toSeq).drop("n_rows")
      val decile = (10 to 90 by 10)
        .map(p => when(col("qm") > col(s"p$p"), 1).otherwise(0))
        .reduce(_ + _) + lit(1)
      sig.join(broadcast(bounds), "lang")
        .withColumn("decile", decile)
        .select(col("doc_id"), col("lang"), col("qm"), col("decile"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH base AS (SELECT doc_id, lang, text, $tokensSql AS toks
               FROM documents),
             sig AS (SELECT doc_id, lang,
                 round(round((least(length(text), 500)::DOUBLE / 500.0
                   + least(len(list_filter(toks, t -> list_contains(
                       ['the','and','of','to','is','in','that','it','for','with'],
                       t)))::DOUBLE * 5.0 / greatest(len(toks), 1), 1.0)
                   + len(list_filter(toks, t -> length(t) >= 4))::DOUBLE
                     / greatest(len(toks), 1)) / 3.0, 6) * 1000000)::BIGINT
                   AS qm
               FROM base),
             b AS (SELECT lang,
                 ${(10 to 90 by 10).map(p =>
                   s"quantile_disc(qm, 0.$p) AS p$p").mkString(", ")}
               FROM sig GROUP BY lang)
             SELECT doc_id, sig.lang AS lang, qm,
               1 + ${(10 to 90 by 10).map(p =>
                 s"(CASE WHEN qm > p$p THEN 1 ELSE 0 END)").mkString(" + ")}
                 AS decile
             FROM sig JOIN b ON sig.lang = b.lang
             ORDER BY doc_id"""))

  /** Preference-pair construction for reward-model / DPO training data:
    * within each language, pair the i-th best-quality document with the
    * i-th worst (k ≤ 10 pairs per group) and carry the quality margin.
    *
    * Scale shape: candidates are PRE-FILTERED to the extreme deciles by a
    * broadcast quantile-bounds join (the quality_deciles mechanics), so
    * the per-group rank windows sort ~20% of each group, never the full
    * corpus partition — the mitigation for the one-giant-lang skew a
    * 100 TB corpus has. Margins are integer micro-units (cross-engine
    * exact); ties break on doc_id so both engines rank identically. */
  val preferencePairs = QueryDef(
    "preference_pairs",
    (s, dir) => {
      import graft.operators.Percentiles
      val sig = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          round(TextOps.qualityScore(col("text")) * 1e6).cast("long").as("qm"))
      val bounds = Percentiles.disc(sig, Seq("lang"), col("qm"),
        Seq(10, 90)).drop("n_rows")
      val cand = sig.join(broadcast(bounds), "lang")
        .filter(col("qm") >= col("p90") || col("qm") <= col("p10"))
      val wUp = Window.partitionBy(col("lang"))
        .orderBy(col("qm").desc, col("doc_id").asc)
      val wDn = Window.partitionBy(col("lang"))
        .orderBy(col("qm").asc, col("doc_id").desc)
      val best = cand.filter(col("qm") >= col("p90"))
        .select(col("lang"), col("doc_id").as("chosen_id"),
          col("qm").as("chosen_qm"), row_number().over(wUp).as("i"))
      val worst = cand.filter(col("qm") <= col("p10"))
        .select(col("lang"), col("doc_id").as("rejected_id"),
          col("qm").as("rejected_qm"), row_number().over(wDn).as("i"))
      best.join(worst, Seq("lang", "i"))
        .filter(col("i") <= 10 && col("chosen_qm") > col("rejected_qm"))
        .select(col("lang"), col("i"), col("chosen_id"), col("rejected_id"),
          (col("chosen_qm") - col("rejected_qm")).as("margin"))
        .orderBy(col("lang"), col("i"))
    },
    Some(s"""WITH base AS (SELECT doc_id, lang, text, $tokensSql AS toks
               FROM documents),
             sig AS (SELECT doc_id, lang,
                 round(round((least(length(text), 500)::DOUBLE / 500.0
                   + least(len(list_filter(toks, t -> list_contains(
                       ['the','and','of','to','is','in','that','it','for','with'],
                       t)))::DOUBLE * 5.0 / greatest(len(toks), 1), 1.0)
                   + len(list_filter(toks, t -> length(t) >= 4))::DOUBLE
                     / greatest(len(toks), 1)) / 3.0, 6) * 1000000)::BIGINT
                   AS qm
               FROM base),
             b AS (SELECT lang, quantile_disc(qm, 0.1) AS p10,
                 quantile_disc(qm, 0.9) AS p90
               FROM sig GROUP BY lang),
             cand AS (SELECT sig.*, p10, p90 FROM sig JOIN b USING (lang)
               WHERE qm >= p90 OR qm <= p10),
             best AS (SELECT lang, doc_id AS chosen_id, qm AS chosen_qm,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY qm DESC, doc_id ASC) AS i
               FROM cand WHERE qm >= p90),
             worst AS (SELECT lang, doc_id AS rejected_id, qm AS rejected_qm,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY qm ASC, doc_id DESC) AS i
               FROM cand WHERE qm <= p10)
             SELECT lang, i, chosen_id, rejected_id,
               chosen_qm - rejected_qm AS margin
             FROM best JOIN worst USING (lang, i)
             WHERE i <= 10 AND chosen_qm > rejected_qm
             ORDER BY lang, i"""))

  /** B15 compliance purge, audited PHYSICALLY: tombstone a key set, fold
    * it through a repush, vacuum retired versions + applied logs, and
    * rebuild+vacuum the store's views — then walk every parquet file left
    * under BOTH stores and count surviving purged-key rows (must be 0: a
    * tombstone only hides; purge must leave no bytes). The serving output
    * proves non-purged keys kept their pre-purge updates through the fold.
    * Venice semantics: DELETE + version compaction + backup-version
    * cleanup (StoreBackupVersionCleanupService.java — semantics, not
    * code). */
  val b15Purge = QueryDef(
    "b15_purge",
    (s, dir) => {
      val e = tempEngine(s, "graft-b15")
      e.createStore("c", Seq("c_custkey"))
      val cust = t(s, dir, "customer").filter(col("c_custkey") <= 1000)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      e.push("c", cust, numBuckets = 4)
      e.materializedView("c", "bym", Seq("c_mktsegment", "c_custkey"),
        numBuckets = 4)
      e.put("c", cust.filter(col("c_custkey") <= 100)
        .withColumn("c_name", concat(col("c_name"), lit("_U1"))), tsMs = 1000L)
      e.refreshView("bym") // the U1 updates flow into the view pre-purge
      e.purge("c", cust.filter(pmod(col("c_custkey"), lit(10)) === 0)
        .select("c_custkey"), tsMs = 5000L)
      // physical audit: EVERY remaining parquet row in either store dir
      // whose c_custkey is a purged key
      def physPurged(store: String): Long = {
        val dirs = Option(new java.io.File(s"${e.root}/$store").listFiles())
          .getOrElse(Array.empty)
          .filter(f => f.isDirectory && (f.getName.startsWith("v=") ||
            f.getName.startsWith("log") || f.getName.startsWith("updates") ||
            f.getName.startsWith("aa_log")))
        dirs.map(d => s.read.option("mergeSchema", "true")
          .parquet(d.toString)
          .filter(pmod(col("c_custkey"), lit(10)) === 0).count()).sum
      }
      def versionDirs(store: String): Long =
        Option(new java.io.File(s"${e.root}/$store").listFiles())
          .getOrElse(Array.empty)
          .count(f => f.isDirectory && f.getName.startsWith("v=")).toLong
      e.servingView("c").filter(col("c_custkey") <= 50)
        .withColumn("phys_purged_rows", lit(physPurged("c") + physPurged("bym")))
        .withColumn("version_dirs", lit(versionDirs("c") + versionDirs("bym")))
        .withColumn("view_purged_rows", lit(e.servingView("bym")
          .filter(pmod(col("c_custkey"), lit(10)) === 0).count()))
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("phys_purged_rows"), col("version_dirs"), col("view_purged_rows"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name || '_U1' AS c_name, c_mktsegment,
              CAST(0 AS BIGINT) AS phys_purged_rows,
              CAST(2 AS BIGINT) AS version_dirs,
              CAST(0 AS BIGINT) AS view_purged_rows
            FROM customer
            WHERE c_custkey <= 50 AND c_custkey % 10 <> 0
            ORDER BY c_custkey"""))

  /** Curriculum interleave: a global training order that round-robins the
    * sources — position 0..S−1 are every source's rank-1 docs, then every
    * rank-2, ... — so a sequential reader sees a balanced mix from the
    * first batch onward instead of whole sources back to back. Within-
    * source order is a seeded md5 shuffle (keyed window — bounded);
    * the DENSE global position comes from the two-phase distributed
    * prefix sum over the unique (rank, source-index) key, NEVER a global
    * row_number through one partition. */
  val curriculumInterleave = QueryDef(
    "curriculum_interleave",
    (s, dir) => {
      import graft.operators.Packing
      val shuffleKey = concat(
        md5(concat_ws("-", lit("7"), col("doc_id").cast("string"))),
        lit("-"), col("doc_id").cast("string"))
      val w = Window.partitionBy(col("source")).orderBy(col("__shuf"))
      val ranked = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          substring(col("source"), 4, 10).cast("int").as("si"),
          shuffleKey.as("__shuf"))
        .withColumn("rk", row_number().over(w))
        .withColumn("__ord", concat(
          lpad(col("rk").cast("string"), 10, "0"), lit("-"),
          lpad(col("si").cast("string"), 3, "0")))
        .withColumn("__one", lit(1L))
      Packing.withGlobalOffsets(ranked, "__ord", "__one")
        .select(col("doc_id"), col("source"), col("rk"),
          col("start_offset").as("position"))
        .orderBy(col("position"))
    },
    Some("""WITH r AS (SELECT doc_id, source,
                 CAST(substr(source, 4) AS INT) AS si,
                 row_number() OVER (PARTITION BY source
                   ORDER BY md5('7-' || doc_id) || '-' || doc_id) AS rk
               FROM documents)
             SELECT doc_id, source, rk,
               row_number() OVER (ORDER BY lpad(rk::VARCHAR, 10, '0') || '-'
                 || lpad(si::VARCHAR, 3, '0')) - 1 AS position
             FROM r ORDER BY position"""))

  /** Time-travel store read: the serving view as of three instants across
    * an update/delete/re-put history — version dirs are immutable and log
    * entries are timestamped, so an as-of read is the pinned snapshot plus
    * the log filtered to `ts ≤ asOf` (Venice's rewind/seek semantics as a
    * READ primitive; free, no copy). Each instant shows a different world:
    * before the deletes, after them, and after a deleted key range is
    * partially resurrected by a later put. */
  val r16AsofRead = QueryDef(
    "r16_asof_read",
    (s, dir) => {
      val e = tempEngine(s, "graft-r16")
      e.createStore("c", Seq("c_custkey"))
      val cust = t(s, dir, "customer").filter(col("c_custkey") <= 1000)
        .select(col("c_custkey"), col("c_name"))
      e.push("c", cust, numBuckets = 4)
      e.put("c", cust.filter(col("c_custkey") <= 100)
        .withColumn("c_name", concat(col("c_name"), lit("_U1"))), tsMs = 1000L)
      e.delete("c", cust.filter(col("c_custkey").between(101, 200))
        .select("c_custkey"), tsMs = 2000L)
      e.put("c", cust.filter(col("c_custkey").between(101, 150))
        .withColumn("c_name", concat(col("c_name"), lit("_U3"))), tsMs = 3000L)
      def read(ts: Long, tag: String) =
        e.servingViewAsOf("c", ts).withColumn("as_of", lit(tag))
      read(1500L, "t1500")
        .unionByName(read(2500L, "t2500"))
        .unionByName(read(3500L, "t3500"))
        .select(col("as_of"), col("c_custkey"), col("c_name"))
        .orderBy(col("as_of"), col("c_custkey"))
    },
    Some("""WITH c AS (SELECT c_custkey, c_name FROM customer
               WHERE c_custkey <= 1000)
             SELECT 't1500' AS as_of, c_custkey,
               CASE WHEN c_custkey <= 100 THEN c_name || '_U1'
                    ELSE c_name END AS c_name
             FROM c
             UNION ALL
             SELECT 't2500', c_custkey,
               CASE WHEN c_custkey <= 100 THEN c_name || '_U1'
                    ELSE c_name END
             FROM c WHERE c_custkey NOT BETWEEN 101 AND 200
             UNION ALL
             SELECT 't3500', c_custkey,
               CASE WHEN c_custkey <= 100 THEN c_name || '_U1'
                    WHEN c_custkey BETWEEN 101 AND 150 THEN c_name || '_U3'
                    ELSE c_name END
             FROM c WHERE c_custkey NOT BETWEEN 151 AND 200
             ORDER BY as_of, c_custkey"""))

  /** Backup-version rollback / roll-forward (reference: VeniceHelixAdmin
    * `rollbackToBackupVersion` / `rollForwardToFutureVersion` — admin flips
    * the serving version pointer; RT data still overlays whichever version
    * serves). Phases: read v2, roll back to v1, read again, roll forward,
    * read again — the RT put (issued after the v2 push) survives all three
    * because the log overlay is version-independent, exactly the hybrid-
    * store re-consume behavior. Pointer flips are O(1) driver-side moves;
    * each read is the usual bucket-pruned snapshot + small log merge. */
  val r17Rollback = QueryDef(
    "r17_rollback",
    (s, dir) => {
      val e = tempEngine(s, "graft-r17")
      e.createStore("p", Seq("p_partkey"))
      val v1 = t(s, dir, "part").filter(col("p_partkey") <= 400)
        .select(col("p_partkey"), col("p_name"),
          round(col("p_retailprice") * 100).cast("long").as("cents"))
      e.push("p", v1, numBuckets = 4)
      e.push("p", v1.filter(col("p_partkey") <= 350)
        .withColumn("cents", col("cents") + 111), numBuckets = 4)
      e.put("p", v1.filter(col("p_partkey") <= 50)
        .withColumn("p_name", concat(col("p_name"), lit("_RT")))
        .withColumn("cents", col("cents") + 5000), tsMs = 1000L)
      def read(tag: String) = e.servingView("p").withColumn("phase", lit(tag))
      val a = read("a_v2")
      val b = { e.rollback("p"); read("b_rollback") }
      val c = { e.rollForward("p"); read("c_rollforward") }
      a.unionByName(b).unionByName(c)
        .select(col("phase"), col("p_partkey"), col("p_name"), col("cents"))
        .orderBy(col("phase"), col("p_partkey"))
    },
    Some("""WITH v1 AS (SELECT p_partkey, p_name,
                 CAST(round(p_retailprice * 100) AS BIGINT) AS cents
               FROM part WHERE p_partkey <= 400)
            SELECT 'a_v2' AS phase, p_partkey,
              CASE WHEN p_partkey <= 50 THEN p_name || '_RT' ELSE p_name END AS p_name,
              CASE WHEN p_partkey <= 50 THEN cents + 5000 ELSE cents + 111 END AS cents
            FROM v1 WHERE p_partkey <= 350
            UNION ALL
            SELECT 'b_rollback', p_partkey,
              CASE WHEN p_partkey <= 50 THEN p_name || '_RT' ELSE p_name END,
              CASE WHEN p_partkey <= 50 THEN cents + 5000 ELSE cents END
            FROM v1
            UNION ALL
            SELECT 'c_rollforward', p_partkey,
              CASE WHEN p_partkey <= 50 THEN p_name || '_RT' ELSE p_name END,
              CASE WHEN p_partkey <= 50 THEN cents + 5000 ELSE cents + 111 END
            FROM v1 WHERE p_partkey <= 350
            ORDER BY phase, p_partkey"""))

  /** Push-to-push DIFF AUDIT ([[graft.core.GraftEngine.versionDiff]] —
    * reference analog: the admin store-comparison surface,
    * `Admin.compareStore`/`StoreComparisonInfo`, here at data level
    * between two retained version snapshots): what did this push add,
    * remove, change — the pre-swap data-quality gate a 100 TB store wants
    * before pointing traffic at a new version. Output is bounded by the
    * DELTA (unchanged keys never emitted); per-field change detection is
    * columnar null-safe compares feeding one full-outer sort-merge join on
    * the store key. The RT overlay is version-independent and cancels out
    * of a push-vs-push comparison, so the put issued between the pushes
    * must NOT appear in the diff (pinned: key 1 stays `removed`-only by
    * the v2 cut, not resurrected by its RT put). */
  val versionDiffQ = QueryDef(
    "version_diff",
    (s, dir) => {
      val e = tempEngine(s, "graft-vdiff")
      e.createStore("p", Seq("p_partkey"))
      val base = t(s, dir, "part")
        .select(col("p_partkey"), col("p_name"),
          round(col("p_retailprice") * 100).cast("long").as("cents"))
      e.push("p", base.filter(col("p_partkey") <= 400), numBuckets = 4)
      // RT put between pushes: version-independent overlay, must cancel out
      e.put("p", base.filter(col("p_partkey") <= 10)
        .withColumn("p_name", concat(col("p_name"), lit("_RT"))), tsMs = 500L)
      val v2 = base.filter(col("p_partkey").between(51, 450))
        .withColumn("cents", when(col("p_partkey").between(51, 200),
          col("cents") + 111).otherwise(col("cents")))
        .withColumn("p_name", when(col("p_partkey").between(101, 250),
          concat(col("p_name"), lit("_R"))).otherwise(col("p_name")))
      e.push("p", v2, numBuckets = 4)
      e.versionDiff("p", 1, 2).orderBy(col("p_partkey"))
    },
    Some("""WITH v1 AS (SELECT p_partkey FROM part WHERE p_partkey <= 400)
            SELECT p_partkey, 'removed' AS status,
              NULL::VARCHAR AS changed_fields
            FROM v1 WHERE p_partkey <= 50
            UNION ALL
            SELECT p_partkey, 'changed',
              CASE WHEN p_partkey BETWEEN 51 AND 100 THEN 'cents'
                   WHEN p_partkey BETWEEN 101 AND 200 THEN 'cents,p_name'
                   ELSE 'p_name' END
            FROM v1 WHERE p_partkey BETWEEN 51 AND 250
            UNION ALL
            SELECT p_partkey, 'added', NULL
            FROM part WHERE p_partkey BETWEEN 401 AND 450
            ORDER BY p_partkey"""))

  /** DaVinci partial-key lookup over a composite-key store (reference:
    * DaVinciPartialKeyLookupBenchmark's `equalTo` on the leading key
    * field). Store keyed by (o_custkey, o_orderkey); lookups for three
    * customers run after an RT put so the log overlay participates. The
    * leading-key predicate pushes into the snapshot scan. */
  val r18PartialKey = QueryDef(
    "r18_partial_key",
    (s, dir) => {
      val e = tempEngine(s, "graft-r18")
      e.createStore("ord", Seq("o_custkey", "o_orderkey"))
      val ord = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long").as("total_cents"))
      e.push("ord", ord, numBuckets = 8)
      // RT overwrite for one of the probed customers: status flips
      e.put("ord", ord.filter(col("o_custkey") === 7L)
        .withColumn("o_orderstatus", lit("X")), tsMs = 1000L)
      Seq(7L, 11L, 13L)
        .map(ck => e.partialKeyGet("ord", Map("o_custkey" -> ck)))
        .reduce(_ unionByName _)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
          col("total_cents"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey,
              CASE WHEN o_custkey = 7 THEN 'X' ELSE o_orderstatus END
                AS o_orderstatus,
              CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
            FROM orders WHERE o_custkey IN (7, 11, 13)
            ORDER BY o_custkey, o_orderkey"""))

  /** Partition-count migration (`rebucket`): a store pushed at 4 md5-mod
    * buckets grows, so it is rewritten at 8 via a full repush — the Venice
    * move (partition count is store config applied at version creation;
    * changing it requires a full push — VeniceHelixAdmin semantics, not
    * code). Pending RT puts and deletes fold in during the migration, so
    * the per-bucket audit at the NEW layout reflects post-overlay content:
    * a lost row, a resurrected delete, or a bucket id computed at the old
    * count would all break the hash. Scale shape: the migration is one
    * shuffle at the new bucket count; reads before/after stay pruned. */
  val r19Rebucket = QueryDef(
    "r19_rebucket",
    (s, dir) => {
      val e = tempEngine(s, "graft-r19")
      e.createStore("c", Seq("c_custkey"))
      val base = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      e.push("c", base, numBuckets = 4)
      e.put("c", base.filter(col("c_custkey") <= 100)
        .withColumn("c_name", concat(col("c_name"), lit("_RT"))), tsMs = 1000L)
      e.delete("c", base.filter(col("c_custkey").between(101, 120))
        .select(col("c_custkey")), tsMs = 2000L)
      e.rebucket("c", 8)
      e.servingView("c")
        .select(HashOps.partitionId(col("c_custkey"), 8).as("bucket"),
          col("c_custkey"), col("c_name"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_custkey")).cast("long").as("key_sum"),
          sum(octet_length(col("c_name"))).cast("long").as("name_bytes"))
        .orderBy(col("bucket"))
    },
    Some("""WITH base AS (
              SELECT c_custkey,
                CASE WHEN c_custkey <= 100 THEN c_name || '_RT'
                     ELSE c_name END AS c_name
              FROM customer WHERE c_custkey NOT BETWEEN 101 AND 120)
            SELECT (('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT % 8)::INT
                AS bucket,
              count(*) AS n,
              CAST(sum(c_custkey) AS BIGINT) AS key_sum,
              CAST(sum(strlen(c_name)) AS BIGINT) AS name_bytes
            FROM base GROUP BY 1 ORDER BY bucket"""))

  /** R20 DaVinci embedded-client read (reference intent:
    * clients/da-vinci-client/.../DaVinciClient.java — the store
    * materialized inside the reader's process, point reads served from
    * the local replica with no remote call; semantics, not code). A store
    * pushed from `nation`, an RT overlay put AFTER the client subscribed
    * — the client must observe staleness via the change coordinate,
    * refresh, and then serve all 25 keys from in-process memory (zero
    * Spark jobs on the read path; [[graft.core.DaVinciClient]], throughput
    * pinned at 1.6M ops/sec by StressCheck `davinci`). The result frame is
    * assembled driver-side from the client's rows — that is the point —
    * and handed back to Spark only for the oracle compare. */
  val r20Davinci = QueryDef(
    "r20_davinci",
    (s, dir) => {
      val e = tempEngine(s, "graft-r20")
      e.createStore("n", Seq("n_nationkey"))
      val nat = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      e.push("n", nat, numBuckets = 4)
      val dv = e.daVinci("n")
      e.put("n", nat.filter(col("n_nationkey") < 5)
        .withColumn("n_name", lit("OVERLAY")), tsMs = 1000L)
      require(!dv.isFresh, "coordinate must move on put")
      require(dv.refresh(), "refresh must re-materialize")
      val keys = nat.select("n_nationkey").collect().map(_.get(0))
      val rows = keys.toSeq.flatMap(k => dv.get(Seq(k)))
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.asJava, rows.head.schema)
        .orderBy(col("n_nationkey"))
    },
    Some("""SELECT n_nationkey,
              CASE WHEN n_nationkey < 5 THEN 'OVERLAY' ELSE n_name END
                AS n_name
            FROM nation ORDER BY n_nationkey"""))

  /** Cross-region data recovery (reference: Venice admin data recovery —
    * DataRecoveryManager copies a store's data from a healthy source
    * fabric to bootstrap a broken target; semantics, not code). Region A
    * serves a store with a live RT overlay (rename + tombstone pending);
    * region B recovers the store tree byte-for-byte — version dirs, logs,
    * config — then proves the replica is LIVE by taking a local put on
    * top. A lost log row, a resurrected tombstone, or a stale CURRENT
    * pointer would all break the hash. */
  val b17Recovery = QueryDef(
    "b17_data_recovery",
    (s, dir) => {
      val a = tempEngine(s, "graft-b17a")
      val b = tempEngine(s, "graft-b17b")
      a.createStore("sup", Seq("s_suppkey"))
      val base = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
      a.push("sup", base, numBuckets = 4)
      a.put("sup", base.filter(col("s_suppkey") <= 5)
        .withColumn("s_name", concat(col("s_name"), lit("_A"))), tsMs = 100L)
      a.delete("sup", base.filter(col("s_suppkey") === 6)
        .select(col("s_suppkey")), tsMs = 200L)
      b.recoverStoreFrom(a.root, "sup")
      b.put("sup", base.filter(col("s_suppkey") === 7)
        .withColumn("s_name", lit("LOCAL")), tsMs = 300L)
      b.servingView("sup")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
        .orderBy(col("s_suppkey"))
    },
    Some("""SELECT s_suppkey,
              CASE WHEN s_suppkey = 7 THEN 'LOCAL'
                   WHEN s_suppkey <= 5 THEN s_name || '_A'
                   ELSE s_name END AS s_name,
              s_nationkey
            FROM supplier WHERE s_suppkey <> 6
            ORDER BY s_suppkey"""))

  /** STORE MIGRATION between engine roots ([[graft.core.GraftEngine
    * .migrateStore]] / [[graft.core.GraftEngine.endMigration]] — reference
    * semantics, not code: VeniceHelixAdmin.migrateStore:1789 +
    * StoreMigrationTask's clone → verify → explicit end-migration
    * contract). Phase 1 clones config/schemas/every version/log overlay
    * into the destination cluster and VERIFIES parity (count + order-
    * independent per-row xxhash64 sum over the resolved serving view —
    * one aggregate pass per side, rollback-on-mismatch). The source keeps
    * serving untouched until the explicit [[graft.core.GraftEngine
    * .endMigration]]. Pinned here: the RT overlay survives the move, a
    * post-migration write lands on the DESTINATION only, and retiring the
    * source doesn't disturb it. */
  val b22StoreMigration = QueryDef(
    "b22_store_migration",
    (s, dir) => {
      val a = tempEngine(s, "graft-b22a")
      val b = tempEngine(s, "graft-b22b")
      a.createStore("cust", Seq("c_custkey"))
      val base = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal") * 100).cast("long").as("cents"))
      a.push("cust", base, numBuckets = 8)
      a.put("cust", base.filter(col("c_custkey") <= 100)
        .withColumn("c_name", concat(col("c_name"), lit("_M"))), tsMs = 1000L)
      a.migrateStore("cust", b)
      // cutover: writes continue on the destination; source retired after
      b.put("cust", base.filter(col("c_custkey") === 1L)
        .withColumn("cents", col("cents") + 7), tsMs = 2000L)
      a.endMigration("cust")
      b.servingView("cust")
        .select(col("c_custkey"), col("c_name"), col("cents"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey,
              -- key 1's later FULL-ROW put (LWW) overwrites the _M rename
              CASE WHEN c_custkey = 1 THEN c_name
                   WHEN c_custkey <= 100 THEN c_name || '_M'
                   ELSE c_name END AS c_name,
              CAST(round(c_acctbal * 100) AS BIGINT)
                + CASE WHEN c_custkey = 1 THEN 7 ELSE 0 END AS cents
            FROM customer ORDER BY c_custkey"""))

  /** Streaming ingest → CDC → incremental AGGREGATE view, end to end: the
    * nearline analytics chain (Venice: RT writes → changelog consumer →
    * downstream aggregate). A store takes its initial batch push, an
    * aggregate view materializes per-event-type (count, cents); then a
    * file stream ingests the remaining events and ONE refresh applies the
    * changelog delta — retracting each changed user's old contribution via
    * the key-level twin, adding the new one, touching only affected
    * groups. The oracle recomputes the final aggregate from scratch: a
    * double-counted retraction, a missed group move, or a stale twin all
    * break the hash. Refresh cost scales with the delta, never the view —
    * the shape that survives a 100-TB store with a 0.1% daily delta. */
  val s10StreamAggView = QueryDef(
    "s10_stream_agg_view",
    (s, dir) => {
      import graft.streaming.StreamIngest
      val e = tempEngine(s, "graft-s10")
      e.createStore("ev", Seq("user_id"))
      val evAll = Tables.events(s, dir).filter(col("user_id") < 200)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      e.push("ev", graft.operators.Compaction.latestPerKey(
        evAll.filter(col("event_id") % 10 < 5), Seq("user_id"),
        Seq(col("event_id"))), numBuckets = 4)
      e.aggregateView("ev", "by_type", Seq("event_type"),
        Seq("cents" -> "round(value * 100)"), numBuckets = 4)
      val streamIn = s"${e.root}/in"
      evAll.filter(col("event_id") % 10 >= 5).write.parquet(streamIn)
      val stream = s.readStream.schema(evAll.schema).parquet(streamIn)
        .withColumn(StreamIngest.EventTsCol, col("event_id"))
      val q = StreamIngest.ingest(e, "ev", stream,
        checkpoint = s"${e.root}/cp")
      require(q.awaitTermination(180000),
        "s10_stream_agg_view: stream did not drain within 180s")
      e.refreshAggView("by_type")
      e.servingView("by_type")
        .select(col("event_type"), col("n"), col("cents"))
        .orderBy(col("event_type"))
    },
    Some("""WITH final AS (
              SELECT user_id, event_type, value FROM (
                SELECT user_id, event_type, value,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY src DESC, event_id DESC) AS rn
                FROM (
                  SELECT user_id, event_id, event_type, value, 1 AS src
                  FROM events WHERE user_id < 200 AND event_id % 10 >= 5
                  UNION ALL
                  SELECT user_id, event_id, event_type, value, 0 AS src
                  FROM events WHERE user_id < 200 AND event_id % 10 < 5
                  QUALIFY row_number() OVER (PARTITION BY user_id
                    ORDER BY event_id DESC) = 1))
              WHERE rn = 1)
            SELECT event_type, count(*) AS n,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM final GROUP BY 1 ORDER BY event_type"""))

  /** Embedding-dimension truncation eval (Matryoshka-style): how much
    * top-10 recall survives when the ANN index keeps only the first 16 of
    * 64 dimensions (a 4× memory/compute cut every large-scale vector
    * pipeline weighs)? Exact top-10 at full width vs at the truncated
    * width, per-query overlap + top-1s. Both rankings are brute-force
    * exact (queries broadcast, corpus scanned once each); the truncation
    * is a narrow `slice`, so the comparison isolates the representation,
    * not the index. */
  val annDimTruncation = QueryDef(
    "ann_dim_truncation",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val full = graft.operators.Similarity.bruteForceTopK(corpus, queries, 10)
      val trunc = graft.operators.Similarity.bruteForceTopK(
        corpus.withColumn("vec", slice(col("vec"), 1, 16)),
        queries.withColumn("qvec", slice(col("qvec"), 1, 16)), 10)
      val ov = full.select(col("qid"), col("id"))
        .join(trunc.select(col("qid"), col("id")), Seq("qid", "id"))
        .groupBy(col("qid")).agg(count(lit(1)).as("overlap10"))
      full.filter(col("rank") === 1)
        .select(col("qid"), col("id").as("full_top1"))
        .join(trunc.filter(col("rank") === 1)
          .select(col("qid"), col("id").as("trunc_top1")), Seq("qid"))
        .join(ov, Seq("qid"), "left")
        .select(col("qid"), col("full_top1"), col("trunc_top1"),
          coalesce(col("overlap10"), lit(0L)).as("overlap10"))
        .orderBy(col("qid"))
    },
    Some("""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id < 8),
            c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
              FROM embeddings),
            fulltop AS (SELECT qid, id, rank FROM (
              SELECT q.qid, c.id, row_number() OVER (PARTITION BY q.qid
                ORDER BY round(list_dot_product(c.v, q.qv) /
                  (sqrt(list_dot_product(c.v, c.v)) *
                   sqrt(list_dot_product(q.qv, q.qv))), 6) + 0.0 DESC, c.id)
                AS rank
              FROM c, q WHERE c.id <> q.qid) WHERE rank <= 10),
            trtop AS (SELECT qid, id, rank FROM (
              SELECT q.qid, c.id, row_number() OVER (PARTITION BY q.qid
                ORDER BY round(list_dot_product(c.v[1:16], q.qv[1:16]) /
                  (sqrt(list_dot_product(c.v[1:16], c.v[1:16])) *
                   sqrt(list_dot_product(q.qv[1:16], q.qv[1:16]))), 6) + 0.0
                  DESC, c.id) AS rank
              FROM c, q WHERE c.id <> q.qid) WHERE rank <= 10)
            SELECT f1.qid, f1.id AS full_top1, t1.id AS trunc_top1,
              coalesce(ov.overlap10, 0) AS overlap10
            FROM (SELECT qid, id FROM fulltop WHERE rank = 1) f1
            JOIN (SELECT qid, id FROM trtop WHERE rank = 1) t1 USING (qid)
            LEFT JOIN (SELECT qid, count(*) AS overlap10
              FROM fulltop JOIN trtop USING (qid, id) GROUP BY qid) ov
              USING (qid)
            ORDER BY qid"""))

  /** Multimodal pairing audit: before contrastive text↔embedding training,
    * every document needs its vector (and orphaned vectors waste index
    * space). One equi-join on the shared id + per-source coverage in
    * integer ppm — the completeness gate a multimodal dataset release
    * runs. Scale shape: a single shuffle equi-join of two big tables on
    * their key, partial-aggregated counts. */
  val mmPairAudit = QueryDef(
    "mm_pair_audit",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val emb = t(s, dir, "embeddings").select(col("vec_id"))
      docs.join(emb, col("doc_id") === col("vec_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), count(col("vec_id")).as("n_paired"))
        .select(col("source"), col("n_docs"), col("n_paired"),
          (col("n_docs") - col("n_paired")).as("n_missing"),
          expr("n_paired * 1000000 div n_docs").as("paired_ppm"))
        .orderBy(col("source"))
    },
    Some("""SELECT source, count(*) AS n_docs, count(vec_id) AS n_paired,
              count(*) - count(vec_id) AS n_missing,
              count(vec_id) * 1000000 // count(*) AS paired_ppm
            FROM documents LEFT JOIN embeddings ON doc_id = vec_id
            GROUP BY 1 ORDER BY source"""))

  /** The preprocessing DAG composed end to end — quality filter → exact
    * dedup (min-id keeper) → deterministic split assignment → per
    * (split, lang) corpus accounting — in ONE plan, the way a real
    * pipeline chains these operators (each stage is also oracled
    * standalone: corpus_filter, dedup_exact, split_assign, mix_report).
    * Composition is where stage-boundary bugs live (a filter applied
    * after dedup instead of before changes which copy survives), so the
    * oracle replays the exact stage ORDER too. Scale shape: narrow
    * filters → one fingerprint shuffle (partial-agged min + semi-join)
    * → stateless split → one partial-agged groupBy. */
  val pipelineE2e = QueryDef(
    "pipeline_e2e",
    (s, dir) => {
      val toks = TextOps.tokens(col("text"))
      val kept = t(s, dir, "documents")
        .withColumn("__n_tok", size(toks))
        .filter(!col("source").isin("src13", "src7") &&
          col("__n_tok") >= 20 && col("lang").isin("en", "de", "zh") &&
          TextOps.qualityScore(col("text")) >= 0.35)
        .withColumn("__fp", TextOps.fingerprint(col("text")))
      val keepIds = kept.groupBy(col("__fp"))
        .agg(min(col("doc_id")).as("doc_id"))
      kept.join(keepIds, Seq("__fp", "doc_id"), "left_semi")
        .withColumn("split", TextOps.splitAssign(col("doc_id")))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__n_tok").cast("long")).as("total_tokens"))
        .orderBy(col("split"), col("lang"))
    },
    Some(s"""WITH base AS (SELECT doc_id, lang, source, text,
                 $tokensSql AS toks FROM documents),
             sig AS (SELECT doc_id, lang, source, text,
                 len(toks) AS n_tok,
                 round((least(length(text), 500)::DOUBLE / 500.0
                   + least(len(list_filter(toks, t -> list_contains(
                       ['the','and','of','to','is','in','that','it','for','with'],
                       t)))::DOUBLE * 5.0 / greatest(len(toks), 1), 1.0)
                   + len(list_filter(toks, t -> length(t) >= 4))::DOUBLE
                     / greatest(len(toks), 1)) / 3.0, 6) AS quality
               FROM base),
             kept AS (SELECT doc_id, lang, text, n_tok FROM sig
               WHERE source NOT IN ('src13', 'src7') AND n_tok >= 20
                 AND lang IN ('en', 'de', 'zh') AND quality >= 0.35),
             keep AS (SELECT doc_id, lang, n_tok FROM (
               SELECT doc_id, lang, n_tok, row_number() OVER (
                 PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                 ORDER BY doc_id) AS rn
               FROM kept) WHERE rn = 1),
             sp AS (SELECT lang, n_tok,
                 CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 100 < 80
                        THEN 'train'
                      WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 100 < 90
                        THEN 'val'
                      ELSE 'test' END AS split
               FROM keep)
             SELECT split, lang, count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens
             FROM sp GROUP BY 1, 2 ORDER BY split, lang"""))

  /** Size-tiered compaction policy: the overlay row count triggers a
    * repush once it passes budget (`compactIfNeeded`) — the knob that
    * bounds read amplification on a hybrid store. The query drives the
    * policy twice: the first call must FIRE (25 pending rows > 10
    * budget), folding the overlay into version 2; the second must NO-OP
    * (fresh overlay is empty). Both outcomes ride in the output columns,
    * so a policy that failed to fire, fired twice, or corrupted content
    * breaks the hash. Trigger cost is a parquet-footer row count, not a
    * scan. */
  val b18CompactPolicy = QueryDef(
    "b18_compact_policy",
    (s, dir) => {
      val e = tempEngine(s, "graft-b18")
      e.createStore("n", Seq("n_nationkey"))
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      e.push("n", nat, numBuckets = 2)
      e.put("n", nat.filter(col("n_nationkey") < 15)
        .withColumn("n_name", concat(col("n_name"), lit("_P1"))), tsMs = 100L)
      e.put("n", nat.filter(col("n_nationkey") >= 15)
        .withColumn("n_name", concat(col("n_name"), lit("_P2"))), tsMs = 200L)
      val v1 = e.compactIfNeeded("n", maxLogRows = 10)
      val v2 = e.compactIfNeeded("n", maxLogRows = 10)
      e.servingView("n")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .withColumn("compacted_to_version", lit(v1))
        .withColumn("second_call_fired", lit(v2 > 0))
        .orderBy(col("n_nationkey"))
    },
    Some("""SELECT n_nationkey,
              n_name || CASE WHEN n_nationkey < 15 THEN '_P1' ELSE '_P2' END
                AS n_name,
              n_regionkey, 2 AS compacted_to_version,
              false AS second_call_fired
            FROM nation ORDER BY n_nationkey"""))

  /** TPC-H Q10 shape: top-20 customers by revenue on RETURNED items in a
    * quarter — the "who should we call" report. The returnflag filter and
    * date range push into the two fact scans BEFORE their join; nation
    * broadcasts; one shuffle per fact join + the group agg; top-20 is a
    * TakeOrderedAndProject, never a global sort. */
  val q10Returns = QueryDef(
    "q10_returns",
    (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("rev_cents"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(col("rev_cents")).as("revenue_cents"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue_cents").desc, col("c_custkey"))
        .limit(20)
    },
    Some("""SELECT c_custkey, c_name, n_name,
              CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                AS BIGINT)) AS BIGINT) AS revenue_cents,
              count(*) AS n_items
            FROM lineitem, orders, customer, nation
            WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
              AND c_nationkey = n_nationkey AND l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-07-01'
            GROUP BY 1, 2, 3
            ORDER BY revenue_cents DESC, c_custkey LIMIT 20"""))

  /** Language-metadata audit: confusion counts between the corpus's `lang`
    * column and the n-gram language-ID heuristic — mislabeled language
    * metadata poisons mix planning and lang-filtered training sets, and
    * this is the table that finds it. One TokenStats pass per row (the
    * struct is materialized once), then a partial-aggregated groupBy on
    * the (claimed, predicted) pair. */
  val docLangConfusion = QueryDef(
    "doc_lang_confusion",
    (s, dir) => {
      val stats = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          graft.functions.TokenStatsExpr.tokenStats(col("text")).as("st"))
        .persist()
      val st = col("st")
      stats.select(col("lang"),
        TextOps.argmaxLang(Seq(
          "de" -> st.getField("s_de"), "en" -> st.getField("s_en"),
          "es" -> st.getField("s_es"), "fr" -> st.getField("s_fr"),
          "zh" -> st.getField("s_zh"))).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .withColumn("agree", col("lang") === col("lang_pred"))
        .orderBy(col("lang"), col("lang_pred"))
    },
    Some(s"""WITH base AS (SELECT doc_id, lang, $tokensSql AS toks
               FROM documents),
             s AS (SELECT lang,
               len(list_filter(toks, t -> list_contains(['der','die','das','und','nicht','ist','ich','ein','mit','von'], t))) AS s_de,
               len(list_filter(toks, t -> list_contains(['the','and','of','to','is','in','that','it','for','with'], t))) AS s_en,
               len(list_filter(toks, t -> list_contains(['el','la','los','las','es','en','que','por','una','para'], t))) AS s_es,
               len(list_filter(toks, t -> list_contains(['le','la','les','et','est','dans','que','pour','une','des'], t))) AS s_fr,
               len(list_filter(toks, t -> list_contains(['的','是','了','在','我','有','和','不','人','这'], t))) AS s_zh
               FROM base),
             p AS (SELECT lang,
               CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                    WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                    ELSE 'zh' END AS lang_pred
               FROM s)
             SELECT lang, lang_pred, count(*) AS n, lang = lang_pred AS agree
             FROM p GROUP BY 1, 2 ORDER BY lang, lang_pred"""))

  /** Embedding norm audit: per-label L2-norm distribution in exact integer
    * micro-units (per-row round(norm·1e6) → min/max/sum/div mean — no
    * float-sum order risk). Unnormalized or degenerate vectors break
    * cosine ANN silently; this is the pre-index gate that catches them.
    * Pure narrow per-row math + one partial-aggregated groupBy. */
  val embNormAudit = QueryDef(
    "emb_norm_audit",
    (s, dir) => {
      val un = round(sqrt(graft.functions.VecDotExpr.vecDot(
        col("embedding"), col("embedding"))) * 1e6).cast("long")
      t(s, dir, "embeddings")
        .select(col("label"), un.as("un"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), min(col("un")).as("min_unorm"),
          max(col("un")).as("max_unorm"), sum(col("un")).as("sum_unorm"))
        .select(col("label"), col("n"), col("min_unorm"), col("max_unorm"),
          expr("sum_unorm div n").as("mean_unorm"))
        .orderBy(col("label"))
    },
    Some("""WITH v AS (SELECT label,
              CAST(round(sqrt(list_dot_product(embedding::DOUBLE[],
                embedding::DOUBLE[])) * 1000000) AS BIGINT) AS un
              FROM embeddings)
            SELECT label, count(*) AS n, min(un) AS min_unorm,
              max(un) AS max_unorm,
              CAST(sum(un) AS BIGINT) // count(*) AS mean_unorm
            FROM v GROUP BY 1 ORDER BY label"""))

  /** TPC-H Q14 shape: promo revenue share for one month. The date range
    * pushes into the fact scan; `part` is the dimension side and
    * broadcasts; the share is exact integer ppm (cents × 1e6 div cents),
    * no float division. One broadcast join + a single global aggregate. */
  val q14Promo = QueryDef(
    "q14_promo",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-02-01").cast("timestamp"))
        .select(col("l_partkey"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("rev_cents"))
      li.join(broadcast(t(s, dir, "part")
          .select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(sum(when(col("p_type") === "PROMO", col("rev_cents"))
            .otherwise(0L)).as("promo_cents"),
          sum(col("rev_cents")).as("total_cents"))
        .select(col("promo_cents"), col("total_cents"),
          // DECIMAL intermediate: cents·1e6 overflows Long once the month's
          // revenue passes ~9e12 cents (a 100-TB fact table does)
          expr("CAST((CAST(promo_cents AS DECIMAL(20,0)) * 1000000)" +
            " div total_cents AS BIGINT)").as("promo_ppm"))
    },
    Some("""SELECT
              CAST(sum(CASE WHEN p_type = 'PROMO'
                THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS promo_cents,
              CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                AS BIGINT)) AS BIGINT) AS total_cents,
              (sum(CASE WHEN p_type = 'PROMO'
                THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                ELSE 0 END)::HUGEINT * 1000000
                // sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                  AS BIGINT)))::BIGINT AS promo_ppm
            FROM lineitem, part
            WHERE l_partkey = p_partkey
              AND l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1997-02-01'"""))

  /** TPC-H Q19 shape: disjunctive brand/size/quantity bands — an OR of
    * ANDs that SPANS the join (part attrs × lineitem attrs), so no single
    * conjunct pushes to either scan alone; the per-side prunable parts
    * (brand/size on part, quantity envelope on lineitem) still push, and
    * the residual disjunction evaluates post-join. The shape that checks
    * the optimizer doesn't give up on mixed-side predicates. */
  val q19Bands = QueryDef(
    "q19_bands",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("rev_cents"))
      val p = broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size")))
      li.join(p, col("l_partkey") === col("p_partkey") && (
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30))))
        .agg(count(lit(1)).as("n_items"),
          sum(col("rev_cents")).as("revenue_cents"))
    },
    Some("""SELECT count(*) AS n_items,
              CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM lineitem, part
            WHERE l_partkey = p_partkey AND (
              (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
                AND l_quantity BETWEEN 1 AND 11) OR
              (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 10 AND 20) OR
              (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 20 AND 30))"""))

  /** Time-grid resampling with last-observation-carried-forward: each
    * user's event stream becomes an hourly feature series (the shape every
    * training-feature store materializes from raw events). The grid is the
    * user's own activity window (integer hour arithmetic, no float
    * division); the carry is [[graft.operators.Joins.asOfBackward]] — one
    * keyed shuffle, never an n·m range join. The oracle is DuckDB's NATIVE
    * ASOF JOIN — an independent algorithm, so a carry-forward bug cannot
    * cancel out. */
  val eventsResample = QueryDef(
    "events_resample",
    (s, dir) => {
      val ev = Tables.events(s, dir).filter(col("user_id") < 100)
        .withColumn("ts_ms", unix_millis(col("ts")))
      val grid = ev.groupBy(col("user_id"))
        .agg(expr("min(ts_ms) div 3600000 * 3600000").as("t0"),
          expr("max(ts_ms) div 3600000 * 3600000").as("t1"))
        .select(col("user_id"),
          explode(sequence(col("t0"), col("t1"), lit(3600000L))).as("grid_ms"))
      val state = graft.operators.Compaction.latestPerKey(
        ev.select(col("user_id"), col("ts_ms"), col("event_id"), col("value")),
        Seq("user_id", "ts_ms"), Seq(col("event_id")))
      graft.operators.Joins.asOfBackward(grid, state,
        Seq("user_id"), "grid_ms", "ts_ms", Seq("event_id", "value"))
        .select(col("user_id"), col("grid_ms"),
          col("asof_event_id").as("last_event_id"),
          round(col("asof_value") * 100).cast("long").as("last_value_cents"))
        .orderBy(col("user_id"), col("grid_ms"))
    },
    Some("""WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, value
              FROM events WHERE user_id < 100),
            s AS (SELECT user_id, ts_ms, event_id, value FROM e
              QUALIFY row_number() OVER (PARTITION BY user_id, ts_ms
                ORDER BY event_id DESC) = 1),
            b AS (SELECT user_id, min(ts_ms) // 3600000 * 3600000 AS t0,
                max(ts_ms) // 3600000 * 3600000 AS t1 FROM e GROUP BY 1),
            g AS (SELECT user_id,
                unnest(range(t0, t1 + 3600000, 3600000)) AS grid_ms FROM b)
            SELECT g.user_id, g.grid_ms, s.event_id AS last_event_id,
              CAST(round(s.value * 100) AS BIGINT) AS last_value_cents
            FROM g ASOF LEFT JOIN s
              ON g.user_id = s.user_id AND g.grid_ms >= s.ts_ms
            ORDER BY g.user_id, g.grid_ms"""))

  /** Exact duplicated-substring profile via distributed PREFIX DOUBLING
    * (suffix-array style): level-k span fingerprints build from two
    * overlapping level-(k−1) fingerprints, one self-equi-join per
    * doubling — log(span) joins total, never a quadratic substring
    * compare. Output: per span length (1..16 tokens), how many sites /
    * fingerprints / docs carry a corpus-duplicated span — the profile
    * that picks the right span width for exact-substring dedup (Lee et
    * al.; the fixed-width `dedup_spans` is the single-width special
    * case). The oracle replays every doubling level in SQL. */
  val dupSpanProfileQ = QueryDef(
    "dup_span_profile",
    (s, dir) => graft.operators.Dedup.dupSpanProfile(
        t(s, dir, "documents"), "doc_id", "text", maxPow = 4)
      .orderBy(col("span_len")),
    Some(s"""WITH base AS (SELECT doc_id AS id, $tokensSql AS toks
               FROM documents),
             f0 AS (SELECT id, u.pos AS pos, u.fp AS fp FROM (
               SELECT id, unnest(list_transform(range(1, len(toks) + 1),
                 i -> {'pos': i - 1, 'fp': toks[i]})) AS u FROM base)),
             f1 AS (SELECT a.id, a.pos, md5(a.fp || '|' || b.fp) AS fp
               FROM f0 a JOIN f0 b ON a.id = b.id AND b.pos = a.pos + 1),
             f2 AS (SELECT a.id, a.pos, md5(a.fp || '|' || b.fp) AS fp
               FROM f1 a JOIN f1 b ON a.id = b.id AND b.pos = a.pos + 2),
             f3 AS (SELECT a.id, a.pos, md5(a.fp || '|' || b.fp) AS fp
               FROM f2 a JOIN f2 b ON a.id = b.id AND b.pos = a.pos + 4),
             f4 AS (SELECT a.id, a.pos, md5(a.fp || '|' || b.fp) AS fp
               FROM f3 a JOIN f3 b ON a.id = b.id AND b.pos = a.pos + 8),
             d0 AS (SELECT *, count(*) OVER (PARTITION BY fp) AS c FROM f0),
             d1 AS (SELECT *, count(*) OVER (PARTITION BY fp) AS c FROM f1),
             d2 AS (SELECT *, count(*) OVER (PARTITION BY fp) AS c FROM f2),
             d3 AS (SELECT *, count(*) OVER (PARTITION BY fp) AS c FROM f3),
             d4 AS (SELECT *, count(*) OVER (PARTITION BY fp) AS c FROM f4)
             SELECT CAST(span_len AS BIGINT) AS span_len, dup_sites,
               dup_fingerprints, docs_affected FROM (
               SELECT 1 AS span_len, count(*) AS dup_sites,
                 count(DISTINCT fp) AS dup_fingerprints,
                 count(DISTINCT id) AS docs_affected FROM d0 WHERE c >= 2
               UNION ALL
               SELECT 2, count(*), count(DISTINCT fp), count(DISTINCT id)
               FROM d1 WHERE c >= 2
               UNION ALL
               SELECT 4, count(*), count(DISTINCT fp), count(DISTINCT id)
               FROM d2 WHERE c >= 2
               UNION ALL
               SELECT 8, count(*), count(DISTINCT fp), count(DISTINCT id)
               FROM d3 WHERE c >= 2
               UNION ALL
               SELECT 16, count(*), count(DISTINCT fp), count(DISTINCT id)
               FROM d4 WHERE c >= 2)
             ORDER BY span_len"""))

  /** TPC-H Q22 shape: above-average-balance customers who never placed a
    * HIGH-VALUE order, per nation — a scalar subquery (the global balance
    * threshold) feeding an anti join. The threshold is exact integer
    * cents (sum div count — no float average crossing engines); it rides
    * a broadcast 1-row crossJoin so the plan stays declarative, and the
    * filtered anti join is the missed-opportunity test. The shape that
    * checks scalar-subquery + anti-join composition. */
  val q22NoOrders = QueryDef(
    "q22_no_orders",
    (s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      val thr = cust.filter(col("bal_cents") > 0)
        .agg(expr("sum(bal_cents) div count(1)").as("thr_cents"))
      cust.crossJoin(broadcast(thr))
        .filter(col("bal_cents") > col("thr_cents"))
        .join(t(s, dir, "orders")
            .filter(col("o_totalprice") >= 400000).select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("bal_cents")).as("total_bal_cents"))
        .orderBy(col("c_nationkey"))
    },
    Some("""WITH c AS (SELECT c_custkey, c_nationkey,
              CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
              FROM customer),
            t AS (SELECT CAST(sum(bal_cents) AS BIGINT) // count(*) AS thr
              FROM c WHERE bal_cents > 0)
            SELECT c_nationkey, count(*) AS n_cust,
              CAST(sum(bal_cents) AS BIGINT) AS total_bal_cents
            FROM c, t
            WHERE bal_cents > thr
              AND NOT EXISTS (SELECT 1 FROM orders
                WHERE o_custkey = c_custkey AND o_totalprice >= 400000)
            GROUP BY 1 ORDER BY c_nationkey"""))

  /** New-user accrual: each user's first-activity hour (integer
    * epoch-hour, no engine week/timezone rules), hourly new-user counts,
    * and the cumulative curve — the top-line growth table. Two
    * partial-aggregated keyed aggs; the running sum windows over HOUR
    * rows (bounded), never over users. */
  val dailyNewUsers = QueryDef(
    "daily_new_users",
    (s, dir) => {
      val firstHour = Tables.events(s, dir)
        .select(col("user_id"),
          expr("unix_millis(ts) div 3600000").as("hour"))
        .groupBy(col("user_id")).agg(min(col("hour")).as("first_hour"))
      firstHour.groupBy(col("first_hour").as("hour"))
        .agg(count(lit(1)).as("new_users"))
        .withColumn("cum_users", sum(col("new_users")).over(
          Window.orderBy(col("hour"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy(col("hour"))
    },
    Some("""WITH f AS (SELECT user_id, min(epoch_ms(ts) // 3600000) AS hour
              FROM events GROUP BY 1)
            SELECT hour, count(*) AS new_users,
              CAST(sum(count(*)) OVER (ORDER BY hour
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                AS cum_users
            FROM f GROUP BY hour ORDER BY hour"""))

  /** TPC-H Q6 shape: the canonical scan→filter→aggregate microbenchmark —
    * no join, no group: all three predicates push to the parquet scan and
    * the whole query is one WholeStageCodegen span over the pruned
    * columns + a 1-row partial-agged sum. The purest test that pushdown
    * and column pruning actually reach the scan. */
  val q6Forecast = QueryDef(
    "q6_forecast",
    (s, dir) => t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum(round(col("l_extendedprice") * col("l_discount") * 100)
        .cast("long")).as("revenue_cents"),
        count(lit(1)).as("n_items")),
    Some("""SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100)
              AS BIGINT)) AS BIGINT) AS revenue_cents,
              count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""))

  /** Data-contract validation report (the dbt-tests / Great-Expectations
    * surface): one row per declared rule with its violation count — null
    * keys, domain ranges, referential integrity (dangling lineitem→orders
    * and orders→customer FKs via anti joins). All counts are
    * partial-aggregated or anti-join shaped; the report is what a
    * pipeline gate reads before promoting a snapshot. */
  val dataContract = QueryDef(
    "data_contract",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      def rule(name: String, cnt: DataFrame): DataFrame =
        cnt.select(lit(name).as("rule"), col("violations"))
      val rules = Seq(
        rule("lineitem_null_orderkey", li.agg(
          count(when(col("l_orderkey").isNull, 1)).as("violations"))),
        rule("lineitem_nonpositive_qty", li.agg(
          count(when(col("l_quantity") <= 0, 1)).as("violations"))),
        rule("lineitem_discount_range", li.agg(
          count(when(!col("l_discount").between(0.0, 1.0), 1)).as("violations"))),
        rule("orders_negative_total", ord.agg(
          count(when(col("o_totalprice") < 0, 1)).as("violations"))),
        rule("customer_dup_key", cust.groupBy(col("c_custkey"))
          .agg(count(lit(1)).as("c")).filter(col("c") > 1)
          .agg(count(lit(1)).as("violations"))),
        rule("lineitem_fk_orders", li.select(col("l_orderkey"))
          .join(ord.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("violations"))),
        rule("orders_fk_customer", ord.select(col("o_custkey"))
          .join(cust.select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("violations"))))
      rules.reduce(_ unionByName _).orderBy(col("rule"))
    },
    Some("""SELECT rule, violations FROM (
              SELECT 'lineitem_null_orderkey' AS rule,
                count(CASE WHEN l_orderkey IS NULL THEN 1 END) AS violations
              FROM lineitem
              UNION ALL
              SELECT 'lineitem_nonpositive_qty',
                count(CASE WHEN l_quantity <= 0 THEN 1 END) FROM lineitem
              UNION ALL
              SELECT 'lineitem_discount_range',
                count(CASE WHEN l_discount NOT BETWEEN 0.0 AND 1.0 THEN 1 END)
              FROM lineitem
              UNION ALL
              SELECT 'orders_negative_total',
                count(CASE WHEN o_totalprice < 0 THEN 1 END) FROM orders
              UNION ALL
              SELECT 'customer_dup_key', count(*) FROM (
                SELECT c_custkey FROM customer GROUP BY 1 HAVING count(*) > 1)
              UNION ALL
              SELECT 'lineitem_fk_orders', count(*) FROM lineitem
              WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
              UNION ALL
              SELECT 'orders_fk_customer', count(*) FROM orders
              WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
            ORDER BY rule"""))

  /** A/A two-region STREAMING convergence: two region streams ingest into
    * one active-active store SEQUENTIALLY — and region B, ingested second,
    * carries events whose timestamps interleave with (and often precede)
    * region A's. Venice's multi-region guarantee is exactly that arrival
    * order must not matter: conflict resolution is by event timestamp
    * through the CRDT op log, so a late-arriving older event LOSES even
    * though it was written last (ActiveActiveStoreIngestionTask semantics,
    * not code). The oracle computes the timestamp-order winner per key;
    * any arrival-order leakage breaks the hash. */
  val s11AaTwoRegion = QueryDef(
    "s11_aa_two_region",
    (s, dir) => {
      import graft.streaming.StreamIngest
      val e = tempEngine(s, "graft-s11")
      e.createStore("ev", Seq("user_id"))
      val evAll = Tables.events(s, dir).filter(col("user_id") < 200)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      e.push("ev", graft.operators.Compaction.latestPerKey(
        evAll.filter(col("event_id") % 10 < 5), Seq("user_id"),
        Seq(col("event_id"))), numBuckets = 4)
      e.enableActiveActive("ev")
      val streamRows = evAll.filter(col("event_id") % 10 >= 5)
      // regions split by parity: BOTH regions span the full event-time
      // range, so the second drain delivers plenty of ts-older events
      def drain(region: Int): Unit = {
        val inDir = s"${e.root}/in$region"
        streamRows.filter(col("event_id") % 2 === region).write.parquet(inDir)
        val stream = s.readStream.schema(streamRows.schema).parquet(inDir)
          .withColumn(StreamIngest.EventTsCol, col("event_id"))
        val q = StreamIngest.ingest(e, "ev", stream,
          checkpoint = s"${e.root}/cp$region")
        require(q.awaitTermination(180000),
          s"s11_aa_two_region: region $region did not drain within 180s")
      }
      drain(1); drain(0)
      e.servingView("ev")
        .select(col("user_id"), col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("value_cents"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, event_id, event_type,
              CAST(round(value * 100) AS BIGINT) AS value_cents
            FROM (
              SELECT user_id, event_id, event_type, value,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY src DESC, event_id DESC) AS rn
              FROM (
                SELECT user_id, event_id, event_type, value, 1 AS src
                FROM events WHERE user_id < 200 AND event_id % 10 >= 5
                UNION ALL
                SELECT user_id, event_id, event_type, value, 0 AS src
                FROM events WHERE user_id < 200 AND event_id % 10 < 5
                QUALIFY row_number() OVER (PARTITION BY user_id
                  ORDER BY event_id DESC) = 1))
            WHERE rn = 1 ORDER BY user_id"""))

  /** A/B experiment readout: users assigned to control/treatment by the
    * SAME md5 bucket rule as dataset splits (never rand() — membership
    * must be reproducible across runs and engines), per-(event_type,
    * variant) value means in integer micro-units, and the treatment lift
    * in exact ppm. The analytics table every event-logging experiment
    * reads; one partial-aggregated groupBy, integer math end to end. */
  val abAnalysis = QueryDef(
    "ab_analysis",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("variant",
          when(TextOps.splitBucket(col("user_id")) % 2 === 0, "control")
            .otherwise("treatment"))
        .withColumn("micro", round(col("value") * 1e6).cast("long"))
      val agg = ev.groupBy(col("event_type"), col("variant"))
        .agg(count(lit(1)).as("n"), sum(col("micro")).as("s"))
        .select(col("event_type"), col("variant"), col("n"),
          expr("s div n").as("mean_micro"))
      val c = agg.filter(col("variant") === "control")
        .select(col("event_type"), col("n").as("n_control"),
          col("mean_micro").as("mean_control"))
      val t2 = agg.filter(col("variant") === "treatment")
        .select(col("event_type"), col("n").as("n_treatment"),
          col("mean_micro").as("mean_treatment"))
      c.join(t2, Seq("event_type"))
        .withColumn("lift_ppm", expr(
          "(mean_treatment - mean_control) * 1000000 div mean_control"))
        .orderBy(col("event_type"))
    },
    Some("""WITH e AS (SELECT event_type,
              CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 4))::INT
                % 100 % 2 = 0 THEN 'control' ELSE 'treatment' END AS variant,
              CAST(round(value * 1000000) AS BIGINT) AS micro
              FROM events),
            a AS (SELECT event_type, variant, count(*) AS n,
              CAST(sum(micro) AS BIGINT) // count(*) AS mean_micro
              FROM e GROUP BY 1, 2)
            SELECT c.event_type, c.n AS n_control,
              c.mean_micro AS mean_control, t.n AS n_treatment,
              t.mean_micro AS mean_treatment,
              (t.mean_micro - c.mean_micro) * 1000000 // c.mean_micro
                AS lift_ppm
            FROM a c JOIN a t ON c.event_type = t.event_type
              AND c.variant = 'control' AND t.variant = 'treatment'
            ORDER BY c.event_type"""))

  /** Embedding label-noise gate: each vector's cosine to its OWN label
    * centroid (scaled-integer means the oracle replays exactly); a
    * negative self-similarity points AWAY from its labeled cluster —
    * the mislabeled/outlier candidates a curation pass reviews. One
    * broadcast equi-join on the label + a per-label aggregate. */
  val embOutliers = QueryDef(
    "emb_outliers",
    (s, dir) => graft.operators.Similarity.centroidSelfSim(
        t(s, dir, "embeddings").select(col("vec_id").as("id"),
          col("embedding").as("vec"), col("label")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        count(when(col("self_sim") < 0.0, 1)).as("n_outliers"),
        min(col("self_sim")).as("min_self_sim"),
        max(col("self_sim")).as("max_self_sim"))
      .orderBy(col("label")),
    Some("""WITH v AS (SELECT vec_id AS id, label, embedding::DOUBLE[] AS vec,
              sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                AS n
              FROM embeddings),
            cent AS (SELECT clabel, list(val ORDER BY pos) AS cvec FROM (
              SELECT label AS clabel, p.p AS pos,
                CAST(sum(CAST(round(vec[p.p + 1] * 1000) AS BIGINT)) AS DOUBLE)
                  / (count(*) * 1000.0) AS val
              FROM v, range(64) p(p) GROUP BY label, p.p) GROUP BY clabel),
            s AS (SELECT v.id, v.label,
              round(list_dot_product(v.vec, c.cvec) /
                (v.n * sqrt(list_dot_product(c.cvec, c.cvec))), 6) + 0.0
                AS self_sim
              FROM v JOIN cent c ON v.label = c.clabel)
            SELECT label, count(*) AS n,
              count(CASE WHEN self_sim < 0.0 THEN 1 END) AS n_outliers,
              min(self_sim) AS min_self_sim, max(self_sim) AS max_self_sim
            FROM s GROUP BY 1 ORDER BY label"""))

  /** Streaming checkpoint RESUME: drain batch A, land batch B's files in
    * the same source directory, then start a SECOND query on the SAME
    * checkpoint — the restart shape. Structured Streaming's file-source
    * offset log must hand the resumed query ONLY the new files: a
    * re-processed file would double-append to the store's log and break
    * the per-type log row counts and event-id sums below; a skipped file
    * would lose rows. (LWW serving hides duplicates, so the audit reads
    * the CHANGELOG, where exactly-once is visible.) */
  val s12IngestResume = QueryDef(
    "s12_ingest_resume",
    (s, dir) => {
      import graft.streaming.StreamIngest
      val e = tempEngine(s, "graft-s12")
      e.createStore("ev", Seq("user_id"))
      val evAll = Tables.events(s, dir).filter(col("user_id") < 200)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      e.push("ev", graft.operators.Compaction.latestPerKey(
        evAll.filter(col("event_id") % 10 < 5), Seq("user_id"),
        Seq(col("event_id"))), numBuckets = 4)
      val inDir = s"${e.root}/in"
      def drain(): Unit = {
        val stream = s.readStream.schema(evAll.schema).parquet(inDir)
          .withColumn(StreamIngest.EventTsCol, col("event_id"))
        val q = StreamIngest.ingest(e, "ev", stream,
          checkpoint = s"${e.root}/cp")
        require(q.awaitTermination(180000),
          "s12_ingest_resume: stream did not drain within 180s")
      }
      evAll.filter(col("event_id") % 10 >= 5 && col("event_id") % 10 <= 7)
        .write.parquet(inDir)
      drain()
      evAll.filter(col("event_id") % 10 >= 8)
        .write.mode("append").parquet(inDir)
      drain()
      e.changelog("ev", 0L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_log_rows"),
          sum(col("event_id")).as("event_id_sum"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS n_log_rows,
              CAST(sum(event_id) AS BIGINT) AS event_id_sum
            FROM events WHERE user_id < 200 AND event_id % 10 >= 5
            GROUP BY 1 ORDER BY event_type"""))

  /** B2 oracled END-TO-END: an external topic (a parquet directory through
    * the [[graft.streaming.FileTopicSource]] seam) ingested via
    * StreamIngest.ingestFrom — segment 1 drained, segment 2 landed and
    * drained by a SECOND query resuming the SAME checkpoint (the consumer
    * restart shape) — then the serving view compared to a full DuckDB
    * replay. Flips the B2 coverage row from spec-verified to oracle-pass:
    * the seam, the checkpoint resume, the transformer hook and the LWW
    * fold are all on the driver-checked path. A Kafka deployment swaps
    * FileTopicSource for KafkaTopicSource and nothing else changes. */
  val b21TopicIngest = QueryDef(
    "b21_topic_ingest",
    (s, dir) => {
      import graft.streaming.{StreamIngest, FileTopicSource}
      val e = tempEngine(s, "graft-b21")
      e.createStore("ev", Seq("user_id"))
      val evAll = Tables.events(s, dir).filter(col("user_id") < 300)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      e.push("ev", graft.operators.Compaction.latestPerKey(
        evAll.filter(col("event_id") % 10 < 5), Seq("user_id"),
        Seq(col("event_id"))), numBuckets = 4)
      val topicDir = s"${e.root}/topic"
      // the event-time stamp rides the transformer hook (S5) — the topic's
      // raw records carry no engine column
      def drain(): Unit = {
        val q = StreamIngest.ingestFrom(e, "ev", FileTopicSource(topicDir),
          checkpoint = s"${e.root}/cp",
          transformer = df =>
            df.withColumn(StreamIngest.EventTsCol, col("event_id")))
        require(q.awaitTermination(180000),
          "b21_topic_ingest: topic did not drain within 180s — refusing " +
            "to read a partially-ingested view")
      }
      evAll.filter(col("event_id") % 10 >= 5 && col("event_id") % 10 <= 7)
        .write.parquet(topicDir)
      drain()
      evAll.filter(col("event_id") % 10 >= 8)
        .write.mode("append").parquet(topicDir)
      drain()
      e.servingView("ev")
        .select(col("user_id"), col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("value_cents"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, event_id, event_type,
              CAST(round(value * 100) AS BIGINT) AS value_cents
            FROM (
              SELECT user_id, event_id, event_type, value,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY src DESC, event_id DESC) AS rn
              FROM (
                SELECT user_id, event_id, event_type, value, 1 AS src
                FROM events
                WHERE user_id < 300 AND event_id % 10 >= 5
                UNION ALL
                SELECT user_id, event_id, event_type, value, 0 AS src
                FROM events WHERE user_id < 300 AND event_id % 10 < 5
                QUALIFY row_number() OVER (PARTITION BY user_id
                  ORDER BY event_id DESC) = 1))
            WHERE rn = 1 ORDER BY user_id"""))

  /** TPC-H Q13 shape: customer order-count distribution — LEFT join (so
    * zero-order customers keep their bucket) followed by a two-level
    * aggregation: per-customer counts, then the histogram over counts.
    * Both aggs partial-aggregate; the histogram is bounded by the max
    * order count, never by customer cardinality. */
  val q13Custdist = QueryDef(
    "q13_custdist",
    (s, dir) => {
      val perCust = t(s, dir, "customer").select(col("c_custkey"))
        .join(t(s, dir, "orders")
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_custkey"), col("o_orderkey")),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust.groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    Some("""SELECT c_count, count(*) AS custdist FROM (
              SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
                AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey)
            GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""))

  /** TPC-H Q15 shape: the top supplier(s) by quarterly shipped revenue —
    * a keyed revenue agg joined against its own broadcast 1-row max (the
    * view + scalar-subquery pattern), keeping ties like the spec. */
  val q15TopSupplier = QueryDef(
    "q15_top_supplier",
    (s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 100).cast("long")).as("total_rev_cents"))
      val top = rev.agg(max(col("total_rev_cents")).as("max_rev"))
      rev.crossJoin(broadcast(top))
        .filter(col("total_rev_cents") === col("max_rev"))
        .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev_cents"))
        .orderBy(col("s_suppkey"))
    },
    Some("""WITH rev AS (SELECT l_suppkey,
              CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                AS BIGINT)) AS BIGINT) AS total_rev_cents
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1996-04-01'
              GROUP BY 1)
            SELECT s_suppkey, s_name, total_rev_cents
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_rev_cents = (SELECT max(total_rev_cents) FROM rev)
            ORDER BY s_suppkey"""))

  /** TPC-H Q8 shape: a target nation's market share per year inside one
    * region's orders — two independent nation lookups (supplier side and
    * customer-region side) both broadcast, the share in exact integer
    * ppm. The two-role-dimension pattern (same table joined twice with
    * different keys) that trips naive planners. */
  val q8MarketShare = QueryDef(
    "q8_market_share",
    (s, dir) => {
      val nat = t(s, dir, "nation")
      val amerNations = nat
        .join(broadcast(t(s, dir, "region")
          .filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cust_nationkey"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).as("o_year"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("rev_cents"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(amerNations),
          col("c_nationkey") === col("cust_nationkey"))
        .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat.select(col("n_nationkey"),
          col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("o_year"))
        .agg(sum(when(col("supp_nation") === "BRAZIL", col("rev_cents"))
            .otherwise(0L)).as("brazil_cents"),
          sum(col("rev_cents")).as("total_cents"))
        .select(col("o_year"), col("brazil_cents"), col("total_cents"),
          // DECIMAL intermediate: cents·1e6 overflows Long at 100-TB sums
          expr("CAST((CAST(brazil_cents AS DECIMAL(20,0)) * 1000000)" +
            " div total_cents AS BIGINT)").as("share_ppm"))
        .orderBy(col("o_year"))
    },
    Some("""SELECT o_year, brazil_cents, total_cents,
              (brazil_cents::HUGEINT * 1000000 // total_cents)::BIGINT
                AS share_ppm
            FROM (
              SELECT year(o_orderdate)::INT AS o_year,
                CAST(sum(CASE WHEN sn.n_name = 'BRAZIL'
                  THEN CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT) ELSE 0 END) AS BIGINT) AS brazil_cents,
                CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                  AS BIGINT)) AS BIGINT) AS total_cents
              FROM lineitem, orders, customer, supplier,
                nation cn, nation sn, region
              WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
                AND l_suppkey = s_suppkey
                AND c_nationkey = cn.n_nationkey
                AND cn.n_regionkey = r_regionkey AND r_name = 'AMERICA'
                AND s_nationkey = sn.n_nationkey
                AND o_orderdate >= TIMESTAMP '1996-01-01'
                AND o_orderdate < TIMESTAMP '1998-01-01'
              GROUP BY 1)
            ORDER BY o_year"""))

  /** TPC-H Q9 shape: profit per (supplier nation, order year) for parts
    * matching a LIKE filter — the classic "profit rollup" 5-table join.
    * The LIKE pushes into the part scan and that small filtered dimension
    * BROADCASTS into the fact; supplier/nation broadcast likewise; orders
    * contributes only the year. Profit in integer cents: revenue −
    * per-line tax proxy (this schema carries no partsupp supplycost),
    * each term rounded per line so both engines sum identical longs. */
  val q9Profit = QueryDef(
    "q9_profit",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          (round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            - round(col("l_extendedprice") * col("l_tax") * 100))
            .cast("long").as("profit_cents"))
      li.join(broadcast(t(s, dir, "part")
          .filter(col("p_name").contains("widget")).select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "orders")
          .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"), col("o_year"))
        .agg(sum(col("profit_cents")).as("profit_cents"))
        .orderBy(col("nation"), col("o_year").desc)
    },
    Some("""SELECT n_name AS nation, year(o_orderdate)::INT AS o_year,
              CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                  - round(l_extendedprice * l_tax * 100) AS BIGINT))
                AS BIGINT) AS profit_cents
            FROM lineitem, part, supplier, nation, orders
            WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
              AND s_nationkey = n_nationkey AND l_orderkey = o_orderkey
              AND p_name LIKE '%widget%'
            GROUP BY 1, 2 ORDER BY nation, o_year DESC"""))

  /** TPC-H Q11 shape: per-part "stock value" for one nation's suppliers,
    * kept only where the part's value exceeds the GLOBAL mean part value
    * — the HAVING-against-scalar-subquery pattern (the mean keeps the
    * selectivity scale-invariant where Q11's fixed fraction would go
    * empty as the part count grows). One keyed agg, the 1-row global
    * aggregate broadcast back, the threshold comparison in DECIMAL so
    * value·n_parts can't wrap a Long at warehouse scale. */
  val q11ImportantStock = QueryDef(
    "q11_important_stock",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")
          .filter(col("n_name") === "NATION_3").select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
      val perPart = li.groupBy(col("l_partkey"))
        .agg(sum(col("cents")).as("value_cents"))
      perPart.crossJoin(broadcast(
          perPart.agg(sum(col("value_cents")).as("total_cents"),
            count(lit(1)).as("n_parts"))))
        .filter(expr(
          "CAST(value_cents AS DECIMAL(20,0)) * n_parts > total_cents"))
        .select(col("l_partkey"), col("value_cents"))
        .orderBy(col("value_cents").desc, col("l_partkey"))
    },
    Some("""WITH pp AS (SELECT l_partkey,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS value_cents
              FROM lineitem, supplier, nation
              WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
                AND n_name = 'NATION_3'
              GROUP BY 1)
            SELECT l_partkey, value_cents FROM pp
            WHERE value_cents::HUGEINT * (SELECT count(*) FROM pp) >
              (SELECT sum(value_cents) FROM pp)
            ORDER BY value_cents DESC, l_partkey"""))

  /** TPC-H Q21 shape: "waiting suppliers" — for multi-supplier orders, the
    * suppliers who were the ONLY late shipper (late = shipped more than a
    * year after the order date; this schema has no commit/receipt dates).
    * The notorious correlated EXISTS + NOT-EXISTS pair over the same
    * table, planned as one (order, supplier) aggregation feeding a
    * LEFT-SEMI (some other supplier exists) and a LEFT-ANTI (no other
    * LATE supplier) self-join — both equi-joins on the order key, no
    * per-row subquery execution anywhere. */
  val q21WaitingSupplier = QueryDef(
    "q21_waiting_supplier",
    (s, dir) => {
      val perSupp = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(when(col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 365 DAYS"), 1L).otherwise(0L))
          .as("is_late"))
      // The EXISTS ("some other supplier") + NOT-EXISTS ("no other LATE
      // supplier") pair over perSupp is, per order, just "≥2 suppliers and
      // EXACTLY ONE late one" — and the waiting supplier is that unique
      // late one. One more aggregate on the SAME key replaces the r10
      // localCheckpoint + LEFT-SEMI + LEFT-ANTI self-joins (guide §1.2:
      // fix the algorithm first — measured 23.8 s at sf1 for the re-sorted
      // 3-consumer checkpoint shape). perSupp rows are distinct
      // (order, supplier) pairs, so count(*) counts suppliers; at scale
      // the lineitem⋈orders SMJ already partitions by the order key, so
      // BOTH aggregations reuse the join's exchange.
      perSupp
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("__n_supp"),
          sum(col("is_late")).as("__n_late"),
          max(when(col("is_late") === 1L, col("l_suppkey"))).as("l_suppkey"))
        .filter(col("__n_supp") >= 2L && col("__n_late") === 1L)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_suppkey"))
    },
    Some("""WITH ps AS (SELECT l_orderkey, l_suppkey,
                max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 365 DAY
                    THEN 1 ELSE 0 END) AS is_late
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY 1, 2)
            SELECT s_suppkey, s_name, count(*) AS numwait
            FROM ps a JOIN supplier ON a.l_suppkey = s_suppkey
            WHERE a.is_late = 1
              AND EXISTS (SELECT 1 FROM ps b
                WHERE b.l_orderkey = a.l_orderkey
                  AND b.l_suppkey <> a.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM ps c
                WHERE c.l_orderkey = a.l_orderkey
                  AND c.l_suppkey <> a.l_suppkey AND c.is_late = 1)
            GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey"""))

  /** JSONL training-shard export: the corpus lands as `shard=K` JSONL
    * files (a REAL partitioned text write, not a dry run) and the query
    * returns the manifest — md5-keyed shard membership counts + id sums,
    * so a doc in the wrong shard, a dropped doc, or a nondeterministic
    * assignment breaks the hash. The export side of the pipeline, where
    * coverage is otherwise read-heavy; the write is embarrassingly
    * parallel (one narrow pass, files split per shard). */
  val exportJsonlQ = QueryDef(
    "export_jsonl",
    (s, dir) => {
      val out = graft.core.TmpStores.dir("graft-export").toString
      graft.operators.Packing.exportJsonl(
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
        "doc_id", out, numShards = 8)
    },
    Some("""SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 100 % 8
              AS shard,
              count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
            FROM documents GROUP BY 1 ORDER BY shard"""))

  /** Training-label generation: each click labeled with the user's NEXT
    * purchase within a 7-day horizon (value + latency), null otherwise —
    * the future-looking as-of join every supervised events model needs,
    * where the horizon bound is also the LEAKAGE guard (a label from
    * beyond the horizon would train on the far future). One keyed shuffle
    * via [[graft.operators.Joins.asOfForward]]; the oracle is DuckDB's
    * native backward ASOF on NEGATED timestamps — an independent
    * algorithm for the same forward-nearest semantics. */
  val labelNextPurchase = QueryDef(
    "label_next_purchase",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("ts_ms", unix_millis(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts_ms"))
      val purchases = graft.operators.Compaction.latestPerKey(
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_ms"), col("event_id"), col("value"))
          .withColumn("p_ts", col("ts_ms")),
        Seq("user_id", "ts_ms"), Seq(col("event_id")))
      val horizon = 7L * 86400000L
      graft.operators.Joins.asOfForward(clicks, purchases,
        Seq("user_id"), "ts_ms", "ts_ms", Seq("p_ts", "value"))
        .select(col("user_id"), col("event_id"), col("ts_ms"),
          when(col("asof_p_ts").isNotNull &&
              col("asof_p_ts") - col("ts_ms") <= horizon,
            round(col("asof_value") * 100).cast("long")).as("label_cents"),
          when(col("asof_p_ts").isNotNull &&
              col("asof_p_ts") - col("ts_ms") <= horizon,
            col("asof_p_ts") - col("ts_ms")).as("label_latency_ms"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""WITH c AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
              -epoch_ms(ts) AS nts
              FROM events WHERE event_type = 'click'),
            p AS (SELECT user_id, epoch_ms(ts) AS p_ts,
              -epoch_ms(ts) AS nts, value
              FROM events WHERE event_type = 'purchase'
              QUALIFY row_number() OVER (PARTITION BY user_id, epoch_ms(ts)
                ORDER BY event_id DESC) = 1)
            SELECT c.user_id, c.event_id, c.ts_ms,
              CASE WHEN p.p_ts IS NOT NULL
                AND p.p_ts - c.ts_ms <= 7 * 86400000
                THEN CAST(round(p.value * 100) AS BIGINT) END AS label_cents,
              CASE WHEN p.p_ts IS NOT NULL
                AND p.p_ts - c.ts_ms <= 7 * 86400000
                THEN p.p_ts - c.ts_ms END AS label_latency_ms
            FROM c ASOF LEFT JOIN p
              ON c.user_id = p.user_id AND c.nts >= p.nts
            ORDER BY c.user_id, c.event_id"""))

  /** Two STORES joined relationally — the reason Venice ships a DuckDB
    * integration (S6): serving views are tables, so a user joins the
    * orders store to the customer store after BOTH have taken RT
    * overlays (a status flip on one side, a segment move on the other).
    * The join must see post-overlay state on both sides; the oracle
    * replays both overlays then joins. Two bucket-pruned snapshot+log
    * merges feeding one equi-join. */
  val multiStoreJoin = QueryDef(
    "multi_store_join",
    (s, dir) => {
      val e = tempEngine(s, "graft-msj")
      e.createStore("ord", Seq("o_orderkey"))
      e.createStore("cust", Seq("c_custkey"))
      val ord = t(s, dir, "orders").filter(col("o_orderkey") <= 3000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long").as("total_cents"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      e.push("ord", ord, numBuckets = 4)
      e.push("cust", cust, numBuckets = 4)
      e.put("ord", ord.filter(col("o_custkey") <= 50)
        .withColumn("o_orderstatus", lit("X")), tsMs = 100L)
      e.put("cust", cust.filter(col("c_custkey") <= 30)
        .withColumn("c_mktsegment", lit("MOVED")), tsMs = 200L)
      e.servingView("ord")
        .join(e.servingView("cust"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("total_cents")).as("sum_cents"))
        .orderBy(col("c_mktsegment"), col("o_orderstatus"))
    },
    Some("""WITH o AS (SELECT o_orderkey, o_custkey,
              CASE WHEN o_custkey <= 50 THEN 'X' ELSE o_orderstatus END
                AS o_orderstatus,
              CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
              FROM orders WHERE o_orderkey <= 3000),
            c AS (SELECT c_custkey,
              CASE WHEN c_custkey <= 30 THEN 'MOVED' ELSE c_mktsegment END
                AS c_mktsegment
              FROM customer)
            SELECT c_mktsegment, o_orderstatus, count(*) AS n_orders,
              CAST(sum(total_cents) AS BIGINT) AS sum_cents
            FROM o JOIN c ON o_custkey = c_custkey
            GROUP BY 1, 2 ORDER BY c_mktsegment, o_orderstatus"""))

  /** Token-association mining: top PMI-surrogate bigram pairs — the
    * collocation table (e.g. multi-word-expression candidates for
    * tokenizer vocab decisions). Score = c(ab)·N·1e6 div (c(a)·c(b)),
    * exact integer (the log is monotone, so ranking is PMI-identical);
    * df floor kills hapax noise. Corpus-sized work: one token count +
    * one bigram count, both partial-aggregated; the final rank runs
    * over the bigram VOCABULARY. */
  val tokenPmi = QueryDef(
    "token_pmi",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      val uni = toks.select(explode(col("t")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cw"))
      val n = uni.agg(sum(col("cw")).as("n_tokens"))
      // adjacent pairs via zip_with over the token array (narrow; never a
      // positional self-join, which would blow up doc_len² per doc)
      val bi = toks.select(explode(expr(
          "zip_with(slice(t, 1, greatest(size(t)-1, 0)), " +
            "slice(t, 2, greatest(size(t)-1, 0)), " +
            "(a, b) -> struct(a AS w1, b AS w2))")).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cab"))
        .filter(col("cab") >= 5)
      bi.join(uni.select(col("w").as("w1"), col("cw").as("c1")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("cw").as("c2")), Seq("w2"))
        .crossJoin(broadcast(n))
        // numerator in DECIMAL(38,0): cab·N·1e6 overflows Long once
        // N ~ 1e10+ with million-count bigrams (Spark would wrap
        // silently); the quotient itself is ≤ N·1e6/max(c1,c2) — BIGINT-
        // safe given the cab ≥ 5 floor — so only the intermediate widens
        .withColumn("pmi_ppm",
          expr("CAST((CAST(cab AS DECIMAL(20,0)) * n_tokens * 1000000)" +
            " div (CAST(c1 AS DECIMAL(20,0)) * c2) AS BIGINT)"))
        .select(col("w1"), col("w2"), col("cab"), col("pmi_ppm"))
        .orderBy(col("pmi_ppm").desc, col("w1"), col("w2"))
        .limit(20)
    },
    Some(s"""WITH base AS (SELECT doc_id, $tokensSql AS t FROM documents),
             uni AS (SELECT u.w, count(*) AS cw FROM (
               SELECT unnest(t) AS w FROM base) u GROUP BY 1),
             n AS (SELECT CAST(sum(cw) AS BIGINT) AS n_tokens FROM uni),
             bi AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS cab FROM (
               SELECT unnest(list_transform(
                 range(1, greatest(len(t) - 1, 0) + 1),
                 i -> {'w1': t[i], 'w2': t[i + 1]})) AS b FROM base)
               GROUP BY 1, 2 HAVING count(*) >= 5)
             SELECT w1, w2, cab,
               (cab::HUGEINT * n_tokens * 1000000
                 // (c1.cw::HUGEINT * c2.cw))::BIGINT AS pmi_ppm
             FROM bi, n, uni c1, uni c2
             WHERE c1.w = w1 AND c2.w = w2
             ORDER BY pmi_ppm DESC, w1, w2 LIMIT 20"""))

  /** Approximate-quantile sketch parity (the w12 pattern, for quantiles):
    * exact per-language P50/P90 from the keyed percentile histogram are
    * the hash-checked truth; Spark's mergeable `approx_percentile`
    * sketch — what a 100-TB job would actually run — must land within
    * its documented rank-error bound of them, carried as a boolean the
    * oracle pins to TRUE (DuckDB cannot replay the sketch bits; it CAN
    * check the bound held, same as the HLL row). */
  val qApproxQuantile = QueryDef(
    "q_approx_quantile",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("lang"), TextOps.tokenCount(col("text")).as("tok"))
      val exact = graft.operators.Percentiles.disc(
        t(s, dir, "documents"),
        Seq("lang"), TextOps.tokenCount(col("text")), Seq(50, 90))
      // relative rank error 1/accuracy = 1/100: the P50/P90 estimate must
      // sit between the exact P40/P60 and P80/P100 rank neighborhoods —
      // bound via the exact histogram's neighbor percentiles
      val bounds = graft.operators.Percentiles.disc(
        t(s, dir, "documents"),
        Seq("lang"), TextOps.tokenCount(col("text")), Seq(40, 60, 80))
        .select(col("lang"), col("p40"), col("p60"), col("p80"))
      val approx = docs.groupBy(col("lang"))
        .agg(percentile_approx(col("tok"), lit(0.5), lit(100)).as("a50"),
          percentile_approx(col("tok"), lit(0.9), lit(100)).as("a90"),
          max(col("tok")).as("mx"))
      exact.join(approx, Seq("lang")).join(bounds, Seq("lang"))
        .select(col("lang"), col("n_rows"), col("p50"), col("p90"),
          (col("a50") >= col("p40") && col("a50") <= col("p60"))
            .as("a50_within_bound"),
          (col("a90") >= col("p80") && col("a90") <= col("mx"))
            .as("a90_within_bound"))
        .orderBy(col("lang"))
    },
    Some("""SELECT lang, count(*) AS n_rows,
              quantile_disc(tok, 0.50) AS p50,
              quantile_disc(tok, 0.90) AS p90,
              true AS a50_within_bound, true AS a90_within_bound
            FROM (SELECT lang,
                    len(list_filter(string_split(lower(text), ' '),
                        x -> x <> ''))::BIGINT AS tok
                  FROM documents)
            GROUP BY lang ORDER BY lang"""))

  /** Rolling 24-hour distinct users per hour via MERGEABLE HLL sketches —
    * at 100 TB an exact rolling distinct would re-touch 24 hours of raw
    * rows per window, while sketches build once per hour and each window
    * unions ≤24 fixed-size sketches (a bounded self-join on the hour
    * range). The exact counts ride along (24-offset explode + distinct)
    * as the hash-checked truth; the sketch estimate is pinned within its
    * 6σ bound, w12-style. */
  val rollingDistinct = QueryDef(
    "rolling_distinct_hll",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(expr("unix_millis(ts) div 3600000").as("h"), col("user_id"))
      val hourly = ev.groupBy(col("h"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      val est = hourly.select(col("h").as("ah"))
        .join(hourly.select(col("h").as("bh"), col("sk")),
          col("bh").between(col("ah") - 23, col("ah")))
        .groupBy(col("ah").as("h"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx"),
          count(lit(1)).as("n_hours_merged"))
      // NOTE (r11): an r10 pre-distinct of (h, user) before this explode
      // was REVERTED — it measured slower at every scale actually run
      // (driver sf0.1 1.93→2.58 s, sf1 4.97→5.78 s); the claimed sf10
      // repeat-factor payoff was never measured same-host. The explode
      // feeds a COUNT(DISTINCT) which already dedups map-side per window.
      val exact = ev
        .select(explode(sequence(col("h"), col("h") + 23)).as("h"),
          col("user_id"))
        .join(ev.select(col("h").as("__live")).distinct(),
          col("h") === col("__live"), "left_semi")
        .groupBy(col("h"))
        .agg(count_distinct(col("user_id")).as("exact_users"))
      exact.join(est, Seq("h"))
        .select(col("h"), col("n_hours_merged"), col("exact_users"),
          (abs(col("approx") - col("exact_users")).cast("double") <=
            lit(6 * 0.0081) * col("exact_users")).as("within_bound"))
        .orderBy(col("h"))
    },
    Some("""WITH e AS (SELECT epoch_ms(ts) // 3600000 AS h, user_id
              FROM events),
            hours AS (SELECT DISTINCT h FROM e),
            w AS (SELECT hours.h AS h, e.user_id
              FROM hours JOIN e ON e.h BETWEEN hours.h - 23 AND hours.h)
            SELECT h,
              (SELECT count(*) FROM hours h2
                 WHERE h2.h BETWEEN w.h - 23 AND w.h) AS n_hours_merged,
              count(DISTINCT user_id) AS exact_users, true AS within_bound
            FROM w GROUP BY h ORDER BY h"""))

  /** Day-of-week × hour activity heatmap — the traffic-shape table behind
    * capacity planning and anomaly baselines. All calendar math is raw
    * integer epoch arithmetic ((epoch_day + 4) mod 7 anchors Thursday =
    * 1970-01-01 — no engine week/locale rules cross the oracle), one
    * partial-aggregated groupBy over a 7×24-bounded key space. */
  val eventsHeatmap = QueryDef(
    "events_heatmap",
    (s, dir) => Tables.events(s, dir)
      .select(expr("unix_millis(ts) div 86400000").as("d"),
        expr("unix_millis(ts) div 3600000 % 24").as("hour"),
        col("user_id"), col("value"))
      .withColumn("dow", expr("(d + 4) % 7"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .orderBy(col("dow"), col("hour")),
    Some("""SELECT (epoch_ms(ts) // 86400000 + 4) % 7 AS dow,
              epoch_ms(ts) // 3600000 % 24 AS hour,
              count(*) AS n_events,
              count(DISTINCT user_id) AS n_users,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                AS value_cents
            FROM events GROUP BY 1, 2 ORDER BY dow, hour"""))

  /** Behavioral transition matrix: counts of consecutive (event_type →
    * next event_type) per user — the first-order Markov table behind
    * next-action models and funnel anomaly baselines. ONE keyed window
    * (lead over the (ts, event_id) total order, which makes coincident
    * timestamps deterministic) + a partial-aggregated groupBy over a
    * #types²-bounded key space. */
  val eventTransitions = QueryDef(
    "event_transitions",
    (s, dir) => Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ts_ms"), col("event_id"))
      .withColumn("next_type", lead(col("event_type"), 1).over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("ts_ms"), col("event_id"))))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("next_type")),
    Some("""SELECT event_type, next_type, count(*) AS n FROM (
              SELECT event_type, lead(event_type) OVER (
                PARTITION BY user_id
                ORDER BY epoch_ms(ts), event_id) AS next_type
              FROM events)
            WHERE next_type IS NOT NULL
            GROUP BY 1, 2 ORDER BY event_type, next_type"""))

  /** Inter-purchase interval histogram: gaps between a user's consecutive
    * purchases, bucketed by power-of-two minutes (integer bit-length —
    * the skew_profile trick, no float log2). The repeat-behavior
    * distribution a retention model calibrates against. One keyed lag
    * window + a bounded histogram agg. */
  val purchaseIntervals = QueryDef(
    "purchase_intervals",
    (s, dir) => {
      val p = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
          col("event_id"))
      val gaps = p.withColumn("prev_ts", lag(col("ts_ms"), 1).over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("ts_ms"), col("event_id"))))
        .filter(col("prev_ts").isNotNull)
        .select(expr("(ts_ms - prev_ts) div 60000").as("gap_min"))
      // power-of-two bucket via binary length: bucket k covers
      // [2^(k-1), 2^k) minutes; gap 0 lands in bucket 0
      gaps.withColumn("bucket",
          when(col("gap_min") <= 0, 0L)
            .otherwise(length(conv(col("gap_min"), 10, 2)).cast("long")))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_gaps"),
          min(col("gap_min")).as("min_gap_min"),
          max(col("gap_min")).as("max_gap_min"))
        .orderBy(col("bucket"))
    },
    Some("""WITH p AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id
              FROM events WHERE event_type = 'purchase'),
            g AS (SELECT (ts_ms - lag(ts_ms) OVER (PARTITION BY user_id
                ORDER BY ts_ms, event_id)) // 60000 AS gap_min
              FROM p),
            b AS (SELECT gap_min,
              CASE WHEN gap_min <= 0 THEN 0
                   ELSE length(bin(gap_min)) END AS bucket
              FROM g WHERE gap_min IS NOT NULL)
            SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_gaps,
              min(gap_min) AS min_gap_min, max(gap_min) AS max_gap_min
            FROM b GROUP BY 1 ORDER BY bucket"""))

  /** Crawl URL canonicalization + duplicate grouping. Four messy variants
    * of the same logical URL are planted per doc-group (the corpus has no
    * URL column), then canonicalized: lowercase scheme+host, strip www.,
    * default ports, fragments and tracking params (utm_ prefix, ref,
    * fbclid, gclid),
    * sort surviving query params, trim trailing path slashes. All pure
    * regexp/string column ops (codegen'd, narrow); the only shuffle is the
    * final groupBy on the canonical key — the 100 TB crawl-dedup shape.
    * Scheme is NOT folded (http vs https stay distinct keys) — planted
    * variants all use https so the four-way grouping is exercised. */
  val urlCanonicalize = QueryDef(
    "url_canonicalize",
    (s, dir) => {
      val grp = floor(col("doc_id") / 4).cast("long")
      val c = pmod(col("doc_id"), lit(4))
      val raw = when(c === 0, concat(lit("HTTPS://WWW.Example.COM:443/Site/"),
          grp, lit("/Page?utm_source=feed&b=2&a=1#top")))
        .when(c === 1, concat(lit("https://www.example.com/Site/"),
          grp, lit("/Page/?a=1&b=2&utm_campaign=x")))
        .when(c === 2, concat(lit("https://example.com/Site/"),
          grp, lit("/Page?b=2&a=1")))
        .otherwise(concat(lit("HTTPS://Example.com:443/Site/"),
          grp, lit("/Page?a=1&ref=rss&b=2#sec-2")))
      val pre0 = lower(regexp_extract(raw, "^([A-Za-z]+://[^/?#]*)", 1))
      val pre = regexp_replace(
        regexp_replace(
          regexp_replace(pre0, "^(https?://)www\\.", "$1"),
          "^(https://.*):443$", "$1"),
        "^(http://.*):80$", "$1")
      val rest = regexp_replace(
        expr("substring(raw_url, length(regexp_extract(raw_url, '^([A-Za-z]+://[^/?#]*)', 1)) + 1)"),
        "#.*$", "")
      val path0 = regexp_extract(rest, "^([^?]*)", 1)
      val path = when(regexp_replace(path0, "/+$", "") === "", lit("/"))
        .otherwise(regexp_replace(path0, "/+$", ""))
      val qs = regexp_extract(rest, "\\?(.*)$", 1)
      val params = filter(split(qs, "&"),
        p => !p.rlike("^(utm_[^=]*|ref|fbclid|gclid)=") && p =!= "")
      val qsSorted = array_join(array_sort(params), "&")
      val canon = concat(pre, path,
        when(qsSorted =!= "", concat(lit("?"), qsSorted)).otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"), raw.as("raw_url"))
        .select(col("doc_id"), canon.as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_variants"), min(col("doc_id")).as("keeper_id"))
        .orderBy(col("canonical_url"))
    },
    Some("""WITH raw AS (SELECT doc_id,
               CASE doc_id % 4
                 WHEN 0 THEN 'HTTPS://WWW.Example.COM:443/Site/' ||
                   CAST(floor(doc_id / 4) AS BIGINT) || '/Page?utm_source=feed&b=2&a=1#top'
                 WHEN 1 THEN 'https://www.example.com/Site/' ||
                   CAST(floor(doc_id / 4) AS BIGINT) || '/Page/?a=1&b=2&utm_campaign=x'
                 WHEN 2 THEN 'https://example.com/Site/' ||
                   CAST(floor(doc_id / 4) AS BIGINT) || '/Page?b=2&a=1'
                 ELSE 'HTTPS://Example.com:443/Site/' ||
                   CAST(floor(doc_id / 4) AS BIGINT) || '/Page?a=1&ref=rss&b=2#sec-2'
               END AS raw_url FROM documents),
             pp AS (SELECT doc_id, raw_url,
               regexp_replace(regexp_replace(regexp_replace(
                 lower(regexp_extract(raw_url, '^([A-Za-z]+://[^/?#]*)', 1)),
                 '^(https?://)www\.', '\1'),
                 '^(https://.*):443$', '\1'),
                 '^(http://.*):80$', '\1') AS pre,
               regexp_replace(substring(raw_url,
                 length(regexp_extract(raw_url, '^([A-Za-z]+://[^/?#]*)', 1)) + 1),
                 '#.*$', '') AS rest
               FROM raw),
             parts AS (SELECT doc_id, pre,
               CASE WHEN regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '') = ''
                 THEN '/' ELSE regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '')
               END AS path,
               array_to_string(list_sort(list_filter(
                 string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
                 p -> NOT regexp_matches(p, '^(utm_[^=]*|ref|fbclid|gclid)=') AND p <> '')),
                 '&') AS qs
               FROM pp),
             canon AS (SELECT doc_id,
               pre || path || CASE WHEN qs <> '' THEN '?' || qs ELSE '' END
                 AS canonical_url FROM parts)
             SELECT canonical_url, count(*) AS n_variants,
               min(doc_id) AS keeper_id
             FROM canon GROUP BY 1 ORDER BY canonical_url"""))

  /** One unrolled DuckDB BPE step: count pairs over the previous symbol
    * table, pick the (count desc, pair asc) argmax, two-pass-replace it —
    * the exact contract [[graft.operators.Bpe.trainMerges]] implements. */
  private def bpeStepCtes(k: Int): String = {
    val prev = if (k == 1) "sym0" else s"m${k - 1}"
    s"""p$k AS (SELECT unnest(list_transform(range(1, len(sm)),
               i -> sm[i] || ' ' || sm[i+1])) AS pair, f FROM
               (SELECT f, list_filter(string_split(trim(sym), ' '),
                  x -> x <> '') AS sm FROM $prev)),
             best$k AS (SELECT pair, sum(f)::BIGINT AS cnt FROM p$k
               GROUP BY 1 ORDER BY cnt DESC, pair ASC LIMIT 1),
             m$k AS (SELECT word, f, replace(replace(sym,
               ' ' || (SELECT pair FROM best$k) || ' ',
               ' ' || replace((SELECT pair FROM best$k), ' ', '') || ' '),
               ' ' || (SELECT pair FROM best$k) || ' ',
               ' ' || replace((SELECT pair FROM best$k), ' ', '') || ' ')
               AS sym FROM $prev)"""
  }

  /** BPE tokenizer TRAINING — the actual greedy merge loop, not just one
    * round's statistic: 3 steps of (count weighted adjacent pairs over
    * the vocabulary → argmax → merge everywhere). Each step's pair table
    * derives from the PREVIOUS step's merged symbols, so step 2 can pick
    * a pair containing step 1's new symbol — the part `bpe_pair_stats`
    * alone can't express. The oracle unrolls the identical three steps
    * as CTE chains. Vocabulary-sized work throughout. */
  val bpeTrainMerges = QueryDef(
    "bpe_train_merges",
    (s, dir) => {
      import graft.operators.Bpe
      val words = t(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("f"))
      val (merges, vocab) = Bpe.trainMerges(s, words, steps = 3)
      vocab.unpersist()
      import s.implicits._
      merges.map(m => (m.step.toLong, m.pair, m.count))
        .toDF("step", "pair", "cnt").orderBy(col("step"))
    },
    Some(s"""WITH w AS (SELECT t AS word, count(*)::BIGINT AS f FROM
               (SELECT unnest($tokensSql) AS t FROM documents) GROUP BY 1),
             sym0 AS (SELECT word, f, ' ' ||
               array_to_string(regexp_split_to_array(word, ''), ' ') || ' '
               AS sym FROM w),
             ${bpeStepCtes(1)},
             ${bpeStepCtes(2)},
             ${bpeStepCtes(3)}
             SELECT * FROM (
               SELECT CAST(1 AS BIGINT) AS step, pair, cnt FROM best1
               UNION ALL
               SELECT CAST(2 AS BIGINT), pair, cnt FROM best2
               UNION ALL
               SELECT CAST(3 AS BIGINT), pair, cnt FROM best3)
             ORDER BY step"""))

  /** BPE ENCODE — the other half of tokenizer training: apply the trained
    * merge table to the corpus and measure the compression it buys. The
    * encoded vocabulary (word → symbol sequence) is tiny, so the corpus
    * side never re-segments: tokens meet the vocab through one broadcast
    * equi-join, and the per-source report is a partial-aggregated groupBy.
    * symbols_before = characters (the step-0 encoding), symbols_after =
    * symbols surviving 3 merges; the ratio is the tokenizer's compression
    * on real token instances, weighted by actual usage. */
  val bpeEncode = QueryDef(
    "bpe_encode",
    (s, dir) => {
      import graft.operators.Bpe
      val docs = t(s, dir, "documents")
      val words = docs
        .select(explode(TextOps.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("f"))
      val (_, vocab) = Bpe.trainMerges(s, words, steps = 3)
      val enc = vocab.select(col("word"),
        size(split(trim(col("sym")), " ")).cast("long").as("n_sym"))
      val out = docs
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("word"))
        .join(broadcast(enc), "word")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("word")).cast("long")).as("symbols_before"),
          sum(col("n_sym")).as("symbols_after"))
        .orderBy(col("source"))
      vocab.unpersist()
      out
    },
    Some(s"""WITH w AS (SELECT t AS word, count(*)::BIGINT AS f FROM
               (SELECT unnest($tokensSql) AS t FROM documents) GROUP BY 1),
             sym0 AS (SELECT word, f, ' ' ||
               array_to_string(regexp_split_to_array(word, ''), ' ') || ' '
               AS sym FROM w),
             ${bpeStepCtes(1)},
             ${bpeStepCtes(2)},
             ${bpeStepCtes(3)},
             tok AS (SELECT source, unnest($tokensSql) AS word
               FROM documents)
             SELECT source, count(*) AS n_words,
               CAST(sum(strlen(t.word)) AS BIGINT) AS symbols_before,
               CAST(sum(len(list_filter(string_split(trim(m.sym), ' '),
                 x -> x <> ''))) AS BIGINT) AS symbols_after
             FROM tok t JOIN m3 m ON t.word = m.word
             GROUP BY source ORDER BY source"""))

  /** BPE tokenizer-training inner loop: word-frequency-weighted adjacent
    * symbol-pair counts (the statistic the first merge rule is chosen
    * from). The 100 TB shape is the point: pair expansion runs over the
    * VOCABULARY (distinct word × freq — sublinear in corpus size), never
    * over raw token instances; the corpus-sized work is one word-count
    * shuffle with map-side partial aggregation. */
  val bpePairStats = QueryDef(
    "bpe_pair_stats",
    (s, dir) => {
      val vocab = t(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("freq"))
      vocab
        .select(col("freq"), explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => concat(col("w").substr(i, lit(1)), lit(" "),
            col("w").substr(i + 1, lit(1))))).as("pair"))
        .groupBy("pair").agg(sum(col("freq")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("pair"))
        .limit(50)
    },
    Some(s"""WITH tk AS (SELECT $tokensSql AS t FROM documents),
             w0 AS (SELECT unnest(t) AS w FROM tk),
             v AS (SELECT w, count(*) AS freq FROM w0
               WHERE regexp_matches(w, '^[a-z]+$$') AND length(w) >= 2
               GROUP BY 1),
             p AS (SELECT freq, unnest(list_transform(range(1, length(w)),
               i -> w[i] || ' ' || w[i+1])) AS pair FROM v)
             SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
             FROM p GROUP BY 1 ORDER BY pair_count DESC, pair LIMIT 50"""))

  /** Deterministic weighted sampling: k docs per language, selection odds
    * increasing with doc weight (n_chars). Priority key = h64(seed|id) / w
    * — smallest-k win. Integer hash + one IEEE double division keeps the
    * key bit-identical across engines (exact Efraimidis-Sampling A-Res
    * needs ln(u), whose libm rounding differs between JVM and C++ — this
    * u/w variant is weight-monotone and fully deterministic instead).
    * One window per language partition — the per-group top-k shape. */
  val sampleWeighted = QueryDef(
    "sample_weighted",
    (s, dir) => {
      val key = HashOps.h64Seeded(7, col("doc_id")).cast("double") /
        greatest(col("n_chars"), lit(1)).cast("double")
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("k").asc, col("doc_id").asc)
      t(s, dir, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars"), key.as("k"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 10)
        .select(col("lang"), col("rnk"), col("doc_id"), col("n_chars"))
        .orderBy(col("lang"), col("rnk"))
    },
    Some("""WITH keyed AS (SELECT lang, doc_id, n_chars,
               CAST(('0x' || substr(md5('7|' || doc_id), 1, 15)) AS BIGINT)::DOUBLE
                 / greatest(n_chars, 1)::DOUBLE AS k
               FROM documents),
             ranked AS (SELECT lang, doc_id, n_chars,
               row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS rnk
               FROM keyed)
             SELECT lang, rnk, doc_id, n_chars FROM ranked
             WHERE rnk <= 10 ORDER BY lang, rnk"""))

  /** CTE chain ending in `cand(qid, id, d2s)` — the oracle replay of the
    * whole PQ construction (training, encoding, ADC candidate distances),
    * shared by [[annIvfPq]] and [[annPqRerank]]. */
  private val pqCandCtes: String =
    """v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec
              FROM embeddings),
            sub AS (SELECT id, mm.m AS m, vec[mm.m*16+1 : mm.m*16+16] AS svec
              FROM v, range(4) mm(m)),
            s0 AS (SELECT m, id AS cid, svec AS cvec FROM sub WHERE id < 8),
            a0 AS (SELECT id, m, svec, cid FROM (
              SELECT s.id, s.m, s.svec, c.cid, row_number() OVER (
                PARTITION BY s.id, s.m ORDER BY
                  round(list_dot_product(s.svec, s.svec)
                    - 2 * list_dot_product(s.svec, c.cvec)
                    + list_dot_product(c.cvec, c.cvec), 6) + 0.0 ASC, c.cid) AS rn
              FROM sub s JOIN s0 c ON s.m = c.m) WHERE rn = 1),
            c1 AS (SELECT m, cid, list(val ORDER BY pos) AS cvec FROM (
              SELECT m, cid, p.p AS pos,
                CAST(sum(CAST(round(svec[p.p + 1] * 1000) AS BIGINT)) AS DOUBLE)
                  / (count(*) * 1000.0) AS val
              FROM a0, range(16) p(p) GROUP BY m, cid, p.p) GROUP BY m, cid),
            codes AS (SELECT id, m, cid AS code FROM (
              SELECT s.id, s.m, c.cid, row_number() OVER (
                PARTITION BY s.id, s.m ORDER BY
                  round(list_dot_product(s.svec, s.svec)
                    - 2 * list_dot_product(s.svec, c.cvec)
                    + list_dot_product(c.cvec, c.cvec), 6) + 0.0 ASC, c.cid) AS rn
              FROM sub s JOIN c1 c ON s.m = c.m) WHERE rn = 1),
            dt AS (SELECT q.id AS qid, c.m, c.cid,
                CAST(round((list_dot_product(q.svec, q.svec)
                  - 2 * list_dot_product(q.svec, c.cvec)
                  + list_dot_product(c.cvec, c.cvec)) * 1000000) AS BIGINT) AS d2i
              FROM sub q JOIN c1 c ON q.m = c.m WHERE q.id < 5),
            cand AS (SELECT d.qid, co.id, CAST(sum(d.d2i) AS BIGINT) AS d2s
              FROM codes co JOIN dt d ON co.m = d.m AND co.code = d.cid
              WHERE co.id <> d.qid GROUP BY d.qid, co.id)"""

  /** Product-quantization ANN: per-subspace codebooks (4 × 16-dim, 8
    * centroids each, one scaled-integer Lloyd step from the ids&lt;8
    * seeds), corpus encoded to 4 codes/vector, asymmetric-distance top-k
    * via broadcast distance tables and an exact integer sum. The oracle
    * replays the entire construction — training, encoding, ADC — in SQL,
    * so hash-match proves the whole quantizer, not just the final rank. */
  val annIvfPq = QueryDef(
    "ann_ivf_pq",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.operators.Similarity.pqTopK(corpus, queries, k = 10, m = 4,
        ksub = 8, dim = 64, trainIters = 1)
        .orderBy(col("qid"), col("rank"))
    },
    Some(s"""WITH $pqCandCtes
            SELECT qid, rank, id, round(d2s / 1000000.0, 6) AS approx_d2 FROM (
              SELECT qid, id, d2s, row_number() OVER (
                PARTITION BY qid ORDER BY d2s, id) AS rank FROM cand)
            WHERE rank <= 10 ORDER BY qid, rank"""))

  /** Two-stage retrieval, the production ANN serving shape: PQ/ADC
    * over-fetches 30 approximate candidates per query (compressed-domain,
    * cheap), then ONLY those 30 are scored with exact cosine
    * ([[graft.operators.Similarity.rerankExact]]) and cut to top-10 —
    * recall from the cheap stage, ordering quality from the exact one.
    * At corpus scale the rerank cost is |queries|·30 true dot products
    * regardless of corpus size; the candidate join is a keyed equi-join,
    * never a corpus scan. The oracle replays PQ training + encoding + ADC
    * (shared CTEs with `ann_ivf_pq`) and the exact rerank in SQL. */
  val annPqRerank = QueryDef(
    "ann_pq_rerank",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val cands = graft.operators.Similarity.pqTopK(corpus, queries, k = 30,
        m = 4, ksub = 8, dim = 64, trainIters = 1)
      graft.operators.Similarity.rerankExact(corpus, queries, cands, k = 10)
        .orderBy(col("qid"), col("rank"))
    },
    Some(s"""WITH $pqCandCtes,
            cand30 AS (SELECT qid, id FROM (
                SELECT qid, id, row_number() OVER (
                  PARTITION BY qid ORDER BY d2s, id) AS rk FROM cand)
              WHERE rk <= 30),
            vv AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
                sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
              FROM embeddings),
            rer AS (SELECT c.qid, c.id,
                round(list_dot_product(cv.vec, qv.vec) / (cv.n * qv.n), 6)
                  + 0.0 AS sim
              FROM cand30 c
              JOIN vv cv ON cv.id = c.id
              JOIN vv qv ON qv.id = c.qid)
            SELECT qid, row_number() OVER (PARTITION BY qid
                ORDER BY sim DESC, id) AS rank, id, sim
            FROM rer QUALIFY rank <= 10
            ORDER BY qid, rank"""))

  /** FULLY-oracled streaming sessionization: events stream through the
    * flatMapGroupsWithState operator (gap = 6 h, emit-on-close), then a
    * close-out drain appends one sentinel per user 2×gap past max — every
    * real session closes and emits exactly once; sentinel sessions stay in
    * state and never appear. The emitted set must hash-equal the batch
    * gap-sessionization SQL. Values stream as per-event cents (integer-
    * valued doubles), so the state fold's sum is exact in any order and
    * `cast long` equals the oracle's integer-cents sum.
    * Same content-keyed stage reuse as `stream_window_agg`. */
  val streamSessionize = QueryDef(
    "stream_sessionize",
    (s, dir) => {
      import graft.streaming.Sessionize
      import org.apache.spark.sql.streaming.Trigger
      val root = graft.core.TmpStores.dir("graft-ssess").toString
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
          round(col("value") * 100).as("value"))
      val srcSig = Option(new java.io.File(s"$dir/events.parquet").listFiles())
        .map(_.toSeq).getOrElse(Seq(new java.io.File(s"$dir/events.parquet")))
        .sortBy(_.getName)
        .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString(",")
      val stage = graft.core.TmpStores.fixed(s"graft-ssess-in-${
          java.security.MessageDigest.getInstance("MD5")
            .digest(s"$dir|$srcSig".getBytes("UTF-8"))
            .map(b => f"$b%02x").mkString}").toFile
      if (!new java.io.File(stage, "_SUCCESS").exists())
        ev.write.mode("overwrite").parquet(stage.toString)
      val in = s"$root/in"
      new java.io.File(in).mkdirs()
      stage.listFiles().foreach { f =>
        java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(in, f.getName), f.toPath)
      }
      val maxTs = ev.agg(max(col("ts_ms"))).head().getLong(0)
      val gapMs = 6 * 3600 * 1000L

      def drainOnce(): Unit = {
        withStreamStatePartitions(s) {
          import s.implicits._
          val stream = s.readStream.schema(ev.schema).parquet(s"$root/in")
            .as[Sessionize.Evt]
          val q = Sessionize.sessionize(stream, gapMs).toDF()
            .writeStream.format("parquet")
            .option("path", s"$root/out").option("checkpointLocation", s"$root/cp")
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          require(q.awaitTermination(180000),
            "stream_sessionize: stream did not drain within 180s")
        }
      }
      drainOnce()
      ev.select(col("user_id")).distinct()
        .withColumn("ts_ms", lit(maxTs + 2 * gapMs))
        .withColumn("value", lit(0.0))
        .write.mode("append").parquet(s"$root/in")
      drainOnce()
      s.read.parquet(s"$root/out")
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("total_value").cast("long").as("value_cents"))
        .orderBy(col("user_id"), col("session_start"))
    },
    Some("""SELECT user_id, min(epoch_ms(ts)) AS session_start,
              max(epoch_ms(ts)) AS session_end,
              CAST(count(*) AS INT) AS n_events,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
            FROM (
              SELECT user_id, ts, value,
                CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_no
              FROM (
                SELECT user_id, ts, value, event_id,
                  CASE WHEN prev_ts IS NULL
                       OR epoch_ms(ts) - epoch_ms(prev_ts) > 21600000
                       THEN 1 ELSE 0 END AS new_sess
                FROM (SELECT user_id, ts, value, event_id,
                        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
                      FROM events)))
            GROUP BY user_id, sess_no
            ORDER BY user_id, session_start"""))

  /** C4-style span-level dedup ([[graft.operators.Dedup.spanDedup]]): every
    * distinct 10-token span survives exactly once corpus-wide (first
    * occurrence by (doc_id, span_idx)); documents are reassembled from
    * their surviving spans. The oracle replays span slicing, global keeper
    * election, and ordered reassembly in SQL and compares the md5 of the
    * rebuilt text. */
  val dedupSpans = QueryDef(
    "dedup_spans",
    (s, dir) => graft.operators.Dedup
      .spanDedup(t(s, dir, "documents"), "doc_id", "text", 10)
      .orderBy(col("doc_id")),
    Some("""WITH toks AS (SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
             FROM documents),
             idx AS (SELECT doc_id, t,
               unnest(range(0, (len(t) + 9) // 10)) AS i FROM toks),
             spans AS (SELECT doc_id, CAST(i AS INT) AS span_idx,
               array_to_string(list_slice(t, CAST(i*10+1 AS BIGINT),
                 CAST(i*10+10 AS BIGINT)), ' ') AS span FROM idx),
             ranked AS (SELECT doc_id, span_idx, span,
               row_number() OVER (PARTITION BY md5(span)
                 ORDER BY doc_id, span_idx) AS rn FROM spans)
             SELECT doc_id, count(*) AS n_spans,
               count(*) FILTER (WHERE rn = 1) AS kept_spans,
               md5(coalesce(string_agg(span, ' ' ORDER BY span_idx)
                 FILTER (WHERE rn = 1), '')) AS out_md5
             FROM ranked GROUP BY doc_id ORDER BY doc_id"""))

  /** Sequence-length histogram — the curriculum/packing planner's input:
    * doc counts and token totals per 16-token length bucket, with a
    * cumulative doc count. Pure integer arithmetic (bucket = n − n mod 16)
    * so the oracle is bit-exact. The global cumulative window runs over
    * histogram rows (bucket cardinality, dozens), not documents — safe at
    * any corpus size. */
  val seqLenHist = QueryDef(
    "seq_length_hist",
    (s, dir) => {
      val cum = Window.orderBy(col("bucket_lo"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "documents")
        .select(TextOps.tokenCount(col("text")).cast("long").as("n"))
        .groupBy((col("n") - pmod(col("n"), lit(16))).as("bucket_lo"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).as("total_tokens"),
          min(col("n")).as("min_tokens"),
          max(col("n")).as("max_tokens"))
        .withColumn("cum_docs", sum(col("n_docs")).over(cum))
        .orderBy(col("bucket_lo"))
    },
    Some("""WITH n AS (SELECT CAST(len(list_filter(
               string_split(lower(text), ' '), x -> x <> '')) AS BIGINT) AS n
             FROM documents),
             h AS (SELECT n - n % 16 AS bucket_lo, count(*) AS n_docs,
               CAST(sum(n) AS BIGINT) AS total_tokens,
               min(n) AS min_tokens, max(n) AS max_tokens
             FROM n GROUP BY 1)
             SELECT bucket_lo, n_docs, total_tokens, min_tokens, max_tokens,
               CAST(sum(n_docs) OVER (ORDER BY bucket_lo
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_docs
             FROM h ORDER BY bucket_lo"""))

  /** Gopher-style quality rules (Rae et al. 2021, public): unlike
    * [[corpusFilter]]'s first-reject-reason pipeline, every rule is
    * evaluated per doc and surfaced as its own column — the shape used to
    * tune thresholds (per-rule pass rates) before committing a filter.
    * All rules are integer-exact (mean-length bounds as cross-multiplied
    * integer compares, never a division), so the oracle is bit-exact.
    * Narrow per-row column ops — no shuffle at all before the final sort. */
  val gopherRules = QueryDef(
    "gopher_rules",
    (s, dir) => {
      val stopWords = Seq("the", "and", "of", "to", "is", "in", "that",
        "it", "for", "with")
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("t"))
        .select(col("doc_id"),
          size(col("t")).cast("long").as("n_words"),
          aggregate(col("t"), lit(0), (acc, x) => acc + length(x))
            .cast("long").as("total_chars"),
          size(filter(col("t"), x => x.rlike("[a-z]")))
            .cast("long").as("alpha_words"),
          size(filter(col("t"), x => x.isInCollection(stopWords)))
            .cast("long").as("stop_count"),
          (length(col("text")) - length(expr("replace(text, '#', '')")))
            .cast("long").as("n_symbols"))
      d.select(col("doc_id"), col("n_words"),
          col("n_words").between(20, 100000).as("r_wordcount"),
          (lit(3) * col("n_words") <= col("total_chars") &&
            col("total_chars") <= lit(10) * col("n_words")).as("r_meanlen"),
          (lit(5) * col("alpha_words") >= lit(4) * col("n_words")).as("r_alpha"),
          (col("stop_count") >= 2).as("r_stop"),
          (lit(10) * col("n_symbols") <= col("n_words")).as("r_symbol"))
        .withColumn("keep", col("r_wordcount") && col("r_meanlen") &&
          col("r_alpha") && col("r_stop") && col("r_symbol"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH base AS (SELECT doc_id, text, $tokensSql AS t FROM documents),
             sig AS (SELECT doc_id,
                 CAST(len(t) AS BIGINT) AS n_words,
                 CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0)
                   AS BIGINT) AS total_chars,
                 CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
                   AS BIGINT) AS alpha_words,
                 CAST(len(list_filter(t, x -> list_contains(
                   ['the','and','of','to','is','in','that','it','for','with'],
                   x))) AS BIGINT) AS stop_count,
                 CAST(length(text) - length(replace(text, '#', ''))
                   AS BIGINT) AS n_symbols
               FROM base)
             SELECT doc_id, n_words,
               n_words BETWEEN 20 AND 100000 AS r_wordcount,
               3 * n_words <= total_chars AND total_chars <= 10 * n_words
                 AS r_meanlen,
               5 * alpha_words >= 4 * n_words AS r_alpha,
               stop_count >= 2 AS r_stop,
               10 * n_symbols <= n_words AS r_symbol,
               (n_words BETWEEN 20 AND 100000)
                 AND (3 * n_words <= total_chars AND total_chars <= 10 * n_words)
                 AND (5 * alpha_words >= 4 * n_words)
                 AND (stop_count >= 2)
                 AND (10 * n_symbols <= n_words) AS keep
             FROM sig ORDER BY doc_id"""))

  /** Train/val/test leakage audit — the check that belongs AFTER
    * [[splitAssignQ]]: any content fingerprint appearing in more than one
    * split is leakage (an eval doc the model trained on). The corpus has
    * no exact duplicates, so both engines plant re-id'd copies of the
    * first 50 docs (duplicate content, different md5 split bucket) and
    * must find exactly the planted leaks. One fingerprint-shuffle groupBy
    * with map-side partial aggregation — the same 100 TB shape as exact
    * dedup. */
  val splitLeakage = QueryDef(
    "split_leakage",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      docs.unionAll(planted)
        .select(col("doc_id"),
          TextOps.splitAssign(col("doc_id")).as("split"),
          TextOps.fingerprint(col("text")).as("fingerprint"))
        .groupBy(col("fingerprint"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("split")).as("n_splits"),
          array_join(array_sort(collect_set(col("split"))), ",").as("splits"),
          min(col("doc_id")).as("keeper_id"))
        .filter(col("n_splits") > 1)
        .orderBy(col("fingerprint"))
    },
    Some("""WITH u AS (SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + 100000 AS doc_id, text FROM documents
               WHERE doc_id < 50),
             a AS (SELECT doc_id,
               CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 100 < 80
                      THEN 'train'
                    WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 100 < 90
                      THEN 'val'
                    ELSE 'test' END AS split,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                 AS fingerprint
               FROM u)
             SELECT fingerprint, count(*) AS n_docs,
               count(DISTINCT split) AS n_splits,
               array_to_string(list_sort(list_distinct(list(split))), ',')
                 AS splits,
               min(doc_id) AS keeper_id
             FROM a GROUP BY fingerprint HAVING count(DISTINCT split) > 1
             ORDER BY fingerprint"""))

  /** Z-order (Morton) clustering summary over lineitem's two-dimensional
    * (l_partkey, l_suppkey) key space — the layout pass a 100-TB table runs
    * so that a box filter on EITHER dimension prunes files (a single-column
    * sort leaves the other dimension's min/max stats useless). 8 bits per
    * dimension, bounds from one broadcast 1-row agg; the result groups rows
    * by coarse z-cell (top 4 bits of each dim, interleaved) and shows each
    * cell's min/max along BOTH dims — exactly the per-file stats a
    * [[graft.operators.Layout.zorderFrame]] re-layout would publish. All
    * bit math is codegen'd Column ops; the oracle replays the identical
    * unrolled Morton terms. One shuffle (the cell groupBy). */
  val zorderLayout = QueryDef(
    "zorder_layout",
    (s, dir) => {
      import graft.operators.Layout
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"))
      Layout.zcellSummary(li, Seq("l_partkey", "l_suppkey"), bits = 8,
        dropBits = 8)
    },
    Some {
      val pb = graft.operators.Layout.rangeBucketSql(
        "l_partkey", "p_lo", "p_hi", 8)
      val sb = graft.operators.Layout.rangeBucketSql(
        "l_suppkey", "s_lo", "s_hi", 8)
      val z = graft.operators.Layout.interleaveSql(Seq("pb", "sb"), 8)
      s"""WITH bounds AS (SELECT min(l_partkey) AS p_lo, max(l_partkey) AS p_hi,
               min(l_suppkey) AS s_lo, max(l_suppkey) AS s_hi FROM lineitem),
           b AS (SELECT l_partkey, l_suppkey, $pb AS pb, $sb AS sb
             FROM lineitem, bounds),
           z AS (SELECT l_partkey, l_suppkey, $z AS zv FROM b)
           SELECT zv >> 8 AS zcell, count(*) AS n_rows,
             CAST(min(l_partkey) AS BIGINT) AS min_l_partkey,
             CAST(max(l_partkey) AS BIGINT) AS max_l_partkey,
             CAST(min(l_suppkey) AS BIGINT) AS min_l_suppkey,
             CAST(max(l_suppkey) AS BIGINT) AS max_l_suppkey
           FROM z GROUP BY 1 ORDER BY 1"""
    })

  /** One-pass column profile of `orders` — the ANALYZE a pipeline runs
    * before choosing partition counts, salt factors, and layout columns:
    * per column, null count, exact distinct count, canonical min/max, and
    * mean length. Single wide aggregate over one scan (exact DISTINCTs
    * plan an Expand; `approxDistinct = true` collapses it to HLL sketches
    * at production scale); the per-column rows are an O(#columns)
    * driver-side unpivot of the ONE result row. */
  val profileColumns = QueryDef(
    "profile_columns",
    (s, dir) =>
      graft.operators.Profile.columns(t(s, dir, "orders")),
    Some {
      def statRow(name: String, minSql: String, maxSql: String,
          lenSql: Option[String]): String = {
        val avg = lenSql
          .map(l => s"CAST(sum($l) * 100 // count($l) AS BIGINT)")
          .getOrElse("CAST(NULL AS BIGINT)")
        s"""SELECT '$name' AS col_name, count(*) AS n_rows,
            CAST(sum(CASE WHEN $name IS NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS n_null,
            CAST(count(DISTINCT $name) AS BIGINT) AS n_distinct,
            CAST($minSql AS VARCHAR) AS min_v,
            CAST($maxSql AS VARCHAR) AS max_v,
            $avg AS avg_len_x100
            FROM orders"""
      }
      Seq(
        statRow("o_custkey", "min(o_custkey)", "max(o_custkey)", None),
        statRow("o_orderdate", "epoch_ms(min(o_orderdate))",
          "epoch_ms(max(o_orderdate))", None),
        statRow("o_orderkey", "min(o_orderkey)", "max(o_orderkey)", None),
        statRow("o_orderpriority", "min(o_orderpriority)",
          "max(o_orderpriority)", Some("length(o_orderpriority)")),
        statRow("o_orderstatus", "min(o_orderstatus)", "max(o_orderstatus)",
          Some("length(o_orderstatus)")),
        statRow("o_totalprice", "CAST(round(min(o_totalprice) * 100) AS BIGINT)",
          "CAST(round(max(o_totalprice) * 100) AS BIGINT)", None)
      ).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    })

  // ---------------------------------------------------------------------------
  // Registry
  // ---------------------------------------------------------------------------

  val all: Seq[QueryDef] = Seq(
    q1Agg, q3JoinTopk,
    r1Get, r2BatchGet, r3Project,
    r4Dot, r5Cosine, r6Hadamard, r7Count, r7CountMap, r8ComputeErrors, r9Prefix,
    r10Predicates, r11Stream, qWindow, qRollup, qSemi, q4Priority, qAnti,
    qSessionize,
    b3Ttl, b4Compaction, b4DupAudit, b7Quota, b8Partition,
    w3WriteCompute, w5Lww, w6DeleteWins, w7Crdt, w7CrdtMap, w8Squash, w11Div, w12Hll, w13HotKeys,
    w15ApplyCdc, w16UpdateCdc,
    r12Meta, r13SchemaEvolution, b13IncrementalView, b14AaView, b19JoinView,
    r14AaEvolution, s3LagGate, w1PutDelete, dsv2StoreRead, dsv2StoreWrite,
    dsv2ChangelogRead, dsv2StreamWrite, dsv2AsofRead, dsv2Replication,
    sqlComputeClient, sqlTextFns, sqlTimeTravel,
    w2UpdateBuilder, w4UpdateSchema, w9Chunk, b6Wire,
    b1Avro, w10Compression, b10Metrics, b11Incremental, b12Etl,
    s1Ingest, s2Rewind, s4Changelog, s6SqlView, s7TokenBucket,
    dedupExact, dedupMinhash, dedupSimhash, dedupSimhash64, dedupNgram,
    dedupIndexProbe,
    dedupNgramCapped, dedupContainment, sampleClusterBalanced, dedupEmbedding,
    dedupClusters, annTopk, annSq8, annLsh, annIvf, annIndexProbe,
    annIndexSq8,
    textStats, textTokenCounts,
    mmDecode, mmFrames, textPiiRedact, splitAssignQ,
    decontaminate, sampleStratified, mixTokenBudget, textWinnow,
    textRepetition, corpusFilter, mixReport, packSequences, packMasks,
    batchPaddingWaste, lmRarity, nbClassifierFilter, semdedup,
    boilerplateNgrams, embedQuantize, mixTemperature,
    streamWindowAgg, corpusShuffle, mmAudioResample, qAsofJoin,
    corpusPercentiles, qRangeJoin, qTopkGroup, dedupIncremental,
    sampleExactK, r15FacetCount, docChunk, vocabCoverage, hardNegativesQ,
    streamEnrichJoin, tfidfTopTerms, rollingFeatures,
    corpusDiff, domainStats, bloomExclusion, skewProfile, streamJoinQ,
    streamJoinOuterQ, r16AsofRead, qualityDeciles, b15Purge,
    curriculumInterleave, urlCanonicalize, bpePairStats, sampleWeighted,
    annIvfPq, annPqRerank, streamSessionize, dedupSpans, seqLenHist,
    gopherRules, splitLeakage, r17Rollback, bm25Retrieval, bm25IndexProbe,
    bm25IndexSharded, bm25IndexTopFetch, rrfFusion, rrfFusionTopFetch,
    lmBigram, dedupEmbeddingLsh, semdedupScaled,
    crawlPagerank, spanCorrupt, fimTransform, mixRollup, q5LocalSupplier,
    streamTrending,
    q18BigOrders, dedupRateReport, streamDedupQ, streamNearDupQ,
    r18PartialKey, r19Rebucket,
    r20Davinci,
    b17Recovery, s10StreamAggView, annDimTruncation,
    mmPairAudit, pipelineE2e, b18CompactPolicy,
    q10Returns, docLangConfusion, embNormAudit, q14Promo, q19Bands,
    eventsResample, dupSpanProfileQ, q22NoOrders, dailyNewUsers,
    q6Forecast, dataContract, s11AaTwoRegion, abAnalysis,
    embOutliers, s12IngestResume, q13Custdist, q15TopSupplier, q8MarketShare,
    q9Profit, q11ImportantStock, q21WaitingSupplier,
    exportJsonlQ, labelNextPurchase, multiStoreJoin, tokenPmi,
    qApproxQuantile, rollingDistinct, eventsHeatmap,
    eventTransitions, purchaseIntervals,
    funnelAnalysis, sourceDivergence, propsJson, qWindowFuncs,
    dedupIncrementalNear, datasetCard, kAnonymity, q17SmallQty,
    qSaltedJoin, s9Bootstrap, qPivot, w14HllUnion, bpeTrainMerges,
    b16AggView, bpeEncode, dedupClusterKeeper, cohortRetention,
    eventsDebounce, centroidClassify, q7Volume, qScdJoin, qualityCi,
    zorderLayout, profileColumns, b20AvroUnion, storeConfigQ,
    preferencePairs, b21TopicIngest, semdedupIncremental, annRecallReport,
    streamSemDedupQ, versionDiffQ, streamDecontamQ, packBins,
    decontamSurgeryQ, b22StoreMigration, covisitPairs, negSampling,
    nextItemExamplesQ, splitByClusterQ)

  def byName: Map[String, QueryDef] = all.map(q => q.name -> q).toMap
}
