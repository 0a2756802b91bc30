package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{GraftEngine, GraftSession, Tables}

/** Plan-shape pins: what makes these operators scale lives in the physical
  * PLAN — column pruning, predicate pushdown, partition pruning, broadcast
  * joins, equi-join candidate generation. Assert those properties so a
  * refactor can't silently regress the shape while keeping results right.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = GraftSession.build(appName = "plan-spec")
  val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("projection prunes the parquet scan to the selected columns") {
    val p = plan(Queries.byName("r3_project").fn(spark, sf))
    assert(p.contains(
      "ReadSchema: struct<p_partkey:bigint,p_name:string,p_retailprice:double>"),
      s"scan reads more than the projection:\n${p.take(400)}")
  }

  test("range predicates push down into the scan") {
    val p = plan(Queries.byName("r9_prefix_scan").fn(spark, sf))
    assert(p.contains("GreaterThanOrEqual(o_custkey,100)"), p.take(400))
    assert(p.contains("LessThan(o_custkey,200)"), p.take(400))
  }

  test("DF-capped ngram self-join reuses the window's sh partitioning") {
    // the cap's window shuffles+sorts on sh ONCE and the persisted result
    // keeps that layout, so the self-join adds no further exchange on sh
    // and the whole plan carries at most the window's exchange plus the
    // final pair-aggregation exchange (an agg+anti-join cap variant loses
    // the co-partitioning and re-shuffles BOTH join sides: measured 125 s
    // vs ~35 s on the sf1 postings)
    val shingled = graft.operators.Dedup.shingleSets(
      Tables.documents(spark, sf), "doc_id", "text", 3)
    val df = graft.operators.Dedup.ngramJaccardPairs(shingled, 0.5,
      maxPostings = 64)
    val p = plan(df)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 3,
      s"capped ngram plan shuffles $exchanges times (expected ≤3: window " +
        s"on sh + pair agg):\n${p.take(800)}")
    assert(!p.contains("Exchange SinglePartition"), p.take(400))
    spark.catalog.clearCache()
  }

  test("containment pairs reuse the capped ngram's exchange discipline") {
    // same inverted-index geometry as the capped Jaccard path: the df-cap
    // window pre-pays the self-join's shuffle+sort on sh, the pair
    // aggregation adds one keyed exchange, and BOTH directed outputs
    // project the same persisted pair frame — the union must not add
    // exchanges or ever fall into a nested loop
    val shingled = graft.operators.Dedup.shingleSets(
      Tables.documents(spark, sf), "doc_id", "text", 3)
    val df = graft.operators.Dedup.containmentPairs(shingled, 0.6,
      maxPostings = 64)
    val p = plan(df)
    // both directed branches must read the SAME persisted pair frame (one
    // physical computation of the join+agg, cached) …
    val cacheScans = "InMemoryTableScan".r.findAllIn(p).size
    assert(cacheScans >= 2,
      s"directed branches do not share the cached pair frame:\n${p.take(800)}")
    // … and the pair frame itself carries at most the window's exchange,
    // the join's (reused) layout and the pair-agg exchange — the printed
    // tree shows the cached plan once per branch, so the bound is 2×3
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 6,
      s"containment plan shuffles $exchanges times (expected ≤3 per " +
        s"cached-branch print):\n${p.take(800)}")
    assert(!p.contains("Exchange SinglePartition") &&
      !p.contains("CartesianProduct"), p.take(400))
    spark.catalog.clearCache()
  }

  test("asOf reads through the connector keep full-key bucket pruning") {
    import spark.implicits._
    val root = graft.core.TmpStores.dir("graft-plan-asof").toString
    val e = new GraftEngine(spark, root)
    e.createStore("c", Seq("k"))
    e.push("c", spark.range(1000).select(col("id").as("k"),
      col("id").cast("string").as("v")), numBuckets = 8)
    e.put("c", Seq((7L, "x")).toDF("k", "v"), tsMs = 1000L)
    val q = spark.read.format("graft").option("root", root)
      .option("store", "c").option("asOfTs", 1500L).load()
      .filter(col("k") === 7L)
    // the derived __bucket predicate must reach the SNAPSHOT scan as a
    // PartitionFilter even under the time-travel plan (servingViewAsOf
    // scans the same bucketed version dir)
    val p = plan(q)
    val pf = "PartitionFilters: \\[[^\\]]*__bucket[^\\]]*\\]".r.findAllIn(p).size
    assert(pf >= 1, s"asOf read lost bucket pruning:\n${p.take(800)}")
    assert(q.collect().map(_.getString(1)).toSeq == Seq("x"))
  }

  test("dimension joins broadcast; no cartesian in the relational core") {
    val p = plan(Queries.byName("q3_join_topk").fn(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("CartesianProduct"))
  }

  test("Q21 waiting-supplier plans as an aggregation chain — no self-joins") {
    // r11: the correlated EXISTS ("some other supplier") + NOT-EXISTS ("no
    // other LATE supplier") pair over per-(order,supplier) lateness reduces
    // to one per-order aggregate ("≥2 suppliers and exactly 1 late"); the
    // old localCheckpoint + LEFT-SEMI + LEFT-ANTI self-join shape re-sorted
    // the same intermediate three times (23.8 s at sf1 — see
    // plans/r11/q21_waiting_supplier_{before,after}.txt)
    val p = plan(Queries.byName("q21_waiting_supplier").fn(spark, sf))
    assert(!p.contains("LeftSemi") && !p.contains("LeftAnti"),
      s"Q21 still self-joins:\n${p.take(800)}")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"Q21 fell off the equi path:\n${p.take(800)}")
    assert(p.contains("HashAggregate"), p.take(600))
  }

  test("batchGet is a broadcast left-semi join") {
    import spark.implicits._
    val root = graft.core.TmpStores.dir("graft-plan").toString
    val e = new GraftEngine(spark, root)
    e.createStore("c", Seq("c_custkey"))
    e.push("c", Tables.customer(spark, sf))
    val p = plan(e.batchGet("c", Seq(1L, 2L).toDF("c_custkey")))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p.take(600))
  }

  test("bucket filter prunes the snapshot scan's partition directories") {
    val root = graft.core.TmpStores.dir("graft-plan2").toString
    val e = new GraftEngine(spark, root)
    e.createStore("c", Seq("c_custkey"))
    e.push("c", Tables.customer(spark, sf))
    val p = plan(spark.read.parquet(s"$root/c/v=1")
      .filter(col(GraftEngine.BucketCol) === 3))
    // the bucket predicate must land in PartitionFilters (directory
    // pruning), not as a post-scan Filter over all buckets
    assert(p.contains("PartitionFilters") &&
      p.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("__bucket"), p.take(600))
  }

  test("A/A point read prunes BOTH the snapshot and the op log to one bucket") {
    import spark.implicits._
    val root = graft.core.TmpStores.dir("graft-plan3").toString
    val e = new GraftEngine(spark, root)
    e.createStore("aa", Seq("id"))
    e.push("aa", Seq((1L, 1.0), (2L, 2.0)).toDF("id", "score"), numBuckets = 8)
    e.enableActiveActive("aa")
    e.setFieldAA("aa", Seq((1L, 9.0)).toDF("id", "score"), "score", tsMs = 10L)
    // the point-read plan: every parquet scan (snapshot v=1 AND aa_log)
    // must carry a __bucket PartitionFilter — directory pruning on both
    // fold sides, the one-replica-routing analog
    val p = plan(e.aaView("aa", snapBucket = Some(3), logBucket = Some(3),
      keyPred = Some(col("id") === 1L)))
    val scans = "PartitionFilters: \\[[^\\]]*\\]".r.findAllIn(p).toSeq
    assert(scans.size >= 2, s"expected 2 pruned scans, plan: ${p.take(800)}")
    assert(scans.forall(_.contains("__bucket")), scans.mkString("\n"))
  }

  test("A/A read with no pending ops is shuffle-free (fast path)") {
    import spark.implicits._
    val root = graft.core.TmpStores.dir("graft-plan4").toString
    val e = new GraftEngine(spark, root)
    e.createStore("aaq", Seq("id"))
    e.push("aaq", Seq((1L, 1.0, Seq("a")), (2L, 2.0, Seq("b")))
      .toDF("id", "score", "tags"), numBuckets = 4)
    e.enableActiveActive("aaq")
    // empty op log: the serving view must pass snapshot states through
    // flattenStates — a narrow projection, NO keyed shuffle and NO
    // aggregate (at 100 TB this is a scan, not a store-wide fold)
    val p = plan(e.servingView("aaq"))
    assert(!p.contains("Exchange") && !p.contains("Aggregate"),
      s"quiescent A/A read should be narrow, plan: ${p.take(900)}")
    // with one pending op the fold returns, but only for touched keys:
    // the plan splits into a folded (joined) side and a pass-through side
    e.setFieldAA("aaq", Seq((1L, 9.0)).toDF("id", "score"), "score", 10L)
    val rows = e.servingView("aaq").orderBy(col("id")).collect()
    assert(rows.length == 2 && rows(0).getDouble(1) == 9.0
      && rows(1).getDouble(1) == 2.0)
  }

  test("distributed DaVinci probe reads cluster memory, never parquet") {
    val root = graft.core.TmpStores.dir("plan-dvd").toString
    val e = new GraftEngine(spark, root)
    import spark.implicits._
    e.createStore("d", Seq("k"))
    e.push("d", spark.range(1000).select(col("id").as("k"),
      md5(col("id").cast("string")).as("v")), numBuckets = 8)
    val dist = e.daVinciDistributed("d")
    val full = plan(dist.probeFrame(Seq(Seq(5L), Seq(17L))))
    // everything under InMemoryRelation is the ALREADY-MATERIALIZED build
    // plan (printed for provenance, not executed per probe) — the probe's
    // own execution is the part above it
    val p = full.split("InMemoryRelation")(0)
    assert(p.contains("InMemoryTableScan"),
      s"probe does not read the cached frame:\n${p.take(600)}")
    assert(!p.contains("FileSourceScan") && !p.contains("Scan parquet"),
      s"probe re-touches parquet:\n${p.take(600)}")
    assert(!p.contains("Exchange"),
      s"a point probe must not shuffle:\n${p.take(600)}")
    // and the probe filter is pushed into the in-memory scan (batch-stat
    // pruning on the sorted key): the scan node carries both predicates
    assert(p.contains("InMemoryTableScan [") && p.contains("__probe_key"),
      s"probe predicates not pushed to the cached scan:\n${p.take(600)}")
    dist.close()
  }

  test("global prefix sum never collapses to a single partition") {
    // the scale property of pack_sequences: offsets come from a range
    // shuffle + per-partition sums, NOT a global Window.orderBy (which
    // plans as Exchange SinglePartition + Window and dies at 100 TB)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), length(col("text")).cast("long").as("w"))
    val p = plan(graft.operators.Packing.withGlobalOffsets(docs, "doc_id", "w"))
    assert(!p.contains("Exchange SinglePartition"),
      s"prefix sum collapsed to one partition:\n${p.take(600)}")
    assert(!p.contains("Window"), s"prefix sum used a window:\n${p.take(600)}")
  }

  test("curriculum interleave: keyed window + prefix sum, no global collapse") {
    // the within-source rank is a KEYED window (partitioned by source) and
    // the dense position comes from the distributed prefix sum — the plan
    // must never contain an Exchange SinglePartition (a global row_number
    // would; it dies at 100 TB)
    val p = plan(Queries.byName("curriculum_interleave")
      .fn(spark, sf).limit(1))
    assert(!p.contains("Exchange SinglePartition"),
      s"interleave collapsed to one partition:\n${p.take(800)}")
  }

  test("LSH candidate generation is an equi-join, never a nested loop") {
    val sh = graft.operators.Dedup.shingleSets(
      Tables.documents(spark, sf), "doc_id", "text", 3)
    val p = plan(graft.operators.Dedup.minhashCandidates(sh, k = 8, bands = 4))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(600))
    sh.unpersist()
  }

  test("context-window chunking is shuffle-free") {
    // tokenize → bounded explode: a narrow map over the scan at any scale
    val p = plan(graft.operators.Packing.chunkTokens(
      Tables.documents(spark, sf), "doc_id", "text", chunkLen = 32, stride = 24))
    assert(!p.contains("Exchange"), s"chunking shuffled:\n${p.take(600)}")
  }

  test("OOV audit broadcasts the vocabulary, never shuffles it as a side") {
    // the corpus side must meet the k-row vocab via BroadcastHashJoin; a
    // SortMergeJoin here would range-shuffle the whole exploded corpus
    // against 16 rows
    val p = plan(graft.operators.Vocab.oovAudit(
      Tables.documents(spark, sf), "doc_id", "text", k = 16))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("hard-negative mining broadcasts the query side") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.select(col("vec_id").as("id"),
      col("embedding").as("vec"), col("label"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("qlabel"))
    val p = plan(graft.operators.Similarity.hardNegatives(corpus, queries, 5))
    // the cross pairing must be broadcast (queries are small by contract);
    // a CartesianProduct would shuffle the corpus against itself
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("incremental semdedup: cell pair join is a cid equi-join, " +
      "centroid assigns broadcast") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val p = plan(graft.operators.Similarity.semDedupIncremental(
      emb.filter(col("id") % 10 < 8), emb.filter(col("id") % 10 >= 8),
      threshold = 0.4, numCells = 8))
    // the only nested-loop joins allowed are the K-row broadcast centroid
    // assigns; the (corpus ∪ batch) × batch pairing must hash on the cell
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(("SortMergeJoin \\[cid".r.findFirstIn(p).isDefined ||
      "ShuffledHashJoin \\[cid".r.findFirstIn(p).isDefined ||
      "BroadcastHashJoin \\[cid".r.findFirstIn(p).isDefined),
      s"cell pair join is not a cid equi-join:\n${p.take(800)}")
  }

  test("Q5: dimension chain broadcasts, no cartesian, date filter pushed") {
    val p = plan(Queries.byName("q5_local_supplier").fn(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the orders date range must reach the scan as a pushed filter
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p.take(2000))
  }

  test("Q18: top-100 is TakeOrderedAndProject, never a global sort") {
    val p = plan(Queries.byName("q18_big_orders").fn(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("BM25: the query-term side broadcasts into the postings join") {
    val p = plan(Queries.byName("bm25_retrieval").fn(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("salted join: sort-merge on (key, __salt), never broadcast; " +
      "result identical to the unsalted join") {
    import graft.operators.Joins
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
    val dim = ev.select(col("event_type")).distinct()
      .withColumn("w", length(col("event_type")).cast("long"))
    val salted = Joins.saltedJoin(ev, dim, Seq("event_type"),
      col("event_id"), 8)
    val p = plan(salted)
    // the whole point: the hot key must shuffle on (key, salt), not
    // broadcast (which local sizes would pick and 100-TB sizes can't)
    assert(p.contains("SortMergeJoin"), p.take(800))
    assert(p.contains("__salt"), p.take(800))
    assert(!p.contains("BroadcastHashJoin"), p.take(800))
    // salt is pure plumbing: same rows as the plain join, salt col gone
    assert(salted.columns.toSet == (ev.columns.toSet + "w"))
    val plain = ev.join(dim, "event_type")
      .select(salted.columns.map(col): _*)
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("Q6: all predicates push to the scan; no join, no exchange-heavy agg") {
    val p = plan(Queries.byName("q6_forecast").fn(spark, sf))
    // Spark truncates the PushedFilters list in toString — assert on the
    // stable prefix (the date/discount/quantity null filters lead it)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(2000))
    assert(!p.contains("Join"), p.take(800))
    // only the four referenced columns leave the scan
    assert(p.contains("ReadSchema: struct<l_quantity:double," +
      "l_extendedprice:double,l_discount:double,l_shipdate:"), p.take(2000))
  }

  test("Q10/Q14: dimension side broadcasts; Q10 top-20 is TakeOrdered") {
    val p10 = plan(Queries.byName("q10_returns").fn(spark, sf))
    assert(p10.contains("BroadcastHashJoin"), p10.take(800))
    assert(p10.contains("TakeOrderedAndProject"), p10.take(800))
    assert(p10.contains("EqualTo(l_returnflag,R)"), p10.take(2000))
    val p14 = plan(Queries.byName("q14_promo").fn(spark, sf))
    assert(p14.contains("BroadcastHashJoin"), p14.take(800))
    assert(!p14.contains("CartesianProduct"), p14.take(800))
  }

  test("Q22: threshold is a broadcast 1-row join; no-order test is an anti join") {
    val p = plan(Queries.byName("q22_no_orders").fn(spark, sf))
    assert(p.contains("LeftAnti"), p.take(1200))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("changelog after-images: touched keys broadcast, no cartesian, and " +
      "a store without updates skips the after-image subtree") {
    import spark.implicits._
    val e = new GraftEngine(spark,
      graft.core.TmpStores.dir("plan-cdc-upd").toString)
    e.createStore("s", Seq("k"))
    e.push("s", (1L to 1000L).map(k => (k, s"v$k")).toDF("k", "v"),
      numBuckets = 4)
    e.put("s", Seq((1L, "p1")).toDF("k", "v"), tsMs = 100L)
    // no pending updates → the changelog plan must not touch updates/ at
    // all (the probe short-circuits before any plan is built)
    val p0 = plan(e.changelog("s", 0L))
    assert(!p0.contains("updates"), p0.take(800))
    // with pending updates: the touched-key set is tiny and must ride
    // broadcast joins against the store-sized sides; nothing cartesian
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.operators.{UpdateBuilder, WriteCompute}
    val vs = StructType(Seq(StructField("v", StringType)))
    val us = StructType(StructField("k", LongType) +:
      WriteCompute.deriveUpdateSchema(vs).fields)
    e.update("s", spark.createDataFrame(java.util.Arrays.asList(
      Row.fromSeq(2L +: new UpdateBuilder(vs).setField("v", "u2")
        .buildRow().toSeq)), us), tsMs = 200L)
    val p1 = plan(e.changelog("s", 0L))
    assert(!p1.contains("CartesianProduct"), p1.take(1500))
    assert(p1.contains("BroadcastHashJoin"), p1.take(1500))
  }

  test("NB filter: 1-row totals/prior broadcast, corpus side never cartesian") {
    val p = plan(Queries.byName("nb_classifier_filter").fn(spark, sf))
    // the two 1-row frames (class totals, prior) must ride broadcast nested
    // loops, and the corpus-sized frames must only ever meet on equi-joins
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    // the scoring join on tok must not broadcast the corpus-sized dtc side:
    // either a shuffled equi-join, or weights (vocab-bounded) broadcast
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      p.take(1500))
  }

  test("decontam surgery: eval grams broadcast into a LEFT-SEMI gram join; " +
      "the corpus never shuffles on gram keys") {
    val p = plan(Queries.byName("decontam_surgery").fn(spark, sf))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      p.take(1200))
    // the only semi-join in the plan is the gram probe — it must be the
    // broadcast one (an SMJ LeftSemi would mean the corpus shuffled on grams)
    assert(!"SortMergeJoin.*LeftSemi".r.findFirstIn(p).isDefined,
      p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("whole-doc bin packing: rank-in-class via the distributed prefix " +
      "sum — no Window, no single-partition collapse") {
    val p = plan(Queries.byName("pack_bins").fn(spark, sf))
    assert(!p.contains("Exchange SinglePartition"),
      s"pack_bins collapsed to one partition:\n${p.take(1200)}")
    assert(!p.contains("Window"), // the class rank must NOT be a window —
      // a billion-row length class would be one task
      s"pack_bins plans a Window:\n${p.take(1200)}")
  }

  test("covisit: pair explode stays an equi-join on (user, bucket); " +
      "negative sampling: draw->item is an equi-join, no single partition") {
    val pc = plan(Queries.byName("covisit_pairs").fn(spark, sf))
    assert(!pc.contains("CartesianProduct") &&
      !pc.contains("BroadcastNestedLoopJoin"), pc.take(1200))
    val pn = plan(Queries.byName("neg_sampling").fn(spark, sf))
    assert(!pn.contains("CartesianProduct"), pn.take(1200))
    assert(!pn.contains("Exchange SinglePartition"),
      s"neg_sampling collapsed to one partition:\n${pn.take(1200)}")
  }

  test("version diff: one full-outer join on the key struct, no cartesian, " +
      "delta filter applied before projection") {
    val root = Files.createTempDirectory("graft-plan-vdiff").toString
    val e = new GraftEngine(spark, root)
    e.createStore("vd", Seq("k"))
    import spark.implicits._
    e.push("vd", Seq((1L, "a")).toDF("k", "v"), numBuckets = 2)
    e.push("vd", Seq((1L, "b")).toDF("k", "v"), numBuckets = 2)
    val p = plan(e.versionDiff("vd", 1, 2))
    assert(p.contains("FullOuter"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("dup_span_profile level stats run with NO Expand (the 3-way " +
      "multi-distinct is gone) — executed plans, r10 change #6") {
    // dupSpanProfile assembles its result driver-side, so a plan of the
    // RETURNED frame shows only a LocalTableScan — the Expand removal must
    // be pinned on the per-level aggregate jobs' EXECUTED plans
    import scala.collection.mutable
    val plans = mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d a b c d"), (2L, "a b c d e f g h"),
      (3L, "x y z w x y z w")).toDF("id", "text")
    spark.listenerManager.register(listener)
    try {
      val out = graft.operators.Dedup.dupSpanProfile(docs, "id", "text",
        maxPow = 2)
      assert(out.count() == 3) // one row per level 2^0..2^2... plus level 0
      // listener is async — drain until the plan count stabilizes
      var seen = -1
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen != plans.synchronized(plans.size) &&
          System.nanoTime() < deadline) {
        seen = plans.synchronized(plans.size); Thread.sleep(200)
      }
      val captured = plans.synchronized(plans.toVector)
      // the level-stats aggregates must be present (count/head jobs)...
      assert(captured.exists(_.contains("HashAggregate")),
        s"no aggregate jobs captured (${captured.size} plans)")
      // ...and NONE of the profile's jobs may plan an Expand (the old
      // count+countDistinct(fp)+countDistinct(id) agg expanded every
      // surviving site row 3x)
      val expanded = captured.filter(_.contains("Expand"))
      assert(expanded.isEmpty,
        s"${expanded.size} level-stats plans still Expand:\n" +
          expanded.headOption.getOrElse("").take(1500))
    } finally spark.listenerManager.unregister(listener)
  }

  test("push runs compaction + bucket layout in ONE exchange") {
    // latest-per-key used to shuffle by the key columns and then
    // repartition(bucket) shuffled AGAIN; since bucket = f(key), the
    // window grouped by (bucket, key...) dedups identically on the bucket
    // partitioning alone — the write plan must carry exactly one
    // hash exchange (r10 optimization; see OPTIMIZATION_r10.md)
    import spark.implicits._
    import scala.collection.mutable
    val plans = mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val root = Files.createTempDirectory("graft-plan-push1x").toString
      val e = new GraftEngine(spark, root)
      e.createStore("p1", Seq("k"))
      // duplicate keys so the compaction window actually dedups
      e.push("p1", (1L to 1000L).map(k => (k % 300, s"v$k")).toDF("k", "v"),
        numBuckets = 8)
      // listener events are async; poll until the write plan shows up
      def findPlan(): Option[String] = plans.synchronized {
        plans.find(p => p.contains("WriteFiles") && p.contains("row_number"))
      }
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var writePlan = findPlan()
      while (writePlan.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(100); writePlan = findPlan()
      }
      assert(writePlan.isDefined,
        s"no push write plan captured (${plans.size} plans seen)")
      // AdaptiveSparkPlan.toString prints Final AND Initial plans — count
      // exchanges in the final section only
      val p = writePlan.get.split("== Initial Plan ==")(0)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(exchanges == 1,
        s"push write carries $exchanges hash exchanges (want 1):\n${p.take(1500)}")
      // and the dedup verdict is unchanged: latest row per key survives
      assert(e.snapshot("p1").count() == 300)
    } finally spark.listenerManager.unregister(listener)
  }
}
