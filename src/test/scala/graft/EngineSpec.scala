package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{GraftEngine, GraftSession, Tables}

class EngineSpec extends AnyFunSuite {
  lazy val spark = GraftSession.build(appName = "engine-spec")
  lazy val sf = "/root/testdata/sf0.001"
  lazy val root = graft.core.TmpStores.dir("graft-engine").toString
  lazy val engine = new GraftEngine(spark, root)

  test("push + snapshot + version swap") {
    engine.createStore("customer", Seq("c_custkey"))
    val v1 = engine.push("customer", Tables.customer(spark, sf))
    assert(v1 == 1)
    assert(engine.snapshot("customer").count() == 150)
    val v2 = engine.push("customer", Tables.customer(spark, sf).limit(100))
    assert(v2 == 2 && engine.currentVersion("customer") == 2)
    assert(engine.snapshot("customer").count() == 100)
    assert(engine.snapshot("customer", Some(1)).count() == 150) // time travel
  }

  test("get finds exactly the keyed row") {
    engine.createStore("cust2", Seq("c_custkey"))
    engine.push("cust2", Tables.customer(spark, sf))
    val row = engine.get("cust2", Seq(42L))
    assert(row.isDefined)
    assert(row.get.getAs[Long]("c_custkey") == 42L)
    assert(engine.get("cust2", Seq(-1L)).isEmpty)
  }

  test("batchGet omits missing keys") {
    import spark.implicits._
    val keys = Seq(1L, 2L, 9999L).toDF("c_custkey")
    val got = engine.batchGet("cust2", keys)
    assert(got.count() == 2)
  }

  test("streamingBatchGet delivers incrementally with missing-key markers") {
    import spark.implicits._
    val keys = Seq(1L, 2L, 9999L, 9998L).toDF("c_custkey")
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Boolean)]()
    val (found, missing) = engine.streamingBatchGet("cust2", keys) {
      (row, miss) =>
        seen += ((row.getAs[Long]("c_custkey"), miss))
        // a found row carries the value; a marker row nulls it (the
        // Venice non-existing-key callback shape)
        assert(row.isNullAt(row.fieldIndex("c_name")) == miss)
    }
    assert((found, missing) == (2L, 2L), s"completion event: $found/$missing")
    assert(seen.size == 4)
    assert(seen.filter(_._2).map(_._1).toSet == Set(9999L, 9998L))
    assert(seen.filterNot(_._2).map(_._1).toSet == Set(1L, 2L))
    // client-side early termination: a throwing callback aborts delivery
    // partway instead of draining every partition first
    var delivered = 0
    val ex = intercept[RuntimeException] {
      engine.streamingBatchGet("cust2", keys) { (_, _) =>
        delivered += 1
        if (delivered == 2) throw new RuntimeException("early-terminate")
      }
    }
    assert(ex.getMessage == "early-terminate" && delivered == 2)
  }

  test("put/delete overlay via serving view + changelog + repush") {
    import spark.implicits._
    engine.createStore("cust3", Seq("c_custkey"))
    engine.push("cust3", Tables.customer(spark, sf))
    // overwrite key 1, delete key 2, insert new key 9001
    val updates = Seq((1L, "UPDATED", 0, 0.0, "BUILDING"),
      (9001L, "NEW", 0, 0.0, "BUILDING"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    engine.put("cust3", updates, tsMs = 1000L)
    engine.delete("cust3", Seq(2L).toDF("c_custkey"), tsMs = 2000L)
    val view = engine.servingView("cust3")
    assert(view.count() == 150) // 150 - 1 deleted + 1 new
    assert(view.filter($"c_custkey" === 1L).select("c_name")
      .head().getString(0) == "UPDATED")
    assert(view.filter($"c_custkey" === 2L).count() == 0)
    assert(view.filter($"c_custkey" === 9001L).count() == 1)
    // point reads see the overlay (bucket-pruned snapshot + keyed log)
    assert(engine.get("cust3", Seq(1L)).get.getAs[String]("c_name") == "UPDATED")
    assert(engine.get("cust3", Seq(2L)).isEmpty) // tombstoned
    assert(engine.get("cust3", Seq(9001L)).isDefined) // log-only key
    // CDC since ts: only the delete
    assert(engine.changelog("cust3", 1500L).count() == 1)
    // repush folds log into a new immutable version
    val v = engine.repush("cust3")
    assert(v == 2)
    assert(engine.snapshot("cust3").count() == 150)
    assert(engine.snapshot("cust3").filter($"c_custkey" === 2L).count() == 0)
  }

  test("as-of read reconstructs past states") {
    import spark.implicits._
    engine.createStore("cust7", Seq("c_custkey"))
    engine.push("cust7", Tables.customer(spark, sf))
    val upd = (name: String) => Seq((3L, name, 0, 0.0, "X"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    engine.put("cust7", upd("V1"), tsMs = 1000L)
    engine.put("cust7", upd("V2"), tsMs = 2000L)
    def nameAt(ts: Long) = engine.servingViewAsOf("cust7", ts)
      .filter($"c_custkey" === 3L).head.getAs[String]("c_name")
    assert(nameAt(500L) == "Customer#000000003" || nameAt(500L).nonEmpty)
    assert(nameAt(1500L) == "V1")
    assert(nameAt(3000L) == "V2")
  }

  test("LWW: put then older put loses, delete-wins on tie") {
    import spark.implicits._
    engine.createStore("cust4", Seq("c_custkey"))
    engine.push("cust4", Tables.customer(spark, sf))
    val upd = (name: String) => Seq((5L, name, 0, 0.0, "X"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    engine.put("cust4", upd("NEWER"), tsMs = 2000L)
    engine.put("cust4", upd("OLDER"), tsMs = 1000L)
    assert(engine.servingView("cust4").filter($"c_custkey" === 5L)
      .select("c_name").head().getString(0) == "NEWER")
    engine.delete("cust4", Seq(5L).toDF("c_custkey"), tsMs = 2000L)
    assert(engine.servingView("cust4").filter($"c_custkey" === 5L).count() == 0)
  }

  test("update log: partial updates fold into serving view and repush") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.operators.{UpdateBuilder, WriteCompute}
    engine.createStore("cust5", Seq("c_custkey"))
    engine.push("cust5", Tables.customer(spark, sf))
    val valueSchema = StructType(engine.snapshot("cust5").schema.fields
      .filterNot(_.name == "c_custkey"))
    val u = new UpdateBuilder(valueSchema)
      .setField("c_mktsegment", "PARTIAL").buildRow()
    val updSchema = StructType(
      StructField("c_custkey", LongType) +:
        WriteCompute.deriveUpdateSchema(valueSchema).fields)
    val updDf = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row.fromSeq(10L +: u.toSeq)),
      updSchema)
    engine.update("cust5", updDf, tsMs = 500L)
    val row = engine.servingView("cust5").filter($"c_custkey" === 10L).head()
    assert(row.getAs[String]("c_mktsegment") == "PARTIAL")
    assert(row.getAs[String]("c_name").nonEmpty) // untouched field survives
    // W8 wired in: a second update on the same key, then squash — ONE log
    // row per key, serving view unchanged (later set wins)
    val u2 = new UpdateBuilder(valueSchema)
      .setField("c_mktsegment", "PARTIAL2").buildRow()
    engine.update("cust5", spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row.fromSeq(10L +: u2.toSeq)),
      updSchema), tsMs = 600L)
    val before = engine.servingView("cust5").orderBy("c_custkey").collect().toSeq
    engine.compactUpdates("cust5")
    assert(spark.read.parquet(s"$root/cust5/updates").count() == 1)
    val after = engine.servingView("cust5").orderBy("c_custkey").collect().toSeq
    assert(after == before)
    assert(engine.servingView("cust5").filter($"c_custkey" === 10L).head()
      .getAs[String]("c_mktsegment") == "PARTIAL2")
    // repush folds updates into the new version and archives the logs
    val v = engine.repush("cust5")
    assert(engine.snapshot("cust5").filter($"c_custkey" === 10L).head()
      .getAs[String]("c_mktsegment") == "PARTIAL2")
  }

  test("compaction keeps the change coordinate: update → compactUpdates → " +
      "changelog and refreshView survive, consumed updates not re-seen") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.operators.{UpdateBuilder, WriteCompute}
    engine.createStore("cust9", Seq("c_custkey"))
    engine.push("cust9", Tables.customer(spark, sf))
    engine.materializedView("cust9", "cust9_by_nation", Seq("c_nationkey"))
    val valueSchema = StructType(engine.snapshot("cust9").schema.fields
      .filterNot(_.name == "c_custkey"))
    val updSchema = StructType(
      StructField("c_custkey", LongType) +:
        WriteCompute.deriveUpdateSchema(valueSchema).fields)
    def updDf(k: Long, seg: String) = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row.fromSeq(
        k +: new UpdateBuilder(valueSchema).setField("c_mktsegment", seg)
          .buildRow().toSeq)), updSchema)
    engine.update("cust9", updDf(10L, "SEEN"), tsMs = 500L)
    engine.refreshView("cust9_by_nation") // consumes the update
    val cp = engine.latestCoordinate("cust9")
    // the ADVICE crash: squashUpdates' rewrite used to drop __log_seq from
    // every updates file → changelogSince threw AnalysisException forever
    engine.compactUpdates("cust9")
    val after = engine.changelogSince("cust9", cp)
    assert(after.count() == 0,
      "compaction must not re-emit updates the coordinate already saw")
    engine.refreshView("cust9_by_nation") // must not throw either
    // a NEW update after the compaction is still seen exactly once
    engine.update("cust9", updDf(11L, "FRESH"), tsMs = 600L)
    val delta = engine.changelogSince("cust9", cp)
    assert(delta.filter($"c_custkey" === 11L).count() == 1)
    assert(delta.count() == 1)
    engine.refreshView("cust9_by_nation")
    assert(engine.servingView("cust9_by_nation")
      .filter($"c_custkey" === 11L).head()
      .getAs[String]("c_mktsegment") == "FRESH")
    // legacy squashed logs (pre-fix: no __log_seq column anywhere) must
    // fall back to always-new instead of AnalysisException-ing
    val updDir = s"$root/cust9/updates"
    val readBack = spark.read.option("mergeSchema", "true").parquet(updDir)
      .drop(graft.core.GraftEngine.LogSeqCol)
    val legacySchema = readBack.schema
    val legacyRows = java.util.Arrays.asList(readBack.collect(): _*)
    spark.createDataFrame(legacyRows, legacySchema)
      .write.mode("overwrite").parquet(updDir)
    val replay = engine.changelogSince("cust9", cp)
    assert(replay.count() >= 1, "legacy log must read as always-new")
  }

  test("per-store persisted config: two engine instances see the same " +
      "values; rewind/swap read them as defaults") {
    import spark.implicits._
    import graft.core.StoreConfig
    engine.createStore("cfg1", Seq("k"), StoreConfig(
      rewindSeconds = 2L, lagThresholdMs = 250L, quotaBytes = 1L << 30))
    engine.push("cfg1", Seq((1L, "a")).toDF("k", "v"), numBuckets = 2)
    // a SECOND session/engine over the same root reads the same config —
    // the Venice property: config lives on the store record, not the job
    val e2 = new graft.core.GraftEngine(spark, root)
    val cfg = e2.storeConfig("cfg1")
    assert(cfg.rewindSeconds == 2L && cfg.lagThresholdMs == 250L &&
      cfg.quotaBytes == (1L << 30) && !cfg.activeActive)
    // rewind default = the store's window: events at ts 500 and 2500 with
    // now=3000 → only the one inside the last 2 s comes back
    engine.put("cfg1", Seq((2L, "old")).toDF("k", "v"), tsMs = 500L)
    engine.put("cfg1", Seq((3L, "new")).toDF("k", "v"), tsMs = 2500L)
    val win = graft.streaming.StreamIngest.rewind(e2, "cfg1", nowMs = 3000L)
    assert(win.select("k").as[Long].collect().toSet == Set(3L))
    // swap gate default = the store's lag threshold: newest ingested ts is
    // 2500, so at now=2700 lag 200 ≤ 250 → swap; at a 100ms-threshold
    // store it would refuse (checked via the explicit overload)
    assert(graft.streaming.StreamIngest
      .swapIfCaughtUp(e2, "cfg1", nowMs = 2700L).isDefined)
    assert(graft.streaming.StreamIngest
      .swapIfCaughtUp(e2, "cfg1", maxTimeLagMs = 100L, nowMs = 2700L).isEmpty)
  }

  test("store config: storage quota aborts an over-quota push before the " +
      "swap; compression strategy reaches the parquet files") {
    import spark.implicits._
    import graft.core.StoreConfig
    engine.createStore("cfg2", Seq("k"), StoreConfig(quotaBytes = 200L))
    val big = spark.range(5000).select(col("id").as("k"),
      md5(col("id").cast("string")).as("v"))
    val ex = intercept[IllegalStateException] {
      engine.push("cfg2", big, numBuckets = 2)
    }
    assert(ex.getMessage.contains("quota"))
    assert(engine.currentVersion("cfg2") == 0, "no swap on an aborted push")
    assert(engine.listVersions("cfg2").isEmpty, "candidate version removed")
    // raise the quota → the same push lands
    engine.setStoreConfig("cfg2", StoreConfig(quotaBytes = 10L << 20))
    assert(engine.push("cfg2", big, numBuckets = 2) == 1)
    assert(engine.servingView("cfg2").count() == 5000)
    // compression strategy is a store property applied by every push
    engine.createStore("cfg3", Seq("k"),
      StoreConfig(compressionStrategy = "GZIP"))
    engine.push("cfg3", Seq((1L, "a")).toDF("k", "v"), numBuckets = 1)
    val files = java.nio.file.Files.walk(
      java.nio.file.Paths.get(s"$root/cfg3/v=1"))
    val names = try {
      val b = Seq.newBuilder[String]
      files.forEach(p => b += p.getFileName.toString)
      b.result()
    } finally files.close()
    assert(names.exists(_.endsWith(".gz.parquet")),
      s"expected gzip parquet files, got $names")
  }

  test("LWW byte-parity tie-break: the store flag flips the winner where " +
      "string order and serialized-Avro unsigned byte order disagree") {
    import spark.implicits._
    import graft.core.StoreConfig
    // int values 9 vs 10: strings "9" > "10" (lexicographic), but Avro
    // zigzag varints 0x12 < 0x14 → bytes say 10 wins (MergeByteBuffer
    // order, AbstractMerge.java:17-46 semantics)
    def runWith(flag: Boolean): Int = {
      val store = s"tie_$flag"
      engine.createStore(store, Seq("k"),
        StoreConfig(lwwByteTieBreak = flag))
      engine.push(store, Seq((1L, 0)).toDF("k", "v"), numBuckets = 1)
      engine.put(store, Seq((1L, 9)).toDF("k", "v"), tsMs = 100L)
      engine.put(store, Seq((1L, 10)).toDF("k", "v"), tsMs = 100L)
      engine.servingView(store).head().getAs[Int]("v")
    }
    assert(runWith(false) == 9, "string order: \"9\" > \"10\"")
    assert(runWith(true) == 10, "byte order: zigzag(10) > zigzag(9)")
    // parity beyond ints: equal-ts string values compare as UTF-8 bytes
    // behind an Avro length prefix — same winner as unsigned byte compare
    engine.createStore("tie_s", Seq("k"),
      StoreConfig(lwwByteTieBreak = true))
    engine.push("tie_s", Seq((1L, "mm")).toDF("k", "v"), numBuckets = 1)
    engine.put("tie_s", Seq((1L, "z")).toDF("k", "v"), tsMs = 100L)
    engine.put("tie_s", Seq((1L, "mz")).toDF("k", "v"), tsMs = 100L)
    // "z" (len 1: 0x02 0x7A) vs "mz" (len 2: 0x04 0x6D 0x7A): byte order
    // compares the length varint first → "mz" wins under Avro bytes even
    // though "z" > "mz" as strings — a real divergence the flag controls
    assert(engine.servingView("tie_s").head().getAs[String]("v") == "mz")
  }

  test("materialized view, incremental push, SQL registration") {
    import spark.implicits._
    engine.createStore("cust6", Seq("c_custkey"))
    engine.push("cust6", Tables.customer(spark, sf))
    // view re-keyed by nation
    engine.materializedView("cust6", "cust6_by_nation", Seq("c_nationkey"))
    assert(engine.snapshot("cust6_by_nation").count() > 0)
    // incremental push = delta append, no version bump
    val vBefore = engine.currentVersion("cust6")
    engine.incrementalPush("cust6",
      Seq((8888L, "INC", 0, 0.0, "BUILDING"))
        .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      tsMs = 700L)
    assert(engine.currentVersion("cust6") == vBefore)
    assert(engine.servingView("cust6").filter($"c_custkey" === 8888L).count() == 1)
    // SQL over the serving view
    engine.registerSql("cust6")
    assert(spark.sql("SELECT count(*) FROM cust6 WHERE c_custkey = 8888")
      .head().getLong(0) == 1L)
  }

  test("S4: change coordinates resume exactly where a ts seek cannot") {
    import spark.implicits._
    engine.createStore("cdc1", Seq("c_custkey"))
    engine.push("cdc1", Tables.customer(spark, sf))
    val row = (k: Long, nm: String) => Seq((k, nm, 0, 0.0, "X"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    engine.put("cdc1", row(1L, "A"), tsMs = 1000L)
    val cp = engine.latestCoordinate("cdc1")
    // same timestamp on both sides of the checkpoint — a ts seek can't
    // split these; the (version, seq) coordinate can
    engine.put("cdc1", row(2L, "B"), tsMs = 1000L)
    engine.put("cdc1", row(3L, "C"), tsMs = 1000L)
    val since = engine.changelogSince("cdc1", cp)
    assert(since.count() == 2)
    assert(since.select("c_name").collect().map(_.getString(0)).toSet ==
      Set("B", "C"))
    // a coordinate from an older version is stale → full resync: the
    // current snapshot as after-images plus the surviving log
    engine.push("cdc1", Tables.customer(spark, sf))
    assert(engine.changelogSince("cdc1", cp).count() ==
      engine.snapshot("cdc1").count() + 3)
    // post-REPUSH (log archived) the stale coordinate still resyncs
    // instead of throwing; a caught-up coordinate yields an empty stream
    val cpPre = engine.latestCoordinate("cdc1")
    engine.repush("cdc1")
    assert(engine.changelogSince("cdc1", cpPre).count() ==
      engine.snapshot("cdc1").count())
    assert(engine.changelogSince("cdc1",
      engine.latestCoordinate("cdc1")).count() == 0)
  }

  test("W7: empty-value put stays visible; LWW writes on A/A stores throw") {
    import spark.implicits._
    engine.createStore("aa3", Seq("id"))
    engine.push("aa3", Seq((1L, Option(1.0), Seq("a")))
      .toDF("id", "score", "tags"))
    engine.enableActiveActive("aa3")
    // a REAL put whose value happens to be all-null/empty is not a
    // tombstone — the record-existence marker keeps it visible
    engine.putAA("aa3",
      Seq((2L, Option.empty[Double], Seq.empty[String]))
        .toDF("id", "score", "tags"), tsMs = 100L)
    assert(engine.servingView("aa3").filter($"id" === 2L).count() == 1)
    assert(engine.get("aa3", Seq(2L)).isDefined)
    // ...but a delete still hides it
    engine.deleteAA("aa3", Seq(2L).toDF("id"), tsMs = 200L)
    assert(engine.servingView("aa3").filter($"id" === 2L).count() == 0)
    // record-level LWW writes are rejected loudly, never silently dropped
    intercept[IllegalArgumentException] {
      engine.put("aa3", Seq((3L, Option(1.0), Seq("x")))
        .toDF("id", "score", "tags"), tsMs = 300L)
    }
    intercept[IllegalArgumentException] {
      engine.delete("aa3", Seq(1L).toDF("id"), tsMs = 300L)
    }
  }

  test("W7: active-active store resolves field-level CRDT ops") {
    import spark.implicits._
    engine.createStore("aa1", Seq("id"))
    engine.push("aa1",
      Seq((1L, 10.0, Seq("a", "b")), (2L, 20.0, Seq("x")))
        .toDF("id", "score", "tags"))
    engine.enableActiveActive("aa1")
    // concurrent scalar sets: newer ts wins regardless of arrival order
    engine.setFieldAA("aa1", Seq((1L, 15.0)).toDF("id", "score"), "score", tsMs = 100L)
    engine.setFieldAA("aa1", Seq((1L, 12.0)).toDF("id", "score"), "score", tsMs = 50L)
    // element ops: add c@60; remove a@70 beats the stale re-add a@65
    engine.addToSetAA("aa1", Seq((1L, "c")).toDF("id", "tag"), "tags", "tag", tsMs = 60L)
    engine.removeFromSetAA("aa1", Seq((1L, "a")).toDF("id", "tag"), "tags", "tag", tsMs = 70L)
    engine.addToSetAA("aa1", Seq((1L, "a")).toDF("id", "tag"), "tags", "tag", tsMs = 65L)
    // full put@80 resets key 2's collection: stale add y@75 is below topTs
    engine.addToSetAA("aa1", Seq((2L, "y")).toDF("id", "tag"), "tags", "tag", tsMs = 75L)
    engine.putAA("aa1", Seq((2L, 25.0, Seq("z"))).toDF("id", "score", "tags"), tsMs = 80L)
    val rows = engine.servingView("aa1").orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Double]("score") == 15.0)
    assert(rows(0).getAs[scala.collection.Seq[String]]("tags") == Seq("b", "c"))
    assert(rows(1).getAs[Double]("score") == 25.0)
    assert(rows(1).getAs[scala.collection.Seq[String]]("tags") == Seq("z"))
    // per-field delete: wipes the record…
    engine.deleteAA("aa1", Seq(1L).toDF("id"), tsMs = 200L)
    assert(engine.servingView("aa1").filter($"id" === 1L).count() == 0)
    assert(engine.get("aa1", Seq(1L)).isEmpty)
    // …but a later partial update resurrects just that field (Venice A/A)
    engine.setFieldAA("aa1", Seq((1L, 99.0)).toDF("id", "score"), "score", tsMs = 300L)
    val back = engine.servingView("aa1").filter($"id" === 1L).head()
    assert(back.getAs[Double]("score") == 99.0)
    assert(back.getAs[scala.collection.Seq[String]]("tags").isEmpty)
    // repush folds the op log into an immutable version; view unchanged
    val before = engine.servingView("aa1").orderBy("id").collect().toSeq
    val v = engine.repush("aa1")
    assert(v == 2)
    val after = engine.servingView("aa1").orderBy("id").collect().toSeq
    assert(after == before)
    // RMD survives the repush: late out-of-order events that are OLDER
    // than pre-repush winners still lose (without persisted per-field
    // timestamps the compacted snapshot would sit at ts 0 and anything
    // would beat it)
    engine.setFieldAA("aa1", Seq((2L, 11.0)).toDF("id", "score"), "score", tsMs = 60L)
    engine.addToSetAA("aa1", Seq((2L, "y")).toDF("id", "tag"), "tags", "tag", tsMs = 75L)
    val late = engine.servingView("aa1").filter($"id" === 2L).head()
    assert(late.getAs[Double]("score") == 25.0) // put@80 beat the set@60
    assert(late.getAs[scala.collection.Seq[String]]("tags") == Seq("z")) // y@75 < topTs 80
    // TTL repush garbage-collects record tombstones older than the cutoff:
    // delete id 2 at ts 400, repush with TTL at 500 → the tombstone row is
    // gone from the version entirely (not just hidden)
    engine.deleteAA("aa1", Seq(2L).toDF("id"), tsMs = 400L)
    engine.repush("aa1", ttlStartMs = Some(500L))
    assert(engine.snapshot("aa1").filter($"id" === 2L).count() == 0)
    assert(engine.servingView("aa1").filter($"id" === 1L).count() == 1)
  }

  test("W7: active-active MAP field resolves per-entry") {
    import spark.implicits._
    engine.createStore("aa2", Seq("id"))
    engine.push("aa2", Seq((1L, Map("a" -> "1"))).toDF("id", "attrs"))
    engine.enableActiveActive("aa2")
    engine.putMapEntryAA("aa2", Seq((1L, "b", "2")).toDF("id", "mk", "mv"),
      "attrs", "mk", "mv", tsMs = 100L)
    engine.removeMapKeyAA("aa2", Seq((1L, "a")).toDF("id", "mk"),
      "attrs", "mk", tsMs = 200L)
    // stale re-put of 'a' below the tombstone ts loses
    engine.putMapEntryAA("aa2", Seq((1L, "a", "9")).toDF("id", "mk", "mv"),
      "attrs", "mk", "mv", tsMs = 150L)
    val m = engine.servingView("aa2").filter($"id" === 1L)
      .head.getAs[Map[String, String]]("attrs")
    assert(m == Map("b" -> "2"))
  }

  test("compute builder: project + ops + error map + validation") {
    import spark.implicits._
    engine.createStore("emb", Seq("vec_id"))
    engine.push("emb", Tables.embeddings(spark, sf))
    val p = (0 until 64).map(i => ((i * 37) % 19 - 9) / 10.0)
    val out = engine.compute("emb")
      .project("label")
      .dotProduct("embedding", p, "dot")
      .cosineSimilarity("embedding", p, "cos")
      .count("embedding", "n")
      .withFilter($"vec_id" < 10)
      .execute()
    assert(out.columns.toSeq ==
      Seq("vec_id", "label", "dot", "cos", "n", "__veniceComputationError__"))
    assert(out.count() == 10)
    assert(out.filter(size(map_keys($"__veniceComputationError__")) > 0)
      .count() == 0)
    // mismatched param length → 0.0 + error entry (Venice semantics)
    val bad = engine.compute("emb")
      .dotProduct("embedding", Seq(1.0, 2.0), "dot")
      .withFilter($"vec_id" === 0).execute()
    val r = bad.head()
    assert(r.getAs[Double]("dot") == 0.0)
    assert(r.getAs[Map[String, String]]("__veniceComputationError__")
      .contains("dot"))
    // validation failures
    intercept[IllegalArgumentException] {
      engine.compute("emb").dotProduct("nope", p, "x").execute()
    }
    intercept[IllegalArgumentException] {
      engine.compute("emb").dotProduct("label", p, "x").execute()
    }
  }

  test("incremental view refresh touches only changed keys") {
    import spark.implicits._
    engine.createStore("src9", Seq("k"))
    engine.push("src9",
      (1L to 1000L).map(k => (k, k % 7, s"v$k")).toDF("k", "g", "v"))
    engine.materializedView("src9", "src9_by_g", Seq("g", "k"), numBuckets = 4)
    // caught-up refresh appends nothing (no log dir even created)
    engine.refreshView("src9_by_g")
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/src9_by_g/log")))
    // one view-key move (g: 5 -> 99) and one delete
    engine.put("src9", Seq((5L, 99L, "moved")).toDF("k", "g", "v"), 1000L)
    engine.delete("src9", Seq(6L).toDF("k"), 2000L)
    engine.refreshView("src9_by_g")
    // exactly 2 tombstones (old view rows of k=5,6) + 1 re-insert — the
    // "only changed keys" pin; a full rebuild would rewrite ~1000 rows
    assert(spark.read.parquet(s"$root/src9_by_g/log").count() == 3)
    val view = engine.servingView("src9_by_g")
    assert(view.count() == 999)
    assert(view.filter($"k" === 5L).select("g").head().getLong(0) == 99L)
    assert(view.filter($"k" === 6L).count() == 0)
    // stale-version coordinate (source repushed) → resync via full rebuild
    engine.repush("src9")
    engine.put("src9", Seq((7L, 100L, "v7b")).toDF("k", "g", "v"), 3000L)
    engine.refreshView("src9_by_g")
    val view2 = engine.servingView("src9_by_g")
    assert(view2.filter($"k" === 7L).select("g").head().getLong(0) == 100L)
    assert(view2.count() == 999)
  }

  test("write-compute updates reach views, the changelog and as-of reads") {
    // regression: update() moves the change coordinate but its rows live
    // in updates/, not log/ — changelogSince returned an EMPTY delta, the
    // refresh saved the new coordinate, and every view silently skipped
    // the update forever (until a version bump forced a resync). Updates
    // now surface as resolved after-images (the Venice leader's
    // UPDATE→full-PUT), as-of reads fold time-filtered pending updates.
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.operators.{UpdateBuilder, WriteCompute}
    val e = new GraftEngine(spark,
      graft.core.TmpStores.dir("graft-upd-views").toString)
    e.createStore("u", Seq("k"))
    e.push("u", (1L to 100L).map(k => (k, k % 5, k)).toDF("k", "g", "lv"),
      numBuckets = 4)
    e.createStore("r", Seq("k"))
    e.push("r", (1L to 50L).map(k => (k, k * 10)).toDF("k", "rv"),
      numBuckets = 4)
    e.materializedView("u", "mv", Seq("g", "k"), numBuckets = 4)
    e.aggregateView("u", "av", Seq("g"), Seq("slv" -> "lv"), numBuckets = 4)
    e.joinView("u", "r", "jv", numBuckets = 4)
    val valueSchema = StructType(Seq(StructField("g", LongType),
      StructField("lv", LongType)))
    val updSchema = StructType(StructField("k", LongType) +:
      WriteCompute.deriveUpdateSchema(valueSchema).fields)
    def upd(k: Long, fields: Seq[(String, Long)], ts: Long): Unit = {
      val b = fields.foldLeft(new UpdateBuilder(valueSchema)) {
        case (acc, (f, v)) => acc.setField(f, v) }
      e.update("u", spark.createDataFrame(
        java.util.Arrays.asList(Row.fromSeq(k +: b.buildRow().toSeq)),
        updSchema), ts)
    }
    upd(3L, Seq("lv" -> 1000L), ts = 100L)           // mutate an existing key
    upd(999L, Seq("g" -> 2L, "lv" -> 7L), ts = 110L) // null-base CREATE
    e.refreshView("mv"); e.refreshAggView("av"); e.refreshJoinView("jv")
    def canon(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val src = e.servingView("u")
    assert(src.filter($"k" === 3L).head().getLong(2) == 1000L)
    assert(canon(e.servingView("mv"), "g", "k", "lv") ==
      canon(src, "g", "k", "lv"), "materialized view missed the update")
    assert(canon(e.servingView("av"), "g", "n", "slv") ==
      canon(src.groupBy($"g").agg(count(lit(1)).as("n"),
        sum($"lv").as("slv")), "g", "n", "slv"),
      "aggregate view missed the update")
    assert(canon(e.servingView("jv"), "k", "lv", "rv") ==
      canon(src.join(e.servingView("r"), Seq("k")), "k", "lv", "rv"),
      "join view missed the update")
    // ts-based changelog: both touched keys surface as after-images
    val cl = e.changelog("u", sinceTsMs = 0L)
    val byKey = cl.collect().map(r => r.getLong(0) ->
      (r.getAs[Long]("lv"), r.getAs[Boolean]("__deleted"))).toMap
    assert(byKey(3L) == (1000L, false) && byKey(999L) == (7L, false),
      s"changelog after-images wrong: $byKey")
    // as-of: before the update ts → pre-update value; at ∞ ≡ live view
    assert(e.servingViewAsOf("u", 50L).filter($"k" === 3L)
      .head().getLong(2) == 3L)
    assert(e.servingViewAsOf("u", 50L).filter($"k" === 999L).count() == 0)
    assert(canon(e.servingViewAsOf("u", Long.MaxValue), "k", "g", "lv") ==
      canon(src, "k", "g", "lv"), "as-of(∞) diverged from the live view")
  }

  test("A/A changelog + incremental view refresh touch only changed keys") {
    import spark.implicits._
    engine.createStore("aasrc", Seq("k"))
    engine.push("aasrc",
      (1L to 1000L).map(k => (k, k % 7, s"v$k")).toDF("k", "g", "v"))
    engine.enableActiveActive("aasrc")
    engine.materializedView("aasrc", "aasrc_by_g", Seq("g", "k"), numBuckets = 4)
    // caught-up refresh appends nothing
    engine.refreshView("aasrc_by_g")
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/aasrc_by_g/log")))
    // one view-key move (g: 5 -> 99 via a field set), one delete, one add
    engine.setFieldAA("aasrc", Seq((5L, 99L)).toDF("k", "g"), "g", tsMs = 1000L)
    engine.deleteAA("aasrc", Seq(6L).toDF("k"), tsMs = 2000L)
    engine.putAA("aasrc", Seq((2000L, 3L, "new")).toDF("k", "g", "v"), tsMs = 3000L)
    // the changelog emits RESOLVED after-images for exactly the 3 touched
    // keys, tombstone flagged
    val delta = engine.changelogSince("aasrc",
      graft.core.ChangeCoordinate(1, 0L)).collect()
    assert(delta.length == 3)
    val byKey = delta.map(r => r.getAs[Long]("k") -> r).toMap
    assert(byKey(5L).getAs[Long]("g") == 99L &&
      !byKey(5L).getAs[Boolean](GraftEngine.DeletedCol))
    assert(byKey(6L).getAs[Boolean](GraftEngine.DeletedCol))
    assert(byKey(2000L).getAs[String]("v") == "new")
    engine.refreshView("aasrc_by_g")
    // 2 tombstones (old view rows of k=5,6) + 2 re-inserts (k=5 moved,
    // k=2000 new) — only changed keys, never a view rewrite
    assert(spark.read.parquet(s"$root/aasrc_by_g/log").count() == 4)
    val view = engine.servingView("aasrc_by_g")
    assert(view.count() == 1000) // 1000 - 1 deleted + 1 added
    assert(view.filter($"k" === 5L).select("g").head().getLong(0) == 99L)
    assert(view.filter($"k" === 6L).count() == 0)
    assert(view.filter($"k" === 2000L).select("v").head().getString(0) == "new")
    // view ≡ full recompute of the A/A serving view
    val full = engine.servingView("aasrc").orderBy("k").collect().toSeq
    val viaView = view.select("k", "g", "v").orderBy("k").collect().toSeq
    assert(viaView == full.map(r => org.apache.spark.sql.Row(
      r.getAs[Long]("k"), r.getAs[Long]("g"), r.getAs[String]("v"))))
  }

  test("§1.4: per-batch writer schema id + superset resolution end-to-end") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    engine.createStore("sev", Seq("k"))
    engine.push("sev", Seq((1L, "a"), (2L, "b")).toDF("k", "name"))
    assert(engine.registeredSchemaIds("sev") == Seq(1)) // auto id 1 on push
    // evolve: add a long field; irreconcilable evolution must throw
    val v2 = StructType(engine.valueSchema("sev", 1).fields :+
      StructField("score", LongType))
    assert(engine.registerValueSchema("sev", v2) == 2)
    intercept[IllegalArgumentException] {
      engine.registerValueSchema("sev", StructType(Seq(
        StructField("k", LongType), StructField("name", LongType))))
    }
    // v2 writer, then a v1 writer that doesn't know about score
    engine.put("sev", Seq((3L, "c", 30L)).toDF("k", "name", "score"), 1000L)
    engine.put("sev", Seq((1L, "a2")).toDF("k", "name"), 2000L)
    // each log batch carries its writer's schema id
    val ids = spark.read.parquet(s"$root/sev/log")
      .select(GraftEngine.SchemaIdCol, "k").collect()
      .map(r => r.getLong(1) -> r.getInt(0)).toMap
    assert(ids(3L) == 2 && ids(1L) == 1)
    // serving view resolves everything to the superset
    val view = engine.servingView("sev").orderBy("k")
      .select("k", "name", "score").as[(Long, String, Option[Long])].collect()
    assert(view.toSeq == Seq((1L, "a2", None), (2L, "b", None),
      (3L, "c", Some(30L))))
    // point read resolves too (pre-evolution snapshot row)
    assert(engine.get("sev", Seq(2L)).get.getAs[Any]("score") == null)
    // repush compacts into a superset-schema version; ids survive;
    // a post-repush v2 write keeps resolving
    engine.repush("sev")
    assert(engine.snapshot("sev").columns.contains("score"))
    assert(engine.registeredSchemaIds("sev") == Seq(1, 2))
    engine.put("sev", Seq((2L, "b2", 20L)).toDF("k", "name", "score"), 3000L)
    assert(engine.get("sev", Seq(2L)).get.getAs[Long]("score") == 20L)
    // write-compute across evolution: an update touching only v1 fields
    // resolves as NoOp on score (conformUpdates)
    val valueSchema = StructType(engine.supersetSchema("sev").fields
      .filterNot(_.name == "k"))
    import graft.operators.{UpdateBuilder, WriteCompute}
    val u = new UpdateBuilder(StructType(engine.valueSchema("sev", 1).fields
      .filterNot(_.name == "k"))).setField("name", "upd").buildRow()
    val updSchema = StructType(StructField("k", LongType) +:
      WriteCompute.deriveUpdateSchema(StructType(engine.valueSchema("sev", 1)
        .fields.filterNot(_.name == "k"))).fields)
    engine.update("sev", spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row.fromSeq(3L +: u.toSeq)),
      updSchema), 4000L)
    val r3 = engine.get("sev", Seq(3L)).get
    assert(r3.getAs[String]("name") == "upd" && r3.getAs[Long]("score") == 30L)
  }

  test("A/A value-schema evolution: late events on old AND new fields resolve") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    engine.createStore("sevaa", Seq("k"))
    engine.push("sevaa", Seq((1L, "a"), (2L, "b")).toDF("k", "name"))
    engine.enableActiveActive("sevaa")
    // evolve: add a long field `x`
    assert(engine.registerValueSchema("sevaa", StructType(
      engine.valueSchema("sevaa", 1).fields :+ StructField("x", LongType))) == 2)
    // a new-schema writer sets x at ts 100…
    engine.setFieldAA("sevaa", Seq((1L, 7L)).toDF("k", "x"), "x", tsMs = 100L)
    // …then an OLD-schema full put arrives LATER (ts 200). It must win the
    // fields it knows (name) but MUST NOT clobber x — the old writer's
    // schema has no x, so its put carries bottom state there, not a
    // ts-200 null
    engine.putAA("sevaa", Seq((1L, "a2")).toDF("k", "name"), tsMs = 200L)
    val r1 = engine.servingView("sevaa").filter($"k" === 1L).head()
    assert(r1.getAs[String]("name") == "a2")
    assert(r1.getAs[Long]("x") == 7L)
    // the pre-evolution snapshot reads x as null (bottom), and a late set
    // on an old field still loses to the snapshot-later put
    val r2 = engine.servingView("sevaa").filter($"k" === 2L).head()
    assert(r2.getAs[Any]("x") == null)
    // point read resolves the evolved field too (pruned path)
    assert(engine.get("sevaa", Seq(1L)).get.getAs[Long]("x") == 7L)
    // repush persists RMD for x; a late old-schema put after the repush
    // still cannot clobber it
    engine.repush("sevaa")
    engine.putAA("sevaa", Seq((1L, "a3")).toDF("k", "name"), tsMs = 300L)
    val r3 = engine.servingView("sevaa").filter($"k" === 1L).head()
    assert(r3.getAs[String]("name") == "a3")
    assert(r3.getAs[Long]("x") == 7L)
    // a NEW-schema put (knows x) replaces it wholesale
    engine.putAA("sevaa", Seq((1L, "a4", 9L)).toDF("k", "name", "x"), tsMs = 400L)
    assert(engine.servingView("sevaa").filter($"k" === 1L).head()
      .getAs[Long]("x") == 9L)
  }

  test("R15 facet aggregation: null values counted, empty buckets at 0, topK") {
    import spark.implicits._
    engine.createStore("facet", Seq("id"))
    engine.push("facet", Seq(
      (1L, "a", 10L), (2L, "a", 20L), (3L, "b", -5L), (4L, null, 0L),
      (5L, "a", 7L), (6L, "c", 3L), (7L, "b", 1L))
      .toDF("id", "seg", "bal"))
    val out = engine.computeAggregation("facet")
      .countGroupByValue(2, "seg")
      .countGroupByBucket(Seq(
        "neg" -> ((c: org.apache.spark.sql.Column) => c < 0),
        "huge" -> ((c: org.apache.spark.sql.Column) => c > 1000)), "bal")
      .execute()
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)), r.getLong(3))).toSet
    assert(out == Set(
      ("value", "seg", Some("a"), 3L),   // top-2 of a:3, b:2, (null:1, c:1 cut)
      ("value", "seg", Some("b"), 2L),
      ("bucket", "bal", Some("neg"), 1L),
      ("bucket", "bal", Some("huge"), 0L)), s"got $out")  // declared, 0 matches
    // nulls ARE a countable facet value when topK admits them
    val withNull = engine.computeAggregation("facet")
      .countGroupByValue(10, "seg").execute()
      .filter(col("facet").isNull).head()
    assert(withNull.getLong(3) == 1L)
    // unknown field refuses loudly
    intercept[IllegalArgumentException] {
      engine.computeAggregation("facet").countGroupByValue(1, "nope").execute()
    }
  }

  test("DaVinci-style cached serving view: memory hits, coordinate-keyed refresh") {
    import spark.implicits._
    val e = new GraftEngine(spark,
      graft.core.TmpStores.dir("graft-davinci").toString)
    e.createStore("d", Seq("k"))
    e.push("d", Seq((1L, "a"), (2L, "b")).toDF("k", "v"), numBuckets = 2)
    val first = e.cachedServingView("d")
    assert(first.count() == 2)
    // unchanged coordinate → the SAME persisted frame, served from memory
    assert(e.cachedServingView("d") eq first, "cache missed on unchanged store")
    assert(first.queryExecution.executedPlan.toString.contains("InMemory"),
      "cached view must read from the in-memory relation")
    // a put moves the coordinate → auto-refresh picks up the write
    e.put("d", Seq((3L, "c")).toDF("k", "v"), tsMs = 100L)
    val second = e.cachedServingView("d")
    assert(!(second eq first) && second.count() == 3, "stale after put")
    // a write-compute UPDATE also moves the coordinate (shared RT topic)
    locally {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      import graft.operators.{UpdateBuilder, WriteCompute}
      val valueSchema = StructType(Seq(StructField("v", StringType)))
      val u = new UpdateBuilder(valueSchema).setField("v", "a2").buildRow()
      val updSchema = StructType(StructField("k", LongType) +:
        WriteCompute.deriveUpdateSchema(valueSchema).fields)
      e.update("d", spark.createDataFrame(
        java.util.Arrays.asList(Row.fromSeq(1L +: u.toSeq)), updSchema),
        tsMs = 200L)
    }
    val third = e.cachedServingView("d")
    assert(third.filter(col("k") === 1L).head().getString(1) == "a2",
      "stale after write-compute update")
    e.dropCachedView()
  }

  test("compliance purge erases keys physically — including A/A stores") {
    import spark.implicits._
    val e = new GraftEngine(spark,
      graft.core.TmpStores.dir("graft-purge-aa").toString)
    e.createStore("a", Seq("k"))
    e.push("a", Seq((1L, "x", 1.0), (2L, "y", 2.0), (3L, "z", 3.0))
      .toDF("k", "name", "score"), numBuckets = 2)
    e.enableActiveActive("a")
    e.setFieldAA("a", Seq((1L, "x2")).toDF("k", "name"), "name", tsMs = 100L)
    e.purge("a", Seq(Tuple1(2L)).toDF("k"), tsMs = 1000L)
    val serving = e.servingView("a").select("k", "name")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(serving == Map(1L -> "x2", 3L -> "z"),
      s"purged key visible or update lost: $serving")
    // PHYSICAL audit: no parquet row for k=2 anywhere under the store —
    // and the A/A op log + retired version dirs are gone entirely
    val dirs = new java.io.File(s"${e.root}/a").listFiles()
      .filter(f => f.isDirectory && f.getName != "schemas")
    assert(dirs.map(_.getName).toSet == Set(s"v=${e.currentVersion("a")}"),
      s"retired dirs survive: ${dirs.map(_.getName).toSeq}")
    val leaked = dirs.map(d => spark.read.option("mergeSchema", "true")
      .parquet(d.toString).filter(col("k") === 2L).count()).sum
    assert(leaked == 0L, s"$leaked physical rows for the purged key")
  }

  test("purge beats PENDING write-compute updates (no null-base resurrect)") {
    // updates fold onto the post-LWW state at their own ts (the W3
    // null-base-create semantic), so a purge tombstone alone cannot stop a
    // pending update from resurrecting the purged key into the new version
    // — purge must physically drop the key's pending ops too (regression:
    // it used to repush first, and k=2 came back as a one-field record)
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.operators.{UpdateBuilder, WriteCompute}
    val e = new GraftEngine(spark,
      graft.core.TmpStores.dir("graft-purge-upd").toString)
    e.createStore("s", Seq("k"))
    e.push("s", Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v"),
      numBuckets = 2)
    val valueSchema = StructType(Seq(StructField("v", StringType)))
    val updSchema = StructType(StructField("k", LongType) +:
      WriteCompute.deriveUpdateSchema(valueSchema).fields)
    def upd(k: Long, v: String, ts: Long): Unit = {
      val u = new UpdateBuilder(valueSchema).setField("v", v).buildRow()
      e.update("s", spark.createDataFrame(
        java.util.Arrays.asList(Row.fromSeq(k +: u.toSeq)), updSchema), ts)
    }
    upd(2L, "resurrect-me", 100L) // pending op on the key being purged
    upd(3L, "z2", 101L)           // pending op on a surviving key
    e.purge("s", Seq(Tuple1(2L)).toDF("k"), tsMs = 1000L)
    val serving = e.servingView("s")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(serving == Map(1L -> "x", 3L -> "z2"),
      s"purged key resurrected or survivor's update lost: $serving")
    // physical audit: zero rows for k=2 in ANY surviving file (version,
    // log, updates) — the pending-update row itself is erased data
    val dirs = new java.io.File(s"${e.root}/s").listFiles()
      .filter(f => f.isDirectory && f.getName != "schemas")
    val leaked = dirs.map(d => spark.read.option("mergeSchema", "true")
      .parquet(d.toString).filter(col("k") === 2L).count()).sum
    assert(leaked == 0L, s"$leaked physical rows for the purged key")
    // a LATER update (after the erasure request) may legitimately recreate
    upd(2L, "fresh", 2000L)
    assert(e.servingView("s").filter(col("k") === 2L).count() == 1L)
  }

  test("TTL repush ages out pending write-compute updates like puts") {
    // the TTL contract is per-record by write ts, whatever the record
    // type (Venice filters the RT replay uniformly): an update older than
    // ttlStart must NOT survive the fold while a fresher one must
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.operators.{UpdateBuilder, WriteCompute}
    val e = new GraftEngine(spark,
      graft.core.TmpStores.dir("graft-ttl-upd").toString)
    e.createStore("s", Seq("k"))
    e.push("s", Seq((1L, "x"), (2L, "y")).toDF("k", "v"), numBuckets = 2)
    val valueSchema = StructType(Seq(StructField("v", StringType)))
    val updSchema = StructType(StructField("k", LongType) +:
      WriteCompute.deriveUpdateSchema(valueSchema).fields)
    def upd(k: Long, v: String, ts: Long): Unit =
      e.update("s", spark.createDataFrame(java.util.Arrays.asList(
        Row.fromSeq(k +: new UpdateBuilder(valueSchema).setField("v", v)
          .buildRow().toSeq)), updSchema), ts)
    upd(1L, "aged-out", ts = 200L)
    upd(2L, "fresh", ts = 900L)
    e.repush("s", ttlStartMs = Some(500L))
    val got = e.servingView("s")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "x", 2L -> "fresh"),
      s"TTL treated updates differently from puts: $got")
  }

  test("rollback / rollForward flip the serving pointer; vacuum ends both") {
    import spark.implicits._
    val e = new GraftEngine(spark,
      graft.core.TmpStores.dir("graft-rollback").toString)
    e.createStore("s", Seq("k"))
    intercept[IllegalStateException](e.rollback("s")) // no versions at all
    e.push("s", Seq((1L, "a1"), (2L, "b1")).toDF("k", "v"), numBuckets = 2)
    intercept[IllegalStateException](e.rollback("s")) // no backup behind v1
    e.push("s", Seq((1L, "a2")).toDF("k", "v"), numBuckets = 2)
    assert(e.listVersions("s") == Seq(1, 2))
    // RT write AFTER the v2 push: survives every pointer flip below
    e.put("s", Seq((2L, "b-rt")).toDF("k", "v"), tsMs = 10L)
    def view = e.servingView("s").as[(Long, String)].collect().toMap
    assert(view == Map(1L -> "a2", 2L -> "b-rt"))
    assert(e.rollback("s") == 1 && e.currentVersion("s") == 1)
    assert(view == Map(1L -> "a1", 2L -> "b-rt"), "backup + RT overlay")
    intercept[IllegalStateException](e.rollback("s")) // already at the floor
    assert(e.rollForward("s") == 2)
    assert(view == Map(1L -> "a2", 2L -> "b-rt"))
    intercept[IllegalStateException](e.rollForward("s")) // nothing ahead
    // after a rollback, vacuum drops the (now-future) bad version for good
    e.rollback("s")
    e.vacuum("s")
    assert(e.listVersions("s") == Seq(1))
    intercept[IllegalStateException](e.rollForward("s"))
  }

  test("aggregateView: incremental refresh equals a full recompute, " +
      "an emptied group is tombstoned, and a caught-up refresh is a no-op") {
    import spark.implicits._
    val e = new GraftEngine(spark,
      graft.core.TmpStores.dir("graft-aggv").toString)
    e.createStore("src", Seq("k"))
    e.push("src", Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L),
      (4L, "c", 40L)).toDF("k", "g", "x"))
    e.aggregateView("src", "byg", Seq("g"), Seq("sx" -> "x"), numBuckets = 2)
    assert(e.servingView("byg").orderBy("g").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 2L, 30L), ("b", 1L, 30L), ("c", 1L, 40L)))
    // update in place, group move b→a, delete c's only member (group dies),
    // insert into a new group d
    e.put("src", Seq((1L, "a", 15L)).toDF("k", "g", "x"), tsMs = 100L)
    e.put("src", Seq((3L, "a", 30L)).toDF("k", "g", "x"), tsMs = 200L)
    e.delete("src", Seq(4L).toDF("k"), tsMs = 300L)
    e.put("src", Seq((5L, "d", 50L)).toDF("k", "g", "x"), tsMs = 400L)
    e.refreshAggView("byg")
    val got = e.servingView("byg").orderBy("g").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", 3L, 65L), ("d", 1L, 50L)), got.toString)
    // the maintained aggregate must equal a from-scratch groupBy
    val full = e.servingView("src").groupBy("g")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"))
    assert(e.servingView("byg").exceptAll(full).isEmpty &&
      full.exceptAll(e.servingView("byg")).isEmpty)
    // caught up: a second refresh appends nothing
    val seqBefore = e.servingView("byg").count()
    e.refreshAggView("byg")
    assert(e.servingView("byg").count() == seqBefore)
    // crash-window escape hatch converges to the same state
    e.rebuildAggView("byg")
    assert(e.servingView("byg").exceptAll(full).isEmpty)
  }

  test("bootstrapChangelog on an A/A store: LWW-applying bootstrap + tail " +
      "reconstructs the conflict-resolved serving view") {
    import spark.implicits._
    val e = new GraftEngine(spark,
      graft.core.TmpStores.dir("graft-boot").toString)
    e.createStore("aab", Seq("id"))
    e.push("aab", Seq((1L, 10.0, Seq("a")), (2L, 20.0, Seq("x")),
      (3L, 30.0, Seq("m"))).toDF("id", "score", "tags"))
    e.enableActiveActive("aab")
    e.setFieldAA("aab", Seq((1L, 15.0)).toDF("id", "score"), "score", tsMs = 100L)
    e.deleteAA("aab", Seq(3L).toDF("id"), tsMs = 150L)
    val (boot, coord) = e.bootstrapChangelog("aab")
    val bootRows = boot.collect() // materialize BEFORE the live writes
    // live ops after the bootstrap point — including a CRDT element op,
    // whose after-image must carry key 2's FULL resolved state
    e.addToSetAA("aab", Seq((2L, "y")).toDF("id", "tag"), "tags", "tag",
      tsMs = 200L)
    e.putAA("aab", Seq((3L, 33.0, Seq("r"))).toDF("id", "score", "tags"),
      tsMs = 300L)
    val tail = e.changelogSince("aab", coord)
    val tsC = GraftEngine.TsCol; val delC = GraftEngine.DeletedCol
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col(tsC).desc)
    val rebuilt = spark.createDataFrame(
        spark.sparkContext.parallelize(bootRows.toSeq), boot.schema)
      .unionByName(tail)
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1 && !col(delC))
      .select(col("id"), col("score"), col("tags"))
    val expect = e.servingView("aab").select(col("id"), col("score"), col("tags"))
    assert(rebuilt.exceptAll(expect).isEmpty && expect.exceptAll(rebuilt).isEmpty)
    // resolved rows: 1 (score 15), 2 (tags x+y), 3 (resurrected put)
    assert(rebuilt.count() == 3)
  }

  test("repush preserves the store's bucket count; rebucket migrates it") {
    import spark.implicits._
    val e = new GraftEngine(spark, graft.core.TmpStores.dir("graft-rb").toString)
    def bucketDirs(store: String, v: Int): Set[String] =
      Option(new java.io.File(s"${e.root}/$store/v=$v").listFiles())
        .map(_.toSeq.map(_.getName).filter(_.startsWith("__bucket")).toSet)
        .getOrElse(Set.empty)
    e.createStore("rb", Seq("id"))
    val rows = (1L to 200L).map(i => (i, s"v$i")).toDF("id", "value")
    e.push("rb", rows, numBuckets = 4)
    assert(bucketDirs("rb", 1).size == 4)
    e.put("rb", Seq((1L, "v1_RT")).toDF("id", "value"), tsMs = 100L)
    // regression: repush used to silently rewrite at the DEFAULT bucket
    // count (16) — a compaction must not change the layout
    val v2 = e.repush("rb")
    assert(bucketDirs("rb", v2).size == 4,
      s"repush changed the bucket count: ${bucketDirs("rb", v2)}")
    val before = e.servingView("rb").collect().toSet
    // migration: same content, new layout, point reads prune at the new N
    val v3 = e.rebucket("rb", 8)
    assert(bucketDirs("rb", v3).size == 8)
    assert(e.servingView("rb").collect().toSet == before)
    assert(e.get("rb", Seq(1L)).get.getAs[String]("value") == "v1_RT")
    // a post-migration repush sticks to the migrated count
    e.put("rb", Seq((2L, "v2_RT")).toDF("id", "value"), tsMs = 200L)
    val v4 = e.repush("rb")
    assert(bucketDirs("rb", v4).size == 8)
  }

  test("compactIfNeeded: A/A op-log size triggers the repush; fresh store no-ops") {
    import spark.implicits._
    val e = new GraftEngine(spark, graft.core.TmpStores.dir("graft-cip").toString)
    e.createStore("aa", Seq("id"))
    e.push("aa", Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "score"))
    e.enableActiveActive("aa")
    assert(e.compactIfNeeded("aa", maxLogRows = 0) == 0) // no ops yet
    e.setFieldAA("aa", Seq((1L, 10.0)).toDF("id", "score"), "score", tsMs = 100L)
    e.setFieldAA("aa", Seq((2L, 20.0)).toDF("id", "score"), "score", tsMs = 200L)
    assert(e.compactIfNeeded("aa", maxLogRows = 5) == 0) // 2 ops <= 5
    val v = e.compactIfNeeded("aa", maxLogRows = 1) // 2 ops > 1: fires
    assert(v == 2)
    // resolved state survived the fold; op log consumed
    assert(e.servingView("aa").filter($"id" === 1L)
      .head().getAs[Double]("score") == 10.0)
    assert(e.compactIfNeeded("aa", maxLogRows = 0) == 0) // log archived
  }

  test("rebucket on an A/A store: layout moves, CRDT state and late events survive") {
    import spark.implicits._
    val e = new GraftEngine(spark, graft.core.TmpStores.dir("graft-rbaa").toString)
    e.createStore("aa", Seq("id"))
    e.push("aa", (1L to 50L).map(i => (i, i * 1.0)).toDF("id", "score"),
      numBuckets = 4)
    e.enableActiveActive("aa")
    e.setFieldAA("aa", Seq((1L, 99.0)).toDF("id", "score"), "score", tsMs = 500L)
    val before = e.servingView("aa").collect().toSet
    val v = e.rebucket("aa", 8)
    val dirs = Option(new java.io.File(s"${e.root}/aa/v=$v").listFiles())
      .map(_.count(_.getName.startsWith("__bucket"))).getOrElse(0)
    assert(dirs == 8)
    assert(e.servingView("aa").collect().toSet == before)
    // RMD survived the migration: a late event older than the pre-move
    // winner still loses
    e.setFieldAA("aa", Seq((1L, 11.0)).toDF("id", "score"), "score", tsMs = 300L)
    assert(e.servingView("aa").filter($"id" === 1L)
      .head().getAs[Double]("score") == 99.0)
  }

  test("data recovery clones an A/A store; late events keep resolving") {
    import spark.implicits._
    val a = new GraftEngine(spark, graft.core.TmpStores.dir("graft-reca").toString)
    val b = new GraftEngine(spark, graft.core.TmpStores.dir("graft-recb").toString)
    a.createStore("aa", Seq("id"))
    a.push("aa", Seq((1L, 10.0), (2L, 20.0)).toDF("id", "score"))
    a.enableActiveActive("aa")
    a.setFieldAA("aa", Seq((1L, 15.0)).toDF("id", "score"), "score", tsMs = 500L)
    b.recoverStoreFrom(a.root, "aa")
    assert(b.servingView("aa").collect().toSet ==
      a.servingView("aa").collect().toSet)
    // CRDT state survived the copy: a LATE event (ts 300 < 500) on the
    // recovered replica must lose against what already won at the source
    b.setFieldAA("aa", Seq((1L, 11.0)).toDF("id", "score"), "score", tsMs = 300L)
    assert(b.servingView("aa").filter($"id" === 1L)
      .head().getAs[Double]("score") == 15.0)
    // recovery bootstraps — it refuses to overwrite an existing store
    intercept[IllegalArgumentException] { b.recoverStoreFrom(a.root, "aa") }
  }

  test("batchGet prunes the snapshot scan to the requested keys' buckets") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    engine.createStore("bgp", Seq("k"))
    engine.push("bgp", (1L to 5000L).map(k => (k, k * 3L)).toDF("k", "v"),
      numBuckets = 8)
    val q = engine.batchGet("bgp", Seq(7L, 8L).toDF("k"))
    // sparkPlan (pre-AQE): the adaptive wrapper hides the scans until run
    val partCounts = q.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.selectedPartitions.partitionCount }
    assert(partCounts.nonEmpty && partCounts.forall(_ <= 2),
      s"expected ≤2-bucket scans, got $partCounts")
    val rows = q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == Map(7L -> 21L, 8L -> 24L))
    // overlay rows still merge on the pruned path
    engine.put("bgp", Seq((7L, 700L)).toDF("k", "v"), tsMs = 10L)
    val rows2 = engine.batchGet("bgp", Seq(7L, 8L).toDF("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows2 == Map(7L -> 700L, 8L -> 24L))
  }

  test("join view: delta refresh ≡ full recompute across puts/deletes/new keys") {
    import spark.implicits._
    engine.createStore("jl", Seq("k"))
    engine.createStore("jr", Seq("k"))
    engine.push("jl", (1L to 100L).map(k => (k, s"L$k")).toDF("k", "lv"),
      numBuckets = 4)
    engine.push("jr", (1L to 95L).map(k => (k, k * 10L)).toDF("k", "rv"),
      numBuckets = 4)
    engine.joinView("jl", "jr", "jv", numBuckets = 4)
    assert(engine.servingView("jv").count() == 95) // inner: 96..100 left-only
    // delta: value change, delete (drops from inner), key completing the
    // pair from the OTHER side, and a still-unmatched new key
    engine.put("jl", Seq((10L, "L10x"), (200L, "L200")).toDF("k", "lv"), 1000L)
    engine.put("jr", Seq((200L, 2000L), (300L, 3000L)).toDF("k", "rv"), 1500L)
    engine.delete("jl", Seq(Tuple1(1L)).toDF("k"), 2000L)
    engine.refreshJoinView("jv")
    def recompute() = engine.servingView("jl")
      .join(engine.servingView("jr"), Seq("k"))
      .select("k", "lv", "rv").collect().toSet
    assert(engine.servingView("jv").select("k", "lv", "rv").collect().toSet
      == recompute())
    assert(engine.get("jv", Seq(200L)).get.getAs[String]("lv") == "L200")
    assert(engine.get("jv", Seq(1L)).isEmpty)
    assert(engine.get("jv", Seq(300L)).isEmpty) // right-only stays out
    // caught-up refresh is a no-op; a source repush forces the resync
    // rebuild and the view still matches
    engine.refreshJoinView("jv")
    engine.repush("jl")
    engine.put("jr", Seq((10L, 111L)).toDF("k", "rv"), 3000L)
    engine.refreshJoinView("jv")
    assert(engine.servingView("jv").select("k", "lv", "rv").collect().toSet
      == recompute())
  }

  test("quota refusal leaves a SERVING store fully readable — BUCKETS and " +
      "first-push schema registration never precede the quota gate") {
    import spark.implicits._
    import graft.core.StoreConfig
    engine.createStore("cfg4", Seq("k"))
    val small = spark.range(50).select(col("id").as("k"),
      md5(col("id").cast("string")).as("v"))
    assert(engine.push("cfg4", small, numBuckets = 4) == 1)
    engine.setStoreConfig("cfg4", StoreConfig(quotaBytes = 200L))
    val big = spark.range(5000).select(col("id").as("k"),
      md5(col("id").cast("string")).as("v"))
    // refused candidate at a DIFFERENT modulus: were BUCKETS written
    // before the gate, point reads would prune v1's 4-bucket layout
    // with modulus 16 and silently miss existing keys
    intercept[IllegalStateException] {
      engine.push("cfg4", big, numBuckets = 16)
    }
    assert(engine.currentVersion("cfg4") == 1)
    (0L until 50L by 7L).foreach { k =>
      assert(engine.get("cfg4", Seq(k)).isDefined,
        s"key $k unreadable after a refused push")
    }
    assert(engine.servingView("cfg4").count() == 50)
  }

  test("rollback across a rebucket serves with the OLD version's modulus " +
      "(per-version _NBUCKETS is authoritative, not store-level BUCKETS)") {
    import spark.implicits._
    engine.createStore("rbk2", Seq("k"))
    val df = spark.range(100).select(col("id").as("k"), (col("id") * 2L).as("v"))
    engine.push("rbk2", df, numBuckets = 4)
    engine.rebucket("rbk2", 16)
    engine.rollback("rbk2")
    (0L until 100L by 13L).foreach { k =>
      assert(engine.get("rbk2", Seq(k)).map(_.getAs[Long]("v")).contains(k * 2),
        s"key $k misrouted after rollback across rebucket")
    }
  }

  test("StoreConfig.activeActive is write-once: disabling on an A/A store " +
      "is refused loudly, never a silent no-op") {
    import graft.core.StoreConfig
    engine.createStore("aaw", Seq("k"), StoreConfig(activeActive = true))
    assert(engine.isActiveActive("aaw"))
    // idempotent re-set with the flag on still works
    engine.setStoreConfig("aaw",
      StoreConfig(activeActive = true, rewindSeconds = 10L))
    assert(engine.storeConfig("aaw").rewindSeconds == 10L)
    val ex = intercept[IllegalStateException] {
      engine.setStoreConfig("aaw",
        StoreConfig(activeActive = false, quotaBytes = 123L))
    }
    assert(ex.getMessage.contains("write-once"))
    assert(engine.isActiveActive("aaw"), "flag must survive the refusal")
    // refused mutation leaves the WHOLE config byte-identical — the
    // refusal must fire before any setting persists, so the downgrade
    // attempt's other fields (quotaBytes here) never land
    assert(engine.storeConfig("aaw").rewindSeconds == 10L,
      "refused config write must not mutate other settings")
    assert(engine.storeConfig("aaw").quotaBytes != 123L,
      "refused config write must not persist the attempted quota")
  }

  test("persisted config defaults apply where the caller omits the " +
      "argument: compactIfNeeded budget, daVinci subscription budget") {
    import spark.implicits._
    import graft.core.StoreConfig
    engine.createStore("cfgd", Seq("k"),
      StoreConfig(compactLogRows = 5L, daVinciMaxRows = 3))
    engine.push("cfgd",
      spark.range(10).select(col("id").as("k"), col("id").as("v")),
      numBuckets = 2)
    engine.put("cfgd",
      spark.range(3).select(col("id").as("k"), (col("id") + 100L).as("v")),
      tsMs = 10L)
    assert(engine.compactIfNeeded("cfgd") == 0, "3-row overlay is in budget")
    engine.put("cfgd",
      spark.range(5).select((col("id") + 20L).as("k"), col("id").as("v")),
      tsMs = 20L)
    assert(engine.compactIfNeeded("cfgd") == 2,
      "8-row overlay exceeds the persisted 5-row budget → repush")
    // daVinci() with no explicit budget reads the store default (3 rows)
    // and refuses this 15-row store; an explicit override still wins
    val ex = intercept[IllegalArgumentException] { engine.daVinci("cfgd") }
    assert(ex.getMessage.contains("maxRows"))
    val dv = engine.daVinci("cfgd", maxRows = 1000)
    assert(dv.size == 15)
  }

  test("null key components route consistently end-to-end: push bucketing, " +
      "point reads and distributed probes agree on the rendering") {
    import spark.implicits._
    engine.createStore("nullk", Seq("a", "b"))
    val rows = Seq(
      (1L, Option("x"), 10), (2L, Option.empty[String], 20),
      (3L, Option("y"), 30)).toDF("a", "b", "v")
    engine.push("nullk", rows, numBuckets = 8)
    assert(engine.get("nullk", Seq(2L, null)).map(_.getAs[Int]("v"))
      .contains(20), "engine.get must find the null-component key")
    assert(engine.get("nullk", Seq(1L, "x")).map(_.getAs[Int]("v"))
      .contains(10))
    val dvd = engine.daVinciDistributed("nullk")
    try {
      assert(dvd.get(Seq(2L, null)).map(_.getAs[Int]("v")).contains(20),
        "DistributedDaVinci must find the null-component key")
      assert(dvd.get(Seq(1L, "x")).map(_.getAs[Int]("v")).contains(10))
      assert(dvd.get(Seq(9L, "zz")).isEmpty)
    } finally dvd.close()
  }

  test("versionDiff: null-safe change detection, delta-bounded output, " +
      "retained-version validation") {
    import spark.implicits._
    engine.createStore("vdiff", Seq("k"))
    engine.push("vdiff", Seq(
      (1L, Option("a"), Option(10)), // null-ing a field = changed
      (2L, Option.empty[String], Option(20)), // null -> value = changed
      (3L, Option.empty[String], Option.empty[Int]), // null == null = unchanged
      (4L, Option("d"), Option(40)), // removed in v2
      (5L, Option("e"), Option(50))) // unchanged
      .toDF("k", "s", "v"), numBuckets = 4)
    engine.push("vdiff", Seq(
      (1L, Option.empty[String], Option(10)),
      (2L, Option("b"), Option(20)),
      (3L, Option.empty[String], Option.empty[Int]),
      (5L, Option("e"), Option(50)),
      (6L, Option("f"), Option(60))) // added
      .toDF("k", "s", "v"), numBuckets = 4)
    val got = engine.versionDiff("vdiff", 1, 2)
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq(
      (1L, "changed", "s"), (2L, "changed", "s"),
      (4L, "removed", null), (6L, "added", null)), s"got $got")
    // unchanged keys (3, 5) never emitted — output bounded by the delta
    val ex = intercept[IllegalArgumentException] {
      engine.versionDiff("vdiff", 1, 7)
    }
    assert(ex.getMessage.contains("retains versions"))
  }

  test("migrateStore: two-step contract — source serves until " +
      "endMigration; dest-exists refusal; missing-source refusal") {
    import spark.implicits._
    val destRoot = Files.createTempDirectory("graft-migr-dest").toString
    val dest = new GraftEngine(spark, destRoot)
    engine.createStore("mig", Seq("k"))
    engine.push("mig", Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      numBuckets = 2)
    engine.put("mig", Seq((1L, "a2")).toDF("k", "v"), tsMs = 100L)
    engine.migrateStore("mig", dest)
    // phase 1 done: BOTH serve identical rows (fallback stays possible)
    def rows(e: GraftEngine) = e.servingView("mig").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows(engine) == Seq((1L, "a2"), (2L, "b")))
    assert(rows(dest) == rows(engine))
    // re-migrating onto the existing clone refuses (never clobbers)
    val ex = intercept[IllegalArgumentException] {
      engine.migrateStore("mig", dest)
    }
    assert(ex.getMessage.contains("already exists"))
    // phase 2 retires the source; the destination is undisturbed
    engine.endMigration("mig")
    assert(!engine.listStores.contains("mig"))
    assert(rows(dest) == Seq((1L, "a2"), (2L, "b")))
    val ex2 = intercept[IllegalArgumentException] {
      engine.endMigration("mig")
    }
    assert(ex2.getMessage.contains("does not exist"))
  }

  test("log mirror listing: an in-flight append's _temporary files are " +
      "not data; partition dirs are") {
    // the layout a Hadoop committer leaves mid-append, beside committed
    // files of a plain log and of a bucket-partitioned (A/A) log
    val base = graft.core.TmpStores.dir("graft-listing")
    def touch(rel: String): String = {
      val p = base.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, Array[Byte](1, 2, 3))
      p.toString
    }
    val committed = Set(
      touch("part-00000-a.snappy.parquet"),
      touch("__bucket=3/part-00001-b.snappy.parquet"))
    Seq("_temporary/0/_temporary/attempt_1/part-00002-c.snappy.parquet",
      "_temporary/0/task_1/part-00003-d.snappy.parquet",
      "__bucket=3/_temporary/0/part-00004-e.snappy.parquet",
      ".staging/part-00005-f.snappy.parquet",
      "_SUCCESS", "_TYPED", ".part-00000-a.snappy.parquet.crc",
      "__bucket=3/.part-00001-b.snappy.parquet.crc").foreach(touch)
    val listed = GraftEngine.listDataFiles(base.toString)
    assert(listed.keySet == committed)
    assert(listed.values.forall(_ == 3L))
    assert(GraftEngine.listDataFiles(base.resolve("absent").toString).isEmpty)
  }
}
