package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{GraftEngine, GraftSession, Tables}
import graft.streaming.{FileTopicSource, KafkaTopicSource, StreamIngest}

case class Upd(c_custkey: Long, c_name: String, c_nationkey: Int,
    c_acctbal: Double, c_mktsegment: String, __event_ts_ms: Long)

case class Doc(doc_id: Long, text: String, __event_ts_ms: Long)

class StreamingSpec extends AnyFunSuite {
  lazy val spark = GraftSession.build(appName = "streaming-spec")
  val sf = "/root/testdata/sf0.001"
  lazy val root = graft.core.TmpStores.dir("graft-stream").toString
  lazy val engine = new GraftEngine(spark, root)

  test("S1: streaming ingest lands in the serving view") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    engine.createStore("scust", Seq("c_custkey"))
    engine.push("scust", Tables.customer(spark, sf))

    val stream = MemoryStream[Upd]
    stream.addData(
      Upd(1L, "STREAMED", 0, 1.0, "BUILDING", 5000L),
      Upd(7777L, "BRAND-NEW", 0, 2.0, "AUTOMOBILE", 5000L))
    val q = StreamIngest.ingest(engine, "scust", stream.toDF(),
      checkpoint = s"$root/cp1")
    q.awaitTermination(60000)

    val view = engine.servingView("scust")
    assert(view.filter($"c_custkey" === 1L).head.getAs[String]("c_name")
      == "STREAMED")
    assert(view.filter($"c_custkey" === 7777L).count() == 1)
    assert(view.count() == 151)
  }

  test("B2: the TopicSource seam — ingest driven through a topic adapter; " +
      "the Kafka binding constructs without a broker or connector jar") {
    import spark.implicits._
    engine.createStore("tsrc", Seq("c_custkey"))
    engine.push("tsrc", Tables.customer(spark, sf))
    // a parquet dir stands in for the external topic (the in-env adapter);
    // producers append files, the consumer checkpoints via the file source
    val topicDir = graft.core.TmpStores.dir("graft-topic").toString
    Seq((1L, "VIA-TOPIC", 5000L), (8888L, "TOPIC-NEW", 5000L))
      .toDF("c_custkey", "c_name", StreamIngest.EventTsCol)
      .write.mode("append").parquet(topicDir)
    val q = StreamIngest.ingestFrom(engine, "tsrc",
      FileTopicSource(topicDir), checkpoint = s"$root/cpT")
    q.awaitTermination(60000)
    val view = engine.servingView("tsrc")
    assert(view.filter($"c_custkey" === 1L).head.getAs[String]("c_name")
      == "VIA-TOPIC")
    assert(view.count() == 151)
    // a SECOND producer append resumes from the checkpoint — only the new
    // file is consumed (topic semantics, not a rescan)
    Seq((8888L, "TOPIC-NEWER", 6000L))
      .toDF("c_custkey", "c_name", StreamIngest.EventTsCol)
      .write.mode("append").parquet(topicDir)
    val q2 = StreamIngest.ingestFrom(engine, "tsrc",
      FileTopicSource(topicDir), checkpoint = s"$root/cpT")
    q2.awaitTermination(60000)
    assert(engine.servingView("tsrc").filter($"c_custkey" === 8888L)
      .head.getAs[String]("c_name") == "TOPIC-NEWER")
    // the Kafka binding is pure data until stream() — audit its options
    val k = KafkaTopicSource("broker1:9092,broker2:9092", "store_rt",
      startingOffsets = "latest")
    assert(k.sourceOptions == Map(
      "kafka.bootstrap.servers" -> "broker1:9092,broker2:9092",
      "subscribe" -> "store_rt",
      "startingOffsets" -> "latest"))
  }

  test("S1: per-row-unique event times ingest as ONE append per batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    engine.createStore("scust3", Seq("c_custkey"))
    engine.push("scust3", Tables.customer(spark, sf))
    val stream = MemoryStream[Upd]
    stream.addData((0 until 50).map(i =>
      Upd(20000L + i, s"U$i", 0, i.toDouble, "X", 7000L + i)): _*)
    val q = StreamIngest.ingest(engine, "scust3", stream.toDF(),
      checkpoint = s"$root/cp3")
    q.awaitTermination(60000)
    // S3: a drained AvailableNow query passes the readiness gate
    assert(StreamIngest.isCaughtUp(q))
    // one append per microbatch: the log holds at most one part-file per
    // df partition — NOT one append per distinct timestamp (50 here)
    val parts = new java.io.File(s"$root/scust3/log").listFiles()
      .count(_.getName.startsWith("part-"))
    assert(parts < 50, s"$parts part files — per-ts driver appends are back")
    val view = engine.servingView("scust3")
    assert(view.count() == 200)
    // each row carries its own event time as the LWW timestamp
    assert(engine.changelog("scust3", 7049L).count() == 1)
  }

  test("S1×W7: streaming ingest into an active-active store resolves per-field") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    engine.createStore("aast", Seq("c_custkey"))
    engine.push("aast", Tables.customer(spark, sf))
    engine.enableActiveActive("aast")
    val stream = MemoryStream[Upd]
    // out-of-order events for the same key: the older full put must lose
    // per-field regardless of arrival order
    stream.addData(
      Upd(11L, "OLDER", 0, 1.0, "X", 5000L),
      Upd(11L, "NEWER", 0, 2.0, "Y", 9000L),
      Upd(7778L, "AA-NEW", 0, 3.0, "Z", 5000L))
    val q = StreamIngest.ingest(engine, "aast", stream.toDF(),
      checkpoint = s"$root/cp-aa")
    q.awaitTermination(60000)
    val view = engine.servingView("aast")
    assert(view.filter($"c_custkey" === 11L).head.getAs[String]("c_name")
      == "NEWER")
    assert(view.filter($"c_custkey" === 7778L).count() == 1)
    assert(view.count() == 151)
  }

  test("S5: transformer hook filters/maps records during ingest") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    engine.createStore("scust2", Seq("c_custkey"))
    engine.push("scust2", Tables.customer(spark, sf))

    val stream = MemoryStream[Upd]
    stream.addData(
      Upd(2L, "keep", 0, 1.0, "BUILDING", 6000L),
      Upd(3L, "drop-me", 0, 1.0, "BUILDING", 6000L))
    val q = StreamIngest.ingest(engine, "scust2", stream.toDF(),
      transformer = df => df.filter(!col("c_name").startsWith("drop"))
        .withColumn("c_name", upper(col("c_name"))),
      checkpoint = s"$root/cp2")
    q.awaitTermination(60000)

    val view = engine.servingView("scust2")
    assert(view.filter($"c_custkey" === 2L).head.getAs[String]("c_name") == "KEEP")
    assert(view.filter($"c_custkey" === 3L).head.getAs[String]("c_name") != "drop-me")
  }

  test("S4: CDC stream replays log appends; seek filters by timestamp") {
    import spark.implicits._
    // store from test 1 has log entries at ts=5000
    engine.put("scust",
      Seq((42L, "LATER", 0, 3.0, "MACHINERY"))
        .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      tsMs = 9000L)
    val cdc = StreamIngest.changelogStream(spark, engine, "scust", sinceTsMs = 8000L)
    val q = cdc.writeStream.format("memory").queryName("cdc_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("select * from cdc_out").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("c_name") == "LATER")
    // batch changelog agrees
    assert(engine.changelog("scust", 0L).count() == 3)
  }

  test("S3: thresholded lag gate refuses the version swap while behind") {
    import spark.implicits._
    engine.createStore("lagst", Seq("k"))
    engine.push("lagst", Seq((1L, "a")).toDF("k", "v"))
    // nothing ingested yet → infinitely behind → no swap
    assert(StreamIngest.swapIfCaughtUp(engine, "lagst",
      maxTimeLagMs = 500L, nowMs = 10000L).isEmpty)
    assert(engine.currentVersion("lagst") == 1)
    // stale ingest (ts 1000, now 10000, threshold 500) → still refused
    engine.put("lagst", Seq((2L, "b")).toDF("k", "v"), tsMs = 1000L)
    assert(StreamIngest.swapIfCaughtUp(engine, "lagst",
      maxTimeLagMs = 500L, nowMs = 10000L).isEmpty)
    assert(engine.currentVersion("lagst") == 1)
    // fresh ingest within threshold → gate opens, swap lands
    engine.put("lagst", Seq((3L, "c")).toDF("k", "v"), tsMs = 9800L)
    assert(StreamIngest.swapIfCaughtUp(engine, "lagst",
      maxTimeLagMs = 500L, nowMs = 10000L).contains(2))
    assert(engine.currentVersion("lagst") == 2)
    assert(engine.servingView("lagst").count() == 3)
    // offset-lag strategy: a drained query is within any threshold, and an
    // unparseable/absent progress is NOT treated as caught up
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[Upd]
    stream.addData(Upd(30000L, "X", 0, 1.0, "B", 9900L))
    engine.createStore("lagst2", Seq("c_custkey"))
    engine.push("lagst2", Tables.customer(spark, sf))
    val q = StreamIngest.ingest(engine, "lagst2", stream.toDF(),
      checkpoint = s"$root/cp-lag")
    q.awaitTermination(60000)
    assert(StreamIngest.isCaughtUp(q, maxOffsetLag = 3L))
  }

  test("streaming dedup drops exact duplicates ACROSS microbatches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    engine.createStore("sdocs", Seq("doc_id"))
    engine.push("sdocs", Seq((0L, "seed doc")).toDF("doc_id", "text"))

    val stream = MemoryStream[Doc]
    // batch 1: two distinct docs + an in-batch duplicate (same text,
    // different whitespace/case — the normalized fingerprint must match)
    stream.addData(
      Doc(1L, "alpha beta gamma", 1000L),
      Doc(2L, "delta epsilon", 1000L),
      Doc(3L, "  Alpha   BETA gamma ", 1001L))
    val q = StreamIngest.ingest(engine, "sdocs",
      graft.streaming.StreamDedup.exact(stream.toDF()),
      checkpoint = s"$root/cpdedup")
    q.awaitTermination(60000)
    // batch 2: a cross-batch duplicate of doc 1 and one genuinely new doc —
    // the fingerprint state must remember batch 1
    stream.addData(
      Doc(4L, "alpha beta gamma", 2000L),
      Doc(5L, "zeta eta theta", 2000L))
    val q2 = StreamIngest.ingest(engine, "sdocs",
      graft.streaming.StreamDedup.exact(stream.toDF()),
      checkpoint = s"$root/cpdedup")
    q2.awaitTermination(60000)

    val view = engine.servingView("sdocs")
    val ids = view.select("doc_id").as[Long].collect().toSet
    // 3 (in-batch dup) and 4 (cross-batch dup) must be dropped
    assert(ids == Set(0L, 1L, 2L, 5L), s"got $ids")
  }

  test("S2: rewind re-feeds recent log entries onto a new version") {
    val recent = StreamIngest.rewind(engine, "scust", nowMs = 10000L,
      rewindMs = 2000L)
    assert(recent.count() == 1) // only the ts=9000 write
  }

  test("custom state: flatMapGroupsWithState sessionization closes on gaps") {
    import spark.implicits._
    import graft.streaming.Sessionize
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[Sessionize.Evt]
    stream.addData(
      Sessionize.Evt(1L, 1000L, 1.0), Sessionize.Evt(1L, 2000L, 2.0),
      Sessionize.Evt(1L, 60000L, 3.0), // gap > 10s → closes first session
      Sessionize.Evt(2L, 1000L, 5.0))
    val out = Sessionize.sessionize(stream.toDS(), gapMs = 10000L)
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val sessions = spark.sql("select * from sess_out").as[Sessionize.Session]
      .collect().sortBy(_.user_id)
    // only user 1's first session closed; the open ones stay in state
    assert(sessions.length == 1)
    assert(sessions.head == Sessionize.Session(1L, 1000L, 2000L, 2, 3.0))
    // a later batch with a fresh gap closes the 60000 session
    stream.addData(Sessionize.Evt(1L, 999999L, 9.0))
    val q2 = out.writeStream.format("memory").queryName("sess_out2")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
  }

  test("sessionize idle timeout flushes a quiet user's open session") {
    import spark.implicits._
    import graft.streaming.Sessionize
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[Sessionize.Evt]
    val out = Sessionize.sessionize(stream.toDS(), gapMs = 10000L,
      idleTimeoutMs = 10L)
    stream.addData(Sessionize.Evt(9L, 1000L, 1.0))
    val q = out.writeStream.format("memory").queryName("idle_out")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    // no closing event ever arrives — only the expired processing-time timer
    // can flush the open session
    val deadline = System.currentTimeMillis() + 30000
    while (System.currentTimeMillis() < deadline &&
      spark.sql("select * from idle_out").count() == 0) Thread.sleep(100)
    q.stop()
    val flushed = spark.sql("select * from idle_out").as[Sessionize.Session]
      .collect()
    assert(flushed.exists(s => s.user_id == 9L && s.n_events == 1),
      s"expected idle flush of user 9, got ${flushed.mkString(",")}")
  }

  test("streaming windowed aggregation with watermark (events table)") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
    val schema = ev.schema
    val dir = s"$root/evstream"
    ev.limit(200).write.parquet(dir)
    val stream = spark.readStream.schema(schema).parquet(dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
    val q = stream.writeStream.format("memory").queryName("win_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.sql("select * from win_out")
    assert(out.count() > 0)
    assert(out.agg(sum("n")).head.getLong(0) == 200L)
  }

  test("StreamWindow append mode: emit-once on watermark pass, late rows DROPPED") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agged = graft.streaming.StreamWindow.windowedAgg(
      stream.toDF().toDF("ts", "k", "v"), "ts",
      delay = "1 hour", window = "1 hour", keys = Seq("k"),
      aggs = Seq(count(lit(1)).as("n"),
        sum(round(col("v") * 100).cast("long")).as("cents")))
    val q = agged.writeStream.format("memory").queryName("swin_mem")
      .outputMode("append").option("checkpointLocation", s"$root/cpswin")
      .start()
    // batch 1: hour 0 twice, hour 2 once → watermark ends at 1:30
    stream.addData((ts(10), "a", 1.0), (ts(20), "a", 2.0), (ts(150), "a", 5.0))
    q.processAllAvailable()
    // batch 2: a LATE row for the finalized hour-0 window (must be dropped,
    // NOT merged or re-emitted) + an hour-5 row pushing the watermark to
    // 4:00 so hour 2 closes
    stream.addData((ts(40), "a", 100.0), (ts(300), "a", 7.0))
    q.processAllAvailable()
    // batch 3: data batch so eviction at watermark 4:00+ runs even if the
    // engine skipped a no-data batch; its own hour-5 rows stay open
    stream.addData((ts(310), "a", 9.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("swin_mem")
      .select("bucket_ms", "k", "n", "cents")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    // hour 0: the late 100.0 must be absent (cents 300, n 2, emitted once);
    // hour 2 emitted; hour 5 still open (watermark 4:10 < end 6:00)
    assert(rows == Set((0L, "a", 2L, 300L), (7200000L, "a", 1L, 500L)),
      s"got $rows")
  }

  test("enrichment join: the broadcast batchGet arm and the serving-view " +
      "join arm enrich the same microbatch identically") {
    import spark.implicits._
    import graft.streaming.EnrichJoin
    import org.apache.spark.sql.catalyst.plans.logical.{Join, ResolvedHint}
    val e = new GraftEngine(spark,
      graft.core.TmpStores.dir("graft-enrich-arms").toString)
    e.createStore("dim2", Seq("a", "b"))
    e.push("dim2", (1L to 40L).map(i => (i, s"b$i", s"v$i", i * 10))
      .toDF("a", "b", "v", "n"), numBuckets = 4)
    // RT overlay: an overwrite, a new key and a delete, seen by both arms
    e.put("dim2", Seq((3L, "b3", "NEW3", 33L), (99L, "b99", "v99", 990L))
      .toDF("a", "b", "v", "n"), tsMs = 1000L)
    e.delete("dim2", Seq((5L, "b5")).toDF("a", "b"), tsMs = 1000L)
    // hits, the overwritten key, the new key, a deleted key, misses and a
    // repeated key; batch key columns are renamed to exercise the
    // keyMap join (the identity keyMap is covered by the drain test)
    val batch = Seq((100L, 1L, "b1"), (101L, 3L, "b3"), (102L, 99L, "b99"),
      (103L, 5L, "b5"), (104L, 7L, "nope"), (105L, 1000L, "b1000"),
      (106L, 1L, "b1")).toDF("evt", "ka", "kb")
    val keyMap = Seq("ka" -> "a", "kb" -> "b")
    def arm(threshold: Long) =
      EnrichJoin.enrich(e, "dim2", batch, keyMap, broadcastBatchBytes = threshold)
    val small = arm(Long.MaxValue)
    val large = arm(0L)
    // the arm shows as the enrichment join's build side: the broadcast
    // batchGet hits, or the serving view itself
    def broadcastBuild(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectFirst { case j: Join =>
        j.right.isInstanceOf[ResolvedHint] }
    assert(broadcastBuild(small) == Some(true), "broadcast batchGet arm")
    assert(broadcastBuild(large) == Some(false), "serving-view join arm")
    assert(small.columns.toSeq == large.columns.toSeq)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    val expected = Seq(
      Seq(100L, 1L, "b1", "v1", 10L), Seq(101L, 3L, "b3", "NEW3", 33L),
      Seq(102L, 99L, "b99", "v99", 990L), Seq(103L, 5L, "b5", null, null),
      Seq(104L, 7L, "nope", null, null), Seq(105L, 1000L, "b1000", null, null),
      Seq(106L, 1L, "b1", "v1", 10L))
    assert(rows(small) == expected)
    assert(rows(large) == expected)
  }

  test("enrichment join re-resolves the store per drain: RT write visible") {
    import spark.implicits._
    import graft.streaming.EnrichJoin
    val root = graft.core.TmpStores.dir("graft-enrich").toString
    val e = new GraftEngine(spark, s"$root/stores")
    e.createStore("dim", Seq("k"))
    e.push("dim", Seq((1L, "old1"), (2L, "old2")).toDF("k", "v"))
    def drain(): Unit = {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("evt", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))))
        .parquet(s"$root/in")
      val q = EnrichJoin.enrichStream(e, "dim", stream, Seq("k" -> "k"),
        s"$root/out", s"$root/cp")
      assert(q.awaitTermination(60000), "drain timed out")
    }
    Seq((100L, 1L), (101L, 2L), (102L, 3L)).toDF("evt", "k")
      .write.mode("append").parquet(s"$root/in")
    drain()
    // RT write lands between drains — the LWW overlay, no new push
    e.put("dim", Seq((2L, "NEW2")).toDF("k", "v"), tsMs = 1000L)
    Seq((200L, 2L), (201L, 3L)).toDF("evt", "k")
      .write.mode("append").parquet(s"$root/in")
    drain()
    // using-column join output order: (k, evt, v)
    val out = spark.read.parquet(s"$root/out")
      .select("evt", "v")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1)).orNull).toMap
    assert(out(100L) == "old1")
    assert(out(101L) == "old2", "first drain saw the pushed value")
    assert(out(200L) == "NEW2", "second drain saw the RT write")
    assert(out(102L) == null && out(201L) == null,
      "missing keys preserved with null enrichment")
    assert(spark.read.parquet(s"$root/out").count() == 5,
      "checkpoint prevents reprocessing drained files")
  }

  test("stream-stream interval join pairs within window, drops late input") {
    import spark.implicits._
    import graft.streaming.StreamJoin
    val root = graft.core.TmpStores.dir("graft-sjoin-spec").toString
    new java.io.File(s"$root/in").mkdirs()
    def stage(rows: Seq[(Long, String, Long, Long)]): Unit = rows
      .toDF("ts_ms", "event_type", "event_id", "user_id")
      .select(timestamp_millis(col("ts_ms")).as("ts"), col("event_type"),
        col("event_id"), col("user_id"))
      .write.mode("append").parquet(s"$root/in")
    def drain(): Unit = {
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "ts timestamp, event_type string, event_id bigint, user_id bigint")
      val src = spark.readStream.schema(schema).parquet(s"$root/in")
      val views = src.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").as("view_ts"))
      val clicks = src.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val q = StreamJoin.intervalJoin(views, clicks, Seq("user_id"),
        "view_ts", "click_ts", windowMs = 60000L, delay = "10 seconds")
        .writeStream.format("parquet")
        .option("path", s"$root/out").option("checkpointLocation", s"$root/cp")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "drain timed out")
    }
    val h = 3600000L // base offset so watermarks are comfortably positive
    // user 1: click inside the 60s window; at the exact upper bound (inclusive);
    // just outside; user 2: no view → no pair
    stage(Seq(
      (h, "view", 10L, 1L),
      (h + 30000L, "click", 20L, 1L),
      (h + 60000L, "click", 21L, 1L),
      (h + 60001L, "click", 22L, 1L),
      (h + 5000L, "click", 23L, 2L)))
    drain()
    // advance the watermark past view 10's eviction bound. The global
    // watermark is the MIN over both sides' withWatermark nodes, so BOTH
    // sides need a fresh event (the user-4 click matches no view): it
    // becomes h+300s−10s = h+290s, and view 10 (evictable once the
    // click-side watermark passes view_ts + window) leaves the state store
    stage(Seq((h + 300000L, "view", 11L, 3L),
      (h + 300000L, "click", 40L, 4L)))
    drain()
    // a click at h+40000 is INSIDE view 10's window (a batch join WOULD
    // pair it) but far below the watermark — evicted state + the late gate
    // mean it must produce nothing
    stage(Seq((h + 40000L, "click", 30L, 1L)))
    drain()
    val pairs = spark.read.parquet(s"$root/out")
      .select("view_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 20L), (10L, 21L)),
      s"expected in-window pairs incl. inclusive upper bound, got $pairs")
  }

  test("near-dup index survives a mid-stream repush: pairs unchanged") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).limit(120)
    val firstHalf = docs.filter(col("doc_id") % 2 === 0)
    val secondHalf = docs.filter(col("doc_id") % 2 === 1)
    val src = s"$root/sncdocs"
    firstHalf.repartition(2).write.mode("overwrite").parquet(src)
    val e = new GraftEngine(spark,
      graft.core.TmpStores.dir("snd-repush").toString)
    e.createStore("lsh", Seq("bandkey"))
    e.push("lsh", Seq.empty[(String, Array[Long])].toDF("bandkey", "ids"),
      numBuckets = 4)
    e.enableActiveActive("lsh")
    val out = s"$root/snc-out"
    Seq.empty[(Long, Long)].toDF("id_a", "id_b")
      .write.mode("overwrite").parquet(out)
    def drain(): Unit = {
      val q = graft.streaming.StreamDedup.nearDupPairs(
          spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1").parquet(src),
          e, "lsh", "doc_id", "text") {
          (p, _) => p.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", s"$root/snc-cp")
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "drain timed out")
    }
    drain()
    // compact the index mid-stream: op log folds into a fresh snapshot —
    // the second half must still find every first-half collision
    e.repush("lsh")
    secondHalf.repartition(2).write.mode("append").parquet(src)
    drain()
    val streamed = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = graft.operators.Dedup.shingleSets(docs, "doc_id", "text", 3)
    val batch = graft.operators.Dedup.minhashCandidates(sh, k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    assert(streamed == batch,
      s"repush changed the pair set: ${streamed.size} vs ${batch.size}")
    // cross-half pairs exist, i.e. the repushed snapshot really served
    assert(streamed.exists(p => p._1 % 2 != p._2 % 2),
      "no cross-half pair — repushed index state was not exercised")
    sh.unpersist()
  }

  test("streaming near-dup pairs are microbatch-boundary-invariant") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).limit(120)
    val src = s"$root/sndocs"
    // many small files so maxFilesPerTrigger really changes the slicing
    docs.repartition(8).write.mode("overwrite").parquet(src)
    val schema = docs.schema

    def drain(tag: String, filesPerTrigger: Option[Int]): Set[(Long, Long)] = {
      val e = new GraftEngine(spark,
        graft.core.TmpStores.dir(s"snd-$tag").toString)
      e.createStore("lsh", Seq("bandkey"))
      e.push("lsh", Seq.empty[(String, Array[Long])].toDF("bandkey", "ids"),
        numBuckets = 4)
      e.enableActiveActive("lsh")
      val out = s"$root/snd-out-$tag"
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")
        .write.mode("overwrite").parquet(out)
      val reader = spark.readStream.schema(schema)
      filesPerTrigger.foreach(n =>
        reader.option("maxFilesPerTrigger", n.toString))
      val q = graft.streaming.StreamDedup.nearDupPairs(
          reader.parquet(src), e, "lsh", "doc_id", "text") {
          (p, _) => p.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", s"$root/snd-cp-$tag")
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), s"drain $tag timed out")
      spark.read.parquet(out)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }

    val oneBig = drain("big", None)               // all files in one batch
    val sliced = drain("sliced", Some(1))         // one file per batch
    assert(oneBig == sliced,
      s"pair set depends on slicing: ${oneBig.size} vs ${sliced.size}")
    // and the drain equals the batch band join over the same docs
    val sh = graft.operators.Dedup.shingleSets(docs, "doc_id", "text", 3)
    val batch = graft.operators.Dedup.minhashCandidates(sh, k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    assert(oneBig == batch, "stream drain must equal the batch band join")
    sh.unpersist()
  }
}
