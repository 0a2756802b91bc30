package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{GraftEngine, GraftSession, Tables}

/** The DSv2 surface: vanilla `spark.read.format("graft")` / catalog SQL
  * over stores, full-parity with servingView, with bucket pruning. */
class ConnectorSpec extends AnyFunSuite {
  lazy val spark = GraftSession.build(appName = "connector-spec")
  lazy val sf = "/root/testdata/sf0.001"
  lazy val root = graft.core.TmpStores.dir("graft-dsv2").toString
  lazy val engine = new GraftEngine(spark, root)

  private def readStore(store: String) =
    spark.read.format("graft").option("root", root).option("store", store).load()

  test("format(graft) read ≡ servingView on a hybrid store (puts+deletes)") {
    engine.createStore("c", Seq("c_custkey"))
    val cust = Tables.customer(spark, sf)
    engine.push("c", cust, numBuckets = 4)
    engine.put("c", cust.filter(col("c_custkey") <= 5)
      .withColumn("c_name", lit("VIA-RT")), tsMs = 1000L)
    engine.delete("c", cust.filter(col("c_custkey").between(6, 8))
      .select("c_custkey"), tsMs = 2000L)
    val viaConnector = readStore("c").orderBy("c_custkey").collect()
    val viaEngine = engine.servingView("c").orderBy("c_custkey").collect()
    assert(viaConnector.toSeq == viaEngine.toSeq)
    assert(viaConnector.length == 147) // 150 - 3 tombstoned
    assert(viaConnector.take(5).forall(_.getAs[String]("c_name") == "VIA-RT"))
  }

  test("catalog SQL: SELECT over a store resolves through the catalog") {
    spark.conf.set("spark.sql.catalog.gtest", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtest.root", root)
    engine.createStore("n", Seq("n_nationkey"))
    engine.push("n", Tables.nation(spark, sf), numBuckets = 2)
    val got = spark.sql(
      "SELECT n_nationkey, n_name FROM gtest.n WHERE n_nationkey < 5 " +
        "ORDER BY n_nationkey").collect()
    assert(got.length == 5 && got.head.getString(1).nonEmpty)
    val tables = spark.sql("SHOW TABLES IN gtest").collect().map(_.getString(1))
    assert(tables.contains("n") && tables.contains("c"))
  }

  test("full-key equality through the connector prunes to one bucket dir") {
    engine.createStore("p", Seq("p_partkey"))
    engine.push("p", Tables.part(spark, sf), numBuckets = 8)
    val q = readStore("p").filter(col("p_partkey") === 77L)
    // optimizer injected the derived __bucket predicate…
    val hasBucketPred = q.queryExecution.optimizedPlan.collect {
      case LFilter(cond, _) if cond.references.exists(
        _.name == GraftEngine.BucketCol) => cond
    }
    assert(hasBucketPred.nonEmpty, "no __bucket predicate in optimized plan")
    // …and the physical scan reads exactly ONE of the 8 partition dirs
    val scans = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    assert(scans.forall(_.relation.location.inputFiles.length >= 1))
    val partCounts = scans.map(_.selectedPartitions.partitionCount)
    assert(partCounts.exists(_ == 1),
      s"expected a 1-partition scan, got $partCounts")
    // the pruned read still returns the right row (wrong-modulus guard)
    val rows = q.collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("p_partkey") == 77L)
  }

  test("pruning uses the version's OWN modulus after a rebucket") {
    engine.createStore("r", Seq("r_regionkey"))
    engine.push("r", Tables.region(spark, sf), numBuckets = 2)
    engine.rebucket("r", 8)
    val rows = readStore("r").filter(col("r_regionkey") === 3L).collect()
    assert(rows.length == 1 &&
      rows.head.getAs[Number]("r_regionkey").longValue == 3L)
  }

  test("connector serves A/A stores through the CRDT fold") {
    engine.createStore("aa", Seq("k"))
    engine.enableActiveActive("aa")
    import spark.implicits._
    engine.push("aa", Seq((1L, "a"), (2L, "b")).toDF("k", "v"), numBuckets = 2)
    engine.putAA("aa", Seq((1L, "a2")).toDF("k", "v"), tsMs = 10L)
    engine.deleteAA("aa", Seq(Tuple1(2L)).toDF("k"), tsMs = 20L)
    val got = readStore("aa").orderBy("k").collect()
    val want = engine.servingView("aa").orderBy("k").collect()
    assert(got.toSeq == want.toSeq)
    assert(got.length == 1 && got.head.getAs[String]("v") == "a2")
    // restricted A/A read (batchGet → pre-fold semi-restriction) agrees
    // with the full fold: present key found, tombstoned key absent
    val bg = engine.batchGet("aa", Seq(1L, 2L).toDF("k")).collect()
    assert(bg.length == 1 && bg.head.getAs[String]("v") == "a2")
  }

  test("changelog option: batch read ≡ engine.changelog, LWW and A/A") {
    engine.createStore("cl", Seq("k"))
    import spark.implicits._
    engine.push("cl", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
      numBuckets = 2)
    engine.put("cl", Seq((1L, "a2")).toDF("k", "v"), tsMs = 100L)
    engine.delete("cl", Seq(Tuple1(3L)).toDF("k"), tsMs = 200L)
    def readChangelog(store: String, since: Long = 0L) =
      spark.read.format("graft").option("root", root).option("store", store)
        .option("changelog", "true").option("sinceTs", since).load()
    val got = readChangelog("cl").orderBy("k").collect()
    val want = engine.changelog("cl", 0L).orderBy("k").collect()
    assert(got.toSeq == want.toSeq)
    assert(got.length == 2)
    // sinceTs seeks: only the delete remains
    val later = readChangelog("cl", since = 150L).collect()
    assert(later.length == 1 && later.head.getAs[Long]("k") == 3L)
    // A/A: the connector serves resolved after-images, same as the engine
    engine.createStore("claa", Seq("k"))
    engine.enableActiveActive("claa")
    engine.push("claa", Seq((1L, "x")).toDF("k", "v"), numBuckets = 2)
    engine.putAA("claa", Seq((1L, "x2")).toDF("k", "v"), tsMs = 10L)
    val gotAa = readChangelog("claa").collect()
    val wantAa = engine.changelog("claa", 0L).collect()
    assert(gotAa.toSeq == wantAa.toSeq)
    assert(gotAa.length == 1 && gotAa.head.getAs[String]("v") == "x2")
  }

  test("readStream.format(graft): a live changelog subscription") {
    engine.createStore("cs", Seq("k"))
    import spark.implicits._
    engine.push("cs", Seq((1L, "a")).toDF("k", "v"), numBuckets = 2)
    engine.put("cs", Seq((1L, "a2"), (2L, "b")).toDF("k", "v"), tsMs = 100L)
    val stream = spark.readStream.format("graft")
      .option("root", root).option("store", "cs")
      .option("changelog", "true").load()
    assert(stream.isStreaming)
    val cp = graft.core.TmpStores.dir("graft-cs-cp").toString
    val out = graft.core.TmpStores.dir("graft-cs-out").toString
    def drain(): Unit = {
      val q = stream.writeStream.format("parquet")
        .option("checkpointLocation", cp).option("path", out)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(out).count() == 2)
    // a RESTARTED subscription resumes from its checkpoint: only the new
    // append is delivered (re-reading from scratch would make 5 rows)
    engine.delete("cs", Seq(Tuple1(1L)).toDF("k"), tsMs = 200L)
    drain()
    val all = spark.read.parquet(out)
    assert(all.count() == 3)
    assert(all.filter(col(core.GraftEngine.DeletedCol)).count() == 1)
    // streaming an A/A changelog is refused with the batch remedy
    engine.createStore("csaa", Seq("k"))
    engine.enableActiveActive("csaa")
    engine.push("csaa", Seq((1L, "x")).toDF("k", "v"), numBuckets = 2)
    engine.putAA("csaa", Seq((1L, "x2")).toDF("k", "v"), tsMs = 10L)
    val err = intercept[Exception] {
      spark.readStream.format("graft").option("root", root)
        .option("store", "csaa").option("changelog", "true").load()
    }
    assert(err.getMessage.contains("active-active"))
  }

  test("df.write.format(graft): overwrite = version push, append = nearline put") {
    engine.createStore("w", Seq("k"))
    import spark.implicits._
    def write(df: org.apache.spark.sql.DataFrame) = df.write.format("graft")
      .option("root", root).option("store", "w")
    // overwrite: a full push — version 1, bucketed layout
    write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      .option("numBuckets", 2).mode("overwrite").save()
    assert(engine.currentVersion("w") == 1)
    assert(readStore("w").count() == 2)
    // append: a nearline put, overlaid by the serving view at its ts
    write(Seq((1L, "a2")).toDF("k", "v"))
      .option("tsMs", 100L).mode("append").save()
    val got = readStore("w").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a2"), (2L, "b")))
    // a second overwrite pushes version 2; the RT overlay SURVIVES the
    // swap (hybrid-store semantics — Venice re-applies the RT rewind
    // window onto a new version rather than discarding nearline writes)
    write(Seq((1L, "z1"), (9L, "z9")).toDF("k", "v"))
      .option("numBuckets", 2).mode("overwrite").save()
    assert(engine.currentVersion("w") == 2)
    val got2 = readStore("w").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got2 == Seq((1L, "a2"), (9L, "z9")))
    // writes through the engine and through df.write are the same log:
    // parity with a put issued via the API
    engine.put("w", Seq((9L, "via-api")).toDF("k", "v"), tsMs = 200L)
    assert(readStore("w").filter(col("k") === 9L).head().getString(1)
      == "via-api")
    // append to an unknown store refuses (creation is an admin op)
    val err = intercept[Exception] {
      Seq((1L, "x")).toDF("k", "v").write.format("graft")
        .option("root", root).option("store", "nope").mode("append").save()
    }
    assert(err.getMessage != null)
  }

  test("SQL INSERT INTO a catalog store lands as a nearline put") {
    spark.conf.set("spark.sql.catalog.gins", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gins.root", root)
    engine.createStore("ins", Seq("k"))
    import spark.implicits._
    engine.push("ins", Seq((1L, "a"), (2L, "b")).toDF("k", "v"), numBuckets = 2)
    spark.sql("INSERT INTO gins.ins VALUES (1, 'sql-upsert'), (3, 'sql-new')")
    val got = spark.sql("SELECT k, v FROM gins.ins ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "sql-upsert"), (2L, "b"), (3L, "sql-new")))
  }

  test("streaming ingest via foreachBatch + the DSv2 batch write") {
    engine.createStore("si", Seq("k"))
    import spark.implicits._
    engine.push("si", Seq((1L, "base")).toDF("k", "v"), numBuckets = 2)
    // the vanilla streaming-write recipe: each microbatch appended as a
    // nearline put through df.write.format("graft") — no graft API in the
    // stream body
    val src = graft.core.TmpStores.dir("graft-si-src").toString
    Seq((1L, "s1"), (4L, "s4")).toDF("k", "v")
      .write.mode("overwrite").parquet(src)
    val stream = spark.readStream
      .schema("k LONG, v STRING").parquet(src)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.format("graft").option("root", root).option("store", "si")
          .option("tsMs", 100L + id).mode("append").save()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = readStore("si").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "s1"), (4L, "s4")))
  }

  test("writeStream.format(graft): the native nearline sink, exactly-once") {
    engine.createStore("ws", Seq("k"))
    import spark.implicits._
    engine.push("ws", Seq((1L, "base", 0L)).toDF("k", "v", "ts"), numBuckets = 2)
    val src = graft.core.TmpStores.dir("graft-ws-src").toString
    val cp = graft.core.TmpStores.dir("graft-ws-cp").toString
    Seq((1L, "s1", 100L), (4L, "s4", 100L)).toDF("k", "v", "ts")
      .write.mode("append").parquet(src)
    def drain(): Unit = {
      val q = spark.readStream.schema("k LONG, v STRING, ts LONG").parquet(src)
        .writeStream.format("graft")
        .option("root", root).option("store", "ws")
        .option("tsColumn", "ts").option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    def view() = readStore("ws").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(view() == Seq((1L, "s1"), (4L, "s4")))
    // a RESTARTED query resumes from its checkpoint: only new files land
    val logSeqAfterFirst = engine.currentLogSeq("ws")
    Seq((4L, "s4b", 200L)).toDF("k", "v", "ts").write.mode("append").parquet(src)
    drain()
    assert(view() == Seq((1L, "s1"), (4L, "s4b")))
    // exactly-once: a replayed batch id is skipped, the log does not grow
    val seqBeforeReplay = engine.currentLogSeq("ws")
    assert(seqBeforeReplay > logSeqAfterFirst)
    val sink = sources.GraftStreamSink(root, "ws", Map("tscolumn" -> "ts"))
    val replay = Seq((9L, "never", 300L)).toDF("k", "v", "ts")
    sink.addBatch(0L, replay)  // fresh "adhoc" slot: applies, commits 0
    sink.addBatch(0L, replay.withColumn("v", lit("replayed")))
    assert(engine.currentLogSeq("ws") == seqBeforeReplay + 1)
    assert(readStore("ws").filter(col("k") === 9L).head().getString(1)
      == "never")
  }

  test("push(clusterBy): a 2-D box read through format(\"graft\") touches " +
      "a bounded file subset — z-order layout as a store property") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
    // same data, same file count: one store clustered on (partkey,
    // suppkey), one plain — only the layout differs
    engine.createStore("zs", Seq("l_orderkey", "l_linenumber"))
    engine.push("zs", li, numBuckets = 4,
      clusterBy = Seq("l_partkey", "l_suppkey"), clusterFiles = 32)
    engine.createStore("ps", Seq("l_orderkey", "l_linenumber"))
    engine.push("ps", li, numBuckets = 4)
    def files(store: String, pred: org.apache.spark.sql.Column): Long =
      readStore(store).filter(pred).select(input_file_name())
        .distinct().count()
    def totalFiles(store: String): Long =
      readStore(store).select(input_file_name()).distinct().count()
    val (zTotal, pTotal) = (totalFiles("zs"), totalFiles("ps"))
    assert(zTotal >= 16, s"clustered store should split files, got $zTotal")
    // sf0.001 domains are tiny (partkey 0..199, suppkey 0..9), so use a
    // low-corner box (a z-curve prefix): ~12.5% × 20% of the plane
    val box = col("l_partkey").between(0, 24) &&
      col("l_suppkey").between(0, 1)
    val zBox = files("zs", box)
    val pBox = files("ps", box)
    assert(zBox.toDouble / zTotal <= 0.34,
      s"2-D box must prune the clustered store: $zBox of $zTotal files")
    assert(pBox.toDouble == pTotal.toDouble,
      s"the unclustered store has no 2-D stats to prune with: $pBox/$pTotal")
    // point reads still bucket-prune: key equality reads ≤ the files of
    // one bucket dir (clustering never broke the bucket partitioning)
    val key = col("l_orderkey") === 1L && col("l_linenumber") === 1
    assert(files("zs", key) <= zTotal / 4 + 1)
    // layout marker persisted on the version
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$root/zs/v=1/_CLUSTER_BY")) == "l_partkey,l_suppkey")
    // identical contents either way
    assert(readStore("zs").orderBy("l_orderkey", "l_linenumber").collect()
      .toSeq == readStore("ps").orderBy("l_orderkey", "l_linenumber")
      .collect().toSeq)
    // compaction INHERITS the layout: the repushed version is clustered on
    // the same dims without the caller re-declaring them
    engine.put("zs", li.filter(col("l_orderkey") === 1L)
      .withColumn("l_quantity", lit(999.0)), tsMs = 10L)
    val v2 = engine.repush("zs")
    assert(engine.clusterByOf("zs", v2) == Seq("l_partkey", "l_suppkey"))
    assert(files("zs", box).toDouble / totalFiles("zs") <= 0.5,
      "pruning must survive the repush")
  }

  test("streaming sink: wall-clock default is replay-deterministic — the " +
      "crash-window re-append carries the identical recorded stamp") {
    import spark.implicits._
    engine.createStore("wt", Seq("k"))
    engine.push("wt", Seq((1L, "base")).toDF("k", "v"), numBuckets = 1)
    // NO tsColumn/tsMs: the sink must record its per-batch stamp durably
    // BEFORE the append and reuse it on replay
    val sink = sources.GraftStreamSink(root, "wt", Map.empty)
    val batch = Seq((1L, "b0"), (2L, "b0")).toDF("k", "v")
    sink.addBatch(0L, batch)
    def logTs() = spark.read.parquet(s"$root/wt/log")
      .select(col(GraftEngine.TsCol)).as[Long].collect().toSeq
    val first = logTs()
    assert(first.distinct.size == 1, "one stamp per microbatch")
    // simulate the crash window: append landed, commit record didn't —
    // delete the commit file and replay the same batch id
    Files.delete(java.nio.file.Paths.get(root, "wt", "_stream_commits",
      "adhoc"))
    Thread.sleep(5) // a fresh now() would differ; the recorded stamp must not
    sink.addBatch(0L, batch)
    val replayed = logTs()
    assert(replayed.size == first.size * 2, "replay re-appends once")
    assert(replayed.distinct == first.distinct,
      s"replayed stamp must equal the recorded one: $replayed vs $first")
    // value-identical replay → LWW state unchanged, still exactly-once after
    assert(engine.servingView("wt").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "b0"), (2L, "b0")))
    sink.addBatch(0L, batch.withColumn("v", lit("never"))) // committed: skip
    assert(logTs().size == replayed.size)
    // a NEW batch id gets a FRESH stamp (monotone wall clock)
    sink.addBatch(1L, Seq((3L, "b1")).toDF("k", "v"))
    assert(logTs().distinct.size == 2)
  }

  test("streaming sink: deleteColumn tombstones, LWW-atomic and A/A routed") {
    import spark.implicits._
    // LWW: one microbatch carries puts AND deletes in ONE log append
    engine.createStore("wd", Seq("k"))
    engine.push("wd", Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("k", "v", "ts"),
      numBuckets = 2)
    val seq0 = engine.currentLogSeq("wd")
    val sink = sources.GraftStreamSink(root, "wd",
      Map("tscolumn" -> "ts", "deletecolumn" -> "dead"))
    sink.addBatch(10L, Seq((1L, null.asInstanceOf[String], 100L, true),
      (3L, "c", 100L, false)).toDF("k", "v", "ts", "dead"))
    assert(engine.currentLogSeq("wd") == seq0 + 1) // atomic: ONE append
    val got = readStore("wd").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((2L, "b"), (3L, "c")))
    // A/A: puts through the CRDT op log, tombstones per-field delete-wins
    engine.createStore("wa", Seq("k"))
    engine.enableActiveActive("wa")
    engine.push("wa", Seq((1L, "a"), (2L, "b")).toDF("k", "v"), numBuckets = 2)
    val sinkAa = sources.GraftStreamSink(root, "wa",
      Map("tscolumn" -> "ts", "deletecolumn" -> "dead"))
    sinkAa.addBatch(0L, Seq((1L, "a2", 100L, false),
      (2L, null.asInstanceOf[String], 100L, true)).toDF("k", "v", "ts", "dead"))
    val gotAa = readStore("wa").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(gotAa == Seq((1L, "a2")))
    assert(gotAa == engine.servingView("wa").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq)
    // Complete output mode is refused with the remedy at analysis time
    val aggSrc = graft.core.TmpStores.dir("graft-wd-src").toString
    Seq((1L, "x")).toDF("k", "v").write.mode("overwrite").parquet(aggSrc)
    val err = intercept[Exception] {
      spark.readStream.schema("k LONG, v STRING").parquet(aggSrc)
        .groupBy("k").count()
        .writeStream.format("graft").option("root", root).option("store", "wd")
        .outputMode("complete")
        .option("checkpointLocation",
          graft.core.TmpStores.dir("graft-wd-cp").toString)
        .start()
    }
    assert(err.getMessage.contains("Complete mode"))
  }

  test("asOfTs option: time travel through the connector, A/A refused") {
    engine.createStore("tt", Seq("k"))
    import spark.implicits._
    engine.push("tt", Seq((1L, "v1"), (2L, "v1")).toDF("k", "v"), numBuckets = 2)
    engine.put("tt", Seq((1L, "v2")).toDF("k", "v"), tsMs = 1000L)
    engine.delete("tt", Seq(Tuple1(2L)).toDF("k"), tsMs = 2000L)
    def readAt(ts: Long) = spark.read.format("graft")
      .option("root", root).option("store", "tt").option("asOfTs", ts).load()
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(readAt(500L) == Seq((1L, "v1"), (2L, "v1")))
    assert(readAt(1500L) == Seq((1L, "v2"), (2L, "v1")))
    assert(readAt(2500L) == Seq((1L, "v2")))
    // parity with the engine primitive at each instant
    assert(readAt(1500L) == engine.servingViewAsOf("tt", 1500L)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
    // A/A stores refuse (the as-of pin is an LWW log prefix)
    engine.createStore("ttaa", Seq("k"))
    engine.enableActiveActive("ttaa")
    engine.push("ttaa", Seq((1L, "x")).toDF("k", "v"), numBuckets = 2)
    val err = intercept[Exception] {
      spark.read.format("graft").option("root", root).option("store", "ttaa")
        .option("asOfTs", 100L).load().collect()
    }
    assert(err.getMessage.contains("active-active"))
  }

  test("store-to-store replication: changelog stream into the sink, deletes too") {
    import spark.implicits._
    // active-passive replication with NO graft API in the pipeline body:
    // readStream(changelog) → writeStream(graft) carries puts AND
    // tombstones with their original event times, so the follower
    // converges to the leader's serving view — the cross-region
    // replication story over pure connector surfaces
    engine.createStore("lead", Seq("k"))
    engine.createStore("follow", Seq("k"))
    engine.push("lead", Seq((1L, "a"), (2L, "b")).toDF("k", "v"), numBuckets = 2)
    engine.push("follow", Seq((1L, "stale")).toDF("k", "v"), numBuckets = 2)
    engine.put("lead", Seq((1L, "a2"), (3L, "c")).toDF("k", "v"), tsMs = 100L)
    engine.delete("lead", Seq(Tuple1(2L)).toDF("k"), tsMs = 200L)
    val cp = graft.core.TmpStores.dir("graft-rep-cp").toString
    def replicate(): Unit = {
      val q = spark.readStream.format("graft")
        .option("root", root).option("store", "lead")
        .option("changelog", "true").load()
        .writeStream.format("graft")
        .option("root", root).option("store", "follow")
        .option("tsColumn", core.GraftEngine.TsCol)
        .option("deleteColumn", core.GraftEngine.DeletedCol)
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    replicate()
    def view(s: String) = readStore(s).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // follower log replays the leader's puts and tombstone over its own
    // base; keys 1,3 live with leader values, 2 tombstoned
    assert(view("follow") == Seq((1L, "a2"), (3L, "c")))
    // incremental: later leader writes flow through the SAME checkpoint
    engine.put("lead", Seq((4L, "d")).toDF("k", "v"), tsMs = 300L)
    replicate()
    assert(view("follow") == Seq((1L, "a2"), (3L, "c"), (4L, "d")))
  }

  test("SQL time travel: TIMESTAMP AS OF and VERSION AS OF via the catalog") {
    spark.conf.set("spark.sql.catalog.gtt2", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtt2.root", root)
    engine.createStore("tt2", Seq("k"))
    import spark.implicits._
    engine.push("tt2", Seq((1L, "v1"), (2L, "v1")).toDF("k", "v"), numBuckets = 2)
    engine.put("tt2", Seq((1L, "v2")).toDF("k", "v"), tsMs = 1000L)
    engine.repush("tt2") // version 2 folds the put, archives the log
    engine.delete("tt2", Seq(Tuple1(2L)).toDF("k"), tsMs = 2000L)
    def q(clause: String) = spark.sql(
      s"SELECT k, v FROM gtt2.tt2 $clause ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(q("") == Seq((1L, "v2")))
    // pre-delete instant on the current version: both keys, folded put
    assert(q("TIMESTAMP AS OF '1970-01-01 00:00:01.5'")
      == Seq((1L, "v2"), (2L, "v1")))
    // backup version under today's log: original names, live delete applies
    assert(q("VERSION AS OF 1") == Seq((1L, "v1")))
    // parity with the engine primitive
    assert(q("VERSION AS OF 1") ==
      engine.servingViewAsOf("tt2", Long.MaxValue, Some(1)).orderBy("k")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
    val err = intercept[Exception](q("VERSION AS OF 'abc'"))
    assert(err.getMessage.contains("integers"))
  }

  test("injected graft_* SQL functions ≡ the programmatic compute DSL") {
    import graft.functions.{SimHashExpr, VecDotExpr, VectorOps}
    val emb = Tables.embeddings(spark, sf).limit(50)
      .select(col("vec_id"), col("embedding"))
    emb.createOrReplaceTempView("emb_fn")
    val viaSql = spark.sql(
      """SELECT vec_id, graft_dot(embedding, embedding) AS dd,
           graft_dot_float(embedding, embedding) AS ddf,
           graft_cosine(embedding, embedding) AS cs,
           graft_count(embedding) AS n,
           graft_l2norm(embedding) AS nrm
         FROM emb_fn ORDER BY vec_id""").collect()
    val viaApi = emb
      .select(col("vec_id"),
        VecDotExpr.vecDot(col("embedding").cast("array<double>"),
          col("embedding").cast("array<double>")).as("dd"),
        VecDotExpr.vecDotFloat(col("embedding"), col("embedding")).as("ddf"),
        VectorOps.cosineCols(col("embedding"), col("embedding")).as("cs"),
        VectorOps.countElements(col("embedding")).as("n"),
        VectorOps.l2Norm(col("embedding")).as("nrm"))
      .orderBy("vec_id").collect()
    assert(viaSql.toSeq == viaApi.toSeq) // bit-exact: same expressions
    // SQ8 codes: SQL ≡ operator, and graft_dot over two code vectors is
    // the exact integer ADC score (integer-valued doubles)
    val sq1 = spark.sql(
      """SELECT vec_id, graft_sq8(embedding) AS q,
           CAST(graft_dot(graft_sq8(embedding), graft_sq8(embedding))
             AS BIGINT) AS qd
         FROM emb_fn ORDER BY vec_id""").collect()
    val sq2 = emb.select(col("vec_id"),
        graft.operators.Similarity.sq8UnitCodes(
          col("embedding").cast("array<double>")).as("q"))
      .withColumn("qd",
        VecDotExpr.vecDot(col("q"), col("q")).cast("long"))
      .orderBy("vec_id").collect()
    assert(sq1.toSeq == sq2.toSeq)
    // simhash64 over a token array, SQL vs expression API
    val docs = Tables.documents(spark, sf).limit(20)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    docs.createOrReplaceTempView("doc_fn")
    val sh1 = spark.sql(
      "SELECT doc_id, graft_simhash64(tk) AS sh FROM doc_fn ORDER BY doc_id")
      .collect()
    val sh2 = docs.select(col("doc_id"),
      SimHashExpr.simhash64(col("tk")).as("sh")).orderBy("doc_id").collect()
    assert(sh1.toSeq == sh2.toSeq)
    // wrong arity fails at analysis, not at runtime
    val err = intercept[Exception](spark.sql("SELECT graft_dot(array(1.0))"))
    assert(err.getMessage.contains("expects 2 argument"))
    // text/routing primitives: SQL ≡ expression API, bit-exact
    Tables.documents(spark, sf).limit(20).createOrReplaceTempView("doc_raw")
    val viaSql2 = spark.sql(
      """SELECT doc_id, graft_bucket(doc_id, 8) AS b,
           graft_partition(doc_id, 16) AS p,
           graft_shingles(text, 3) AS sh,
           graft_minhash(graft_shingles(text, 3), 4) AS mh
         FROM doc_raw ORDER BY doc_id""").collect()
    val viaApi2 = Tables.documents(spark, sf).limit(20)
      .select(col("doc_id"),
        graft.functions.HashOps.partitionId(col("doc_id"), 8).as("b"),
        graft.functions.VenicePartitionExpr
          .venicePartitionIdAvro(col("doc_id"), 16).as("p"),
        graft.functions.ShingleExpr.shingleSet(col("text"), 3).as("sh"),
        graft.functions.MinHashExpr.minhashSig(
          graft.functions.ShingleExpr.shingleSet(col("text"), 3), 4).as("mh"))
      .orderBy("doc_id").collect()
    assert(viaSql2.toSeq.toString == viaApi2.toSeq.toString)
    // the size arguments must be literals (they shape the plan)
    val err2 = intercept[Exception](
      spark.sql("SELECT graft_bucket(doc_id, doc_id) FROM doc_raw"))
    assert(err2.getMessage.contains("literal integer"))
  }
}
