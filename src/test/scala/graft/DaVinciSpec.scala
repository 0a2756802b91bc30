package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.core.{GraftEngine, GraftSession, Tables}

/** [[graft.core.DaVinciClient]]: in-process materialized reads — O(1) map
  * lookups off the Spark job path, partition (bucket) subscription as the
  * memory bound, coordinate-driven eventual-consistency refresh. */
class DaVinciSpec extends AnyFunSuite {
  lazy val spark = GraftSession.build(appName = "davinci-spec")
  lazy val sf = "/root/testdata/sf0.001"
  lazy val root = graft.core.TmpStores.dir("graft-davinci").toString
  lazy val engine = new GraftEngine(spark, root)

  private def kdf(ks: Seq[Long]) = spark.createDataFrame(
    ks.map(Row(_)).asJava,
    StructType(Seq(StructField("c_custkey", LongType))))

  test("subscribeAll: gets equal the serving view, misses are None") {
    engine.createStore("c", Seq("c_custkey"))
    engine.push("c", Tables.customer(spark, sf))
    val dv = engine.daVinci("c")
    assert(dv.size == 150)
    val r = dv.get(Seq(42L))
    assert(r.isDefined && r.get.getAs[Long]("c_custkey") == 42L)
    assert(r.get.getAs[String]("c_name") ==
      engine.get("c", Seq(42L)).get.getAs[String]("c_name"))
    assert(dv.get(Seq(99999L)).isEmpty)
    // batchGet: one call, hit + miss
    val bg = dv.batchGet(Seq(Seq(1L), Seq(99999L)))
    assert(bg(Seq(1L)).isDefined && bg(Seq(99999L)).isEmpty)
  }

  test("eventual consistency: stale until refresh, fresh after") {
    engine.createStore("c2", Seq("c_custkey"))
    engine.push("c2", Tables.customer(spark, sf))
    val dv = engine.daVinci("c2")
    val before = dv.get(Seq(7L)).get.getAs[String]("c_name")
    engine.put("c2", Tables.customer(spark, sf)
      .filter(col("c_custkey") === 7L)
      .withColumn("c_name", lit("UPDATED")), tsMs = 1000L)
    assert(!dv.isFresh)
    assert(dv.get(Seq(7L)).get.getAs[String]("c_name") == before) // stale read
    assert(dv.refresh())
    assert(dv.isFresh)
    assert(dv.get(Seq(7L)).get.getAs[String]("c_name") == "UPDATED")
    assert(!dv.refresh()) // coordinate unchanged -> no re-materialization
    // delete: the key disappears from the materialization on refresh
    engine.delete("c2", kdf(Seq(7L)), tsMs = 2000L)
    dv.refresh()
    assert(dv.get(Seq(7L)).isEmpty)
  }

  test("bucket subscription bounds the slice; non-local reads throw") {
    engine.createStore("c3", Seq("c_custkey"))
    engine.push("c3", Tables.customer(spark, sf), numBuckets = 8)
    val all = engine.daVinci("c3")
    val sub = engine.daVinci("c3", buckets = Some(Seq(0, 1)))
    assert(sub.size < all.size && sub.size > 0)
    // a key in bucket 0 or 1 serves; one outside throws (not a miss)
    val keys = (1L to 150L)
    val local = keys.find(k =>
      Set(0, 1)(GraftEngine.bucketHashOf(Seq(k), 8))).get
    val foreign = keys.find(k =>
      !Set(0, 1)(GraftEngine.bucketHashOf(Seq(k), 8))).get
    assert(sub.get(Seq(local)).isDefined)
    val ex = intercept[IllegalStateException] { sub.get(Seq(foreign)) }
    assert(ex.getMessage.contains("subscription"))
    // rebucket moves the coordinate; refresh re-routes against the new count
    engine.rebucket("c3", 5)
    assert(!sub.isFresh)
    sub.refresh()
    val local5 = keys.find(k =>
      Set(0, 1)(GraftEngine.bucketHashOf(Seq(k), 5))).get
    assert(sub.get(Seq(local5)).isDefined)
  }

  test("maxRows guard refuses an oversized unrestricted subscription") {
    engine.createStore("c4", Seq("c_custkey"))
    engine.push("c4", Tables.customer(spark, sf))
    val ex = intercept[IllegalArgumentException] {
      engine.daVinci("c4", maxRows = 10)
    }
    assert(ex.getMessage.contains("maxRows"))
    assert(engine.daVinci("c4", buckets = Some(Seq(0)), maxRows = 40).size > 0)
  }

  test("A/A store: client serves the CRDT-resolved view") {
    engine.createStore("n", Seq("n_nationkey"))
    engine.push("n", Tables.nation(spark, sf)
      .select(col("n_nationkey"), col("n_name")))
    engine.enableActiveActive("n")
    engine.deleteAA("n", spark.createDataFrame(List(Row(3L)).asJava,
      StructType(Seq(StructField("n_nationkey", LongType)))), tsMs = 2000L)
    engine.putAA("n", spark.createDataFrame(
      List(Row(4L, "AA_WIN")).asJava,
      StructType(Seq(StructField("n_nationkey", LongType),
        StructField("n_name", StringType)))), tsMs = 3000L)
    val dv = engine.daVinci("n")
    assert(dv.get(Seq(3L)).isEmpty) // tombstoned
    assert(dv.get(Seq(4L)).get.getAs[String]("n_name") == "AA_WIN")
    assert(dv.get(Seq(5L)).get.getAs[String]("n_name") ==
      engine.get("n", Seq(5L)).get.getAs[String]("n_name"))
  }

  test("dynamic subscription: subscribe adds buckets, unsubscribe is local") {
    engine.createStore("c6", Seq("c_custkey"))
    engine.push("c6", Tables.customer(spark, sf), numBuckets = 8)
    val dv = engine.daVinci("c6", buckets = Some(Seq(0)))
    assert(dv.partitionCount == 8)
    val n0 = dv.size
    dv.subscribe(Seq(1, 2))
    assert(dv.size > n0)
    val keys = (1L to 150L)
    val inB2 = keys.find(k => GraftEngine.bucketHashOf(Seq(k), 8) == 2).get
    assert(dv.get(Seq(inB2)).isDefined)
    // unsubscribe drops bucket-2 state locally — zero Spark jobs
    val jobs0 = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    dv.unsubscribe(Seq(2))
    val jobs1 = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobs1 == jobs0, "unsubscribe must not run Spark jobs")
    assert(intercept[IllegalStateException] {
      dv.get(Seq(inB2))
    }.getMessage.contains("subscription"))
    dv.unsubscribeAll()
    assert(dv.size == 0)
  }

  test("local compute ≡ Spark compute (dot/cosine/hadamard/count)") {
    import graft.functions.VectorOps
    engine.createStore("e", Seq("vec_id"))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // plant a null vector and keep a real slice
    val rows = emb.limit(20)
      .withColumn("embedding",
        when(col("vec_id") % 7 === 0,
          lit(null).cast(emb.schema("embedding").dataType))
          .otherwise(col("embedding")))
    engine.push("e", rows)
    val dim = emb.filter(col("embedding").isNotNull)
      .select(size(col("embedding"))).head().getInt(0)
    val q = (1 to dim).map(i => (i % 5 - 2).toDouble)
    val dv = engine.daVinci("e")
    val sparkSide = engine.servingView("e").select(col("vec_id"),
        VectorOps.dotProduct(col("embedding"), q).as("dot"),
        VectorOps.cosineSimilarity(col("embedding"), q).as("cos"),
        VectorOps.hadamardProduct(col("embedding"), q).as("had"),
        VectorOps.countElements(col("embedding")).as("cnt"))
      .collect()
    assert(sparkSide.nonEmpty)
    var checkedNull = false
    sparkSide.foreach { r =>
      val k = Seq(r.getLong(0))
      val dot = dv.dotProduct(k, "embedding", q)
      val cos = dv.cosineSimilarity(k, "embedding", q)
      val had = dv.hadamardProduct(k, "embedding", q)
      val cnt = dv.countElements(k, "embedding")
      if (r.isNullAt(1)) { assert(dot.isEmpty && cos.isEmpty); checkedNull = true }
      else {
        assert(math.abs(dot.get - r.getDouble(1)) < 1e-9, s"dot $k")
        assert(math.abs(cos.get - r.getDouble(2)) < 1e-9, s"cos $k")
      }
      if (r.isNullAt(3)) assert(had.isEmpty)
      else {
        val want = r.getSeq[Double](3)
        assert(had.get.lazyZip(want).forall((a, b) => math.abs(a - b) < 1e-9))
      }
      assert(cnt.get == r.getInt(4).toLong, s"cnt $k")
    }
    assert(checkedNull, "the planted null-vector row must be exercised")
    // mismatch contract: short query vector → dot/cos 0.0, hadamard None
    val liveKey = sparkSide.find(!_.isNullAt(1)).get.getLong(0)
    assert(dv.dotProduct(Seq(liveKey), "embedding", Seq(1.0)).contains(0.0))
    assert(dv.hadamardProduct(Seq(liveKey), "embedding", Seq(1.0)).isEmpty)
  }

  test("seekable as-of client pins a past instant; transformer reshapes rows") {
    engine.createStore("c7", Seq("c_custkey"))
    engine.push("c7", Tables.customer(spark, sf))
    engine.put("c7", Tables.customer(spark, sf)
      .filter(col("c_custkey") === 5L)
      .withColumn("c_name", lit("AT_1000")), tsMs = 1000L)
    engine.put("c7", Tables.customer(spark, sf)
      .filter(col("c_custkey") === 5L)
      .withColumn("c_name", lit("AT_2000")), tsMs = 2000L)
    val pinned = engine.daVinciAsOf("c7", tsMs = 1500L)
    assert(pinned.get(Seq(5L)).get.getAs[String]("c_name") == "AT_1000")
    // pinned clients never go stale — the past is immutable
    engine.put("c7", Tables.customer(spark, sf)
      .filter(col("c_custkey") === 5L)
      .withColumn("c_name", lit("AT_3000")), tsMs = 3000L)
    assert(pinned.isFresh && !pinned.refresh())
    assert(pinned.get(Seq(5L)).get.getAs[String]("c_name") == "AT_1000")
    assert(engine.daVinci("c7").get(Seq(5L))
      .get.getAs[String]("c_name") == "AT_3000")
    // record-transformer hook: project + derive during materialization
    val dv = engine.daVinci("c7", transform = df =>
      df.select(col("c_custkey"), upper(col("c_mktsegment")).as("seg")))
    val r = dv.get(Seq(5L)).get
    assert(r.schema.fieldNames.toSeq == Seq("c_custkey", "seg"))
    assert(r.getAs[String]("seg") == r.getAs[String]("seg").toUpperCase)
    // a transform that drops the key is refused
    val ex = intercept[IllegalArgumentException] {
      engine.daVinci("c7", transform = _.select(col("c_name")))
    }
    assert(ex.getMessage.contains("key column"))
    // as-of on an A/A store is refused
    engine.createStore("c8", Seq("c_custkey"))
    engine.push("c8", Tables.customer(spark, sf))
    engine.enableActiveActive("c8")
    assert(intercept[IllegalArgumentException] {
      engine.daVinciAsOf("c8", 1L)
    }.getMessage.contains("active-active"))
  }

  test("distributed client: cluster-memory residency serves past the " +
      "embedded budget; gets ≡ embedded; refresh tracks the coordinate") {
    engine.createStore("dd", Seq("c_custkey"))
    engine.push("dd", Tables.customer(spark, sf))
    // the embedded client refuses this store at a tiny budget, pointing at
    // the distributed path — the documented 100× boundary
    val ex = intercept[IllegalArgumentException] {
      engine.daVinci("dd", maxRows = 10)
    }
    assert(ex.getMessage.contains("daVinciDistributed"))
    val dist = engine.daVinciDistributed("dd")
    val local = engine.daVinci("dd") // default budget fits sf0.001 fine
    assert(dist.size == 150)
    // point reads and misses agree with the embedded client
    for (k <- Seq(1L, 42L, 150L, 99999L)) {
      val d = dist.get(Seq(k)); val l = local.get(Seq(k))
      assert(d.map(_.getAs[String]("c_name")) ==
        l.map(_.getAs[String]("c_name")), s"key $k diverged")
    }
    // batch get: one job, all keys answered, absent key → None
    val got = dist.batchGet(Seq(Seq(7L), Seq(123456L)))
    assert(got(Seq(7L)).isDefined && got(Seq(123456L)).isEmpty)
    // eventual consistency: stale until refresh, fresh after — same
    // contract as the embedded client
    import spark.implicits._
    engine.put("dd", Seq((7L, "DIST-NEW")).toDF("c_custkey", "c_name"),
      tsMs = 100L)
    assert(!dist.isFresh)
    assert(dist.get(Seq(7L)).get.getAs[String]("c_name") != "DIST-NEW")
    assert(dist.refresh())
    assert(dist.get(Seq(7L)).get.getAs[String]("c_name") == "DIST-NEW")
    assert(!dist.refresh(), "no coordinate movement → no re-materialization")
    dist.close()
  }

  test("distributed client is a drop-in past the memory budget: the SAME " +
      "compute (dot/cos/hadamard/count) and partialKeyGet through both " +
      "clients, identical results, probe plan cache-only") {
    engine.createStore("ddc", Seq("vec_id"))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val rows = emb.limit(24)
      .withColumn("embedding",
        when(col("vec_id") % 5 === 0,
          lit(null).cast(emb.schema("embedding").dataType))
          .otherwise(col("embedding")))
    engine.push("ddc", rows)
    val dim = emb.filter(col("embedding").isNotNull)
      .select(size(col("embedding"))).head().getInt(0)
    val q = (1 to dim).map(i => (i % 7 - 3).toDouble)
    val local = engine.daVinci("ddc")
    val dist = engine.daVinciDistributed("ddc")
    try {
      val ids = rows.select("vec_id").collect().map(_.getLong(0))
      ids.foreach { id =>
        val k = Seq(id)
        assert(dist.dotProduct(k, "embedding", q) ==
          local.dotProduct(k, "embedding", q), s"dot $id")
        assert(dist.cosineSimilarity(k, "embedding", q) ==
          local.cosineSimilarity(k, "embedding", q), s"cos $id")
        assert(dist.hadamardProduct(k, "embedding", q) ==
          local.hadamardProduct(k, "embedding", q), s"had $id")
        assert(dist.countElements(k, "embedding") ==
          local.countElements(k, "embedding"), s"cnt $id")
      }
      assert(dist.dotProduct(Seq(99999999L), "embedding", q).isEmpty,
        "absent key → None through the distributed path too")
    } finally dist.close()

    // partialKeyGet over the cached state ≡ the engine's scan-side answer,
    // and the probe plan never re-touches parquet
    engine.createStore("ddp", Seq("grp", "vec_id"))
    import spark.implicits._
    engine.push("ddp", spark.range(40).select(
      (col("id") % 4).as("grp"), col("id").as("vec_id"),
      (col("id") * 3L).as("v")))
    val dist2 = engine.daVinciDistributed("ddp")
    try {
      val got = dist2.partialKeyGet(Map("grp" -> 2L))
        .select("grp", "vec_id", "v").orderBy("vec_id")
        .collect().map(_.toSeq).toSeq
      val want = engine.partialKeyGet("ddp", Map("grp" -> 2L))
        .select("grp", "vec_id", "v").orderBy("vec_id")
        .collect().map(_.toSeq).toSeq
      assert(got == want && got.size == 10,
        "distributed partialKeyGet must equal the engine's")
      // everything under InMemoryRelation is the already-materialized
      // build plan (printed for provenance, not executed per probe)
      val p = dist2.partialKeyGet(Map("grp" -> 2L))
        .queryExecution.executedPlan.toString.split("InMemoryRelation")(0)
      assert(p.contains("InMemoryTableScan"),
        s"partial-key probe must read the cached frame:\n${p.take(600)}")
      assert(!p.contains("FileSourceScan") && !p.contains("Scan parquet"),
        s"partial-key probe must be cache-only:\n${p.take(600)}")
      intercept[IllegalArgumentException] {
        dist2.partialKeyGet(Map("vec_id" -> 1L)) // not the leading prefix
      }
    } finally dist2.close()

    // NULL prefix component: the engine matches null leading components
    // (null-safe <=>), so the drop-in distributed client must too — a
    // bare === would vacuously return zero rows here
    engine.createStore("ddn", Seq("grp", "vec_id"))
    engine.push("ddn", spark.range(12).select(
      when(col("id") % 3 === 0, lit(null).cast("long"))
        .otherwise(col("id") % 3).as("grp"),
      col("id").as("vec_id"), (col("id") * 7L).as("v")))
    val dist3 = engine.daVinciDistributed("ddn")
    try {
      val got = dist3.partialKeyGet(Map("grp" -> null))
        .select("grp", "vec_id", "v").orderBy("vec_id")
        .collect().map(_.toSeq).toSeq
      val want = engine.partialKeyGet("ddn", Map("grp" -> null))
        .select("grp", "vec_id", "v").orderBy("vec_id")
        .collect().map(_.toSeq).toSeq
      assert(got.size == 4,
        s"null prefix must match the 4 null-grp rows, got ${got.size}")
      assert(got == want,
        "distributed partialKeyGet must equal the engine's on a null prefix")
    } finally dist3.close()
  }

  test("read path is job-free and fast: 200k gets off one materialization") {
    engine.createStore("c5", Seq("c_custkey"))
    engine.push("c5", Tables.customer(spark, sf))
    val dv = engine.daVinci("c5")
    val keys = Tables.customer(spark, sf)
      .select("c_custkey").collect().map(_.getLong(0))
    val t0 = System.nanoTime()
    var hits = 0
    var i = 0
    while (i < 200000) {
      if (dv.get(Seq(keys(i % keys.length))).isDefined) hits += 1
      i += 1
    }
    val sec = (System.nanoTime() - t0) / 1e9
    assert(hits == 200000)
    // generous floor: even a contended CI host does millions/sec from a
    // HashMap; failing this means a Spark job crept onto the read path
    assert(sec < 10.0, f"200k gets took $sec%.1f s - read path regressed")
    info(f"200k in-process gets in $sec%.3f s (${200000 / sec}%.0f ops/sec)")
  }
}
