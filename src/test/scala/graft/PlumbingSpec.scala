package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{GraftSession, Tables}
import graft.operators.{Integrity, JobMetrics, TokenBucket, WireFormat}
import graft.sources.InputSource

class PlumbingSpec extends AnyFunSuite {
  lazy val spark = GraftSession.build(appName = "plumbing-spec")
  val sf = "/root/testdata/sf0.001"

  test("B6 wire round-trip preserves rows") {
    val cust = Tables.customer(spark, sf)
    val wire = WireFormat.toWire(cust, Seq("c_custkey"), lit(42L))
    assert(wire.columns.toSeq == Seq("key", "value", "ts_ms"))
    val keySchema = StructType(Seq(StructField("c_custkey", LongType)))
    val valueSchema = StructType(cust.schema.fields.filter(_.name != "c_custkey"))
    val back = WireFormat.fromWire(wire, keySchema, valueSchema)
    assert(back.count() == cust.count())
    assert(back.select("c_custkey", "c_name").exceptAll(
      cust.select("c_custkey", "c_name")).count() == 0)
  }

  test("W9 chunk + assemble is byte-exact") {
    val docs = Tables.documents(spark, sf).limit(50)
      .select(col("doc_id").cast("string").as("k"),
        col("text").cast("binary").as("payload"))
    val chunks = WireFormat.chunk(docs, col("k"), col("payload"), maxBytes = 64)
    assert(chunks.filter(octet_length(col("chunk")) > 64).count() == 0)
    val back = WireFormat.assemble(chunks)
    val joined = back.join(docs, col("key") === col("k"))
      .filter(col("value") =!= col("payload"))
    assert(joined.count() == 0)
  }

  test("B12 ETL normalization coalesces union columns") {
    import spark.implicits._
    val df = Seq((1L, Some("live"), None: Option[String]),
      (2L, None: Option[String], Some("fallback")))
      .toDF("id", "v", "v_deleted")
    val out = WireFormat.normalizeEtl(df, Seq(("v", "v_deleted")))
    assert(out.columns.toSeq == Seq("id", "v"))
    assert(out.orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("live", "fallback"))
  }

  test("W10 compression strategies map to parquet codecs") {
    assert(WireFormat.codecFor("NO_OP") == "uncompressed")
    assert(WireFormat.codecFor("ZSTD_WITH_DICT") == "zstd")
    intercept[IllegalArgumentException](WireFormat.codecFor("LZO"))
  }

  test("S7 token bucket refills and bounds") {
    var now = 0L
    val tb = new TokenBucket(capacity = 10, refillPerSec = 5, clockMs = () => now)
    assert((1 to 10).forall(_ => tb.tryConsume()))
    assert(!tb.tryConsume())
    now = 1000L // +5 tokens
    assert((1 to 5).forall(_ => tb.tryConsume()))
    assert(!tb.tryConsume())
    now = 100000L
    assert(tb.available == 10) // capped at capacity
  }

  test("S7 batch token-bucket replay: refill, denial, key isolation") {
    import spark.implicits._
    // cap 2 tokens, 1 token / 1000 ms, cost 1. Scaled unit = 1/1000 token.
    // user 1: t=0 ok (1000 left), t=100 ok (0+100=100 left? no: refill 100
    //   → 1100, allow → 100), t=150 deny (150), t=1100 ok (1100 → 100)
    // user 2 independent: t=0 ok.
    val ev = Seq((1L, 0L, 10L), (1L, 100L, 11L), (1L, 150L, 12L),
      (1L, 1100L, 13L), (2L, 0L, 20L)).toDF("u", "ts", "id")
    val out = TokenBucket.simulate(ev, col("u"), col("ts"), col("id"),
        capacityTokens = 2, refillIntervalMs = 1000L)
      .orderBy("id").as[(Long, Long, Boolean, Long)].collect()
    assert(out.toSeq == Seq(
      (10L, 1L, true, 1000L), (11L, 1L, true, 100L), (12L, 1L, false, 150L),
      (13L, 1L, true, 100L), (20L, 2L, true, 1000L)))
  }

  test("S7 batch token-bucket matches the serving-side bucket op-for-op") {
    import spark.implicits._
    // same op sequence through the online TokenBucket class and the batch
    // replay — admission decisions must agree
    val times = Seq(0L, 40L, 90L, 500L, 501L, 2000L, 2100L, 2200L, 9000L)
    var now = 0L
    val tb = new TokenBucket(capacity = 3, refillPerSec = 1, clockMs = () => now)
    val online = times.map { t => now = t; tb.tryConsume() }
    val batch = TokenBucket.simulate(
        times.zipWithIndex.map { case (t, i) => (7L, t, i.toLong) }
          .toDF("u", "ts", "id"),
        col("u"), col("ts"), col("id"),
        capacityTokens = 3, refillIntervalMs = 1000L)
      .orderBy("id").as[(Long, Long, Boolean, Long)].collect()
      .map(_._3).toSeq
    assert(batch == online)
  }

  test("B1 input source reads csv/json with key-value extraction") {
    val dir = graft.core.TmpStores.dir("graft-src").toString
    val cust = Tables.customer(spark, sf)
    cust.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    cust.write.mode("overwrite").json(s"$dir/json")
    val fromCsv = InputSource.read(spark, "csv", s"$dir/csv",
      Map("header" -> "true", "inferSchema" -> "true"))
    val fromJson = InputSource.read(spark, "json", s"$dir/json")
    assert(fromCsv.count() == cust.count())
    assert(fromJson.count() == cust.count())
    val kv = InputSource.toKeyValue(fromJson, Seq("c_custkey"))
    assert(kv.columns.toSeq == Seq("key", "value"))
    intercept[IllegalArgumentException](
      InputSource.read(spark, "avro", s"$dir/json"))
  }

  test("B1 avro: general multi-branch unions round-trip as tagged " +
      "structs-of-optionals (record branch, enum, null branch)") {
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import graft.sources.AvroInput
    val root = graft.core.TmpStores.dir("graft-union").toString
    // union [null, int, string, Inner{a: long}] + an enum field — the
    // schema shapes the derived writer cannot produce, written by hand
    val inner = Schema.createRecord("Inner", null, "t", false,
      java.util.List.of(
        new Schema.Field("a", Schema.create(Schema.Type.LONG))))
    val u = Schema.createUnion(java.util.List.of(
      Schema.create(Schema.Type.NULL), Schema.create(Schema.Type.INT),
      Schema.create(Schema.Type.STRING), inner))
    val color = Schema.createEnum("Color", null, "t",
      java.util.List.of("RED", "BLUE"))
    val rec = Schema.createRecord("Outer", null, "t", false,
      java.util.List.of(
        new Schema.Field("id", Schema.create(Schema.Type.LONG)),
        new Schema.Field("u", u, null, Schema.Field.NULL_DEFAULT_VALUE),
        new Schema.Field("c", color)))
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](rec))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/in"))
    w.create(rec, new java.io.File(s"$root/in/part-0.avro"))
    def r(id: Long, uv: AnyRef, c: String): GenericRecord = {
      val g = new GenericData.Record(rec)
      g.put("id", id); g.put("u", uv)
      g.put("c", new GenericData.EnumSymbol(color, c)); g
    }
    val innerRec = new GenericData.Record(inner); innerRec.put("a", 77L)
    w.append(r(1L, Integer.valueOf(5), "RED"))
    w.append(r(2L, "hello", "BLUE"))
    w.append(r(3L, innerRec, "RED"))
    w.append(r(4L, null, "BLUE"))
    w.close()
    val df = AvroInput.read(spark, s"$root/in")
    // mapped shape: struct<tag, m_int, m_string, m_Inner>
    assert(df.select("u").schema.fields(0).dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("tag", "m_int", "m_string", "m_Inner"))
    val byId = df.collect().map(x => x.getAs[Long]("id") -> x).toMap
    assert(byId(1L).getStruct(1).getString(0) == "int")
    assert(byId(1L).getStruct(1).getInt(1) == 5)
    assert(byId(2L).getStruct(1).getString(0) == "string")
    assert(byId(2L).getStruct(1).getString(2) == "hello")
    assert(byId(3L).getStruct(1).getString(0) == "Inner")
    assert(byId(3L).getStruct(1).getStruct(3).getLong(0) == 77L)
    assert(byId(4L).isNullAt(1), "null branch = null struct")
    assert(byId(1L).getString(2) == "RED") // enum → string
    // LOSSLESS: write back under the ORIGINAL schema, read again, identical
    AvroInput.write(df, s"$root/out", rec)
    val again = AvroInput.read(spark, s"$root/out")
    assert(again.collect().sortBy(_.getAs[Long]("id")).toSeq ==
      df.collect().sortBy(_.getAs[Long]("id")).toSeq)
  }

  test("B1 avro: container files written by the engine read back identically") {
    import graft.sources.AvroInput
    val root = graft.core.TmpStores.dir("graft-avro").toString
    // scalar columns (customer)
    val cust = Tables.customer(spark, sf)
    AvroInput.write(cust, s"$root/cust")
    val custBack = InputSource.read(spark, "avro", s"$root/cust")
    assert(custBack.schema.fieldNames.toSeq == cust.schema.fieldNames.toSeq)
    val key = (r: org.apache.spark.sql.Row) => r.getAs[Long]("c_custkey")
    assert(custBack.collect().sortBy(key).toSeq ==
      cust.collect().sortBy(key).toSeq)
    // array column (embeddings: array<float>)
    val emb = Tables.embeddings(spark, sf).limit(0).unionByName(
      Tables.embeddings(spark, sf).filter(col("vec_id") < 50))
    AvroInput.write(emb, s"$root/emb")
    val embBack = InputSource.read(spark, "avro", s"$root/emb")
    val gotVec = embBack.filter(col("vec_id") === 7L)
      .head.getAs[scala.collection.Seq[Float]]("embedding")
    val wantVec = emb.filter(col("vec_id") === 7L)
      .head.getAs[scala.collection.Seq[Float]]("embedding")
    assert(gotVec == wantVec)
    assert(embBack.count() == emb.count())
    // key/value extraction composes (the push-job input stage)
    val kv = InputSource.toKeyValue(custBack, Seq("c_custkey"))
    assert(kv.columns.toSeq == Seq("key", "value"))
    assert(kv.count() == cust.count())
  }

  test("B10 job metrics accumulate across stages") {
    val jm = new JobMetrics(spark)
    val recordsIn = jm.counter("records_in")
    Tables.lineitem(spark, sf).foreachPartition {
      it: Iterator[org.apache.spark.sql.Row] => it.foreach(_ => recordsIn.add(1))
    }
    assert(jm.snapshot("records_in") == 6000L)
  }

  test("W11 DIV flags planted gaps and duplicates") {
    import spark.implicits._
    val log = Seq((1L, 1L), (1L, 2L), (1L, 2L), (1L, 5L), (2L, 10L), (2L, 11L))
      .toDF("producer", "seq")
    val issues = Integrity.sequenceAudit(log, col("producer"), col("seq"))
      .orderBy("producer", "seq").collect()
    assert(issues.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq((1L, 2L, "DUPLICATE"), (1L, 5L, "MISSING_BEFORE")))
    val st = Integrity.producerState(log, col("producer"), col("seq"))
      .orderBy("producer").collect()
    assert(st(0).getAs[Long]("missing") == 2L) // 3,4 missing (dup fills one)
  }

  test("as-of join: latest at-or-before match, nulls before first, per key") {
    import spark.implicits._
    import graft.operators.Joins
    val left = Seq((1L, 5L, "a"), (1L, 10L, "b"), (1L, 20L, "c"),
      (2L, 10L, "d"), (3L, 10L, "e"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, 10L, 100), (1L, 15L, 150), (2L, 99L, 999))
      .toDF("k", "ts", "v")
    val got = Joins.asOfBackward(left, right, Seq("k"), "ts", "ts", Seq("v"))
      .select("k", "ts", "tag", "asof_v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Int]))).toSet
    assert(got == Set(
      (1L, 5L, "a", None),          // before any right row
      (1L, 10L, "b", Some(100)),    // EQUAL ts counts as at-or-before
      (1L, 20L, "c", Some(150)),    // latest of the two earlier rows
      (2L, 10L, "d", None),         // right row exists but is later
      (3L, 10L, "e", None)))        // key absent on the right
    // plan shape: one shuffle (the keyed window), NO join node at all
    val physical = Joins.asOfBackward(left, right, Seq("k"), "ts", "ts",
      Seq("v")).queryExecution.executedPlan.toString
    assert(!physical.contains("NestedLoop") && !physical.contains("CartesianProduct"),
      s"as-of must not plan a range join:\n$physical")
    // forward variant: EARLIEST at-or-after
    val fwd = Joins.asOfForward(left, right, Seq("k"), "ts", "ts", Seq("v"))
      .select("k", "ts", "tag", "asof_v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Int]))).toSet
    assert(fwd == Set(
      (1L, 5L, "a", Some(100)),     // next right row at 10
      (1L, 10L, "b", Some(100)),    // equal ts counts as at-or-after
      (1L, 20L, "c", None),         // nothing later
      (2L, 10L, "d", Some(999)),
      (3L, 10L, "e", None)), s"got $fwd")
  }

  test("range join: containment, multi-match, cross-bin, inverted dropped") {
    import spark.implicits._
    import graft.operators.Joins
    val left = Seq((1L, 5L, "a"), (1L, 10L, "b"), (1L, 25L, "c"),
      (2L, 10L, "d"))
      .toDF("k", "ts", "tag")
    val right = Seq(
      (1L, 0L, 10L, "r1"),    // contains a (5) and b (10 — INCLUSIVE end)
      (1L, 8L, 30L, "r2"),    // overlaps r1: b multi-matches; c crosses bins
      (1L, 50L, 40L, "bad"),  // inverted: must be dropped, not match-all
      (2L, 11L, 20L, "r3"))   // starts after d
      .toDF("k", "s", "e", "name")
    val got = Joins.rangeJoin(left, right, Seq("k"), "ts", "s", "e",
      binSize = 10L, payload = Seq("name"))
      .select("k", "ts", "tag", "range_name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3))).toSet
    assert(got == Set(
      (1L, 5L, "a", "r1"),
      (1L, 10L, "b", "r1"), (1L, 10L, "b", "r2"),  // multi-match kept
      (1L, 25L, "c", "r2")))                        // interval spans 3 bins
    // the bin equi-join must never degrade to a nested loop
    val physical = Joins.rangeJoin(left, right, Seq("k"), "ts", "s", "e",
      10L, Seq("name")).queryExecution.executedPlan.toString
    assert(!physical.contains("NestedLoop") &&
      !physical.contains("CartesianProduct"),
      s"range join must stay an equi-join:\n$physical")
  }

  test("as-of ≡ brute force and rangeJoin ≡ brute force on 2k random rows") {
    import spark.implicits._
    import graft.operators.Joins
    val rnd = new scala.util.Random(4242)
    val left = (0 until 2000).map(i =>
      (rnd.nextInt(40).toLong, i.toLong, rnd.nextInt(1000).toLong))
    val right = (0 until 800).map(i =>
      (rnd.nextInt(40).toLong, rnd.nextInt(1000).toLong, i.toLong))
      // unique per (k, ts): keep max payload id
      .groupBy(t => (t._1, t._2)).map(_._2.maxBy(_._3)).toSeq
    val lDf = left.toDF("k", "lid", "ts")
    val rDf = right.toDF("k", "ts", "rid")
    // brute-force oracle in plain Scala
    val byKey = right.groupBy(_._1)
    val expectBack = left.map { case (k, lid, lts) =>
      lid -> byKey.getOrElse(k, Seq.empty).filter(_._2 <= lts)
        .sortBy(t => (t._2, t._3)).lastOption.map(_._3)
    }.toMap
    val gotBack = Joins.asOfBackward(lDf, rDf, Seq("k"), "ts", "ts", Seq("rid"))
      .collect().map(r => r.getLong(1) ->
        Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    assert(gotBack == expectBack)
    // range join vs brute force: intervals [ts, ts+37]
    val iDf = rDf.select(col("k"), col("ts").as("s"),
      (col("ts") + 37L).as("e"), col("rid"))
    val expectRange = (for {
      (k, lid, lts) <- left
      (rk, rts, rid) <- right if rk == k && lts >= rts && lts <= rts + 37
    } yield (lid, rid)).toSet
    val gotRange = Joins.rangeJoin(lDf, iDf, Seq("k"), "ts", "s", "e",
      binSize = 50L, payload = Seq("rid"))
      .collect().map(r => (r.getLong(1), r.getLong(3))).toSet
    assert(gotRange == expectRange)
  }

  test("percentiles ≡ sorted-index rule on random multisets") {
    import spark.implicits._
    import graft.operators.Percentiles
    val rnd = new scala.util.Random(99)
    val rows = (0 until 3000).map(i =>
      (s"g${rnd.nextInt(7)}", rnd.nextInt(50).toLong))
    val got = Percentiles.disc(rows.toDF("g", "v"), Seq("g"), col("v"),
      Seq(25, 50, 75, 90, 99))
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    val expect = rows.groupBy(_._1).map { case (g, grp) =>
      val sorted = grp.map(_._2).sorted
      def q(p: Int): Long = {
        // smallest value with cum >= ceil(p*n/100) = 1-indexed rank
        val rank = (p * sorted.size + 99) / 100
        sorted(rank - 1)
      }
      g -> ((q(25), q(50), q(75), q(90), q(99)))
    }
    assert(got == expect)
  }

  test("percentiles: disc rule matches smallest-value-with-cum>=ceil(pn/100)") {
    import spark.implicits._
    import graft.operators.Percentiles
    // key A: values 1..10 (p75 must be 8 — the float-fragile boundary);
    // key B: constant; key C: single row
    val rows = (1 to 10).map(v => ("A", v)) ++
      Seq.fill(4)(("B", 7)) :+ (("C", 42))
    val got = Percentiles.disc(rows.toDF("k", "v"), Seq("k"), col("v"),
      Seq(50, 75, 99))
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == Seq(
      ("A", 10L, 5L, 8L, 10L),   // ceil rules: p50→5th=5, p75→8th=8, p99→10th
      ("B", 4L, 7L, 7L, 7L),
      ("C", 1L, 42L, 42L, 42L)))
  }

  test("tfidf top terms: integer surrogate score and tie-break golden") {
    import spark.implicits._
    // 4 docs, N=4. df: a=4, b=2, c=1, d=1
    // doc 1 "a a b c": scores a:2*(4//4)=2, b:1*(4//2)=2, c:1*4=4
    //   → rank1 c(4); a and b tie at 2 → token-asc puts a before b
    val docs = Seq(
      (1L, "a a b c"), (2L, "a b"), (3L, "a d"), (4L, "a")).toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"),
      explode(graft.functions.TextOps.tokens(col("text"))).as("token"))
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = toks.distinct().groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("token"))
    val top = tf.join(dfreq, "token")
      .withColumn("score", col("tf") * expr("4L div df"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select("doc_id", "rank", "token", "score")
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getString(2), r.getLong(3)))).toMap
    assert(top((1L, 1)) == (("c", 4L)))
    assert(top((1L, 2)) == (("a", 2L)), "tie at 2 broken token-ascending")
    assert(top((1L, 3)) == (("b", 2L)))
    assert(top((3L, 1)) == (("d", 4L)), "rare token outranks common")
  }

  test("rolling 1h range-window features ≡ brute force on 2k random events") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813L)
    // clustered timestamps so trailing-hour frames genuinely overlap, and
    // duplicated ts values so the RANGE (not ROWS) semantics are exercised
    val rows = (0 until 2000).map { i =>
      val ts = rnd.nextInt(40) * 600000L + (if (rnd.nextBoolean()) 0L
        else rnd.nextInt(10) * 60000L)
      (rnd.nextInt(20).toLong, i.toLong, ts, rnd.nextInt(1000).toLong)
    }
    val df = rows.toDF("user_id", "event_id", "ts_ms", "cents")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_ms"))
      .rangeBetween(-3600000L, org.apache.spark.sql.expressions.Window.currentRow)
    val got = df.withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("cents_1h", sum(col("cents")).over(w))
      .collect().map(r => r.getLong(1) -> ((r.getLong(4), r.getLong(5)))).toMap
    rows.foreach { case (u, id, ts, _) =>
      val in = rows.filter(r => r._1 == u && r._3 >= ts - 3600000L && r._3 <= ts)
      assert(got(id) == ((in.size.toLong, in.map(_._4).sum)),
        s"event $id user $u ts $ts")
    }
  }

  test("funnel: strict step order and attribution window both enforced") {
    import spark.implicits._
    val W = 100L
    val ev = Seq(
      // u1: textbook convert inside windows → stage 3
      (1L, "view", 0L), (1L, "click", 10L), (1L, "purchase", 20L),
      // u2: click BEFORE first view never counts; later click converts
      (2L, "click", 0L), (2L, "view", 10L), (2L, "click", 50L),
      (2L, "purchase", 60L),
      // u3: click outside the view+W window → stuck at stage 1
      (3L, "view", 0L), (3L, "click", 200L),
      // u4: purchase before click (same-ts tie is NOT strictly after) → 2
      (4L, "view", 0L), (4L, "click", 10L), (4L, "purchase", 10L),
      // u5: no view at all, other steps present → stage 0
      (5L, "click", 0L), (5L, "purchase", 10L),
      // u6: second view would start a valid chain, but the funnel anchors
      // on the FIRST view: click at 150 is outside view@0 + W → stage 1
      (6L, "view", 0L), (6L, "view", 120L), (6L, "click", 150L)
    ).toDF("user_id", "event_type", "ts_ms")
    val got = graft.operators.Funnel
      .stages(ev, "user_id", "event_type", "ts_ms",
        Seq("view", "click", "purchase"), windowMs = W)
      .select("user_id", "stage").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 1L, 4L -> 2L, 5L -> 0L,
      6L -> 1L), s"stages: $got")
    // converter latency is last-step ts − first-step ts
    val conv = graft.operators.Funnel
      .stages(ev, "user_id", "event_type", "ts_ms",
        Seq("view", "click", "purchase"), windowMs = W)
      .filter(col("stage") === 3L)
      .select("user_id", "conv_ms").as[(Long, Long)].collect().toMap
    assert(conv == Map(1L -> 20L, 2L -> 50L), s"conv: $conv")
  }
}
