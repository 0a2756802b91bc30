package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{GraftSession, SchemaEvolution, Tables}
import graft.operators.Salting

class SchemaSpec extends AnyFunSuite {
  lazy val spark = GraftSession.build(appName = "schema-spec")
  val sf = "/root/testdata/sf0.001"

  test("Venice partitioner parity: avro key bytes + MD5 Horner mod") {
    import spark.implicits._
    import graft.functions.VenicePartitionExpr._
    // avro binary encoding parity, checked against the avro library itself
    def avroBytesOf(schema: org.apache.avro.Schema, v: AnyRef): Seq[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, null)
      new org.apache.avro.generic.GenericDatumWriter[AnyRef](schema).write(v, enc)
      enc.flush(); out.toByteArray.toSeq
    }
    val longSchema = org.apache.avro.Schema.create(org.apache.avro.Schema.Type.LONG)
    val strSchema = org.apache.avro.Schema.create(org.apache.avro.Schema.Type.STRING)
    val keys = Seq(0L, 1L, -1L, 63L, 64L, -64L, -65L, 8191L, 42424242L,
      Long.MaxValue, Long.MinValue)
    val gotLong = keys.toDF("k").select(avroKeyBytes($"k")).collect()
      .map(_.getAs[Array[Byte]](0).toSeq)
    keys.zip(gotLong).foreach { case (k, b) =>
      assert(b == avroBytesOf(longSchema, java.lang.Long.valueOf(k)), s"long key $k")
    }
    val strs = Seq("", "a", "key42", "ümlaut-multibyte", "日本語")
    val gotStr = strs.toDF("k").select(avroKeyBytes($"k")).collect()
      .map(_.getAs[Array[Byte]](0).toSeq)
    strs.zip(gotStr).foreach { case (k, b) =>
      assert(b == avroBytesOf(strSchema, new org.apache.avro.util.Utf8(k)), s"str key $k")
    }
    // partition-id parity with the reference math: MD5 digest read as an
    // unsigned 128-bit integer, mod N (DefaultVenicePartitioner.java:55-77)
    def refPartition(bytes: Seq[Byte], n: Int): Int =
      new java.math.BigInteger(1,
        java.security.MessageDigest.getInstance("MD5").digest(bytes.toArray))
        .mod(java.math.BigInteger.valueOf(n)).intValue()
    for (n <- Seq(1, 3, 16, 257)) {
      val ids = keys.toDF("k").select(venicePartitionIdAvro($"k", n)).collect()
        .map(_.getInt(0))
      keys.zip(ids).foreach { case (k, id) =>
        assert(id == refPartition(avroBytesOf(longSchema, java.lang.Long.valueOf(k)), n),
          s"key $k n $n")
      }
    }
  }

  test("superset merges, widens, recurses, and rejects conflicts") {
    val v1 = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("name", StringType),
      StructField("meta", StructType(Seq(StructField("a", IntegerType))))))
    val v2 = StructType(Seq(
      StructField("id", LongType),
      StructField("score", DoubleType),
      StructField("meta", StructType(Seq(
        StructField("a", IntegerType), StructField("b", StringType))))))
    val sup = SchemaEvolution.superset(v1, v2)
    assert(sup("id").dataType == LongType)
    assert(sup("score").nullable)
    assert(sup("meta").dataType.asInstanceOf[StructType].fieldNames.toSeq
      == Seq("a", "b"))
    intercept[IllegalArgumentException] {
      SchemaEvolution.superset(
        StructType(Seq(StructField("x", StringType))),
        StructType(Seq(StructField("x", LongType))))
    }
  }

  test("conform projects an old-schema frame to the superset") {
    import spark.implicits._
    val old = Seq((1, "a")).toDF("id", "name")
    val target = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("score", DoubleType)))
    val out = SchemaEvolution.conform(old, target)
    assert(out.schema("id").dataType == LongType)
    assert(out.head.isNullAt(2))
  }

  test("conform recurses: a field added INSIDE a struct reads as null") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val oldSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("meta", StructType(Seq(StructField("a", IntegerType)))),
      StructField("tags", ArrayType(
        StructType(Seq(StructField("t", StringType)))))))
    val target = StructType(Seq(
      StructField("id", LongType),
      StructField("meta", StructType(Seq(
        StructField("a", LongType), StructField("b", StringType)))),
      StructField("tags", ArrayType(StructType(Seq(
        StructField("t", StringType), StructField("w", DoubleType)))))))
    val old = spark.createDataFrame(
      Seq(Row(1L, Row(7), Seq(Row("x"))), Row(2L, null, null)).asJava,
      oldSchema)
    val out = SchemaEvolution.conform(old, target).orderBy("id").collect()
    val m = out(0).getStruct(1)
    assert(m.getLong(0) == 7L && m.isNullAt(1)) // widened + added-null
    val tag = out(0).getSeq[Row](2).head
    assert(tag.getString(0) == "x" && tag.isNullAt(1))
    assert(out(1).isNullAt(1) && out(1).isNullAt(2)) // null structs stay null
  }

  test("typed-log marker: pre-fix logs with divergent physical types fall " +
      "back to mergeSchema; a widening registration drops the marker") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = graft.core.TmpStores.dir("typedlog").toString
    val e = new graft.core.GraftEngine(spark, root)
    e.createStore("t", Seq("k"))
    e.push("t", Seq((1L, 10)).toDF("k", "v"), numBuckets = 2) // v: INT
    // simulate a PRE-FIX log: files whose physical `v` is consistently
    // INT64 where the registry says INT32 (the old conformToValueSchema
    // kept a writer frame's own types), and no marker (the old writer
    // never stamped one). The explicit-schema scan would throw a physical
    // type mismatch here; the unmarked dir must take the mergeSchema path,
    // which reads INT64 and casts to the registered INT32 at conform.
    Seq((2L, 20L, 5L, false, 1, 98L), (3L, 30L, 7L, false, 1, 99L))
      .toDF("k", "v", "__ts_ms", "__deleted", "__schema_id", "__log_seq")
      .write.mode("append").parquet(s"$root/t/log")
    val marker = Paths.get(s"$root/t/log/_TYPED")
    assert(!Files.exists(marker))
    val got = e.servingView("t").orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(got.toSeq == Seq((1L, 10), (2L, 20), (3L, 30)),
      s"mergeSchema fallback must resolve pre-fix physical types, got ${got.toSeq}")
    // a typed engine append into a dir with pre-fix files must NOT
    // re-stamp it (the old files keep their divergent physical types)
    e.put("t", Seq((4L, 40L)).toDF("k", "v"), tsMs = 9L)
    assert(!Files.exists(marker), "a pre-fix dir must stay unmarked")
    // a widening registration invalidates a marked log (files hold the
    // narrower physical type)
    val e2 = new graft.core.GraftEngine(spark,
      graft.core.TmpStores.dir("typedlog2").toString)
    e2.createStore("t2", Seq("k"))
    e2.push("t2", Seq((1L, 10)).toDF("k", "v"), numBuckets = 2)
    e2.put("t2", Seq((2L, 20)).toDF("k", "v"), tsMs = 5L)
    assert(Files.exists(Paths.get(s"${e2.root}/t2/log/_TYPED")))
    e2.registerValueSchema("t2", StructType(Seq(
      StructField("k", LongType), StructField("v", LongType))))
    assert(!Files.exists(Paths.get(s"${e2.root}/t2/log/_TYPED")),
      "widening registration must drop the typed-log marker")
    val got2 = e2.servingView("t2").orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got2.toSeq == Seq((1L, 10L), (2L, 20L)), s"got ${got2.toSeq}")
  }

  test("salted aggregation matches direct aggregation") {
    val ev = Tables.events(spark, sf)
    val direct = ev.groupBy("event_type")
      .agg(sum(col("value")).as("sum"), count(lit(1)).as("count"))
    val salted = Salting.saltedSum(ev, Seq("event_type"), col("value"))
    val joined = direct.as("d").join(salted.as("s"), Seq("event_type"))
      .filter(col("d.count") =!= col("s.count") ||
        abs(col("d.sum") - col("s.sum")) > 1e-6)
    assert(joined.count() == 0)
  }

  test("salting handles map columns (hash() rejects MapType directly)") {
    import spark.implicits._
    val df = Seq((1L, 1.0, Map("a" -> "1")), (1L, 2.0, Map("b" -> "2")),
      (2L, 3.0, Map("a" -> "1"))).toDF("k", "v", "m")
    val out = Salting.saltedSum(df, Seq("k"), col("v"))
    assert(out.count() == 2) // no AnalysisException, sums still correct
    assert(out.filter(col("k") === 1L).head.getAs[Double]("sum") == 3.0)
  }

  test("nullable widens nested containers; A/A folds a collect_set store") {
    import org.apache.spark.sql.types._
    val tight = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("ids", ArrayType(LongType, containsNull = false),
        nullable = false),
      StructField("m",
        MapType(StringType, ArrayType(LongType, containsNull = false),
          valueContainsNull = false), nullable = false),
      StructField("s", StructType(Seq(
        StructField("inner", ArrayType(StringType, containsNull = false),
          nullable = false))), nullable = false)))
    val wide = graft.core.SchemaEvolution.nullable(tight)
    def allNullable(dt: DataType): Boolean = dt match {
      case s: StructType =>
        s.fields.forall(f => f.nullable && allNullable(f.dataType))
      case ArrayType(e, cn) => cn && allNullable(e)
      case MapType(k, v, vcn) => vcn && allNullable(k) && allNullable(v)
      case _ => true
    }
    assert(allNullable(wide) && wide.fieldNames.sameElements(tight.fieldNames))

    // the regression the LSH index store exposed: a store pushed from a
    // collect_set array (containsNull=false) must register a nullable
    // value schema, or the A/A element-state rebuild cast is illegal
    import spark.implicits._
    val e = new graft.core.GraftEngine(spark,
      graft.core.TmpStores.dir("nullable-aa").toString)
    e.createStore("idx", Seq("k"))
    val pushed = Seq((1L, Seq(10L)), (2L, Seq(20L, 21L)))
      .toDF("k", "members")
      .groupBy(col("k"))
      .agg(org.apache.spark.sql.functions.sort_array(
        org.apache.spark.sql.functions.flatten(
          org.apache.spark.sql.functions.collect_set(col("members"))))
        .as("ids"))
    assert(!pushed.schema("ids").dataType
      .asInstanceOf[ArrayType].containsNull)
    e.push("idx", pushed, numBuckets = 2)
    e.enableActiveActive("idx")
    e.addToSetAA("idx", Seq((1L, 11L), (3L, 30L)).toDF("k", "id"),
      "ids", "id", tsMs = 5L)
    val got = e.servingView("idx").orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet))
    assert(got.toSeq == Seq((1L, Set(10L, 11L)), (2L, Set(20L, 21L)),
      (3L, Set(30L))), s"got ${got.toSeq}")
  }
}
