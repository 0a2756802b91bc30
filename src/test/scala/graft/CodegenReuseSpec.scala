package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{GraftEngine, GraftSession, TmpStores}
import graft.operators.{UpdateBuilder, WriteCompute}
import graft.streaming.StreamDedup

/** The session posture lets Spark reuse the classes it generates: a plan
  * shape the engine has run before compiles nothing new. Counts are
  * Spark's own compile counter (one tick per Janino compile, i.e. per
  * generated-class cache miss), read as a delta around the measured work.
  * The op sequence's stores hold short and float columns, which no other
  * suite's stores do, so its classes are not already cached by an earlier
  * suite in the same JVM. */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark = GraftSession.build(appName = "codegen-reuse-spec")
  lazy val root = TmpStores.dir("graft-codegen").toString
  lazy val engine = new GraftEngine(spark, root)

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def compilesDuring(body: => Unit): Long = {
    val c0 = compiles()
    body
    compiles() - c0
  }

  private val Schema = StructType(Seq(
    StructField("cg_k", LongType, nullable = false),
    StructField("cg_label", StringType),
    StructField("cg_grp", ShortType),
    StructField("cg_amt", LongType),
    StructField("cg_score", FloatType)))
  private val ValueSchema = StructType(Schema.fields.tail)

  private def rows(n: Int, bump: Long => Long): DataFrame =
    spark.createDataFrame((1L to n).map { k =>
      Row(k, s"label-${k % 37}", (k % 7).toShort, bump(k) * 3L, (k % 11).toFloat)
    }.asJava, Schema)

  private def updates(keys: Seq[Long]): DataFrame =
    spark.createDataFrame(keys.map { k =>
      Row.fromSeq(k +: new UpdateBuilder(ValueSchema)
        .setField("cg_amt", -k).buildRow().toSeq)
    }.asJava, StructType(Schema.fields.head +:
      WriteCompute.deriveUpdateSchema(ValueSchema).fields))

  /** The engine's push job and nearline path over fresh stores named by
    * `run`: push, push v2, versionDiff, an aggregate view, a put, a
    * write-compute update, view refresh, compaction, a serving-view
    * aggregate and a repush. Every constant it passes is the same on
    * every run, so a second run has the first run's plan shapes. */
  private def opSequence(run: Int): Unit = {
    val s = s"cg_store_$run"
    val v = s"cg_view_$run"
    engine.createStore(s, Seq("cg_k"))
    engine.push(s, rows(300, identity), numBuckets = 4)
    engine.push(s, rows(300, k => if (k % 10 == 0) k + 1 else k), numBuckets = 4)
    assert(engine.versionDiff(s, 1, 2).filter(col("status") === "changed")
      .count() == 30)
    engine.aggregateView(s, v, Seq("cg_grp"), Seq("amt" -> "cg_amt"),
      numBuckets = 2)
    engine.put(s, rows(20, k => k * 100), tsMs = 1000L)
    engine.update(s, updates(Seq(5L, 6L, 7L)), tsMs = 2000L)
    engine.refreshAggView(v)
    engine.compactIfNeeded(s, 1L)
    engine.refreshAggView(v)
    assert(engine.servingView(s).groupBy("cg_grp").agg(sum("cg_amt"))
      .collect().length == 7)
    engine.repush(s)
    assert(engine.servingView(v).count() == 7)
  }

  test("an engine op sequence run twice compiles its generated classes " +
      "once") {
    val first = compilesDuring(opSequence(1))
    val second = compilesDuring(opSequence(2))
    // the sequence needs more generated classes than Spark's default
    // 100-entry cache holds, so that cache would evict them all and the
    // second run would compile as many as the first
    assert(first > 100, s"first run compiled $first classes")
    assert(second <= StageIdRecompiles,
      s"second run compiled $second classes (first run $first)")
  }

  /** What a repeat of the op sequence may still compile: whole-stage
    * classes carry their codegen stage id in the class name, and AQE
    * numbers stages in the order it plans them, which follows the order
    * concurrent shuffle stages finish. A repeat can therefore renumber a
    * stage and compile it again. Seen: 20–30 such classes of the first
    * run's ~200 whole-stage classes, and no other class. */
  val StageIdRecompiles = 60L

  test("a streaming dedup drain reuses the classes of the previous drain") {
    val index = "cg_lsh"
    engine.createStore(index, Seq("bandkey"))
    engine.push(index, spark.createDataFrame(java.util.List.of[Row](),
      StructType(Seq(StructField("bandkey", StringType),
        StructField("ids", ArrayType(LongType))))), numBuckets = 4)
    engine.enableActiveActive(index)
    val arrivalSchema = StructType(Seq(
      StructField("cg_vec_id", LongType, nullable = false),
      StructField("cg_vec", ArrayType(DoubleType))))
    val in = s"$root/cg_arrivals"
    Files.createDirectories(Paths.get(in))
    val dim = 16
    val rnd = new scala.util.Random(7)
    // each drain's arrivals land in the input dir as one parquet file
    def arrive(drain: Int): Unit = {
      val staged = s"$root/cg_staged_$drain"
      spark.createDataFrame((0 until 60).map { i =>
        Row(drain * 1000L + i, Seq.fill(dim)(rnd.nextGaussian()))
      }.asJava, arrivalSchema).coalesce(1).write.parquet(staged)
      val part = Files.list(Paths.get(staged)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(in, s"drain-$drain.parquet"))
    }
    def drain(): Long = compilesDuring {
      val q = StreamDedup.nearDupPairsEmbedding(
          spark.readStream.schema(arrivalSchema).parquet(in),
          engine, index, "cg_vec_id", "cg_vec", dim = dim, bitsPerBand = 4,
          bands = 4) { (df, _) => df.collect(); () }
        .option("checkpointLocation", s"$root/cg_arrivals_cp")
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000L), "drain timed out")
      q.exception.foreach(e => throw e)
    }
    // the first drain probes an empty index, so its plans differ from the
    // later drains'; the second drain is the first with the steady shape
    arrive(1); val first = drain()
    arrive(2); val second = drain()
    arrive(3); val third = drain()
    // each drain runs in a cloned session; were generated classes cached
    // per session, the third drain would compile its whole plan again, as
    // the second did. It compiles only the classes that inline a per-drain
    // constant (the batch id, written as the index append's timestamp, and
    // the log sequence number) and any stage AQE renumbered.
    assert(third * 3 < second,
      s"drains compiled $first, $second, then $third classes")
  }
}
