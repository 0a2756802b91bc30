package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.core.{DaVinciClient, GraftEngine, StoreConfig}
import graft.operators.{Similarity, UpdateBuilder, WriteCompute}
import graft.sources.GraftStreamSink

/** Nearline ingest into a 15k-key customer store (the size and column
  * shape of the customer table at scale factor 0.1), in closed-loop ticks.
  *
  * Each tick: (1) one GraftStreamSink.addBatch of upserts and ~5%
  * tombstones with per-row event time (even keys); (2) one write-compute
  * update batch setting the balance of odd keys; compactIfNeeded, which
  * fires every tick (so refreshAggView rebuilds rather than applying a
  * delta); (3) consumers catch up:
  * refreshAggView on a per-nation aggregate view, DaVinciClient.refresh and
  * a full serving-view aggregate; (4) one batch of arriving embeddings is
  * deduped through StreamDedup.nearDupPairsEmbedding (AvailableNow) against
  * an active-active LSH index store. Freshness is tick start to the end of
  * (3). Keys written through the sink and keys updated through write compute
  * are disjoint, so the reference model is exact under any fold order. */
final class Ingest(ctx: Ctx) extends Workload {
  import Ingest._

  private var engine: GraftEngine = _
  private var root: String = _
  private var dv: DaVinciClient = _

  // ---- seeded inputs -------------------------------------------------------
  private var base: Array[C] = _
  private var ticks: Array[TickPlan] = _
  private var arrivals: mutable.ArrayBuffer[(Long, Array[Double])] = _

  private def stagedArrivals(t: Int) = s"${ctx.dataDir}/arrivals_staged/tick-$t.parquet"
  private def arrivalsIn = s"$root/arrivals_in"

  def generate(): Seq[(String, String)] = {
    val r = Gen.rng(ctx.seed, "ingest.base")
    base = Array.fill(NKeys)(customer(r))
    val fpB = new Gen.Fingerprint
    base.foreach(c => fpB.string(c.name).long(c.nation).string(c.segment).long(c.bal))
    // the warm-up tick plus the window's: a steady tick takes ~8 s on 4 cores
    val nTicks = math.max(ctx.seconds / 4, MinTicks) + 2
    val tr = Gen.rng(ctx.seed, "ingest.ticks")
    val fpT = new Gen.Fingerprint
    ticks = Array.tabulate(nTicks) { t =>
      val sinkKeys = mutable.LinkedHashSet.empty[Long]
      while (sinkKeys.size < SinkRows) sinkKeys += 2L * (1 + tr.nextInt(NKeys / 2))
      val sink = sinkKeys.toArray.zipWithIndex.map { case (k, j) =>
        (k, (t + 1) * 100000L + j,
          if (tr.nextDouble() < TombstoneShare) None else Some(customer(tr)))
      }
      val updKeys = mutable.LinkedHashSet.empty[Long]
      while (updKeys.size < UpdateRows) updKeys += 2L * tr.nextInt(NKeys / 2) + 1
      val upd = updKeys.toArray.map(k => (k, tr.nextLong(BalSpan) + BalMin))
      sink.foreach { case (k, ts, c) => fpT.long(k).long(ts); c.foreach(x => fpT.long(x.bal)) }
      upd.foreach { case (k, b) => fpT.long(k).long(b) }
      TickPlan(t + 1, sink, upd)
    }
    // arrivals: unit vectors shaped like the embeddings table, plus ~5%
    // near copies of earlier arrivals
    val ar = Gen.rng(ctx.seed, "ingest.arrivals")
    val fpA = new Gen.Fingerprint
    val all = mutable.ArrayBuffer.empty[(Long, Array[Double])]
    (0 until nTicks).foreach { t =>
      (0 until ArrivalRows).foreach { j =>
        val id = t.toLong * ArrivalRows + j + 1
        val v = if (all.nonEmpty && ar.nextDouble() < NearShare)
          Gen.near(ar, all(ar.nextInt(all.size))._2, 0.01)
        else Gen.unitVector(ar, Dim)
        all += ((id, v))
        fpA.long(id).doubles(v)
      }
    }
    // one parquet file per tick (the stream's file source does not descend
    // into sub-directories), written in one job partitioned by tick
    val dir = s"${ctx.dataDir}/arrivals_tmp"
    ctx.spark.createDataFrame(all.map { case (id, v) =>
        Row(id, v.toSeq, ((id - 1) / ArrivalRows).toInt) }.asJava,
        StructType(ArrivalSchema.fields :+ StructField("tick", IntegerType)))
      .repartition(col("tick")).write.partitionBy("tick").parquet(dir)
    Files.createDirectories(Paths.get(stagedArrivals(0)).getParent)
    (0 until nTicks).foreach { t =>
      val parts = Files.list(Paths.get(dir, s"tick=$t")).iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      require(parts.size == 1, s"tick $t arrivals landed in ${parts.size} files")
      Files.move(parts.head, Paths.get(stagedArrivals(t)))
    }
    arrivals = mutable.ArrayBuffer.empty
    allArrivals = all.toArray
    Seq("ingest.base" -> fpB.hex, "ingest.ticks" -> fpT.hex, "ingest.arrivals" -> fpA.hex)
  }
  private var allArrivals: Array[(Long, Array[Double])] = _

  def setup(storeRoot: String): Unit = {
    root = storeRoot
    val spark = ctx.spark
    engine = new GraftEngine(spark, root)
    engine.createStore(Store, Seq("c_custkey"), StoreConfig(compactLogRows = CompactLogRows))
    engine.push(Store, spark.createDataFrame(base.indices.map { i =>
      val c = base(i)
      Row(i + 1L, c.name, c.nation, c.segment, c.bal)
    }.asJava, CustSchema), numBuckets = 8)
  }

  /** The store's consumers and the arrival index, attached once after the
    * timed set-ups (untimed: three of them would not fit the run budget). */
  private def attach(): Unit = {
    val spark = ctx.spark
    engine.aggregateView(Store, View, Seq("c_nationkey"), Seq("bal" -> "c_acctbal_cents"),
      numBuckets = 4)
    dv = engine.daVinci(Store)
    require(dv.get(Seq(1L)).isDefined, "DaVinci client found no row")
    engine.createStore(Index, Seq("bandkey"))
    engine.push(Index, spark.createDataFrame(java.util.List.of[Row](),
      StructType(Seq(StructField("bandkey", StringType), StructField("ids", ArrayType(LongType))))),
      numBuckets = 8)
    engine.enableActiveActive(Index)
    Files.createDirectories(Paths.get(arrivalsIn))
  }

  // ---- reference model -----------------------------------------------------
  private val model = mutable.HashMap.empty[Long, Option[C]]
  private val pairs = mutable.Set.empty[(Long, Long)]
  private val freshMs = mutable.ArrayBuffer.empty[Double]
  private val writeMs = mutable.ArrayBuffer.empty[Double]
  private val dedupMs = mutable.ArrayBuffer.empty[Double]
  private val errs = mutable.ArrayBuffer.empty[String]
  private var rowsCommitted = 0L
  private var windowS = 0.0
  private var logFilesMax = 0L
  private var logBytesMax = 0L
  private var compactions = 0
  private var nextTick = 0

  private def current(k: Long): Option[C] = model.getOrElse(k, Some(base((k - 1).toInt)))

  private def expectedAgg(): Map[Int, (Long, Long)] =
    (1L to NKeys.toLong).flatMap(current).groupBy(_.nation)
      .map { case (n, cs) => n -> (cs.size.toLong, cs.map(_.bal).sum) }

  private lazy val valueSchema = StructType(CustSchema.fields.filterNot(_.name == "c_custkey"))
  private lazy val updateSchema = StructType(StructField("c_custkey", LongType) +:
    WriteCompute.deriveUpdateSchema(valueSchema).fields)

  private def sinkFrame(p: TickPlan): DataFrame =
    ctx.spark.createDataFrame(p.sink.toSeq.map { case (k, ts, c) =>
      c match {
        case Some(x) => Row(k, x.name, x.nation, x.segment, x.bal, ts, false)
        case None => Row(k, null, null, null, null, ts, true)
      }
    }.asJava, SinkSchema)

  private def updateFrame(p: TickPlan): DataFrame =
    ctx.spark.createDataFrame(p.updates.toSeq.map { case (k, bal) =>
      Row.fromSeq(k +: new UpdateBuilder(valueSchema)
        .setField("c_acctbal_cents", bal).buildRow().toSeq)
    }.asJava, updateSchema)

  private def tick(timed: Boolean): Unit = {
    val p = ticks(nextTick)
    nextTick += 1
    // the tick's arrival file lands in the stream's input directory
    Files.move(Paths.get(stagedArrivals(p.t - 1)), Paths.get(arrivalsIn, s"tick-${p.t}.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
    val sinkDf = sinkFrame(p)
    val updDf = updateFrame(p)
    val sink = GraftStreamSink(root, Store, Map("tscolumn" -> "ts", "deletecolumn" -> "deleted"))
    val liveRows = (1L to NKeys.toLong).count(k => current(k).isDefined)
    var aggRows: Array[Row] = null
    val batch = mutable.ArrayBuffer.empty[(Long, Long)]
    val t0 = System.nanoTime()
    var t1 = 0L
    var t2 = 0L
    var sampleNs = 0L
    ctx.request("bench.ingest.tick") {
      val okSink = ctx.call("sources.GraftStreamSink.addBatch") { sink.addBatch(p.t, sinkDf) }
      val okUpd = ctx.call("core.update") { engine.update(Store, updDf, p.t * 100000L + 99999L) }
      t1 = System.nanoTime()
      // the RT log at its largest, before compaction folds it; the sampling
      // time is taken out of the tick's timings
      val (f, b) = Disk.logStats(root, Store)
      logFilesMax = math.max(logFilesMax, f); logBytesMax = math.max(logBytesMax, b)
      sampleNs = System.nanoTime() - t1
      ctx.call("core.compactIfNeeded") { engine.compactIfNeeded(Store) }
        .foreach(v => if (v > 0) compactions += 1)
      ctx.call("core.refreshAggView") { engine.refreshAggView(View) }
      ctx.call("core.DaVinciClient.refresh") { dv.refresh() }
      ctx.call("core.servingView") {
        aggRows = engine.servingView(Store).groupBy("c_nationkey")
          .agg(count(lit(1)).as("n"), sum("c_acctbal_cents").as("bal")).collect()
        ctx.tracer.rows(liveRows.toLong)
      }
      t2 = System.nanoTime()
      ctx.call("streaming.StreamDedup.nearDupPairsEmbedding") {
        val q = graft.streaming.StreamDedup.nearDupPairsEmbedding(
            ctx.spark.readStream.schema(ArrivalSchema).parquet(arrivalsIn),
            engine, Index, "vec_id", "embedding", dim = Dim, bitsPerBand = 12, bands = 8) {
            (df, _) => df.collect().foreach(r => batch += ((r.getLong(0), r.getLong(1))))
          }
          .option("checkpointLocation", s"$root/arrivals_cp")
          .trigger(Trigger.AvailableNow()).start()
        require(q.awaitTermination(120000L), "arrival stream did not drain")
        q.exception.foreach(e => throw e)
      }
      // the model only advances for writes that landed
      if (okSink.isDefined) {
        p.sink.foreach { case (k, _, c) => model(k) = c }
        rowsCommitted += p.sink.length
      }
      if (okUpd.isDefined) {
        p.updates.foreach { case (k, bal) => model(k) = current(k).map(_.copy(bal = bal)) }
        rowsCommitted += p.updates.length
      }
    }
    val t3 = System.nanoTime()
    pairs ++= batch
    arrivals ++= allArrivals.slice((p.t - 1) * ArrivalRows, p.t * ArrivalRows)
    if (timed) {
      writeMs += (t1 - t0) / 1e6
      freshMs += (t2 - t0 - sampleNs) / 1e6
      dedupMs += (t3 - t2) / 1e6
    }
    // the tick's full serving-view aggregate must match the model
    if (aggRows != null) {
      val got = aggRows.map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      if (got != expectedAgg()) errs += s"tick ${p.t}: serving-view aggregate differs from the model"
    }
  }

  def warmup(): Unit = {
    attach()
    tick(timed = false)
  }

  def run(): Unit = {
    val t0 = System.nanoTime()
    val end = t0 + ctx.seconds * 1000000000L
    while ((System.nanoTime() < end || freshMs.size < MinTicks) && nextTick < ticks.length)
      tick(timed = true)
    windowS = (System.nanoTime() - t0) / 1e9
  }

  def check(): Seq[String] = {
    val spark = ctx.spark
    // aggregate view == group-by of the model
    val view = engine.servingView(View).collect()
      .map(r => r.getAs[Int]("c_nationkey") -> (r.getAs[Long]("n"), r.getAs[Long]("bal"))).toMap
    if (view != expectedAgg()) errs += s"aggregate view differs from the model: $view vs ${expectedAgg()}"
    // DaVinci reads of sampled keys == model
    val sr = Gen.rng(ctx.seed, "ingest.check")
    (0 until 300).foreach { _ =>
      val k = 1L + sr.nextInt(NKeys)
      val got = dv.get(Seq(k)).map(r => C(r.getAs[String]("c_name"), r.getAs[Int]("c_nationkey"),
        r.getAs[String]("c_mktsegment"), r.getAs[Long]("c_acctbal_cents")))
      if (got != current(k)) errs += s"DaVinci get($k) = $got, model ${current(k)}"
    }
    // emitted near-dup pairs == one-shot band join over every arrived vector
    val arrived = spark.createDataFrame(arrivals.map { case (id, v) => Row(id, v.toSeq) }.asJava,
      ArrivalSchema)
    val br = Similarity.hyperplaneBandRows(arrived, "vec_id", "embedding", Dim, 12, 8)
    val oneShot = br.as("l").join(br.as("r"),
        col("l.bandkey") === col("r.bandkey") && col("l.id") < col("r.id"))
      .select(col("l.id"), col("r.id")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    if (oneShot != pairs.toSet)
      errs += s"streamed near-dup pairs (${pairs.size}) differ from the one-shot band join (${oneShot.size})"
    if (freshMs.isEmpty) errs += "no tick completed in the window"
    errs.toSeq
  }

  private lazy val amplification = Disk.amplification(engine, root, Store)

  def endToEnd(): (Double, Double, Double, Double) =
    (Stats.median(freshMs), Stats.median(writeMs), Stats.median(dedupMs), amplification)

  def details(): Json.Obj = Json.Obj(
    "freshness_p50_ms" -> Stats.median(freshMs), "freshness_p90_ms" -> Stats.p90(freshMs),
    "write_p50_ms" -> Stats.median(writeMs),
    "dedup_arrival_p50_ms" -> Stats.median(dedupMs),
    "ingest_rows_per_s" -> rowsCommitted / windowS,
    "bytes_per_user_byte" -> amplification,
    "ticks" -> freshMs.size, "compactions" -> compactions,
    "tick_fresh_ms" -> freshMs.toSeq, "tick_write_ms" -> writeMs.toSeq,
    "tick_dedup_ms" -> dedupMs.toSeq,
    "near_dup_pairs" -> pairs.size, "arrived_vectors" -> arrivals.size,
    "log_files_max" -> logFilesMax, "log_bytes_max" -> logBytesMax, "window_s" -> windowS)

  def storeMetrics(): Map[String, Double] = Map(
    "store.log_files_max" -> logFilesMax.toDouble,
    "store.log_bytes_max" -> logBytesMax.toDouble)
}

object Ingest {
  val Store = "customer"
  val View = "customer_by_nation"
  val Index = "arrival_lsh"
  val NKeys = 15000
  // timed ticks per run, however short the window; each timing metric is
  // their median. Run-to-run spread is dominated by the host's speed, not
  // by the tick count, and a tick costs ~8 s of the run budget.
  val MinTicks = 2
  val SinkRows = 400
  val UpdateRows = 200
  // a tick appends 600 log rows, so compaction fires every tick: every tick
  // takes the same path, and refreshAggView rebuilds (at this size its
  // delta path costs ~4x the rebuild, which would make a tick ~14 s)
  val CompactLogRows = 500L
  val TombstoneShare = 0.05
  val ArrivalRows = 300
  val NearShare = 0.05
  val Dim = 64
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  final case class C(name: String, nation: Int, segment: String, bal: Long)
  final case class TickPlan(t: Int, sink: Array[(Long, Long, Option[C])],
      updates: Array[(Long, Long)])

  // the customer table's shape: 25 nations, 5 segments, balances uniform
  // over [-999.99, 9999.99] (kept here in cents)
  val BalMin = -99999L
  val BalSpan = 1100000L

  def customer(r: java.util.SplittableRandom): C =
    C(f"Customer#${r.nextInt(1000000)}%09d", r.nextInt(25), Segments(r.nextInt(5)),
      r.nextLong(BalSpan) + BalMin)

  val CustSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType, nullable = false), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_mktsegment", StringType),
    StructField("c_acctbal_cents", LongType)))
  val SinkSchema: StructType = StructType(CustSchema.fields ++ Seq(
    StructField("ts", LongType, nullable = false),
    StructField("deleted", BooleanType, nullable = false)))
  val ArrivalSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(DoubleType))))
}
