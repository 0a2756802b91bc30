package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call into the engine's public API (or one benchmark request that
  * groups several calls). Times are epoch ms for overlap arithmetic with
  * Spark's listener events; `durNs` is the precise duration. */
final case class Span(id: Long, name: String, parent: Long, request: Long,
    startMs: Long, endMs: Long, durNs: Long, timed: Boolean, failed: Boolean,
    rows: Long) {
  def ms: Double = durNs / 1e6
}

/** Spans for every public call the benchmark makes. Spans are always
  * recorded (they carry the end-to-end latencies); with tracing on, each
  * span also names itself in a Spark local property on the calling thread,
  * and [[JobListener]] attributes jobs, stages and tasks to it through that
  * property. Local properties survive AQE's futures and are inherited by the
  * threads a streaming query starts. Spans stay in memory until the run
  * ends. */
final class Tracer(val traced: Boolean) {
  val PropKey = "graftbench.span"
  @volatile var sc: SparkContext = _
  @volatile var timedPhase = false
  @volatile var windowStartMs = 0L
  @volatile var windowEndMs = 0L
  val listener = new JobListener(PropKey)

  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  // (span id, request id) of the innermost open span on this thread
  private val open = new ThreadLocal[(Long, Long)]
  private val rowCount = new ThreadLocal[Long]

  def attach(context: SparkContext): Unit = {
    sc = context
    if (traced) context.addSparkListener(listener)
  }

  /** Rows the innermost open span returned (for rows-read-per-row). */
  def rows(n: Long): Unit = rowCount.set(n)

  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val outer = open.get
    val (parent, request) = if (outer == null) (0L, id) else (outer._1, outer._2)
    val prevProp = if (traced) sc.getLocalProperty(PropKey) else null
    if (traced) sc.setLocalProperty(PropKey, id.toString)
    open.set((id, request))
    rowCount.set(0L)
    val timed = timedPhase
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var failed = true
    try {
      val r = body
      failed = false
      r
    } finally {
      val dur = System.nanoTime() - t0
      spans.add(Span(id, name, parent, request, startMs,
        System.currentTimeMillis(), dur, timed, failed, rowCount.get))
      open.set(outer)
      if (traced) sc.setLocalProperty(PropKey, prevProp)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq
  def timedSpans(name: String): Seq[Span] = all.filter(s => s.timed && s.name == name)
}

/** Per-job and per-task Spark metrics keyed by the span local property. */
final class JobListener(propKey: String) extends SparkListener {
  final class Job(val span: Long, val startMs: Long) {
    @volatile var endMs: Long = -1L
  }
  final class Work {
    var executorMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var recordsRead = 0L
    var bytesWritten = 0L
  }

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  // task work per job id (-1: a stage no job start announced)
  private val work = new ConcurrentHashMap[Int, Work]()
  private val lastEventMs = new AtomicLong(System.currentTimeMillis())

  private def touch(): Unit = lastEventMs.set(System.currentTimeMillis())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(propKey)))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new Job(span, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    touch()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val w = work.computeIfAbsent(stageJob.getOrDefault(e.stageId, -1), _ => new Work)
      w.synchronized {
        w.executorMs += m.executorRunTime
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.diskBytesSpilled
        w.recordsRead += m.inputMetrics.recordsRead
        w.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
    touch()
  }

  private def sumWork(jobIds: Iterable[Int]): Work = {
    val total = new Work
    jobIds.flatMap(j => Option(work.get(j))).foreach { w =>
      w.synchronized {
        total.executorMs += w.executorMs
        total.shuffleBytes += w.shuffleBytes
        total.spillBytes += w.spillBytes
        total.recordsRead += w.recordsRead
        total.bytesWritten += w.bytesWritten
      }
    }
    total
  }

  def workOf(span: Long): Work =
    sumWork(jobs.asScala.collect { case (id, j) if j.span == span => id })

  /** Executor ms of tasks whose job carried no span but started inside the
    * timed window. */
  def unattributedExecutorMs(fromMs: Long, toMs: Long): Long =
    sumWork(jobs.asScala.collect {
      case (id, j) if j.span < 0 && j.startMs >= fromMs && j.startMs <= toMs => id
    }).executorMs

  /** Block until every started job has ended and events have gone quiet
    * (listener events arrive on Spark's asynchronous bus). */
  def quiesce(maxWaitMs: Long = 15000L): Unit = {
    val deadline = System.currentTimeMillis() + maxWaitMs
    def done = jobs.values.asScala.forall(_.endMs >= 0) &&
      System.currentTimeMillis() - lastEventMs.get > 300
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }
}

/** Per-op layer metrics from spans and the listener: per-call medians. */
object Layers {
  /** Merge [start, end] intervals and return their total length. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  final case class Call(busyMs: Double, driverMs: Double,
      jobs: Int, executorMs: Long, shuffleBytes: Long, spillBytes: Long,
      rowsReadPerRow: Double, bytesWritten: Long)

  def calls(t: Tracer, name: String): Seq[Call] = {
    val jobsBySpan = t.listener.jobs.values.asScala.toSeq.groupBy(_.span)
    t.timedSpans(name).map { s =>
      val clip = (a: Long, b: Long) => (math.max(a, s.startMs), math.min(b, s.endMs))
      val js = jobsBySpan.getOrElse(s.id, Nil)
      val jobMs = covered(js.map(j =>
        clip(j.startMs, if (j.endMs >= 0) j.endMs else s.endMs)))
      val w = t.listener.workOf(s.id)
      Call(s.ms, math.max(0.0, s.ms - jobMs), js.size, w.executorMs,
        w.shuffleBytes, w.spillBytes, w.recordsRead.toDouble / math.max(1L, s.rows), w.bytesWritten)
    }
  }

  /** Ops of the ingest and batch workloads. No op span has child spans,
    * so an op's self time equals its busy time and is not reported. */
  val Ops: Seq[String] = Seq(
    "core.compactIfNeeded", "sources.GraftStreamSink.addBatch", "core.update",
    "core.servingView", "core.refreshAggView", "core.DaVinciClient.refresh",
    "streaming.StreamDedup.nearDupPairsEmbedding", "core.push",
    "core.versionDiff", "core.repush", "operators.Dedup.minhash",
    "operators.Similarity.ivfTopK", "operators.Similarity.semDedup")

  val RowsReadOps = Set("core.servingView")
  val SpillOps = Set("core.push", "operators.Dedup.minhash",
    "operators.Similarity.ivfTopK", "operators.Similarity.semDedup")

  /** Per-layer metrics of `ops`; an op the workload does not call reads 0. */
  def metrics(t: Tracer, ops: Seq[String]): Seq[(String, Double, String)] = ops.flatMap { op =>
    val cs = calls(t, op)
    def med(f: Call => Double): Double =
      if (cs.isEmpty) 0.0 else Stats.median(cs.map(f))
    Seq(
      (s"$op.busy_ms", med(_.busyMs), "ms"),
      (s"$op.driver_ms", med(_.driverMs), "ms"),
      (s"$op.jobs", med(_.jobs.toDouble), "count"),
      (s"$op.executor_ms", med(_.executorMs.toDouble), "ms"),
      (s"$op.shuffle_bytes", med(_.shuffleBytes.toDouble), "bytes")) ++
      (if (RowsReadOps(op)) Seq((s"$op.rows_read_per_row", med(_.rowsReadPerRow), "ratio"))
       else Nil) ++
      (if (SpillOps(op)) Seq((s"$op.spill_bytes", med(_.spillBytes.toDouble), "bytes"))
       else Nil)
  }

  /** Full per-op rows for the record, failed counts included. */
  def rows(t: Tracer, counts: OpCounts): Json.Obj = Json.Obj(Ops.flatMap { op =>
    val cs = calls(t, op)
    if (cs.isEmpty) None
    else Some(op -> Json.Obj(
      "calls" -> cs.size,
      "failed" -> counts.failedOf(op),
      "busy_ms" -> Stats.summary(cs.map(_.busyMs)),
      "driver_ms" -> Stats.median(cs.map(_.driverMs)),
      "jobs" -> Stats.median(cs.map(_.jobs.toDouble)),
      "executor_ms" -> Stats.median(cs.map(_.executorMs.toDouble)),
      "shuffle_bytes" -> Stats.median(cs.map(_.shuffleBytes.toDouble)),
      "spill_bytes" -> Stats.median(cs.map(_.spillBytes.toDouble)),
      "rows_read_per_row" -> Stats.median(cs.map(_.rowsReadPerRow))))
  }: _*)
}
