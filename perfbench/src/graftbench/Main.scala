package graftbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** Shared run state: seed, tracer, op counts, and the current session. */
final class Ctx(val seed: Long, val seconds: Int, val traced: Boolean,
    val cpus: Int, val dataDir: String) {
  val tracer = new Tracer(traced)
  val counts = new OpCounts
  @volatile var spark: SparkSession = _

  /** One public call. Inside the timed window a failure is counted (with
    * its first message) and yields None; outside it, a failure aborts the
    * run. */
  def call[T](op: String)(body: => T): Option[T] =
    if (tracer.timedPhase) counts.attempt(op)(tracer.span(op)(body))
    else Some(tracer.span(op)(body))

  /** A benchmark request grouping several calls under one request id. */
  def request[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** One workload: seeded inputs, a timed set-up, a timed window, output
  * checks and the metrics it reports. */
trait Workload {
  /** Untimed: make the seeded inputs under `ctx.dataDir`. Returns a
    * fingerprint per generated input. */
  def generate(): Seq[(String, String)]
  /** One set-up repetition into a fresh store root; `setup_s` is the cold
    * session start plus the median repetition. */
  def setup(root: String): Unit
  /** Untimed warm-up before the window. */
  def warmup(): Unit
  /** The timed window. */
  def run(): Unit
  /** Output checks, outside the window. Returns failure messages. */
  def check(): Seq[String]
  /** (p50_ms, write_p50_ms, side_p50_ms, bytes_per_user_byte). */
  def endToEnd(): (Double, Double, Double, Double)
  /** Workload-named metrics and details for the record. */
  def details(): Json.Obj
  /** Store- and benchmark-level layer metrics, by name (see Main.Extras). */
  def storeMetrics(): Map[String, Double]
}

/** Input size multiplier (1 unless a run passes --scale): used to measure
  * the fixed-cost share of a workload by running it on much smaller inputs. */
object Scale {
  @volatile var factor: Double = 1.0
}

object Main {
  val SetupReps = 3

  /** Layer metrics outside the per-op set: (name, unit). A workload that
    * has no such quantity reports 0. */
  val Extras: Seq[(String, String)] = Seq(
    "store.log_files_max" -> "count", "store.log_bytes_max" -> "bytes",
    "core.push.bytes_written_per_input_byte" -> "ratio")

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(name)
    require(i >= 0 && i + 1 < args.length, s"missing $name")
    args(i + 1)
  }

  /** (GC ms, JIT compilation ms) spent by this JVM so far. */
  private def jvmTimes(): (Long, Long) = {
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val jit = Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
    (gc, jit)
  }

  /** (steal, total) jiffies from /proc/stat, where the host has it. */
  private def cpuTicks(): Option[(Long, Long)] = scala.util.Try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (f(7), f.take(8).sum)
  }.toOption

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toInt
    val traced = arg(args, "--trace") == "1"
    val record = Paths.get(arg(args, "--record"))
    val meta = arg(args, "--meta")
    if (args.contains("--scale")) Scale.factor = arg(args, "--scale").toDouble
    val cpus = Runtime.getRuntime.availableProcessors
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val dataDir = tmp.resolve("inputs")
    Files.createDirectories(dataDir)
    val ctx = new Ctx(seed, seconds, traced, cpus, dataDir.toString)
    val wl: Workload = workload match {
      case "ingest" => new Ingest(ctx)
      case "batch" => new Batch(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // setup_s: the JVM-cold session start through the engine's own factory,
    // plus the median of SetupReps workload set-ups, each into a fresh
    // store root. Input generation sits between the two and is not timed.
    val coldT0 = System.nanoTime()
    ctx.spark = GraftSession.build(cpus = cpus, appName = "graftbench")
    val coldSessionS = (System.nanoTime() - coldT0) / 1e9
    val genT0 = System.nanoTime()
    val fingerprints = wl.generate()
    val generateS = (System.nanoTime() - genT0) / 1e9

    val setupRepsS = (1 to SetupReps).map { rep =>
      val root = tmp.resolve(s"stores-$rep")
      val t0 = System.nanoTime()
      wl.setup(root.toString)
      val s = (System.nanoTime() - t0) / 1e9
      // earlier repetitions' stores are dead weight for the run
      (1 until rep).foreach(r => Disk.deleteTree(tmp.resolve(s"stores-$r")))
      s
    }
    val setupS = coldSessionS + Stats.median(setupRepsS)
    ctx.tracer.attach(ctx.spark.sparkContext)

    val warmT0 = System.nanoTime()
    wl.warmup()
    val warmupS = (System.nanoTime() - warmT0) / 1e9
    val cpu0 = cpuTicks()
    val jvm0 = jvmTimes()
    ctx.tracer.timedPhase = true
    ctx.tracer.windowStartMs = System.currentTimeMillis()
    wl.run()
    ctx.tracer.windowEndMs = System.currentTimeMillis()
    ctx.tracer.timedPhase = false
    val cpu1 = cpuTicks()
    val jvm1 = jvmTimes()
    // share of the host's CPU time the hypervisor took during the window:
    // a run on a contended host reads slow for reasons outside the engine
    val stealShare = (cpu0, cpu1) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
      case _ => Double.NaN
    }
    if (traced) ctx.tracer.listener.quiesce()

    val checkT0 = System.nanoTime()
    val failures = try wl.check() catch {
      case NonFatal(e) => Seq(s"check aborted: ${e.getClass.getName}: ${e.getMessage}")
    }
    val (p50, write, side, amp) = wl.endToEnd()
    val checkS = (System.nanoTime() - checkT0) / 1e9
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("p50_ms", p50, "ms"),
      ("write_p50_ms", write, "ms"),
      ("side_p50_ms", side, "ms"),
      ("bytes_per_user_byte", amp, "ratio"))
    val roots = ctx.tracer.all.filter(s => s.timed && s.parent == 0 && s.name.startsWith("bench."))
    def selfMs(s: Span) = s.ms - ctx.tracer.all.filter(_.parent == s.id).map(_.ms).sum
    val layer =
      if (!traced) Nil
      else {
        val store = wl.storeMetrics()
        Layers.metrics(ctx.tracer, Layers.Ops) ++
          Extras.map { case (n, u) => (n, store.getOrElse(n, 0.0), u) } ++ Seq(
          ("bench.unattributed_executor_ms", ctx.tracer.listener.unattributedExecutorMs(
            ctx.tracer.windowStartMs, ctx.tracer.windowEndMs).toDouble, "ms"),
          // the benchmark's own driver time per request, outside engine calls
          ("bench.request.self_ms", if (roots.isEmpty) 0.0 else Stats.median(roots.map(selfMs)), "ms"))
      }
    val shown = if (traced) layer else e2e
    val attempted = math.max(1L, ctx.counts.totalAttempted)
    val correct = failures.isEmpty && ctx.counts.totalAttempted > 0
    val result = Json.Obj(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> ctx.counts.totalFailed,
      "metrics" -> Json.Obj(shown.map { case (n, v, u) =>
        n -> Json.Obj("value" -> v, "unit" -> u) }: _*))

    val full = Json.Obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "meta" -> meta, "scale" -> Scale.factor,
      "nproc" -> cpus, "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_version" -> ctx.spark.version,
      "flush_policy" -> "stores under java.io.tmpdir on local disk; no fsync",
      "input_fingerprints" -> Json.Obj(fingerprints: _*),
      "session_cold_s" -> coldSessionS, "generate_s" -> generateS,
      "setup_reps_s" -> setupRepsS, "warmup_s" -> warmupS, "check_s" -> checkS,
      "window_ms" -> (ctx.tracer.windowEndMs - ctx.tracer.windowStartMs),
      "cpu_steal_share" -> stealShare,
      "window_gc_ms" -> (jvm1._1 - jvm0._1), "window_jit_ms" -> (jvm1._2 - jvm0._2),
      "correct" -> correct, "check_failures" -> failures.take(20),
      "ops" -> ctx.counts.toJson,
      "end_to_end" -> Json.Obj(e2e.map { case (n, v, u) =>
        n -> Json.Obj("value" -> v, "unit" -> u) }: _*),
      "workload_metrics" -> wl.details(),
      "per_layer" -> Json.Obj(layer.map { case (n, v, u) =>
        n -> Json.Obj("value" -> v, "unit" -> u) }: _*),
      "per_op" -> (if (traced) Layers.rows(ctx.tracer, ctx.counts) else Json.Obj()),
      "spans" -> (if (!traced) Nil else ctx.tracer.all.sortBy(_.id).map(s => Json.Obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "timed" -> s.timed,
        "failed" -> s.failed))),
      "request_self_ms" -> Json.Obj(roots.groupBy(_.name).toSeq.sortBy(_._1).map {
        case (n, ss) => n -> Stats.median(ss.map(selfMs)) }: _*))
    Files.createDirectories(record.getParent)
    Files.writeString(record, Json.render(full) + "\n")
    failures.take(20).foreach(f => System.err.println(s"[graftbench] check failed: $f"))
    ctx.spark.stop()
    println(Json.render(result))
  }
}
