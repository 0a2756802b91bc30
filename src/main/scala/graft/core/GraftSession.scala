package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration. */
object GraftSession {

  /** Confs applied by every session posture (`build`, `buildForTests`,
    * Bench, Verify, ProfileJobs): the confs the testdata needs for
    * correctness, plus two that let Spark reuse the Java classes it
    * generates for a plan instead of compiling them again with Janino.
    *
    * Codegen reuse, counted with Spark's compile counter
    * (`CodegenMetrics.METRIC_COMPILATION_TIME`) in the perfbench
    * workloads on 4 cores:
    *   - an ingest tick (sink append, write-compute update, compaction,
    *     view catch-up, streaming dedup drain) asks for ~200 generated
    *     classes and a batch pass (push, versionDiff, repush, dedup and
    *     ANN operators) for ~140. Spark's default 100-entry LRU evicts
    *     each of them before it is asked for again, so every tick compiled
    *     ~210 classes and every pass ~140. With 2,000 entries a repeated
    *     batch pass compiles 0 and compaction and agg-view refresh 0;
    *   - Spark 4.1 keys that cache by the session's artifact classloader,
    *     and each streaming query runs in a cloned session with a fresh
    *     one, so every streaming dedup drain recompiled its whole plan
    *     (112 classes a drain). graft adds no session artifacts, so
    *     artifact isolation buys nothing; with it off a drain of an
    *     already-seen plan compiles 2 (the classes that inline its batch
    *     id), and a steady ingest tick 4 in all.
    *
    * Both must be set before the first session starts: Spark reads the
    * cache size once per JVM, when it first generates code, and isolation
    * when it creates a session. */
  val requiredConfs: Seq[(String, String)] = Seq(
    // DSv2 surface: serve graft-format relations via the analysis-time
    // rewrite + bucket-pruning optimizer rule (sources/GraftExtensions)
    "spark.sql.extensions" -> "graft.sources.GraftExtensions",
    // events.parquet uses TIMESTAMP(NANOS); Spark 4 reads it only as Long.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // CrdtMerge/WriteCompute rely on LAST_WIN map dedup (sorted entries ⇒
    // max-ts entry per element survives)
    "spark.sql.mapKeyDedupPolicy" -> "LAST_WIN",
    "spark.sql.session.timeZone" -> "UTC",
    // codegen reuse (see above): a whole perfbench run compiles 195–254
    // distinct classes, so 2,000 holds one workload's working set many
    // times over
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.sql.artifact.isolation.enabled" -> "false")

  /** Perf posture for local[N]; on a real cluster these come from submit conf.
    *
    * AQE coalescing is switched from parallelism-first to SIZE-first
    * (guide §2.2): with the default `parallelismFirst=true` AQE never
    * coalesces below the session's default parallelism, so a 100-row
    * shuffle still schedules `cpus` tasks — pure scheduler overhead on
    * small inputs and tiny shuffle blocks at scale. Size-first coalescing
    * targets `advisoryPartitionSizeInBytes` instead: small shuffles
    * collapse to one task, big shuffles keep size-bounded partitions.
    * The advisory size is scale-parameterised via SPARK_GRAFT_ADVISORY_MB
    * (default 8 MB: a shuffle needs 8 MB × cpus ≈ 256 MB before it fans
    * out to every core — sf10 shuffles do, per-query fixtures don't; on a
    * production cluster raise it to the guide's 64-256 MB band with
    * executor counts to match). */
  def tuningConfs(cpus: Int): Seq[(String, String)] = {
    // DEFAULTS = Spark's own (parallelism-first, 64 MB advisory). A
    // size-first/8 MB posture measured faster on narrow subsets (q21-style
    // multi-joins, tiny fixtures) but regressed the explode-heavy family
    // hard at sf1 — candidate joins whose inputs are small in BYTES but
    // explode into quadratic row work downstream collapsed onto 1-4
    // post-shuffle partitions (full sweep: 846 → 1207 s; bm25_index_probe
    // 31 → 90 s, dedup_ngram_jaccard 18 → 72 s). Bytes are the wrong
    // proxy for row work on those stages, so the safe default is
    // parallelism-first; both knobs stay env-tunable for cluster runs.
    // parse defensively: a malformed env value (e.g. "64m", "True ") must
    // not fail session build with an opaque error — fall back to defaults
    // and normalize the boolean to exactly "true"/"false"
    val advisoryMb = scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_ADVISORY_MB", "64").trim.toInt)
      .getOrElse(64).max(1)
    val parallelismFirst =
      (sys.env.getOrElse("SPARK_GRAFT_PARALLELISM_FIRST", "true")
        .trim.toLowerCase != "false").toString
    Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> parallelismFirst,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> s"${advisoryMb}m",
      "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024 * 1024).toString,
      "spark.ui.enabled" -> "false")
  }

  def build(cpus: Int = Runtime.getRuntime.availableProcessors.min(32),
      appName: String = "graft"): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]").appName(appName)
    (requiredConfs ++ tuningConfs(cpus)).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Shared TEST-SUITE session: every ScalaTest suite routes here so suite
    * ordering can't change the session shape (`getOrCreate` means the
    * first builder wins). Master gets a WIDE task-slot pool — the
    * differential fuzz runs 8 concurrent scripts whose jobs are 1–8 tiny
    * tasks each, and on the old shared `local[4]` they fought over 4 task
    * slots on a 32-core box (the full suite's 44-minute wall, VERDICT r10
    * item 1) — while shuffle fan-out stays small (8), sized to the tiny
    * test fixtures rather than the core count. */
  def buildForTests(appName: String): SparkSession = {
    val slots = Runtime.getRuntime.availableProcessors.min(16)
    val b = SparkSession.builder().master(s"local[$slots]").appName(appName)
    (requiredConfs ++ tuningConfs(8)).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
