package graft.core

import org.apache.spark.sql.SparkSession

/** The one session factory: every main, the benchmark and the test suite
  * build their Spark session here, so they all run the same plans. */
object GraftSession {

  /** The one posture of a `local[cpus]` session.
    *
    * Besides the confs the testdata needs for correctness it sets one
    * shuffle partition per core, no UI, a 5-minute periodic GC so the
    * ContextCleaner drops dead shuffle files in a long process (a full
    * query sweep or the test suite) instead of carrying them to the end,
    * and two confs that let Spark reuse the Java classes it generates for
    * a plan instead of compiling them again with Janino. AQE and the
    * broadcast threshold stay at Spark's defaults: a 64 MB threshold
    * regressed the r10 sf1 sweep 846 → 1,207 s (the bm25/tfidf token-df
    * joins built ~50 MB broadcast maps per probe).
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
  def confs(cpus: Int): Seq[(String, String)] = Seq(
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
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.ui.enabled" -> "false",
    "spark.cleaner.periodicGC.interval" -> "5min")

  /** Core count, a deployment setting: `SPARK_GRAFT_CPUS` if set, else the
    * host's cores up to 32. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors.min(32))

  /** `getOrCreate`: in one JVM the first call fixes the session, so every
    * caller must go through here to get the same shape. */
  def build(cpus: Int = defaultCpus, appName: String = "graft"): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]").appName(appName)
    confs(cpus).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
