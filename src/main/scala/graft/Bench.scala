package graft

/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line.
  *
  * A full warmup pass runs first so the timed pass measures steady-state
  * plan execution, not JVM/classloader/FS-cache warmup (the first Spark
  * action in a fresh JVM pays ~5s of one-time cost).
  */
object Bench {
  // per-query status: Ok | Refused(guard msg) | Err(msg). Refused is a
  // DISTINCT machine-checkable status (graft.core.GuardRefusedException
  // anywhere in the cause chain): a scale sweep over guarded decades is
  // green iff the only non-ok rows are by-design guard refusals, and
  // that must be verifiable without parsing error prose. (Object-level,
  // not main-local: scalac emits broken LazyRef duplicate fields for
  // sealed hierarchies local to a method body.)
  private sealed trait Status { def isOk: Boolean = this == Ok }
  private case object Ok extends Status
  private final case class Refused(msg: String) extends Status
  private final case class Err(msg: String) extends Status

  def main(args: Array[String]): Unit = {
    // arg overrides env: the sbt server freezes fork env at boot, so ad-hoc
    // sweeps (e.g. the sf1 scale point) pass the dir explicitly
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    // args after the dir select a query subset — for adjudicating a
    // suspicious per-query timing by focused rerun without a full sweep
    val only: Set[String] = args.drop(1).toSet
    // GraftSession's one posture: Spark's default 10 MB broadcast
    // threshold, since 64 MB flips the bm25/tfidf token-df joins to
    // ~50 MB broadcast maps per probe (r10 sf1 sweep 846 → 1,207 s)
    val spark = graft.core.GraftSession.build(appName = "bench")

    val queries0 = Queries.all
    val queries = if (only.isEmpty) queries0 else queries0.filter(q => only(q.name))
    // Pass control for SCALE RECORDS: the default (warmup + min-of-2) is
    // the steady-state harness for cross-round comparisons; a full-suite
    // decade sweep at sf10 costs 3 full passes (~5h on this host), so
    // matched single-pass runs (SPARK_GRAFT_WARMUP=0 SPARK_GRAFT_PASSES=1
    // on BOTH scale points) measure the decade RATIOS — the scaling
    // evidence — in one pass. The record must label which mode produced it.
    val doWarmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0"
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt.max(1)
    // warmup (untimed; failures surface in the timed pass's error map).
    // Per-query hygiene HERE too: clearCache + gc lets the ContextCleaner
    // drop finished plans' shuffle files — without it a long warmup
    // accumulates every prior query's spill on disk (measured: 80 min of
    // sf10 warmups filled a 75 GB /tmp and ENOSPC'd an innocent query).
    if (doWarmup) queries.foreach { q =>
      try q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        val kind = if (graft.core.Guard.refusal(e).isDefined) "refused (guard)"
          else "failed"
        System.err.println(s"[bench] warmup ${q.name} $kind: ${e.getMessage}")
      }
      spark.catalog.clearCache()
      System.gc()
    }
    spark.catalog.clearCache()
    // timed (cold cache per query — persists inside operators still help
    // within a query, which is the production shape). A failing query is
    // recorded with its error, never silently timed as near-zero.
    // MIN OF TWO timed passes per query: a one-shot timing on a contended
    // host can post multi-x phantoms (round 4's driver run showed five
    // 3-7x outliers a fresh rerun disproved); the min of two consecutive
    // passes is robust to transient contention while still measuring
    // steady-state plan execution.
    val results = queries.map { q =>
      def onePass(): (Double, Status) = {
        val t0 = System.nanoTime()
        val st =
          try { q.fn(spark, sfDir).write.format("noop").mode("overwrite").save(); Ok: Status }
          catch { case e: Throwable =>
            graft.core.Guard.refusal(e) match {
              case Some(m) => Refused(m)
              case None => Err(Option(e.getMessage).getOrElse(e.getClass.getName))
            }
          }
        val sec = (System.nanoTime() - t0) / 1e9
        // harness hygiene OUTSIDE the clock: drop this query's cached
        // blocks and collect its garbage now, so accumulated heap debt
        // from 70+ earlier queries can't bill an innocent later one with
        // a full-GC stall mid-measurement
        spark.catalog.clearCache()
        System.gc()
        (sec, st)
      }
      // min over `passes` timed passes (not capped at 2 — a requested
      // PASSES=3 run must actually be 3 passes or the record is
      // mislabeled); a non-ok first pass short-circuits, its status is
      // the result
      val (t1, s1) = onePass()
      var best = t1
      var st: Status = s1
      var p = 1
      while (st.isOk && p < passes) {
        val (tn, sn) = onePass()
        best = math.min(best, tn)
        st = sn
        p += 1
      }
      // per-query progress on stderr: a truncated sweep still yields
      // recordable rows (the JSON line only prints at the very end)
      val tag = st match {
        case Ok => "ok"
        case _: Refused => "refused"
        case _: Err => "ERROR"
      }
      System.err.println(
        f"[bench] done ${q.name}%-28s $best%8.2f s  $tag")
      (q.name, best, st)
    }
    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Err(e)) =>
      "\"" + k + "\":\"" + esc(e.take(300)) + "\"" }.mkString("{", ",", "}")
    val refused = results.collect { case (k, _, Refused(m)) =>
      "\"" + k + "\":\"" + esc(m.take(300)) + "\"" }.mkString("{", ",", "}")
    val ok = results.count(_._3.isOk)
    val nRefused = results.count(_._3.isInstanceOf[Refused])
    val total = results.map(_._2).sum
    // "core38" is the subtotal over the round-1 registry so round-over-round
    // comparisons stay apples-to-apples; "total" covers everything.
    // CORE38 is an ALLOWLIST (the exact round-1 registry, from
    // CORRECTNESS_r01.json) rather than a later-additions blocklist: a
    // blocklist silently inflates the metric every time a query is added
    // without touching this file (observed: 22 round-7 queries leaked in
    // and posted a phantom 60.9 s "core38").
    val core38 = Set(
      "ann_ivf",
      "ann_lsh",
      "ann_topk",
      "b3_ttl_filter",
      "b4_compaction",
      "b7_quota",
      "b8_partition_counts",
      "dedup_embedding",
      "dedup_exact",
      "dedup_minhash_lsh",
      "dedup_ngram_jaccard",
      "dedup_simhash",
      "mm_decode",
      "q1_agg",
      "q3_join_topk",
      "q_exists_semi",
      "q_not_exists_anti",
      "q_rollup",
      "q_sessionize_batch",
      "q_window_running",
      "r10_predicates",
      "r11_batchget_stream",
      "r1_get",
      "r2_batchget",
      "r3_project",
      "r4_dotproduct",
      "r5_cosine",
      "r6_hadamard",
      "r7_count",
      "r8_compute_errors",
      "r9_prefix_scan",
      "text_stats",
      "w11_div_audit",
      "w12_hll_distinct",
      "w13_hot_keys",
      "w3_write_compute",
      "w5_lww_merge",
      "w8_squash_sets")
    val core = results.filter(r => core38(r._1)).map(_._2).sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","core38":$core,"queries":$qs,"ok":$ok,"refused_n":$nRefused,"n":${results.size},"errors":$errs,"refused":$refused,"sf":"$sfDir"}"""
    println(json)
    // full record to a stable committed-tree path: the driver keeps only
    // the tail of stdout, which loses the totals and 160+ query rows —
    // round-over-round regression checks read this file whole instead
    try {
      val out = java.nio.file.Paths.get("tmp/bench_last.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, json + "\n")
      System.err.println(s"[bench] full JSON written to $out")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write tmp/bench_last.json: $e")
    }
    // Measurement-contract fix (round 11): the full line above is ~8 KB at
    // 241 queries and the driver captures only a ~2 KB stdout tail, so for
    // ten rounds BENCH_rN.json recorded "parsed": null and PERF never had
    // per-query ground truth. A COMPACT summary (no per-query map — that
    // stays in the full line and in tmp/bench_last.json) is printed as the
    // LAST stdout line so it survives the tail capture whole. Same timing
    // methodology, same numbers — only what reaches the tail changed.
    println(s"""{"metric":"total","value":$total,"unit":"sec","core38":$core,"ok":$ok,"refused_n":$nRefused,"n":${results.size},"errors":$errs,"sf":"$sfDir","queries_file":"tmp/bench_last.json"}""")
    if (nRefused > 0) System.err.println(
      s"[bench] $nRefused queries REFUSED by scale guard (by design at " +
        "oversized decades — see the refused map)")
    if (results.exists(_._3.isInstanceOf[Err])) System.err.println(
      s"[bench] ${results.count(_._3.isInstanceOf[Err])} queries FAILED")
    spark.stop()
  }
}
