package graft

/** Plan auditor: prints formatted physical plans for representative queries
  * so scan pruning (ReadSchema/PushedFilters), broadcast joins, and
  * WholeStageCodegen spans can be inspected per round.
  *
  * `--executed` mode (r11): queries that assemble their result driver-side
  * (e.g. dup_span_profile) show only a LocalTableScan in the lazy plan —
  * this mode RUNS the query under a QueryExecutionListener and prints every
  * EXECUTED plan, so per-level aggregate jobs are auditable (the PlanSpec
  * technique, exposed as a tool for committed plan evidence).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val executed = args.contains("--executed")
    val rest = args.filterNot(_ == "--executed")
    val sfDir = if (rest.nonEmpty) rest(0) else "/root/testdata/sf0.01"
    val names = if (rest.length > 1) rest.drop(1).toSet
      else Set("q1_agg", "q3_join_topk", "r2_batchget", "r4_dotproduct",
        "b4_compaction", "dedup_minhash_lsh", "ann_topk",
        "q9_profit", "q21_waiting_supplier", "dedup_ngram_capped",
        "dedup_simhash64", "dsv2_store_read", "b19_join_view",
        "ann_sq8", "w16_update_cdc", "store_config", "b20_avro_union")
    val spark = graft.core.GraftSession.build(appName = "explain")
    if (!executed) {
      Queries.all.filter(q => names(q.name)).foreach { q =>
        println(s"\n========== ${q.name} ==========")
        q.fn(spark, sfDir).explain("formatted")
      }
    } else {
      import scala.collection.mutable
      val plans = mutable.ArrayBuffer[(String, String)]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          plans.synchronized { plans += ((funcName, qe.executedPlan.toString)) }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      Queries.all.filter(q => names(q.name)).foreach { q =>
        plans.synchronized(plans.clear())
        println(s"\n========== ${q.name} (executed plans) ==========")
        q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        // listener is async — drain until the plan count stabilizes
        var seen = -1
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (seen != plans.synchronized(plans.size) &&
            System.nanoTime() < deadline) {
          seen = plans.synchronized(plans.size); Thread.sleep(200)
        }
        plans.synchronized(plans.toVector).zipWithIndex.foreach {
          case ((fn, p), i) =>
            println(s"\n---- job $i ($fn) ----")
            println(p)
        }
      }
      spark.listenerManager.unregister(listener)
    }
    spark.stop()
  }
}
