package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import scala.collection.mutable

/** Optimization-round profiler: runs named queries and prints each Spark
  * JOB with its wall duration and callsite, so a multi-action query
  * (engine op sequences, streaming drains, iterative training) can be
  * decomposed without the UI. Usage:
  *   tools/spark_java graft.ProfileJobs <sfDir> <query> [query...]
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSet
    val spark = graft.core.GraftSession.build(appName = "profile-jobs")

    val starts = mutable.Map[Int, (Long, String, Int)]() // id -> (t0, site, nTasks)
    val rows = mutable.ArrayBuffer[(Int, Double, Int, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(js.stageInfos.lastOption.map(_.name.take(60)))
          .getOrElse("?")
        val nTasks = js.stageInfos.map(_.numTasks).sum
        starts(js.jobId) = (System.nanoTime(), site, nTasks)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.remove(je.jobId).foreach { case (t0, site, nTasks) =>
          rows += ((je.jobId, (System.nanoTime() - t0) / 1e9, nTasks, site))
        }
    })

    Queries.all.filter(q => names.isEmpty || names(q.name)).foreach { q =>
      rows.clear()
      // one untimed warmup so FS cache/codegen don't dominate the profile
      try q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[profile] warmup ${q.name} failed: ${e.getMessage}") }
      spark.catalog.clearCache(); System.gc(); rows.clear()
      val t0 = System.nanoTime()
      try q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[profile] ${q.name} failed: ${e.getMessage}") }
      val total = (System.nanoTime() - t0) / 1e9
      // listener events are async; poll until the row count stabilizes
      // (bounded deadline) instead of one fixed sleep — a job-end event
      // still in flight after a long final job would otherwise be silently
      // dropped from the profile, skewing the job-wall sum and gap
      val deadline = System.nanoTime() + 5_000_000_000L
      var seen = -1
      while (seen != rows.size && System.nanoTime() < deadline) {
        seen = rows.size
        Thread.sleep(200)
      }
      println(f"%n===== ${q.name}: $total%.2f s, ${rows.size} jobs =====")
      val jobSum = rows.map(_._2).sum
      rows.sortBy(-_._2).take(40).foreach { case (id, sec, nTasks, site) =>
        println(f"  job $id%4d  $sec%7.3f s  $nTasks%5d tasks  $site")
      }
      println(f"  [sum of job wall: $jobSum%.2f s; gap (driver/planning): ${total - jobSum}%.2f s]")
      spark.catalog.clearCache(); System.gc()
    }
    spark.stop()
  }
}
