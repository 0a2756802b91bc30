package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — names filter the run for
    // fast iteration; the driver passes none and gets every query
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    // same posture as graft.Bench (see there for the absent 64 MB
    // broadcast threshold)
    val spark = graft.core.GraftSession.build(appName = "verify")
    new java.io.File(outDir).mkdirs()
    // per-query status, machine-checkable: ok | refused (a scale guard
    // declined oversized input BY DESIGN — GuardRefusedException in the
    // cause chain) | error. Written as status.json beside the parquet
    // dumps so a sweep over guarded decades can verify "only the expected
    // refusals" without parsing stderr prose.
    val statuses = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      val st =
        try { fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name"); "ok" }
        catch { case e: Throwable =>
          graft.core.Guard.refusal(e) match {
            case Some(m) =>
              System.err.println(s"[verify] $name refused (guard): $m")
              "refused"
            case None =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
              "error"
          }
        }
      // dedup/LSH operators persist() intermediates; drop them per query
      spark.catalog.clearCache()
      name -> st
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/status.json"),
      statuses.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    spark.stop()
  }
}
