package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.LongAccumulator

/** B10: job metrics — named record/byte counters via accumulators, the
  * same mechanism the reference's Spark data-writer uses
  * (DataWriterAccumulators shape).
  */
class JobMetrics(spark: SparkSession) {
  private val accs = mutable.LinkedHashMap.empty[String, LongAccumulator]

  def counter(name: String): LongAccumulator =
    accs.getOrElseUpdate(name, spark.sparkContext.longAccumulator(name))

  def snapshot: Map[String, Long] =
    accs.iterator.map { case (k, v) => (k, v.value.longValue) }.toMap
}
