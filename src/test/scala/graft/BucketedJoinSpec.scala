package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{GraftSession, Tables}

/** Scale proof: bucketed tables co-locate joins — the big fact⨝fact join
  * runs with NO shuffle exchange (both sides pre-hashed on the join key),
  * which is the strategy the engine's md5-bucketed store layout targets for
  * repeated joins at 100 TB. */
class BucketedJoinSpec extends AnyFunSuite {
  lazy val spark = GraftSession.build(appName = "bucketed-spec")
  val sf = "/root/testdata/sf0.001"

  test("bucketBy join plans without a shuffle exchange") {
    // (warehouse dir is static config — the default ./spark-warehouse is
    // fine; tables are dropped in the finally block)
    // disable broadcast so the join strategy decision is about shuffles
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.orders(spark, sf).write
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("orders_b")
      Tables.lineitem(spark, sf).write
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("lineitem_b")
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(sum(col("l_quantity")).as("qty"))
      val plan = joined.queryExecution.executedPlan.toString
      // the join itself must not shuffle either side
      val joinSection = plan.split("HashAggregate").last
      assert(!joinSection.contains("Exchange hashpartitioning"),
        s"unexpected shuffle in join:\n$plan")
      assert(joined.count() == 3)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    }
  }
}
