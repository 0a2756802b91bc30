package graft

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftSession

/** The suites share one session, built by the same `GraftSession.build`
  * the mains and the benchmark use, so the tests run the plans that the
  * benchmark and the oracle sweep run. */
class SessionSpec extends AnyFunSuite {
  lazy val spark = GraftSession.build(appName = "session-spec")

  test("the shared test session runs the one GraftSession posture") {
    val cpus = GraftSession.defaultCpus
    assert(spark.sparkContext.master == s"local[$cpus]")
    GraftSession.confs(cpus).foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"$k")
    }
    // no suite that ran before this one left its own threshold behind
    val threshold = SQLConf.AUTO_BROADCASTJOIN_THRESHOLD
    assert(JavaUtils.byteStringAsBytes(spark.conf.get(threshold.key)) ==
      threshold.defaultValue.get)
  }
}
