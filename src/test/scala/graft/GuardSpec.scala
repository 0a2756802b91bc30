package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Guard, GuardRefusedException, GraftSession}

/** The machine-checkable refusal contract: scale guards throw the TYPED
  * exception, the harness classifier finds it through wrapped causes, and
  * Bench/Verify map it to a `refused` status (not an error) — what makes a
  * sweep over guarded decades verifiable without parsing error prose. */
class GuardSpec extends AnyFunSuite {
  lazy val spark = GraftSession.build(appName = "guard-spec")

  test("Guard.admit throws the typed refusal; classifier walks causes") {
    intercept[GuardRefusedException] { Guard.admit(false, "too big") }
    Guard.admit(true, sys.error("must stay lazy — never build the message"))
    val g = new GuardRefusedException("budget exceeded")
    assert(Guard.refusal(g).contains("budget exceeded"))
    assert(Guard.refusal(
      new RuntimeException("outer", new IllegalStateException("mid", g)))
      .contains("budget exceeded"))
    assert(Guard.refusal(new RuntimeException("plain failure")).isEmpty)
    // a refusal is still an IllegalArgumentException, so pre-existing
    // intercept[IllegalArgumentException] pins keep holding
    assert(g.isInstanceOf[IllegalArgumentException])
  }

  test("the scale guards throw the typed class (oversized exact cosine)") {
    import spark.implicits._
    val corpus = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f))).toDF("id", "vec")
    val e = intercept[GuardRefusedException] {
      graft.operators.Similarity.cosinePairs(corpus, 0.8, maxExactRows = 2L)
        .count()
    }
    assert(e.getMessage.contains("lshCosinePairs"),
      "refusal must point at the scale path")
    // in-budget input is admitted untouched
    assert(graft.operators.Similarity
      .cosinePairs(corpus, 0.8, maxExactRows = 10L).count() >= 1L)
  }

  test("kmeans codebook collect refuses a corpus-driven k over budget") {
    import spark.implicits._
    val corpus = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("id", "vec")
    val e = intercept[GuardRefusedException] {
      graft.operators.Similarity.kmeansCentroids(corpus,
        k = graft.operators.Similarity.KmeansCodebookBudget + 1, iters = 1)
        .count()
    }
    assert(e.getMessage.contains("targetCellRows"),
      "refusal must point at the scale knob")
    // in-budget k trains normally (k is clamped to available seeds by the
    // id < k seed rule; 2 seed rows here)
    assert(graft.operators.Similarity
      .kmeansCentroids(corpus, k = 2, iters = 1).count() === 2L)
  }
}
