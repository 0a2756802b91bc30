package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftSession
import graft.functions.{MinHashExpr, ShingleExpr, TextOps, TokenStatsExpr}

/** Property tests for the one-pass custom expressions against their
  * higher-order-function formulations, over generated adversarial text
  * (space runs, unicode, marker words, repeats, empties). The HOF twins ARE
  * the DuckDB-oracle-checked semantics, so expression ≡ HOF ⇒ expression ≡
  * oracle. */
class ExprProps extends AnyFunSuite {
  lazy val spark = GraftSession.build(appName = "expr-props")

  val wordGen: Gen[String] = Gen.oneOf(
    "the", "und", "la", "的", "alpha", "Beta", "GAMMA", "x", "yy",
    "zzz", "punct!", "num9", "ümlaut", "longishtoken", "a=b")
  val sepGen: Gen[String] = Gen.oneOf(" ", "  ", "   ")
  val textGen: Gen[String] = for {
    n <- Gen.choose(0, 12)
    words <- Gen.listOfN(n, wordGen)
    seps <- Gen.listOfN(math.max(n - 1, 0), sepGen)
    lead <- Gen.oneOf("", " ")
    trail <- Gen.oneOf("", "  ")
  } yield lead + words.zipAll(seps, "", "").map { case (w, s) => w + s }
    .mkString + trail

  def sample(n: Int): Seq[String] = {
    val params = org.scalacheck.Gen.Parameters.default
    (0 until n).flatMap(i => textGen(params, Seed(i.toLong)))
  }

  test("ShingleSet ≡ array_distinct(HOF shingles) on generated text") {
    import spark.implicits._
    val docs = sample(300).toDF("text")
    for (n <- Seq(1, 2, 3, 5)) {
      val bad = docs.select(
        array_distinct(TextOps.shingles(col("text"), n)).as("hof"),
        ShingleExpr.shingleSet(col("text"), n).as("expr"))
        .filter(col("hof") =!= col("expr")).count()
      assert(bad == 0, s"shingle width $n diverged")
    }
  }

  test("MinHashSig ≡ HOF signature on generated shingle sets") {
    import spark.implicits._
    val docs = sample(300).toDF("text")
    val sh = docs.select(ShingleExpr.shingleSet(col("text"), 2).as("shingles"))
      .filter(size(col("shingles")) > 0)
    val bad = sh.select(
      TextOps.minhashSignature(col("shingles"), 8).as("hof"),
      MinHashExpr.minhashSig(col("shingles"), 8).as("expr"))
      .filter(col("hof") =!= col("expr")).count()
    assert(bad == 0)
  }

  test("TokenStats ≡ HOF counts on generated text") {
    import spark.implicits._
    val docs = sample(300).toDF("text")
    val toks = TextOps.tokens(col("text"))
    val st = TokenStatsExpr.tokenStats(col("text"))
    val checks =
      (st.getField("n_tokens") === size(toks)) &&
        (st.getField("n_long") === size(filter(toks, t => length(t) >= 4))) &&
        TextOps.langScoresFrom(toks)
          .zip(Seq("s_de", "s_en", "s_es", "s_fr", "s_zh"))
          .map { case ((_, hof), f) => st.getField(f) === hof }
          .reduce[org.apache.spark.sql.Column](_ && _)
    assert(docs.filter(!checks).count() == 0)
  }
}
