package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{GraftSession, Tables}
import graft.operators.{Dedup, Multimodal, Similarity}

class PipelineSpec extends AnyFunSuite {
  lazy val spark = GraftSession.build(appName = "pipeline-spec")
  val sf = "/root/testdata/sf0.001"

  test("lang-id identifies hand-built sentences per language") {
    // (the testdata's `lang` column is random metadata over English-ish
    // tech words, so goldens — not corpus agreement — are the right test)
    import spark.implicits._
    val samples = Seq(
      ("the cat and the dog is in that house", "en"),
      ("der hund und die katze ist nicht ein vogel", "de"),
      ("el perro es en la casa que por una puerta", "es"),
      ("le chat est dans les maisons et pour une porte", "fr"),
      ("我 是 人 的 和 不 这 有", "zh"),
      ("zzz qqq xxx", "und")).toDF("text", "expected")
    val got = samples.withColumn("pred",
      graft.functions.TextOps.langId(col("text")))
    assert(got.filter(col("pred") =!= col("expected")).count() == 0)
  }

  test("PQ ANN: codes are complete, ADC ranking correlates with exact") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val n = corpus.count()
    val pq = Similarity.pqTopK(corpus, queries, k = 10, m = 4, ksub = 8,
      dim = 64, trainIters = 1)
    val rows = pq.collect()
    // every query gets a full k (ADC scans all candidates — PQ compresses
    // memory, it never loses candidates the way cell probing can)
    assert(rows.groupBy(_.getLong(0)).forall(_._2.length == 10),
      "a query returned fewer than k")
    // approximate distances are nonnegative and finite
    assert(rows.forall(r => r.getDouble(3) >= 0 && !r.getDouble(3).isNaN))
    // 16-dim subspaces with 8 centroids quantize coarsely on random unit
    // vectors; the pin is structural: PQ's top-10 must beat random overlap
    // with the exact top-10 by a wide margin (random ≈ 10/n per slot).
    // Measured 0.16 = 8× random on this deterministic data+training — a
    // change in this number means the quantizer changed, not the data.
    val exact = Similarity.bruteForceTopK(corpus, queries, 10)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val overlap = (exact intersect approx).size.toDouble / exact.size
    val randomBaseline = 10.0 / n
    assert(overlap > 5 * randomBaseline,
      s"PQ overlap $overlap vs random $randomBaseline")
  }

  test("SQ8 ANN: high recall vs brute force; rerank recovers exact top-k") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(corpus, queries, 10)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq8 = Similarity.sq8TopK(corpus, queries, 10)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 8-bit unit-scaled codes barely perturb cosine order: recall must be
    // near-perfect (deterministic corpus — a drop means the quantizer
    // changed, not the data)
    val recall = (exact intersect sq8).size.toDouble / exact.size
    assert(recall > 0.9, s"SQ8 recall $recall")
    // two-stage: integer-ADC shortlist of 30, exact rerank to 10 — on this
    // corpus the shortlist contains every true top-10, so the reranked
    // result IS brute force, row for row (ranks, ids, sims)
    val reranked = Similarity.sq8TopK(corpus, queries, 10, rerank = 30)
      .orderBy(col("qid"), col("rank")).collect().toSeq
    val brute = Similarity.bruteForceTopK(corpus, queries, 10)
      .orderBy(col("qid"), col("rank")).collect().toSeq
    assert(reranked == brute, "rerank(30)→10 diverged from brute force")
  }

  test("IVF×SQ8 composition: wide shortlist ≡ ivfTopK; narrow stays close") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val n = corpus.count().toInt
    // shortlist ≥ every probed candidate ⇒ the integer stage reorders but
    // drops nothing, so rerank(all) IS exact scoring of the probed cells:
    // row-for-row equal to ivfTopK (same cells, same ties, same sims)
    val composed = Similarity.ivfSq8TopK(corpus, queries, k = 10,
        numCells = 8, nProbe = 2, shortlist = n)
      .orderBy(col("qid"), col("rank")).collect().toSeq
    val ivf = Similarity.ivfTopK(corpus, queries, k = 10,
        numCells = 8, nProbe = 2)
      .orderBy(col("qid"), col("rank")).collect().toSeq
    assert(composed == ivf, "wide-shortlist composition diverged from IVF")
    // the production shortlist (50) must recover nearly all of the
    // wide-shortlist result — SQ8 barely perturbs cosine order
    val narrow = Similarity.ivfSq8TopK(corpus, queries, k = 10,
        numCells = 8, nProbe = 2, shortlist = 50)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wide = composed.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (wide intersect narrow).size.toDouble / wide.size
    assert(recall > 0.9, s"narrow-shortlist recall $recall")
  }

  test("SQ8 store-backed index: narrow shortlist recovers the wide result") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val e = new graft.core.GraftEngine(spark,
      graft.core.TmpStores.dir("annsq8-spec").toString)
    val trained = Similarity.kmeansCentroids(corpus, k = 8, iters = 2)
    e.createStore("cent", Seq("cid"))
    e.push("cent", trained.select(col("id").as("cid"), col("vec").as("cvec")),
      numBuckets = 2)
    val cents = e.servingView("cent")
      .select(col("cid").as("id"), col("cvec").as("vec"))
    e.createStore("ivf8", Seq("cid"))
    e.push("ivf8", Similarity.ivfSq8IndexFrame(corpus, cents), numBuckets = 4)
    e.createStore("vecs", Seq("id"))
    e.push("vecs", corpus, numBuckets = 4)
    // wide shortlist ≡ the in-memory composition ≡ ivfTopK (plumbing pin)
    val wide = Similarity.probeIvfSq8Index(e, "ivf8", "cent", "vecs",
        queries, k = 10, nProbe = 2)
      .orderBy(col("qid"), col("rank")).collect().toSeq
    val ivf = Similarity.ivfTopK(corpus, queries, k = 10, numCells = 8,
        nProbe = 2)
      .orderBy(col("qid"), col("rank")).collect().toSeq
    assert(wide == ivf, "SQ8 store probe diverged from ivfTopK")
    // narrow production shortlist: near-total agreement, 5× fewer
    // value-store fetches per query
    val narrow = Similarity.probeIvfSq8Index(e, "ivf8", "cent", "vecs",
        queries, k = 10, nProbe = 2, shortlist = 50)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wideSet = wide.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (wideSet intersect narrow).size.toDouble / wideSet.size
    assert(recall > 0.9, s"narrow-shortlist recall $recall")
  }

  test("LSH ANN recall vs brute force is substantial at 4 bits") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(corpus, queries, 10)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(corpus, queries, 10, bits = 4, dim = 64)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // 4 bits ≈ 1/16 of the corpus scanned per query; random vectors give
    // modest recall — the point is the tradeoff works and is measurable.
    // Pinned: deterministic md5 planes + deterministic testdata ⇒ a change
    // in this number means the bucketing changed, not the data.
    assert(recall > 0.05, s"recall $recall")
    assert(approx.nonEmpty)
    // multi-probe (radius 1) scans (bits+1)/2^bits ≈ 5/16 of the corpus and
    // must strictly dominate single-probe recall on the same buckets
    val multi = Similarity.lshTopK(corpus, queries, 10, bits = 4, dim = 64,
        probeRadius = 1)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallMulti = (exact intersect multi).size.toDouble / exact.size
    assert(recallMulti >= recall, s"multi $recallMulti < single $recall")
    assert(recallMulti > 0.3, s"multi-probe recall $recallMulti")
  }

  test("lshCode fails loudly on a dimension mismatch") {
    // a silent mismatch would null every dot, zero every bit, and collapse
    // ALL rows into one bucket — quadratic candidates instead of an error
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    intercept[Exception] {
      Similarity.lshTopK(corpus, queries, 5, bits = 4, dim = 32).collect()
    }
  }

  test("blocked cosinePairs ≡ all-pairs result, with no cartesian node") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val blocked = Similarity.cosinePairs(corpus, 0.3, blocks = 4)
    val plan = blocked.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "blocked join must not be a cartesian")
    assert(!plan.contains("BroadcastNestedLoop"), "blocked join must not be a nested loop")
    // reference: the naive all-pairs formulation, inline
    val n = sqrt(graft.functions.VecDotExpr.vecDot(col("vec"), col("vec")))
    val withN = corpus.withColumn("__n", n)
    val a = withN.select(col("id").as("id_a"), col("vec").as("vec_a"), col("__n").as("n_a"))
    val b = withN.select(col("id").as("id_b"), col("vec").as("vec_b"), col("__n").as("n_b"))
    val naive = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("sim", round(graft.functions.VecDotExpr.vecDot(col("vec_a"), col("vec_b"))
        / (col("n_a") * col("n_b")), 6) + lit(0.0))
      .filter(col("sim") >= 0.3)
      .select("id_a", "id_b", "sim")
    val got = blocked.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = naive.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"blocked=${got.size} naive=${want.size}")
    assert(want.nonEmpty)
  }

  test("cosinePairs refuses corpus-scale input (exact-baseline guard)") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.cosinePairs(corpus, 0.3, maxExactRows = 10L)
    }
    assert(ex.getMessage.contains("lshCosinePairs"),
      s"guard message must point at the scale path: ${ex.getMessage}")
  }

  test("lshCosinePairs finds every planted near-dup (recall 1.0 at cos≥0.9)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val base = (0 until 200).map { i =>
      i.toLong -> Array.fill(64)(rnd.nextGaussian().toFloat)
    }
    // plant a near-dup of every 10th vector: tiny perturbation ⇒ cos ≈ 0.999
    val dups = base.grouped(10).map(_.head).map { case (id, v) =>
      (id + 1000L) -> v.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    }.toSeq
    val corpus = (base ++ dups).toDF("id", "vec")
    val got = Similarity.lshCosinePairs(corpus, 0.9, dim = 64)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = dups.map { case (did, _) => (did - 1000L, did) }.toSet
    assert(want.subsetOf(got), s"missed ${(want diff got).size} of ${want.size} planted dups")
    // and the candidate join is an equi-join, not a cartesian
    val plan = Similarity.lshCosinePairs(corpus, 0.9, dim = 64)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
  }

  test("ShingleSet expression ≡ array_distinct of the HOF shingles") {
    import graft.functions.{ShingleExpr, TextOps}
    val docs = Tables.documents(spark, sf)
    val both = docs.select(
      array_distinct(TextOps.shingles(col("text"), 3)).as("hof"),
      ShingleExpr.shingleSet(col("text"), 3).as("expr"))
    assert(both.filter(col("hof") =!= col("expr")).count() == 0)
    // edge cases: short docs, repeated shingles, multi-space runs
    import spark.implicits._
    val edge = Seq("", "one", "one two", "a b c a b c a b c",
      "  double  spaces   here x", "Mixed CASE mixed case MIXED case x y")
      .toDF("text")
    val eboth = edge.select(
      array_distinct(TextOps.shingles(col("text"), 3)).as("hof"),
      ShingleExpr.shingleSet(col("text"), 3).as("expr"))
    assert(eboth.filter(col("hof") =!= col("expr")).count() == 0)
  }

  test("TokenStats expression ≡ higher-order-function token stats") {
    import graft.functions.{TokenStatsExpr, TextOps}
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select(col("text"))
      .unionByName(Seq("", "the und la 的 xx", "  spaced   the  the ",
        "MIXED The AND Der").toDF("text"))
    val toks = TextOps.tokens(col("text"))
    val st = TokenStatsExpr.tokenStats(col("text"))
    val cmp = docs.select(
      (st.getField("n_tokens") === size(toks)).as("a"),
      (st.getField("n_long") ===
        size(filter(toks, t => length(t) >= 4))).as("b"),
      TextOps.langScoresFrom(toks).zip(Seq("s_de", "s_en", "s_es", "s_fr", "s_zh"))
        .map { case ((_, hof), f) => (st.getField(f) === hof) }
        .reduce(_ && _).as("c"))
    assert(cmp.filter(!col("a") || !col("b") || !col("c")).count() == 0)
  }

  test("MinHashSig expression ≡ higher-order-function signature") {
    import graft.functions.{MinHashExpr, TextOps}
    val docs = Tables.documents(spark, sf)
    val sh = Dedup.shingleSets(docs, "doc_id", "text", 3)
      .filter(size(col("shingles")) > 0)
    val both = sh.select(
      TextOps.minhashSignature(col("shingles"), 8).as("hof"),
      MinHashExpr.minhashSig(col("shingles"), 8).as("expr"))
    assert(both.filter(col("hof") =!= col("expr")).count() == 0)
  }

  test("ngram postings cap bounds hot-shingle buckets, output unchanged above true DF") {
    import spark.implicits._
    // 30 docs all sharing one hot shingle-source phrase + 3 true dup pairs
    val hot = "common boiler plate"
    val docs = ((0 until 30).map(i => (i.toLong, s"$hot unique$i token$i filler$i")) ++
      Seq((100L, "alpha beta gamma delta epsilon"), (101L, "alpha beta gamma delta epsilon"))).toDF("doc_id", "text")
    val sh = Dedup.shingleSets(docs, "doc_id", "text", 3)
    val uncapped = Dedup.ngramJaccardPairs(sh, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cap ABOVE any true near-dup cluster size (2) but BELOW the hot DF (30):
    // the quadratic hot bucket is gone, the true pair survives
    val capped = Dedup.ngramJaccardPairs(sh, 0.5, maxPostings = 5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((100L, 101L)))
    assert(uncapped.contains((100L, 101L)))
    // a generous cap (≥ max DF) reproduces the uncapped result exactly
    val generous = Dedup.ngramJaccardPairs(sh, 0.5, maxPostings = 1000)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(generous == uncapped)
  }

  test("IVF ANN covers a useful fraction of exact neighbors") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(corpus, queries, 10)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(corpus, queries, 10, numCells = 8, nProbe = 2)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    // 2/8 cells probed ⇒ ~25% of the corpus scanned; recall beats that
    assert(recall > 0.25, s"recall $recall")
    // k-means-trained centroids (the default) must not regress materially
    // against the raw deterministic sample
    val sampled = Similarity.ivfTopK(corpus, queries, 10, numCells = 8,
        nProbe = 2, trainIters = 0)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallSampled = (exact intersect sampled).size.toDouble / exact.size
    assert(recall >= recallSampled - 0.05,
      s"trained recall $recall < sampled $recallSampled - 0.05")
  }

  test("k-means sampled training: k centroids, deterministic, seeds kept") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val a = Similarity.kmeansCentroids(emb, k = 8, iters = 2,
      trainFraction = 0.2).orderBy("id").collect()
    assert(a.length == 8, s"expected 8 centroids, got ${a.length}")
    // reproducible: the sample is id-hash-keyed, not rand()
    val b = Similarity.kmeansCentroids(emb.repartition(7), k = 8, iters = 2,
      trainFraction = 0.2).orderBy("id").collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }

  test("k-means re-seeds emptied cells: always k centroids, even degenerate") {
    import spark.implicits._
    // two far-apart tight clumps + k=4 seeds (ids 0..3) that all sit inside
    // clump A: every vector assigns to one or two seeds, so at least one
    // cell MUST lose all members after the first Lloyd step
    val clumpA = (0L until 20L).map(i => (i, Seq(1.0, 0.0, 0.0 + i * 1e-4)))
    val clumpB = (20L until 40L).map(i => (i, Seq(0.0, 1.0, 0.0 + i * 1e-4)))
    val corpus = (clumpA ++ clumpB).toDF("id", "vec")
    val cents = Similarity.kmeansCentroids(corpus, k = 4, iters = 2).collect()
    assert(cents.length == 4, s"expected 4 centroids, got ${cents.length}")
    assert(cents.map(_.getLong(0)).toSet == Set(0L, 1L, 2L, 3L))
    // determinism: the re-seeded codebook is identical across runs
    val again = Similarity.kmeansCentroids(corpus, k = 4, iters = 2).collect()
    assert(cents.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("HLL approx distinct within Venice-like error bound") {
    val ev = Tables.events(spark, sf)
    val exact = ev.select(countDistinct(col("user_id"))).head.getLong(0)
    val approx = ev.select(approx_count_distinct(col("user_id"), 0.0115))
      .head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"exact=$exact approx=$approx")
  }

  test("CMS hot-key estimate never undercounts, bounded overcount") {
    val ev = Tables.events(spark, sf)
    val sketch = ev.stat.countMinSketch(col("user_id"), eps = 0.001,
      confidence = 0.99, seed = 42)
    val exact = ev.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    exact.foreach { case (k, c) =>
      val est = sketch.estimateCount(k)
      assert(est >= c, s"CMS undercounted $k")
      assert(est <= c + (0.001 * n).ceil.toLong + 1, s"CMS overcount $k: $est vs $c")
    }
  }

  test("simhashPairs64 banded join ≡ brute-force hamming≤3 over signatures") {
    import graft.functions.{SimHashExpr, TextOps}
    // completeness pin for the 4×16-bit banding pigeonhole: on the real
    // corpus, the band equi-join must return EXACTLY the pairs a full
    // all-pairs hamming scan finds at ≤ 3
    val docs = Tables.documents(spark, sf)
      .filter(size(TextOps.tokens(col("text"))) > 0)
    val sigs = docs.select(col("doc_id"),
      SimHashExpr.simhash64(TextOps.tokens(col("text"))).as("sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h)).toSet
    val banded = Dedup.simhashPairs64(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute, s"banded=${banded.size} brute=${brute.size}")
  }

  test("simhashPairs64 finds planted near-dups; hamming>3 banding refused") {
    import spark.implicits._
    // strongly-biased votes: the repeated phrase pins every bit at |Σ|≥19,
    // so a one-token change cannot flip any bit — the planted pair is a
    // deterministic hamming-0 catch; the unrelated doc must be absent
    val base = ("alpha beta gamma " * 20).trim
    val docs = Seq(
      (1L, s"$base delta"), (2L, s"$base epsilon"),
      (3L, "totally different content about weather patterns today"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs64(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    val ex = intercept[IllegalArgumentException] {
      Dedup.simhashPairs64(docs, "doc_id", "text", maxHamming = 4)
    }
    assert(ex.getMessage.contains("pigeonhole"))
  }

  test("ngramJaccardPairs refuses oversized input for its candidate budget") {
    import spark.implicits._
    val docs = (0 until 20).map(i => (i.toLong, s"doc number $i words here"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleSets(docs, "doc_id", "text", 3)
    // uncapped form + tiny pair budget → rowCap=√(2·10)=4 < 20 docs → refuse
    val ex = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(sh, 0.5, maxCandidatePairs = 10L)
    }
    assert(ex.getMessage.contains("dedup_ngram_capped"),
      s"guard message must point at the production path: ${ex.getMessage}")
    // the production DF-capped form admits the same input under the same
    // budget: rowCap scales to 2·budget/maxPostings
    assert(Dedup.ngramJaccardPairs(sh, 0.5, maxPostings = 2,
      maxCandidatePairs = 100L).count() >= 0)
  }

  test("simhashPairs (16-bit) refuses oversized input for its pair budget") {
    import spark.implicits._
    val docs = (0 until 20).map(i => (i.toLong, s"doc number $i words here"))
      .toDF("doc_id", "text")
    // rowCap = √100 = 10 < 20 docs → refuse, pointing at the scale path
    val ex = intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, "doc_id", "text", maxCandidatePairs = 100L)
    }
    assert(ex.getMessage.contains("simhashPairs64"),
      s"guard message must point at the production path: ${ex.getMessage}")
    // in-budget input still runs under the default budget
    assert(Dedup.simhashPairs(docs, "doc_id", "text").count() >= 0)
  }

  test("SimHash16 expression ≡ higher-order-function formulation") {
    import graft.functions.{SimHashExpr, TextOps}
    val docs = Tables.documents(spark, sf)
    val both = docs.select(
      TextOps.simhash16(col("text")).as("hof"),
      SimHashExpr.simhash16(TextOps.tokens(col("text"))).as("expr"))
    assert(both.filter(col("hof") =!= col("expr")).count() == 0)
  }

  test("vecDotFloat reproduces reference-style float accumulation exactly") {
    import graft.functions.VecDotExpr
    val emb = Tables.embeddings(spark, sf).limit(50)
    val p = (0 until 64).map(i => ((i * 37) % 19 - 9) / 10.0f)
    val got = emb.select(col("vec_id"),
      VecDotExpr.vecDotFloat(col("embedding"),
        typedLit(p.map(_.toDouble))).as("dot"))
      .collect().map(r => r.getLong(0) -> r.getFloat(1)).toMap
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Float]]("embedding")).toMap
    vecs.foreach { case (id, v) =>
      // the reference kernel: float multiply, float accumulate, in order
      var acc = 0.0f
      v.indices.foreach(i => acc += v(i) * p(i))
      assert(got(id) == acc, s"vec $id: ${got(id)} vs $acc")
    }
  }

  test("multimodal stub decode round-trips deterministically") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.asMedia(docs, "doc_id", "text")
    val decoded = Multimodal.decode(media).toDF()
    assert(decoded.count() == docs.count())
    val d = decoded.filter(col("media_id") === 0).head
    assert(d.getAs[String]("content_hash").length == 32)
    assert(d.getAs[Int]("width") >= 64 && d.getAs[Int]("width") < 256)
    // deterministic: decoding twice gives identical rows
    val again = Multimodal.decode(media).toDF()
    assert(decoded.exceptAll(again).count() == 0)
  }

  test("frame sampling splits payloads without losing bytes") {
    val docs = Tables.documents(spark, sf).limit(20)
    val media = Multimodal.asMedia(docs, "doc_id", "text")
    val frames = Multimodal.frameSample(media, 4)
    val reassembled = frames
      .groupBy("media_id")
      .agg(sum(octet_length(col("frame_bytes"))).as("total"))
    val orig = media.select(col("media_id"),
      octet_length(col("payload")).cast("long").as("orig"))
    val joined = reassembled.join(orig, "media_id")
      .filter(col("total") =!= col("orig"))
    assert(joined.count() == 0)
  }

  test("minhash LSH candidates superset-match exact jaccard pairs at 0.5") {
    val docs = Tables.documents(spark, sf)
    val sh = Dedup.shingleSets(docs, "doc_id", "text", 3)
    val exact = Dedup.ngramJaccardPairs(sh, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.jaccardVerify(Dedup.minhashCandidates(sh, 8, 4), sh, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // banded minhash may miss pairs (probabilistic), but on this corpus the
    // near-dups are high-jaccard and all surface; verify containment
    assert(lsh.subsetOf(exact))
    assert(exact.nonEmpty ==> lsh.nonEmpty)
  }

  test("duplicate clusters: components from planted pairs, incl. a chain") {
    import spark.implicits._
    // components: {1,2,3} (triangle-ish), {10,11} (pair),
    // {100..199} (a 100-node chain — exercises pointer jumping: naive
    // propagation needs 99 rounds; log-rounds must still get min=100)
    val chain = (100L until 199L).map(i => (i, i + 1))
    val pairs = (Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++ chain)
      .toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(got(10L) == 10L && got(11L) == 10L)
    assert((100L to 199L).forall(got(_) == 100L))
    assert(got.size == 3 + 2 + 100)
  }

  test("duplicate clusters agree with brute-force components on real pairs") {
    val docs = Tables.documents(spark, sf)
    val sh = Dedup.shingleSets(docs, "doc_id", "text", 3)
    val pairs = Dedup.jaccardVerify(Dedup.minhashCandidates(sh, 8, 4), sh, 0.5)
    val edges = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // driver-side union-find as the oracle-of-the-test
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(k => k -> find(k)).toMap
    val got = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("PII redaction scrubs urls, emails and phones with exact counts") {
    import spark.implicits._
    val df = Seq(
      "see https://a.example/x?q=1 or mail bob@corp.example.org now",
      "call +1 (555) 010-4242 or 555 010 9999 today",
      "no pii here at all").toDF("text")
    val got = df.select(graft.functions.TextOps.redactPii(col("text")).as("p"))
      .select("p.redacted", "p.n_urls", "p.n_emails", "p.n_phones")
      .as[(String, Int, Int, Int)].collect().toSeq
    assert(got(0) == ("see <URL> or mail <EMAIL> now", 1, 1, 0))
    assert(got(1) == ("call <PHONE> or <PHONE> today", 0, 0, 2))
    assert(got(2) == ("no pii here at all", 0, 0, 0))
  }

  test("deterministic split: stable, id-keyed, roughly 80/10/10") {
    import spark.implicits._
    val ids = (0L until 10000L).toDF("id")
    val counts = ids.select(graft.functions.TextOps.splitAssign(col("id")).as("s"))
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("train") - 8000L) < 300)
    assert(math.abs(counts("val") - 1000L) < 150)
    assert(math.abs(counts("test") - 1000L) < 150)
    // determinism: same assignment under a different row order/partitioning
    val a = ids.select(col("id"), graft.functions.TextOps.splitAssign(col("id")).as("s"))
    val b = ids.orderBy(col("id").desc).repartition(17)
      .select(col("id"), graft.functions.TextOps.splitAssign(col("id")).as("s"))
    assert(a.exceptAll(b).count() == 0)
  }

  test("contamination: planted eval leak found, clean docs score zero") {
    import spark.implicits._
    val evalDoc = "the quick brown fox jumps over the lazy dog"
    val docs = Seq(
      (1L, evalDoc),                                      // the eval doc
      (100L, s"prefix words here $evalDoc and a suffix"), // verbatim leak
      (101L, "totally unrelated content about spark engines"),
      (102L, "the quick brown fox stops")                 // partial overlap
    ).toDF("doc_id", "text")
    val sh = Dedup.shingleSets(docs, "doc_id", "text", 3)
    val got = Dedup.contamination(
      sh.filter(col("id") >= 100), sh.filter(col("id") < 100), 0.9)
      .orderBy(col("train_id"))
      .collect()
    // doc 100 contains every eval shingle → overlap 1.0, contaminated
    assert(got(0).getLong(0) == 100L && got(0).getDouble(2) == 1.0
      && got(0).getBoolean(3))
    // doc 101 shares nothing: null eval id, overlap 0, clean
    assert(got(1).getLong(0) == 101L && got(1).isNullAt(1)
      && got(1).getDouble(2) == 0.0 && !got(1).getBoolean(3))
    // doc 102 shares exactly two of the 7 eval shingles
    // ("the quick brown", "quick brown fox")
    assert(got(2).getLong(0) == 102L
      && math.abs(got(2).getDouble(2) - 2.0 / 7) < 1e-4 && !got(2).getBoolean(3))
  }

  test("stratified sample: per-stratum rates hit, deterministic") {
    import spark.implicits._
    import graft.operators.Sampling
    val rows = (0L until 6000L).map(i => (i, if (i % 3 == 0) "en" else "de"))
      .toDF("id", "lang")
    val kept = Sampling.stratifiedSample(rows, col("lang"), col("id"),
      Map("en" -> 25), defaultPct = 75).persist()
    val byLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(byLang("en") - 500L) < 120, s"en: ${byLang("en")}")   // 2000*0.25
    assert(math.abs(byLang("de") - 3000L) < 250, s"de: ${byLang("de")}")  // 4000*0.75
    // membership is a pure function of (salt, id, lang) — row order immaterial
    val again = Sampling.stratifiedSample(rows.orderBy(col("id").desc)
      .repartition(13), col("lang"), col("id"), Map("en" -> 25), 75)
    assert(kept.exceptAll(again).count() == 0
      && again.exceptAll(kept).count() == 0)
    kept.unpersist()
  }

  test("token-budget mix: per-group running sum never exceeds the budget") {
    import spark.implicits._
    import graft.operators.Sampling
    val docs = (0L until 400L)
      .map(i => (i, if (i % 2 == 0) "a" else "b",
        ("w " * (i % 30 + 1).toInt).trim))
      .toDF("id", "grp", "text")
    val got = Sampling.tokenBudgetSample(docs, "grp", "id",
      graft.functions.TextOps.tokenCount(col("text")), budgetTokens = 500L)
      .persist()
    val maxCum = got.groupBy("grp").agg(max("cum_tokens").as("m"))
      .collect().map(_.getLong(1))
    assert(maxCum.forall(_ <= 500L), s"budget exceeded: ${maxCum.toSeq}")
    // the cut is tight: admitting the NEXT doc in hash order would overflow
    // (so the sampler is maximal for truncation semantics), and both groups
    // admitted something
    assert(got.groupBy("grp").count().count() == 2)
    // deterministic under reordering
    val again = Sampling.tokenBudgetSample(docs.repartition(7), "grp", "id",
      graft.functions.TextOps.tokenCount(col("text")), budgetTokens = 500L)
    assert(got.exceptAll(again).count() == 0)
    got.unpersist()
  }

  test("temperature mix: smallest group keeps all, big group near sqrt rate") {
    import spark.implicits._
    import graft.operators.Sampling
    // 100 docs of 'rare', 400 of 'big' → rates 1.0 and sqrt(1/4) = 0.5
    val docs = (0L until 500L)
      .map(i => (i, if (i < 100) "rare" else "big")).toDF("id", "grp")
    val got = Sampling.temperatureSample(docs, "grp", col("id")).persist()
    val rates = got.groupBy("grp").agg(max("rate").as("r"), min("rate").as("r2"),
      sum(when(col("kept"), 1).otherwise(0)).as("k"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toMap
    assert(rates("rare") == (1.0, 1.0, 100L, 100L), s"rare: ${rates("rare")}")
    val (bigR, bigR2, bigKept, bigN) = rates("big")
    assert(bigR == 0.5 && bigR2 == 0.5)
    assert(bigKept > (0.35 * bigN) && bigKept < (0.65 * bigN),
      s"big kept $bigKept of $bigN at rate 0.5")
    // deterministic under reordering/partitioning
    val again = Sampling.temperatureSample(docs.repartition(7), "grp", col("id"))
    assert(got.select("id", "kept").exceptAll(again.select("id", "kept"))
      .count() == 0)
    got.unpersist()
  }

  test("semdedup: planted duplicates collapse to the smallest id in-cell") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    // plant: copies of vector 20 under fresh ids (identical vectors tie on
    // every centroid similarity and tie-break identically → same cell, so
    // the in-cell pass MUST catch them)
    val maxId = emb.agg(max("id")).head().getLong(0)
    val copies = emb.filter(col("id") === 20L)
      .withColumn("id", lit(maxId + 1))
      .unionByName(emb.filter(col("id") === 20L)
        .withColumn("id", lit(maxId + 2)))
    val got = Similarity.semDedup(emb.unionByName(copies),
        threshold = 0.95, numCells = 8)
      .filter(col("vec_id").isin(20L, maxId + 1, maxId + 2))
      .orderBy(col("vec_id")).collect()
    assert(got.length == 3)
    val keeper = got(0)
    assert(!keeper.getBoolean(3), "smallest id must be kept")
    assert(got.drop(1).forall(r => r.getBoolean(3) && r.getLong(2) == 20L),
      s"planted copies must point at 20: ${got.toSeq}")
  }

  test("semdedup incremental: corpus never scored, asymmetric keeper rules") {
    import spark.implicits._
    import graft.operators.Similarity
    val corpus = Seq(
      (0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0)),
      (5L, Seq(0.0, 3.0, 3.0))).toDF("id", "vec")
    val batch = Seq(
      (2L, Seq(0.0, 3.0, 3.0)),  // copy of corpus 5 at a SMALLER id
      (4L, Seq(1.0, -1.0, 0.0)), // no >= 0.95 neighbor anywhere
      (8L, Seq(0.0, 0.0, 7.0)),  // within-batch identical pair:
      (9L, Seq(0.0, 0.0, 7.0))). //   smallest batch id is the keeper
      toDF("id", "vec")
    val got = Similarity.semDedupIncremental(corpus, batch,
        threshold = 0.95, numCells = 2)
      .orderBy("vec_id").select("vec_id", "dup_of", "is_dup")
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]), r.getBoolean(2))).toSeq
    assert(got == Seq(
      (2L, Some(5L), true), // accepted-corpus keeper wins despite 5 > 2
      (4L, None, false),
      (8L, None, false),
      (9L, Some(8L), true)), s"got $got")
  }

  test("recallAtK: perfect overlap = 1.0, zero-overlap qid kept at 0") {
    import spark.implicits._
    import graft.operators.Similarity
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L), (3L, 30L),
      (3L, 31L)).toDF("qid", "id")
    // qid 1: full overlap; qid 2: half; qid 3: none (must not drop)
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 99L), (3L, 98L),
      (3L, 97L)).toDF("qid", "id")
    val got = Similarity.recallAtK(exact, approx, k = 2)
      .orderBy("qid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 2L, 1.0), (2L, 1L, 0.5), (3L, 0L, 0.0)),
      s"got $got")
  }

  test("packBinsWholeDoc: capacity law, partition invariance, " +
      "out-of-range pieces dropped") {
    import spark.implicits._
    import graft.operators.Packing
    val pieces = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L), (5L, 10L),
      (6L, 10L), (7L, 10L), (8L, 32L), (9L, 32L), (10L, 32L),
      (11L, 0L), (12L, 65L)).toDF("piece_id", "n_tokens")
    def run(parts: Int) = Packing
      .packBinsWholeDoc(pieces.repartition(parts), "piece_id", "n_tokens", 64)
      .orderBy("piece_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val got = run(3)
    // len 10 → 6 per bin: pieces 1..6 fill bin 0, piece 7 opens bin 1;
    // len 32 → 2 per bin: 8,9 in bin 0, 10 in bin 1; 0- and 65-token
    // pieces dropped (chunk first)
    assert(got == Seq(
      (1L, 10L, 6L, 0L, 0L), (2L, 10L, 6L, 0L, 1L), (3L, 10L, 6L, 0L, 2L),
      (4L, 10L, 6L, 0L, 3L), (5L, 10L, 6L, 0L, 4L), (6L, 10L, 6L, 0L, 5L),
      (7L, 10L, 6L, 1L, 0L),
      (8L, 32L, 2L, 0L, 0L), (9L, 32L, 2L, 0L, 1L), (10L, 32L, 2L, 1L, 0L)),
      s"got $got")
    assert(run(1) == got && run(7) == got,
      "bin assignment must be partition-count invariant")
  }

  test("packing: offsets exact, partition-count-invariant, zero-weight safe") {
    import spark.implicits._
    import graft.operators.Packing
    // weights with a zero and a null mixed in; ids deliberately unsorted
    val rows = Seq((5L, 10L), (1L, 3L), (3L, 0L), (2L, 7L), (4L, -0L + 5L))
      .toDF("id", "w").withColumn("w",
        when(col("id") === 3L, lit(null)).otherwise(col("w")))
    val got = Packing.withGlobalOffsets(rows, "id", "w", numParts = 3)
      .orderBy("id").select("id", "start_offset").as[(Long, Long)]
      .collect().toSeq
    // sorted by id: w = 3, 7, null→0, 5, 10 → offsets 0, 3, 10, 10, 15
    assert(got == Seq((1L, 0L), (2L, 3L), (3L, 10L), (4L, 10L), (5L, 15L)))
    // invariant to partitioning choice
    val again = Packing.withGlobalOffsets(rows.repartition(7), "id", "w",
      numParts = 1).orderBy("id").select("id", "start_offset")
      .as[(Long, Long)].collect().toSeq
    assert(again == got)
    // sequence spans: doc straddling a boundary counts both sides
    val packed = Packing.packSequences(rows, "id", "w", seqLen = 8L,
        numParts = 2)
      .orderBy("id").select("id", "first_seq", "last_seq", "n_seqs")
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3))).toSeq
    assert(packed == Seq(
      (1L, Some(0L), Some(0L), 1L),   // [0,3) in seq 0
      (2L, Some(0L), Some(1L), 2L),   // [3,10) straddles 0→1
      (3L, None, None, 0L),           // zero tokens: no sequence
      (4L, Some(1L), Some(1L), 1L),   // [10,15) in seq 1
      (5L, Some(1L), Some(3L), 3L)))  // [15,25) spans 1..3
    // empty input: no partitions, no bases — must return empty, not throw
    assert(Packing.withGlobalOffsets(rows.filter(col("id") < 0), "id", "w")
      .count() == 0)
  }

  test("packMaskSpans: spans tile every full sequence and cover each doc") {
    import spark.implicits._
    import graft.operators.Packing
    val rows = Seq((5L, 10L), (1L, 3L), (3L, 0L), (2L, 7L), (4L, 5L))
      .toDF("id", "w")
    val spans = Packing.packMaskSpans(rows, "id", "w", seqLen = 8L,
        numParts = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    // per-doc coverage: span lengths sum to the doc's weight
    val perDoc = spans.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap
    assert(perDoc == Map(1L -> 3L, 2L -> 7L, 4L -> 5L, 5L -> 10L),
      s"doc coverage broken: $perDoc")
    // per-sequence tiling: total = 25 tokens → seqs 0..2 full (8 each),
    // seq 3 holds the 1-token tail; spans within a sequence are disjoint
    // and start at the previous span's end
    val perSeq = spans.groupBy(_._1).view
      .mapValues(_.sortBy(_._3)).toMap
    assert(perSeq.keySet == Set(0L, 1L, 2L, 3L))
    perSeq.foreach { case (seq, ss) =>
      val expected = if (seq == 3L) 1L else 8L
      assert(ss.map(_._4).sum == expected, s"seq $seq not tiled: $ss")
      ss.foldLeft(0L) { case (pos, (_, _, start, len)) =>
        assert(start == pos, s"seq $seq gap at $start (expected $pos)")
        assert(len > 0, s"seq $seq empty span")
        start + len
      }
    }
  }

  test("winnowing: shared passage guarantees a shared fingerprint") {
    import spark.implicits._
    import graft.functions.TextOps
    // guarantee: any shared run of w+k-1 = 6 tokens ⇒ ≥1 common fingerprint
    val passage = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"one two three $passage four five six"),
      (2L, s"$passage entirely different tail words here"),
      (3L, "no overlap with anything else at all"),
      (4L, "ti ny")) // < k tokens → empty fingerprint set
      .toDF("doc_id", "text")
    val fps = docs.select(col("doc_id"),
      TextOps.winnowFingerprints(col("text"), 3, 4).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1) intersect fps(2)).nonEmpty, "shared passage missed")
    assert((fps(1) intersect fps(3)).isEmpty && (fps(2) intersect fps(3)).isEmpty)
    assert(fps(4).isEmpty)
    // sketch is sub-linear: ≤ #windows, and windows ≤ #grams
    val n1 = docs.filter(col("doc_id") === 1)
      .select(size(TextOps.tokens(col("text")))).head().getInt(0)
    assert(fps(1).size <= n1 - 3 + 1)
  }

  test("repetition metrics: degenerate docs and a planted loop") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"),      // one token repeated
      (2L, "all distinct words in this doc"),     // fully distinct
      (3L, "single"),                             // 1 token: no bigrams
      (4L, "go stop go stop go stop go stop"))    // repeated bigram loop
      .toDF("doc_id", "text")
    // the registered query reads a table dir; pin the same bigram shape
    // inline on planted docs (the dir-level query is oracle-checked)
    val base = docs.select(col("doc_id"),
      graft.functions.TextOps.tokens(col("text")).as("t"))
      .withColumn("n_tokens", size(col("t")))
    val bg = base.filter(col("n_tokens") >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bg(1L) == 5L)        // "spam spam" x5
    assert(bg(2L) == 1L)        // no repeated bigram
    assert(!bg.contains(3L))    // 1 token -> no bigram rows
    assert(bg(4L) == 4L)        // "go stop" x4 beats "stop go" x3
  }

  test("corpus shuffle: exact permutation, partition-invariant, seed-keyed") {
    import spark.implicits._
    import graft.operators.Packing
    val df = (0L until 100L).toDF("id")
    val a = Packing.globalShuffleOrder(df, "id", seed = 7L, shardSize = 16L,
      numParts = 5)
    assert(a.select("position").as[Long].collect().sorted.toSeq
      == (0L until 100L), "positions must be exactly 0..n-1")
    // invariant to input partitioning and prefix-sum partition count
    val b = Packing.globalShuffleOrder(df.repartition(13), "id", seed = 7L,
      shardSize = 16L, numParts = 2)
    assert(a.select("id", "position").except(b.select("id", "position"))
      .count() == 0)
    // shard is position div shardSize
    assert(a.filter(col("shard") =!= expr("position div 16L")).count() == 0)
    // a different seed reorders (some id must move)
    val c = Packing.globalShuffleOrder(df, "id", seed = 8L, shardSize = 16L)
    val moved = a.select(col("id"), col("position").as("pa"))
      .join(c.select(col("id"), col("position").as("pc")), "id")
      .filter(col("pa") =!= col("pc")).count()
    assert(moved > 0, "seed change must permute")
    // the hash order is NOT the id order (it actually shuffles)
    assert(a.filter(col("position") === col("id")).count() < 100)
  }

  test("exact-k sampling: k per big group, all of a small group, deterministic") {
    import spark.implicits._
    import graft.operators.Sampling
    val df = ((1 to 50).map(i => (i.toLong, "big")) ++
      Seq((100L, "small"), (101L, "small"))).toDF("id", "g")
    val got = Sampling.exactKPerGroup(df, col("g"), col("id"), k = 10)
    val counts = got.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("big" -> 10L, "small" -> 2L))
    // deterministic: same call, same members
    val again = Sampling.exactKPerGroup(df.repartition(7), col("g"),
      col("id"), k = 10)
    assert(got.select("id").except(again.select("id")).count() == 0)
  }

  test("incremental dedup: corpus hits, in-batch dups, clean rows") {
    import spark.implicits._
    val corpus = Seq((1L, "seen before"), (2L, "old news")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "  SEEN   before "),  // normalized dup of corpus doc 1
      (11L, "fresh thing"),
      (12L, "fresh thing"),       // in-batch dup of 11
      (13L, "unique")).toDF("doc_id", "text")
    val got = graft.operators.Dedup.incrementalExact(corpus, batch,
      "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getBoolean(2), r.getBoolean(3)))
      .toMap
    assert(got == Map(
      10L -> ((true, false)),
      11L -> ((false, false)),
      12L -> ((false, true)),
      13L -> ((false, false))))
  }

  test("audio resample: integer-exact sample math, stub truncation") {
    import spark.implicits._
    val docs = Seq((1L, "x" * 100), (2L, "y")).toDF("doc_id", "text")
    val out = Multimodal.resampleAudio(
      Multimodal.asMedia(docs, "doc_id", "text"), targetRate = 16000)
      .select("media_id", "n_bytes", "n_samples", "src_rate", "duration_us",
        "out_samples", "out_bytes", "resampled")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getLong(2) == 50L, "100 bytes = 50 PCM16 samples")
    val rate = r1.getInt(3)
    assert(Multimodal.AudioRates.contains(rate))
    assert(r1.getLong(4) == 50L * 1000000L / rate, "integer-floor duration")
    assert(r1.getLong(5) == 50L * 16000L / rate, "integer-floor resample count")
    assert(r1.getAs[Array[Byte]](7).length ==
      math.min(r1.getLong(6), r1.getLong(1)).toInt,
      "stub keeps min(out_bytes, n_bytes) bytes")
    // 1-byte payload: 0 samples, 0 duration — no div-by-zero, no negatives
    val r2 = out(2L)
    assert(r2.getLong(2) == 0L && r2.getLong(4) == 0L && r2.getLong(5) == 0L)
  }

  test("chunkTokens: boundary math, overlap, short tail, empty docs") {
    import spark.implicits._
    // 10 tokens, chunkLen 4, stride 3 → starts 0,3,6,9 (⌊9/3⌋+1 = 4 chunks)
    val docs = Seq(
      (1L, (0 until 10).map(i => s"t$i").mkString(" ")),
      (2L, "a b c"),    // single short chunk
      (3L, ""),         // no tokens → no rows
      (4L, "   ")).toDF("doc_id", "text")
    val out = graft.operators.Packing
      .chunkTokens(docs, "doc_id", "text", chunkLen = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getInt(2), r.getString(3)))).toMap
    assert(out.keys.count(_._1 == 1L) == 4)
    assert(out((1L, 0)) == ((4, "t0 t1 t2 t3")))
    assert(out((1L, 1)) == ((4, "t3 t4 t5 t6")), "stride<len overlaps by 1")
    assert(out((1L, 3)) == ((1, "t9")), "short tail chunk kept")
    assert(out((2L, 0)) == ((3, "a b c")))
    assert(!out.keys.exists(k => k._1 == 3L || k._1 == 4L), "empty docs emit nothing")
    // stride == chunkLen → exact partition of the token sequence
    val exact = graft.operators.Packing
      .chunkTokens(docs.filter(col("doc_id") === 1L), "doc_id", "text", 5, 5)
      .orderBy("chunk_no").collect()
    assert(exact.map(_.getString(3)).mkString(" ") ==
      (0 until 10).map(i => s"t$i").mkString(" "),
      "non-overlapping chunks reassemble the document")
  }

  test("vocab topK tie-break and oovAudit exact integer rates") {
    import spark.implicits._
    // b and c tie at 2 occurrences → token-asc keeps b at rank 2, c cut
    val docs = Seq(
      (1L, "a a a b"), (2L, "b c"), (3L, "c d"), (4L, "")).toDF("doc_id", "text")
    val v = graft.operators.Vocab.topK(docs, "text", 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(v.toSeq == Seq(("a", 3L, 1), ("b", 2L, 2)))
    val audit = graft.operators.Vocab.oovAudit(docs, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(audit(1L) == ((4L, 0L, 0L)))
    assert(audit(2L) == ((2L, 1L, 500000L)), "1/2 OOV = 500000 ppm exactly")
    assert(audit(3L) == ((2L, 2L, 1000000L)), "all-OOV doc = 1e6 ppm")
    assert(!audit.contains(4L), "tokenless doc emits no audit row")
  }

  test("hardNegatives: never same-label, ranked by sim, matches filtered brute force") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.select(col("vec_id").as("id"),
      col("embedding").as("vec"), col("label"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("qlabel"))
    val hn = Similarity.hardNegatives(corpus, queries, 5)
    assert(hn.filter(col("label") === col("qlabel")).count() == 0)
    val rows = hn.collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3),
      r.getDouble(5)))
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1 to byRank.length),
        "ranks are dense from 1")
      assert(byRank.sliding(2).forall(w =>
        w.length < 2 || w(0)._4 >= w(1)._4),
        "similarity non-increasing in rank")
    }
    // equivalence: brute-force top-k over the label-filtered corpus, per query
    val qs = queries.collect()
    qs.take(3).foreach { q =>
      val qid = q.getLong(0)
      val expect = Similarity.bruteForceTopK(
        corpus.filter(col("label") =!= q.getInt(2)).select("id", "vec"),
        queries.filter(col("qid") === qid).select("qid", "qvec"), 5)
        .collect().map(r => (r.getInt(1), r.getLong(2))).toSet
      val got = rows.filter(_._1 == qid).map(r => (r._2, r._3)).toSet
      assert(got == expect, s"qid=$qid differs from filtered brute force")
    }
  }

  private implicit class BoolOps(b: Boolean) {
    def ==>(other: Boolean): Boolean = !b || other
  }

  test("bloom filter: zero false negatives, bitmap ≡ position-set membership") {
    import spark.implicits._
    import graft.operators.Bloom
    val entries = (0 until 200).map(i => s"entry-$i").toDF("e")
    val bitmap = Bloom.build(entries, col("e"), k = 3, mBits = 1024)
    // every inserted entry MUST test positive (the bloom guarantee)
    val onInserted = Bloom.withMightContain(entries, col("e"), bitmap, "hit")
    assert(onInserted.filter(!col("hit")).count() == 0, "false negative")
    // bitmap probing must agree with the raw position-set view the DuckDB
    // oracle uses (packing into longs is semantics-preserving)
    val setBits = entries
      .select(explode(array(Bloom.positions(col("e"), 3, 1024): _*)).as("p"))
      .distinct().as[Long].collect().toSet
    val probe = (10000 until 10500).map(i => s"other-$i").toDF("e")
    val viaBitmap = Bloom.withMightContain(probe, col("e"), bitmap, "hit")
      .filter(col("hit")).as[(String, Boolean)].collect().map(_._1).toSet
    val viaSet = probe
      .withColumn("ps", array(Bloom.positions(col("e"), 3, 1024): _*))
      .as[(String, Seq[Long])].collect()
      .filter(_._2.forall(setBits)).map(_._1).toSet
    assert(viaBitmap == viaSet)
    // 200 entries × 3 probes in 1024 bits ⇒ some false positives are
    // expected on 500 non-members (≈18% per-doc rate) — assert the test is
    // actually exercising a non-trivial bitmap, not a degenerate all-ones
    // or all-zeros one
    assert(viaBitmap.nonEmpty && viaBitmap.size < 500)
  }

  test("bloom membership is a narrow plan: no join, no shuffle") {
    import spark.implicits._
    import graft.operators.Bloom
    val entries = (0 until 50).map(i => s"e$i").toDF("e")
    val bitmap = Bloom.build(entries, col("e"), k = 3, mBits = 1024)
    val plan = Bloom.withMightContain(entries, col("e"), bitmap, "hit")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"membership must not join:\n$plan")
    assert(!plan.contains("Exchange"), s"membership must not shuffle:\n$plan")
  }

  test("spanDedup: duplicated spans removed once, unique text intact") {
    import spark.implicits._
    // doc 0: ten unique tokens (one span). doc 1: the SAME ten tokens
    // (pure duplicate — zero kept spans). doc 2: doc 0's span followed by
    // ten fresh tokens (keeps only the second span). doc 3: entirely
    // fresh 7 tokens (short tail span, kept whole).
    val s0 = (1 to 10).map(i => s"tok$i").mkString(" ")
    val s2 = (11 to 20).map(i => s"tok$i").mkString(" ")
    val s3 = (21 to 27).map(i => s"tok$i").mkString(" ")
    val docs = Seq((0L, s0), (1L, s0), (2L, s0 + " " + s2), (3L, s3))
      .toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "doc_id", "text", 10)
      .orderBy("doc_id")
      .select("doc_id", "n_spans", "kept_spans", "out_md5")
      .as[(Long, Long, Long, String)].collect()
    assert(out.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq((0L, 1L, 1L), (1L, 1L, 0L), (2L, 2L, 1L), (3L, 1L, 1L)))
    def md5Hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // reassembled text: doc 0 keeps its span, doc 1 reassembles to empty,
    // doc 2 keeps only its second span
    assert(out(0)._4 == md5Hex(s0))
    assert(out(1)._4 == md5Hex(""))
    assert(out(2)._4 == md5Hex(s2))
    assert(out(3)._4 == md5Hex(s3))
    // corpus-level invariant: kept spans ≡ distinct span fingerprints
    val corpus = Tables.load(spark, sf, "documents")
    val full = Dedup.spanDedup(corpus, "doc_id", "text", 10)
    val kept = full.agg(sum("kept_spans")).head().getLong(0)
    val distinctSpans = corpus
      .select(graft.functions.TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .select(explode(transform(
        sequence(lit(0), floor((size(col("t")) + 9) / lit(10)).cast("int") - 1),
        i => concat_ws(" ", slice(col("t"), i * 10 + 1, lit(10))))).as("span"))
      .select(md5(col("span"))).distinct().count()
    assert(kept == distinctSpans,
      s"kept $kept != distinct spans $distinctSpans")
  }

  test("span corruption: sentinel reassembly reconstructs every doc") {
    val out = Queries.byName("span_corrupt").fn(spark, sf).collect()
    assert(out.nonEmpty)
    val original = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        concat_ws(" ", graft.functions.TextOps.tokens(col("text"))).as("norm"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    var sawMask = false
    out.foreach { r =>
      val (docId, nMasked) = (r.getAs[Long]("doc_id"), r.getAs[Long]("n_masked"))
      val input = r.getAs[String]("input_text")
      val target = r.getAs[String]("target_text")
      // target parses as <extra_id_0> span0 <extra_id_1> span1 ... in order
      val sent = "<extra_id_(\\d+)>".r
      val ids = sent.findAllMatchIn(target).map(_.group(1).toInt).toSeq
      assert(ids == (0 until nMasked.toInt), s"doc $docId sentinel order: $ids")
      val spans = sent.split(target).map(_.trim).filter(_.nonEmpty)
      assert(spans.length == nMasked, s"doc $docId span count")
      // splice each span back over its sentinel → the normalized original
      val rebuilt = ids.zip(spans).foldLeft(input) { case (acc, (k, sp)) =>
        acc.replace(s"<extra_id_$k>", sp)
      }
      assert(rebuilt == original(docId), s"doc $docId reassembly mismatch")
      if (nMasked > 0) sawMask = true
    }
    assert(sawMask, "no doc had any masked span — mask rate broken")
  }

  test("BPE training: textbook vocab yields the classic merge sequence " +
      "and step 2 picks a pair containing step 1's merged symbol") {
    import spark.implicits._
    import graft.operators.Bpe
    val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L),
      ("widest", 3L)).toDF("word", "f")
    val (merges, vocab) = Bpe.trainMerges(spark, words, steps = 3)
    // step 1: "e s" and "s t" tie at 9 — lex-smaller "e s" wins;
    // step 2: "es t" (9) CONTAINS the new symbol; step 3: "l o"/"o w"
    // tie at 7 — lex-smaller "l o" wins
    assert(merges.map(m => (m.step, m.pair, m.count)) == Seq(
      (1, "e s", 9L), (2, "es t", 9L), (3, "l o", 7L)))
    val sym = vocab.collect().map(r =>
      r.getAs[String]("word") -> r.getAs[String]("sym")).toMap
    assert(sym("newest") == " n e w est ")
    assert(sym("low") == " lo w ")
    vocab.unpersist()
  }

  test("BPE batched training: disjoint picks match sequential; conflicts defer") {
    import spark.implicits._
    import graft.operators.Bpe
    // disjoint top pairs: batch=2 must equal the sequential merge list
    val disjoint = Seq(("ab", 10L), ("cd", 9L), ("ef", 8L)).toDF("word", "f")
    val seqM = Bpe.trainMerges(spark, disjoint, steps = 3)._1
    val batM = Bpe.trainMerges(spark, disjoint, steps = 3, batch = 2)._1
    assert(seqM.map(m => (m.step, m.pair, m.count)) ==
      batM.map(m => (m.step, m.pair, m.count)))
    // conflicting pairs ("a b" and "b c" share b): the batch defers the
    // conflict to the next recount — identical to sequential here too
    val conflict = Seq(("abc", 10L)).toDF("word", "f")
    val seqC = Bpe.trainMerges(spark, conflict, steps = 2)._1
    val batC = Bpe.trainMerges(spark, conflict, steps = 2, batch = 2)._1
    assert(seqC.map(m => (m.pair, m.count)) == batC.map(m => (m.pair, m.count)))
    // textbook goldens are untouched by the default (batch=1) path —
    // pinned by the adjacent tests; here pin that the 3-step textbook
    // vocab under batch=3 still merges only real, count-correct pairs
    val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L),
      ("widest", 3L)).toDF("word", "f")
    val (bm, bv) = Bpe.trainMerges(spark, words, steps = 3, batch = 3)
    assert(bm.head.pair == "e s" && bm.head.count == 9L) // argmax unchanged
    assert(bm.map(_.step) == Seq(1, 2, 3))
    bv.unpersist()
  }

  test("BPE training: a run of identical symbols merges fully pairwise " +
      "(the two-pass replace rule)") {
    import spark.implicits._
    import graft.operators.Bpe
    val (merges, vocab) = Bpe.trainMerges(spark,
      Seq(("aaaa", 10L)).toDF("word", "f"), steps = 1)
    assert(merges.map(m => (m.pair, m.count)) == Seq(("a a", 30L)))
    assert(vocab.collect().head.getAs[String]("sym") == " aa aa ")
    vocab.unpersist()
  }

  test("dupSpanProfile: a planted shared passage surfaces at exactly its widths") {
    import spark.implicits._
    // docs 1 and 2 share an 8-token passage at DIFFERENT positions; all
    // other tokens are globally unique, so every duplicated fingerprint at
    // every level must come from inside the passage
    val shared = (1 to 8).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"$shared apple banana cherry"),
      (2L, s"xray yankee zulu $shared"),
      (3L, "totally different words only here")).toDF("doc_id", "text")
    val prof = Dedup.dupSpanProfile(docs, "doc_id", "text", maxPow = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // span w fits the 8-token passage at 8-w+1 offsets, each duplicated at
    // 2 sites across the 2 docs
    assert(prof(1L) == ((16L, 8L, 2L)))
    assert(prof(2L) == ((14L, 7L, 2L)))
    assert(prof(4L) == ((10L, 5L, 2L)))
    assert(prof(8L) == ((2L, 1L, 2L)))
    // a 16-token window cannot fit inside the 8-token passage: no dups
    assert(prof(16L) == ((0L, 0L, 0L)))
  }

  test("rerankExact over the full candidate set ≡ bruteForceTopK") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val cands = queries.select(col("qid"))
      .crossJoin(corpus.select(col("id")))
      .filter(col("qid") =!= col("id"))
    val reranked = Similarity.rerankExact(corpus, queries, cands, 10)
      .orderBy(col("qid"), col("rank")).collect().toSeq
    val exact = Similarity.bruteForceTopK(corpus, queries, 10)
      .orderBy(col("qid"), col("rank")).collect().toSeq
    assert(reranked == exact)
  }

  test("rrfFuse: consensus doc outranks a single-leg #1; ranks deterministic") {
    import spark.implicits._
    // doc 30 is mid-ranked in BOTH legs (rank 2 + rank 3); docs 10/20 are
    // each a leg's #1 but absent from the other. RRF must put the
    // consensus doc first: 1e6/62 + 1e6/63 = 32000 > 1e6/61 = 16393.
    val lex = Seq((1L, 10L, 1), (1L, 30L, 2), (1L, 40L, 3))
      .toDF("query_id", "doc_id", "rank")
    val den = Seq((1L, 20L, 1), (1L, 40L, 2), (1L, 30L, 3))
      .toDF("query_id", "doc_id", "rank")
    val fused = graft.operators.Retrieval.rrfFuse(Seq(lex, den), k = 4)
      .orderBy(col("rank"))
      .collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // doc 40 (ranks 3+2): 1e6/63 + 1e6/62 = 15873 + 16129 = 32002 — ties
    // with nothing; doc 30 (ranks 2+3) has the same sum, tie broken on id
    assert(fused(0) == ((1, 30L, 32002L, 2L)))
    assert(fused(1) == ((2, 40L, 32002L, 2L)))
    assert(fused(2) == ((3, 10L, 16393L, 1L)))
    assert(fused(3) == ((4, 20L, 16393L, 1L)))
  }

  test("store-backed LSH index probe ≡ stateless cross-minhash candidates") {
    val docs = Tables.documents(spark, sf)
    val isBatch = pmod(col("doc_id"), lit(10)) === 7
    val isDelta = pmod(col("doc_id"), lit(10)) === 3
    val shB = Dedup.shingleSets(docs.filter(isBatch), "doc_id", "text", 3)
    val shSeed = Dedup.shingleSets(
      docs.filter(!isBatch && !isDelta), "doc_id", "text", 3)
    val shDelta = Dedup.shingleSets(docs.filter(isDelta), "doc_id", "text", 3)
    val shC = Dedup.shingleSets(docs.filter(!isBatch), "doc_id", "text", 3)
    val e = new graft.core.GraftEngine(spark,
      graft.core.TmpStores.dir("lshidx-spec").toString)
    e.createStore("lsh", Seq("bandkey"))
    e.push("lsh", Dedup.lshIndexFrame(shSeed, k = 8, bands = 4),
      numBuckets = 4)
    e.enableActiveActive("lsh")
    // index maintenance: delta band rows arrive as commutative element-adds
    e.addToSetAA("lsh", Dedup.bandRows(shDelta, k = 8, bands = 4)
      .select(col("bandkey"), col("id")), "ids", "id", tsMs = 1000L)
    val probed = Dedup.probeLshIndex(e, "lsh", shB, k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Dedup.crossMinhashCandidates(shC, shB, k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probed == direct, "probe must equal the stateless band join")
    assert(probed.nonEmpty, "sf0.001 must produce candidates")
    assert(probed.exists(_._2 % 10 == 3),
      "no candidates from the incrementally-indexed delta cohort")
    Seq(shB, shSeed, shDelta, shC).foreach(_.unpersist())
  }

  test("store-backed IVF index probe ≡ ivfTopK, served codebook included") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val e = new graft.core.GraftEngine(spark,
      graft.core.TmpStores.dir("ivfidx-spec").toString)
    val trained = Similarity.kmeansCentroids(corpus, k = 8, iters = 2)
    e.createStore("cent", Seq("cid"))
    e.push("cent", trained.select(col("id").as("cid"), col("vec").as("cvec")),
      numBuckets = 2)
    val cents = e.servingView("cent")
      .select(col("cid").as("id"), col("cvec").as("vec"))
    e.createStore("ivf", Seq("cid"))
    e.push("ivf", Similarity.ivfIndexFrame(corpus, cents), numBuckets = 4)
    val probed = Similarity.probeIvfIndex(e, "ivf", "cent", queries,
        k = 5, nProbe = 3)
      .orderBy(col("qid"), col("rank")).collect().toSeq
    val direct = Similarity.ivfTopK(corpus, queries, k = 5, numCells = 8,
        nProbe = 3, trainIters = 2)
      .orderBy(col("qid"), col("rank")).collect().toSeq
    assert(probed == direct,
      "store round-trip moved a rank or similarity")
    assert(probed.nonEmpty)
  }

  test("bm25IndexFrame maxDf drops hot tokens, keeps the rest byte-equal") {
    val docs = Tables.documents(spark, sf)
    val full = graft.operators.Retrieval.bm25IndexFrame(docs, "doc_id", "text")
      .persist()
    val cap = 20L
    val capped = graft.operators.Retrieval.bm25IndexFrame(
      docs, "doc_id", "text", maxDf = cap)
    assert(full.filter(col("df") > cap).count() > 0,
      "test needs at least one hot token")
    assert(capped.filter(col("df") > cap).count() == 0)
    // surviving tokens' postings are identical to the uncapped build
    val kept = capped.select(col("token"), col("df"), col("members"))
      .exceptAll(full.select(col("token"), col("df"), col("members"))
        .filter(col("df") <= cap))
    assert(kept.count() == 0, "cap altered a surviving posting list")
    full.unpersist()
  }

  test("IVF index upsert: probe after delta ≡ probe of full rebuild") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val seed = corpus.filter(pmod(col("id"), lit(10)) =!= 3)
    val delta = corpus.filter(pmod(col("id"), lit(10)) === 3)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val e = new graft.core.GraftEngine(spark,
      graft.core.TmpStores.dir("ivfup-spec").toString)
    // codebook trained ONCE on the seed corpus; both stores share it
    val trained = Similarity.kmeansCentroids(seed, k = 8, iters = 2)
    e.createStore("cent", Seq("cid"))
    e.push("cent", trained.select(col("id").as("cid"), col("vec").as("cvec")),
      numBuckets = 2)
    val cents = e.servingView("cent")
      .select(col("cid").as("id"), col("cvec").as("vec"))
    e.createStore("ivf", Seq("cid"))
    e.push("ivf", Similarity.ivfIndexFrame(seed, cents), numBuckets = 4)
    Similarity.ivfIndexUpsert(e, "ivf", "cent", delta, tsMs = 100L)
    val probed = Similarity.probeIvfIndex(e, "ivf", "cent", queries,
        k = 5, nProbe = 3)
      .orderBy(col("qid"), col("rank")).collect().toSeq
    // rebuild from the FULL corpus with the same codebook
    e.createStore("ivf2", Seq("cid"))
    e.push("ivf2", Similarity.ivfIndexFrame(corpus, cents), numBuckets = 4)
    val rebuilt = Similarity.probeIvfIndex(e, "ivf2", "cent", queries,
        k = 5, nProbe = 3)
      .orderBy(col("qid"), col("rank")).collect().toSeq
    assert(probed == rebuilt, "upsert diverged from full rebuild")
    // the delta actually shows up in results somewhere
    assert(probed.exists(_.getLong(2) % 10 == 3),
      "no delta vector ranked — upsert not exercised")
  }

  test("BM25 sharded layout ≡ unsharded: same ranks at off-default params") {
    import graft.operators.Retrieval
    val docs = Tables.documents(spark, sf)
    val queries = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id"), col("text"))
    val e = new graft.core.GraftEngine(spark,
      graft.core.TmpStores.dir("bm25sh-spec").toString)
    e.createStore("flat", Seq("token"))
    e.push("flat", Retrieval.bm25IndexFrame(docs, "doc_id", "text"),
      numBuckets = 4)
    e.createStore("sh", Seq("token", "shard"))
    e.push("sh", Retrieval.bm25IndexFrameSharded(docs, "doc_id", "text",
      nShards = 7), numBuckets = 4)
    e.createStore("stats", Seq("stats_id"))
    e.push("stats", Retrieval.bm25StatsFrame(docs, "doc_id", "text"),
      numBuckets = 1)
    val flat = Retrieval.probeBm25Index(e, "flat", "stats", queries,
        "doc_id", "text", topTerms = 4, k = 8)
      .orderBy(col("query_id"), col("rank")).collect().toSeq
    val sharded = Retrieval.probeBm25IndexSharded(e, "sh", "stats", queries,
        "doc_id", "text", nShards = 7, topTerms = 4, k = 8)
      .orderBy(col("query_id"), col("rank")).collect().toSeq
    assert(flat == sharded, "sharding moved a rank or score")
    assert(flat.nonEmpty)
    // truncated probe: a binding maxFetch is a SUBSET regime — its
    // per-query doc set must come from the top-impact postings only
    val trunc = Retrieval.probeBm25IndexSharded(e, "sh", "stats", queries,
        "doc_id", "text", nShards = 7, topTerms = 4, k = 8, maxFetch = 3)
      .collect()
    assert(trunc.nonEmpty, "maxFetch=3 must still rank top-impact docs")
    // the exact probe is workload-quadratic and must REFUSE past its
    // fetched-postings budget, pointing at the top-fetch production path
    val exG = intercept[IllegalArgumentException] {
      Retrieval.probeBm25Index(e, "flat", "stats", queries,
        "doc_id", "text", maxFetchedPostings = 1L)
    }
    assert(exG.getMessage.contains("bm25_index_topfetch"),
      s"guard message must point at the production path: ${exG.getMessage}")
    // the SHARDED exact probe carries the same sum-of-df budget (its
    // absence is what let an oversized batch run to OOM instead of
    // refusing) — and a binding maxFetch never consults the budget
    val exS = intercept[IllegalArgumentException] {
      Retrieval.probeBm25IndexSharded(e, "sh", "stats", queries,
        "doc_id", "text", nShards = 7, maxFetchedPostings = 1L)
    }
    assert(graft.core.Guard.refusal(exS).isDefined &&
      exS.getMessage.contains("maxFetch"),
      s"sharded exact probe must refuse, pointing at maxFetch: ${exS.getMessage}")
    assert(Retrieval.probeBm25IndexSharded(e, "sh", "stats", queries,
        "doc_id", "text", nShards = 7, maxFetch = 3,
        maxFetchedPostings = 1L).count() > 0,
      "a binding maxFetch is bounded by construction — no budget check")
    // shard-count formula: hottest posting list / per-value budget,
    // so value size stays flat as the corpus grows
    val maxDf = docs.select(col("doc_id"),
        explode(graft.functions.TextOps.tokens(col("text"))).as("token"))
      .select("doc_id", "token").distinct()
      .groupBy(col("token")).count().agg(max("count"))
      .collect()(0).getLong(0)
    assert(Retrieval.recommendedShards(docs, "doc_id", "text",
      targetPostingRows = 10L) == math.ceil(maxDf / 10.0).toInt)
    assert(Retrieval.recommendedShards(docs, "doc_id", "text") == 1,
      "small corpus → hottest list inside one value's budget → 1 shard")
  }

  test("index maintenance fuzz: random delta schedules, upsert ≡ rebuild " +
      "(BM25, with interleaved repush)") {
    import graft.operators.Retrieval
    val docs = Tables.documents(spark, sf)
    val queries = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id"), col("text"))
    // 6 random schedules: split the corpus into 1 base + nDelta batches by
    // md5(doc_id|seed), upsert the batches in order, repush mid-stream when
    // the seed says so — the index must end rank-identical to a one-shot
    // build no matter how it was grown. Deterministic seeds: a failure
    // reproduces by its printed seed alone.
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val nDelta = 1 + rnd.nextInt(3)
      val repushAfter = rnd.nextInt(nDelta + 1) // 0 = never
      val batch = pmod(conv(substring(md5(
        concat_ws("|", col("doc_id"), lit(seed))), 1, 6), 16, 10)
        .cast("long"), lit(nDelta + 1))
      val e = new graft.core.GraftEngine(spark,
        graft.core.TmpStores.dir(s"bm25fz$seed-").toString)
      e.createStore("post", Seq("token"))
      e.push("post", Retrieval.bm25IndexFrame(
        docs.filter(batch === 0), "doc_id", "text"), numBuckets = 4)
      e.createStore("stats", Seq("stats_id"))
      e.push("stats", Retrieval.bm25StatsFrame(
        docs.filter(batch === 0), "doc_id", "text"), numBuckets = 1)
      for (b <- 1 to nDelta) {
        Retrieval.bm25IndexUpsert(e, "post", "stats",
          docs.filter(batch === b), "doc_id", "text", tsMs = 100L * b)
        if (b == repushAfter) { e.repush("post"); e.repush("stats") }
      }
      val probed = Retrieval.probeBm25Index(e, "post", "stats", queries,
          "doc_id", "text")
        .orderBy(col("query_id"), col("rank")).collect().toSeq
      e.createStore("post2", Seq("token"))
      e.push("post2", Retrieval.bm25IndexFrame(docs, "doc_id", "text"),
        numBuckets = 4)
      e.createStore("stats2", Seq("stats_id"))
      e.push("stats2", Retrieval.bm25StatsFrame(docs, "doc_id", "text"),
        numBuckets = 1)
      val rebuilt = Retrieval.probeBm25Index(e, "post2", "stats2", queries,
          "doc_id", "text")
        .orderBy(col("query_id"), col("rank")).collect().toSeq
      assert(probed == rebuilt,
        s"seed=$seed nDelta=$nDelta repushAfter=$repushAfter: " +
          "grown index diverged from one-shot build")
      assert(probed.nonEmpty, s"seed=$seed produced no rankings")
    }
  }

  test("BM25 index upsert: probe after delta ≡ probe of full rebuild") {
    import graft.operators.Retrieval
    val docs = Tables.documents(spark, sf)
    val seed = docs.filter(pmod(col("doc_id"), lit(10)) =!= 3)
    val delta = docs.filter(pmod(col("doc_id"), lit(10)) === 3)
    val queries = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id"), col("text"))
    val e = new graft.core.GraftEngine(spark,
      graft.core.TmpStores.dir("bm25up-spec").toString)
    e.createStore("post", Seq("token"))
    e.push("post", Retrieval.bm25IndexFrame(seed, "doc_id", "text"),
      numBuckets = 4)
    e.createStore("stats", Seq("stats_id"))
    e.push("stats", Retrieval.bm25StatsFrame(seed, "doc_id", "text"),
      numBuckets = 1)
    Retrieval.bm25IndexUpsert(e, "post", "stats", delta, "doc_id", "text",
      tsMs = 100L)
    val probed = Retrieval.probeBm25Index(e, "post", "stats", queries,
        "doc_id", "text")
      .orderBy(col("query_id"), col("rank")).collect().toSeq
    e.createStore("post2", Seq("token"))
    e.push("post2", Retrieval.bm25IndexFrame(docs, "doc_id", "text"),
      numBuckets = 4)
    e.createStore("stats2", Seq("stats_id"))
    e.push("stats2", Retrieval.bm25StatsFrame(docs, "doc_id", "text"),
      numBuckets = 1)
    val rebuilt = Retrieval.probeBm25Index(e, "post2", "stats2", queries,
        "doc_id", "text")
      .orderBy(col("query_id"), col("rank")).collect().toSeq
    assert(probed == rebuilt, "upsert diverged from full rebuild")
    assert(probed.nonEmpty)
  }

  test("lshIndexFrame drops hot bands past maxPostings") {
    val docs = Tables.documents(spark, sf)
    val sh = Dedup.shingleSets(docs, "doc_id", "text", 3)
    val full = Dedup.lshIndexFrame(sh, k = 8, bands = 4)
    val capped = Dedup.lshIndexFrame(sh, k = 8, bands = 4, maxPostings = 1)
    assert(full.filter(size(col("ids")) > 1).count() > 0,
      "test needs at least one multi-doc band")
    assert(capped.filter(size(col("ids")) > 1).count() == 0)
    sh.unpersist()
  }
}
