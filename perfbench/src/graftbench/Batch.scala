package graftbench

import java.nio.file.Paths
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.GraftEngine
import graft.operators.{Dedup, Similarity}

/** Push jobs and bulk LLM-data operators over seeded inputs shaped like
  * the engine's test tables (lineitem, events, documents, embeddings).
  *
  * A pass runs the push job -- push a lineitem store, push v2 with a
  * planted ~5% of rows changed, versionDiff(v1, v2), push events
  * latest-per-user then repush -- and the operators -- MinHash-LSH Dedup
  * pairs, Similarity.ivfTopK (k = 10) for 50 queries, and
  * Similarity.semDedup over the same vectors, with the parameters of the
  * engine's own dedup_minhash_lsh, ann_ivf and semdedup queries. One
  * untimed pass over a twentieth of the inputs warms the code paths;
  * timed passes then repeat until the window ends, at least MinPasses of
  * them. Each pass writes fresh stores so every pass does the same work.
  * No RT log is involved. */
final class Batch(ctx: Ctx) extends Workload {
  import Batch._

  private var engine: GraftEngine = _
  private var root: String = _
  private def in(name: String) = s"${ctx.dataDir}/$name"

  // ---- seeded inputs -------------------------------------------------------
  private var planted: Set[Long] = _
  private var latestTs: Map[Long, Long] = _
  private var docs: Array[String] = _
  private var vecs: Array[Array[Double]] = _
  private var queryIdx: Array[Int] = _
  private val inputBytes = mutable.HashMap.empty[String, Long]

  def generate(): Seq[(String, String)] = {
    val spark = ctx.spark
    val seed = ctx.seed
    val sc = spark.sparkContext
    Seq(1, 2).foreach { v =>
      spark.createDataFrame(sc.range(0L, LineRows, 1L, ctx.cpus)
        .map(i => lineRow(seed, i, v)), LineSchema)
        .write.mode("overwrite").parquet(in(s"lineitem_v$v"))
    }
    planted = (0L until LineRows).filter(i => isPlanted(seed, i)).toSet
    spark.createDataFrame(sc.range(0L, EventRows, 1L, ctx.cpus)
      .map(e => eventRow(seed, e)), EventSchema)
      .write.mode("overwrite").parquet(in("events"))
    latestTs = (0L until EventRows).groupBy(e => userOf(seed, e)).map { case (u, es) =>
      u -> eventTsMs(seed, es.max) }

    val dr = Gen.rng(seed, "batch.docs")
    docs = new Array[String](DocRows)
    (0 until DocRows).foreach { i =>
      docs(i) =
        if (i > 0 && dr.nextDouble() < NearShare) {
          val w = docs(dr.nextInt(i)).split(" ")
          (0 until 3).foreach(_ => w(dr.nextInt(w.length)) = Vocab(dr.nextInt(Vocab.size)))
          w.mkString(" ")
        } else Seq.fill(DocWordsMin + dr.nextInt(DocWordsMax - DocWordsMin + 1))(
          Vocab(dr.nextInt(Vocab.size))).mkString(" ")
    }
    spark.createDataFrame(docs.indices.map(i => Row(i.toLong, docs(i))).asJava, DocSchema)
      .write.mode("overwrite").parquet(in("docs"))

    val vr = Gen.rng(seed, "batch.vectors")
    vecs = Array.fill(VecRows)(Gen.unitVector(vr, Dim))
    // queries are corpus vectors, as in the engine's ann_ivf query
    queryIdx = Array.fill(Queries)(vr.nextInt(VecRows))
    spark.createDataFrame(vecs.indices.map(i => Row(i.toLong, vecs(i).toSeq)).asJava, VecSchema)
      .write.mode("overwrite").parquet(in("vectors"))
    spark.createDataFrame(queryIdx.indices.map(q => Row(QidBase + q, vecs(queryIdx(q)).toSeq)).asJava,
      QuerySchema).write.mode("overwrite").parquet(in("queries"))

    Seq("lineitem_v1", "lineitem_v2", "events", "docs", "vectors", "queries").foreach { n =>
      inputBytes(n) = Disk.treeBytes(Paths.get(in(n)))
    }
    val fpD = new Gen.Fingerprint
    docs.foreach(fpD.string)
    val fpV = new Gen.Fingerprint
    vecs.foreach(fpV.doubles); queryIdx.foreach(q => fpV.long(q))
    val fpL = new Gen.Fingerprint
    planted.toSeq.sorted.foreach(fpL.long)
    latestTs.toSeq.sorted.foreach { case (u, t) => fpL.long(u).long(t) }
    Seq("batch.lineitem+events" -> fpL.hex, "batch.docs" -> fpD.hex,
      "batch.vectors" -> fpV.hex)
  }

  def setup(storeRoot: String): Unit = {
    root = storeRoot
    engine = new GraftEngine(ctx.spark, root)
    // a pass reads its inputs through these frames; resolving them lists
    // the staged files and reads their footers
    Seq("lineitem_v1", "lineitem_v2", "events", "docs", "vectors", "queries")
      .foreach(n => require(ctx.spark.read.parquet(in(n)).schema.nonEmpty))
  }

  // ---- passes ----------------------------------------------------------------
  private val passMs = mutable.ArrayBuffer.empty[Double]
  private val pushMs = mutable.ArrayBuffer.empty[Double]
  private val opsMs = mutable.ArrayBuffer.empty[Double]
  private val pushInputBytes = mutable.ArrayBuffer.empty[Long]
  private var lastOut: PassOut = _
  private var pass = 0
  private var windowS = 0.0

  private def pushFrom(store: String, input: String, df: DataFrame,
      order: Option[org.apache.spark.sql.Column] = None): Unit = {
    if (ctx.tracer.timedPhase) pushInputBytes += inputBytes(input)
    ctx.call("core.push") { engine.push(store, df, numBuckets = 8, orderCol = order) }
  }

  private def runPass(timed: Boolean): Unit = {
    pass += 1
    val spark = ctx.spark
    val li = s"lineitem_$pass"
    val ev = s"events_$pass"
    engine.createStore(li, Seq("l_orderkey", "l_linenumber"))
    engine.createStore(ev, Seq("user_id"))
    // the warm-up pass reads a twentieth of each input: it is there to load
    // and compile the pass's code paths, and most of that cost does not
    // depend on the input size
    def read(n: String) = {
      val df = spark.read.parquet(in(n))
      if (timed) df else df.filter(col(df.columns.head) % WarmupEvery === 0)
    }
    var out: PassOut = null
    val t0 = System.nanoTime()
    var t1 = 0L
    ctx.request("bench.batch.pass") {
      pushFrom(li, "lineitem_v1", read("lineitem_v1"))
      pushFrom(li, "lineitem_v2", read("lineitem_v2"))
      val diff = ctx.call("core.versionDiff") {
        engine.versionDiff(li, 1, 2).filter(col("status") === "changed")
          .select(col("l_orderkey"), col("l_linenumber")).collect()
          .map(r => lineIndex(r.getLong(0), r.getInt(1)))
      }.getOrElse(Array.empty[Long])
      pushFrom(ev, "events", read("events"), Some(col("ts")))
      ctx.call("core.repush") { engine.repush(ev) }
      t1 = System.nanoTime()
      val pairs = ctx.call("operators.Dedup.minhash") {
        val sh = Dedup.shingleSets(read("docs"), "doc_id", "text", 3)
        val out = Dedup.jaccardVerify(Dedup.minhashCandidates(sh, k = 8, bands = 4), sh, 0.5)
          .collect()
        sh.unpersist()
        out
      }.getOrElse(Array.empty[Row])
      val corpus = read("vectors").select(col("vec_id").as("id"),
        col("embedding").as("vec"))
      val topk = ctx.call("operators.Similarity.ivfTopK") {
        Similarity.ivfTopK(corpus, read("queries"), k = 10,
          numCells = IvfCells, nProbe = IvfProbe).collect()
      }.getOrElse(Array.empty[Row])
      val sem = ctx.call("operators.Similarity.semDedup") {
        Similarity.semDedup(corpus, threshold = SemThreshold, numCells = SemCells).collect()
      }.getOrElse(Array.empty[Row])
      out = PassOut(diff, null, pairs, topk, sem)
    }
    val t2 = System.nanoTime()
    out = out.copy(events = engine.snapshot(ev).select("user_id", "ts").collect())
    if (timed) {
      passMs += (t2 - t0) / 1e6
      pushMs += (t1 - t0) / 1e6
      opsMs += (t2 - t1) / 1e6
    }
    lastOut = out
    lastStore = li
  }
  private var lastStore: String = _

  /** One untimed pass over a twentieth of the inputs: the first pass runs
    * with cold code paths (class loading, JIT), which would otherwise
    * dominate the spread of the timed passes. Its stores are dropped. */
  def warmup(): Unit = {
    runPass(timed = false)
    Disk.deleteTree(Paths.get(root, lastStore))
    Disk.deleteTree(Paths.get(root, s"events_$pass"))
  }

  def run(): Unit = {
    val t0 = System.nanoTime()
    val end = t0 + ctx.seconds * 1000000000L
    do runPass(timed = true) while (System.nanoTime() < end || passMs.size < MinPasses)
    windowS = (System.nanoTime() - t0) / 1e9
  }

  // ---- checks --------------------------------------------------------------
  private var recall = 0.0

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    val d = Gen.dot(a, b) / math.sqrt(Gen.dot(a, a) * Gen.dot(b, b))
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  def check(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val o = lastOut
    if (o.diff.toSet != planted)
      errs += s"versionDiff found ${o.diff.length} changed rows; the generator planted ${planted.size}"
    val snap = o.events.map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    if (o.events.length != latestTs.size || snap != latestTs)
      errs += s"events snapshot has ${o.events.length} rows for ${latestTs.size} users or stale values"
    val sr = Gen.rng(ctx.seed, "batch.check")
    def sample[T](xs: Array[T], n: Int): Seq[T] =
      if (xs.length <= n) xs.toSeq else Seq.fill(n)(xs(sr.nextInt(xs.length)))
    if (o.pairs.isEmpty) errs += "Dedup found no pairs"
    val shingles = docs.map(_.split(" ").sliding(3).map(_.mkString(" ")).toSet)
    sample(o.pairs, 300).foreach { r =>
      val (a, b) = (shingles(r.getAs[Long]("id_a").toInt), shingles(r.getAs[Long]("id_b").toInt))
      val j = (a intersect b).size.toDouble / (a union b).size
      if (j < 0.5 - 1e-6) errs += s"Dedup pair ${r.getAs[Long]("id_a")},${r.getAs[Long]("id_b")} has Jaccard $j"
    }
    // ivfTopK recall@10 against an exact top-10 computed here
    val approx = o.topk.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
      q -> rs.map(_.getAs[Long]("id")).toSet }
    recall = queryIdx.indices.map { q =>
      val exact = vecs.indices.map(i => (cos(vecs(i), vecs(queryIdx(q))), i.toLong))
        .sortBy { case (s, i) => (-s, i) }.take(10).map(_._2).toSet
      (approx.getOrElse(QidBase + q, Set.empty[Long]) intersect exact).size / 10.0
    }.sum / queryIdx.length
    if (recall < RecallFloor) errs += f"ivfTopK recall@10 $recall%.3f below the floor $RecallFloor"
    // semDedup: sampled duplicates are >= threshold of their keeper; sampled
    // kept vectors have no smaller-id neighbour >= threshold in their cell
    val cell = o.sem.map(r => r.getAs[Long]("vec_id") ->
      r.get(r.fieldIndex("cell")).asInstanceOf[Number].longValue).toMap
    if (cell.size != VecRows) errs += s"semDedup returned ${cell.size} of $VecRows vectors"
    val (dups, kept) = o.sem.partition(_.getAs[Boolean]("is_dup"))
    if (dups.isEmpty) errs += "semDedup found no duplicates"
    sample(dups, 200).foreach { r =>
      val (v, k) = (r.getAs[Long]("vec_id"), r.getAs[Long]("dup_of"))
      if (cos(vecs(v.toInt), vecs(k.toInt)) < SemThreshold - 1e-6)
        errs += s"semDedup pair $v~$k is below the threshold"
    }
    val byCell = cell.toSeq.groupBy(_._2).map { case (c, vs) => c -> vs.map(_._1) }
    sample(kept, 200).foreach { r =>
      val v = r.getAs[Long]("vec_id")
      byCell(cell(v)).filter(_ < v).find(u => cos(vecs(v.toInt), vecs(u.toInt)) >= SemThreshold + 1e-6)
        .foreach(u => errs += s"semDedup kept $v though $u in its cell is a duplicate")
    }
    if (passMs.isEmpty) errs += "no pass completed"
    errs.toSeq
  }

  private lazy val amplification = Disk.amplification(engine, root, lastStore)

  private def rowsPerPass: Long = 2 * LineRows + EventRows + DocRows + VecRows + Queries

  def endToEnd(): (Double, Double, Double, Double) =
    (Stats.median(passMs), Stats.median(pushMs), Stats.median(opsMs), amplification)

  def details(): Json.Obj = Json.Obj(
    "push_s" -> Stats.median(pushMs) / 1000, "operators_s" -> Stats.median(opsMs) / 1000,
    "pass_s" -> Stats.median(passMs) / 1000, "passes" -> passMs.size,
    "input_rows_per_s" -> rowsPerPass * passMs.size / windowS,
    "pass_ms" -> passMs.toSeq, "push_ms" -> pushMs.toSeq, "operators_ms" -> opsMs.toSeq,
    "bytes_per_user_byte" -> amplification, "ivf_recall_at_10" -> recall,
    "versiondiff_rows" -> lastOut.diff.length, "dedup_pairs" -> lastOut.pairs.length,
    "semdedup_dups" -> lastOut.sem.count(_.getAs[Boolean]("is_dup")),
    "input_bytes" -> inputBytes.toMap, "window_s" -> windowS)

  def storeMetrics(): Map[String, Double] = {
    val ratios = Layers.calls(ctx.tracer, "core.push").map(_.bytesWritten).zip(pushInputBytes)
      .map { case (w, i) => w.toDouble / i }
    Map("core.push.bytes_written_per_input_byte" ->
      (if (ratios.isEmpty) 0.0 else Stats.median(ratios)))
  }
}

object Batch {
  final case class PassOut(diff: Array[Long], events: Array[Row],
      pairs: Array[Row], topk: Array[Row], sem: Array[Row])

  // sizes: scale factor 0.1 of the engine's test tables for documents and
  // embeddings; lineitem and events cut to a share of it (see the README)
  def LineRows: Long = (100000 * Scale.factor).toLong
  def EventRows: Long = (20000 * Scale.factor).toLong
  // users per event as in the events table (1,500 per 100,000)
  def Users: Int = math.max(1, (EventRows * 3 / 200).toInt)
  def DocRows: Int = (5000 * Scale.factor).toInt
  def VecRows: Int = math.max(100, (2000 * Scale.factor).toInt)
  val DocWordsMin = 10
  val DocWordsMax = 100
  // the documents table's whole vocabulary
  val Vocab: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  // timed passes per run, however short the window; each timing metric is
  // their median. Run-to-run spread is dominated by the host's speed, not
  // by the pass count, and a pass costs ~10 s of the run budget.
  val MinPasses = 2
  val WarmupEvery = 20
  val Queries = 50
  val QidBase = 1000000000L
  val Dim = 64
  // ~5% of documents are near copies: the documents table's 256 pairs with
  // 3-gram Jaccard >= 0.5 among 5,000 documents
  val NearShare = 0.05
  val IvfCells = 8
  val IvfProbe = 2
  val SemThreshold = 0.4
  val SemCells = 8
  val RecallFloor = 0.4
  val ReturnFlags = Seq("A", "N", "R")
  val LineStatus = Seq("F", "O")
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  val ShipDay0Ms = 788918400000L // 1995-01-02
  val ShipDays = 2498
  val EventTs0Ms = 1704067200000L // 2024-01-01
  // events spread over 30 days, as in the events table
  def EventStepMs: Long = 30L * 86400000L / math.max(1L, EventRows)

  private def r(seed: Long, label: Long, i: Long) =
    new java.util.SplittableRandom(Gen.mix(seed * 0x9e3779b97f4a7c15L + label * 0x632be59bd9b4e019L + i))

  def isPlanted(seed: Long, i: Long): Boolean = r(seed, 7, i).nextDouble() < 0.05

  /** Row i is line (i % 4) + 1 of order i / 4: four lines per order, the
    * lineitem table's mean. */
  def lineIndex(orderKey: Long, lineNumber: Int): Long = orderKey * 4 + lineNumber - 1

  def lineRow(seed: Long, i: Long, version: Int): Row = {
    val g = r(seed, 1, i)
    val qty = (g.nextInt(50) + 1).toDouble
    val price = math.rint(qty * (900 + g.nextInt(110000)) / 50.0) / 100 +
      (if (version == 2 && isPlanted(seed, i)) 1.0 else 0.0)
    Row(i / 4, g.nextLong(20000L), g.nextLong(1000L), (i % 4).toInt + 1, qty, price,
      g.nextInt(11) / 100.0, g.nextInt(9) / 100.0,
      ReturnFlags(g.nextInt(ReturnFlags.size)), LineStatus(g.nextInt(LineStatus.size)),
      new java.sql.Timestamp(ShipDay0Ms + g.nextInt(ShipDays) * 86400000L))
  }

  def userOf(seed: Long, e: Long): Long = r(seed, 2, e).nextInt(Users).toLong

  /** Strictly increasing in e, so the latest event per user is unique. */
  def eventTsMs(seed: Long, e: Long): Long =
    EventTs0Ms + e * EventStepMs + r(seed, 4, e).nextLong(math.max(1L, EventStepMs))

  def eventRow(seed: Long, e: Long): Row = {
    val g = r(seed, 3, e)
    Row(e, new java.sql.Timestamp(eventTsMs(seed, e)), userOf(seed, e),
      EventTypes(g.nextInt(EventTypes.size)), g.nextInt(56022) / 100.0,
      s"""{"k": ${g.nextInt(100)}}""")
  }

  val LineSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))
  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false), StructField("ts", TimestampType),
    StructField("user_id", LongType, nullable = false), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false), StructField("embedding", ArrayType(DoubleType))))
  val QuerySchema: StructType = StructType(Seq(
    StructField("qid", LongType, nullable = false), StructField("qvec", ArrayType(DoubleType))))
}
