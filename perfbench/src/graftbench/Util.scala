package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Seeded input generation: every input derives from the run seed and a
  * label, so one seed always yields the same inputs whatever the workload
  * draws first. */
object Gen {
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, label: String): SplittableRandom =
    new SplittableRandom(mix(seed * 0x9e3779b97f4a7c15L ^ mix(label.hashCode.toLong)))

  /** A unit vector in a uniformly random direction: the shape of the
    * engine's embeddings test table (64 dims, norm 1, entries with
    * standard deviation 1/8, nearest-neighbour cosine about 0.4). */
  def unitVector(r: SplittableRandom, dim: Int): Array[Double] =
    normalize(Array.fill(dim)(r.nextGaussian()))

  /** `v` moved by Gaussian noise of standard deviation `noise` per entry,
    * renormalised. */
  def near(r: SplittableRandom, v: Array[Double], noise: Double): Array[Double] =
    normalize(v.map(x => x + r.nextGaussian() * noise))

  def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(dot(v, v))
    v.map(_ / n)
  }

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** FNV-1a over a stream of longs: the fingerprint of a generated input. */
  final class Fingerprint {
    private var h = 0xcbf29ce484222325L
    def long(x: Long): this.type = { h = (h ^ x) * 0x100000001b3L; this }
    def double(d: Double): this.type = long(java.lang.Double.doubleToLongBits(d))
    def string(s: String): this.type = { s.foreach(c => long(c.toLong)); long(-1L) }
    def doubles(a: Array[Double]): this.type = { a.foreach(double); this }
    def hex: String = f"$h%016x"
  }
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 1]; NaN on no samples. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = p * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)
  def p90(xs: Iterable[Double]): Double = pct(xs, 0.9)
  def summary(xs: Iterable[Double]): Json.Obj = Json.Obj(
    "n" -> xs.size, "p50" -> median(xs), "p90" -> p90(xs),
    "max" -> (if (xs.isEmpty) Double.NaN else xs.max))
}

/** Minimal JSON rendering (no JSON library on the engine classpath is
  * part of its API). Objects keep field order. */
object Json {
  final case class Obj(fields: (String, Any)*)

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Obj => o.fields.map { case (k, x) => quote(k) + ":" + render(x) }
      .mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case a: Array[_] => render(a.toSeq)
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}

/** Attempted and failed operations per op type, with each type's first
  * error message. No retries: a failed call is counted and the load loop
  * moves on. */
final class OpCounts {
  private val attempted = new ConcurrentHashMap[String, AtomicLong]()
  private val failed = new ConcurrentHashMap[String, AtomicLong]()
  private val firstError = new ConcurrentHashMap[String, String]()

  private def inc(m: ConcurrentHashMap[String, AtomicLong], op: String): Unit =
    m.computeIfAbsent(op, _ => new AtomicLong()).incrementAndGet()

  def attempt[T](op: String)(body: => T): Option[T] = {
    inc(attempted, op)
    try Some(body)
    catch {
      case NonFatal(e) =>
        inc(failed, op)
        firstError.putIfAbsent(op, s"${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  def totalAttempted: Long = attempted.values.asScala.map(_.get).sum
  def totalFailed: Long = failed.values.asScala.map(_.get).sum
  def failedOf(op: String): Long = Option(failed.get(op)).map(_.get).getOrElse(0L)

  def toJson: Json.Obj = Json.Obj(attempted.keySet.asScala.toSeq.sorted.map { op =>
    op -> Json.Obj("attempted" -> attempted.get(op).get,
      "failed" -> failedOf(op), "first_error" -> Option(firstError.get(op)))
  }: _*)
}

/** Sizes on disk of stores and their logs. */
object Disk {
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  /** (parquet files, bytes) in a store's RT log directory. */
  def logStats(root: String, store: String): (Long, Long) = {
    val dir = Paths.get(root, store, "log")
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try {
        val files = s.iterator.asScala.filter(p =>
          Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
        (files.size.toLong, files.map(Files.size).sum)
      } finally s.close()
    }
  }

  /** Store bytes on disk over one parquet copy of its live serving view. */
  def amplification(engine: graft.core.GraftEngine, root: String, store: String): Double = {
    val copy = Paths.get(root, "_user_copy")
    engine.servingView(store).write.mode("overwrite").parquet(copy.toString)
    val user = treeBytes(copy)
    deleteTree(copy)
    treeBytes(Paths.get(root, store)).toDouble / user
  }
}
