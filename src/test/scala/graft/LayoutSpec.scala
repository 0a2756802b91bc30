package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{GraftSession, Tables}
import graft.operators.{Layout, Profile}

/** Scale proof for the Z-order layout: under a two-dimensional box filter,
  * a z-ordered table is read from a SMALL subset of files while a
  * single-column-sorted layout of the same table must open (nearly) all of
  * them for the secondary dimension — the file-level min/max pruning story
  * that decides scan cost at 100 TB. Plus Profile edge-case pins. */
class LayoutSpec extends AnyFunSuite {
  lazy val spark = GraftSession.build(appName = "layout-spec")
  val sf = "/root/testdata/sf0.01"

  /** Files that CONTRIBUTE ROWS to a box-filter result — parquet row-group
    * stats prune non-matching groups inside the reader, so files whose
    * whole range misses the box yield zero rows; counting distinct
    * input_file_name over the result measures layout locality directly. */
  private def filesTouched(path: String, pred: org.apache.spark.sql.Column)
      : Long =
    spark.read.parquet(path).filter(pred)
      .select(input_file_name()).distinct().count()

  test("z-order confines a 2-D box to few files; 1-D sort cannot") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_suppkey"))
    val dims = Seq("l_partkey", "l_suppkey")
    val nFiles = 16
    val tmp = graft.core.TmpStores.dir("layout").toString

    Layout.zorderFrame(li, dims, bits = 8, numFiles = nFiles)
      .write.mode("overwrite").parquet(s"$tmp/zorder")
    // the 1-D strawman: same file count, range-sorted by partkey only
    li.repartitionByRange(nFiles, col("l_partkey"))
      .sortWithinPartitions(col("l_partkey"))
      .write.mode("overwrite").parquet(s"$tmp/bypart")

    val (pLo, pHi, sLo, sHi) = (900L, 1100L, 40L, 60L) // ~10% of each dim
    val box = col("l_partkey").between(pLo, pHi) &&
      col("l_suppkey").between(sLo, sHi)

    val zBox = filesTouched(s"$tmp/zorder", box)
    val pBox = filesTouched(s"$tmp/bypart", box)
    // partkey range covers ~10% of the curve; suppkey halves it again —
    // the box lands in a handful of z-contiguous files
    assert(zBox <= nFiles / 2, s"zorder touched $zBox of $nFiles files")
    // a suppkey-only filter: z-order still prunes (suppkey bits shape the
    // curve), the partkey sort is blind to it and reads EVERY file
    val sOnly = col("l_suppkey").between(sLo, sHi)
    val zS = filesTouched(s"$tmp/zorder", sOnly)
    val pS = filesTouched(s"$tmp/bypart", sOnly)
    assert(pS == nFiles.toLong,
      s"1-D layout unexpectedly pruned the secondary dim: $pS")
    assert(zS < pS, s"zorder=$zS not better than 1-D=$pS on secondary dim")
    // sanity: both layouts return identical rows (re-layout is lossless)
    val a = spark.read.parquet(s"$tmp/zorder").filter(box).count()
    val b = spark.read.parquet(s"$tmp/bypart").filter(box).count()
    assert(a == b && a > 0, s"box rows diverged: $a vs $b")
    // the z trade: a few more files than a primary-dim-only filter on the
    // 1-D layout (curve fragmentation), in exchange for pruning on EVERY
    // dim — the 1-D layout's worst dim reads the whole table (pS above)
    assert(pBox <= zBox && zBox <= 4 * math.max(1L, pBox),
      s"unexpected box economics: zorder=$zBox 1-D=$pBox")
  }

  test("interleave is a bijection on bucket pairs (bits=4)") {
    import spark.implicits._
    val pairs = (0 until 16).flatMap(x => (0 until 16).map(y => (x.toLong,
      y.toLong))).toDF("x", "y")
    val z = pairs.select(Layout.interleave(Seq(col("x"), col("y")), 4)
      .as("z"))
    assert(z.distinct().count() == 256)
    val mm = z.agg(min("z"), max("z")).collect()(0)
    assert(mm.getLong(0) == 0L && mm.getLong(1) == 255L)
  }

  test("profile counts nulls, distincts and lengths per column") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("aa"), Some(1.5), Seq(1, 2, 3)),
      (2L, None, Some(2.5), Seq.empty[Int]),
      (3L, Some("bbbb"), None, Seq(7))
    ).toDF("id", "s", "d", "arr")
    val p = Profile.columns(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p("id").getLong(2) == 0 && p("id").getLong(3) == 3)
    assert(p("s").getLong(2) == 1 && p("s").getLong(3) == 2)
    assert(p("s").getString(4) == "aa" && p("s").getString(5) == "bbbb")
    assert(p("s").getLong(6) == 300) // (2+4)*100/2
    assert(p("d").getLong(2) == 1)
    assert(p("d").getString(4) == "150" && p("d").getString(5) == "250")
    // arrays: no total order → null min/max, but avg SIZE is profiled
    assert(p("arr").isNullAt(4) && p("arr").isNullAt(5))
    assert(p("arr").getLong(6) == 133) // (3+0+1)*100/3
    // approx path keeps the same surface
    val ap = Profile.columns(df, approxDistinct = true).collect()
    assert(ap.length == 4)
  }
}
