package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftSession
import graft.operators.{UpdateBuilder, WriteCompute}

/** Property tests for the write-compute fold, mirroring the reference's
  * scripted-op-sequence expected-result framework with generated sequences:
  * squash(u1,u2) ≡ apply(u1);apply(u2) for arbitrary op pairs. */
class WriteComputeProps extends AnyFunSuite {
  lazy val spark = GraftSession.build(appName = "wc-props")

  val valueSchema = StructType(Seq(
    StructField("score", LongType),
    StructField("tags", ArrayType(StringType))))
  val keyed = StructType(StructField("id", LongType) +: valueSchema.fields)
  val updSchema = WriteCompute.deriveUpdateSchema(valueSchema)

  def snapshotDf(tags: Seq[String]): DataFrame = spark.createDataFrame(
    Seq(Row(1L, 7L, tags)).asJava, keyed)

  sealed trait Op
  case class SetScore(v: Long) extends Op
  case class SetTags(v: Seq[String]) extends Op
  case class AddTags(v: Seq[String]) extends Op
  case class RemoveTags(v: Seq[String]) extends Op

  val elemGen: Gen[String] = Gen.oneOf("a", "b", "c", "d", "e")
  val elemsGen: Gen[Seq[String]] =
    Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, elemGen)).map(_.distinct)
  // one update = a consistent set of builder calls (conflicts impossible by
  // construction: either a set OR collection ops per field)
  val updateGen: Gen[Seq[Op]] = for {
    scoreOp <- Gen.option(Gen.choose(0L, 99L).map(SetScore))
    tagsStyle <- Gen.oneOf(0, 1, 2) // 0=none, 1=set, 2=ops
    tagsOps <- tagsStyle match {
      case 0 => Gen.const(Seq.empty[Op])
      case 1 => elemsGen.map(e => Seq(SetTags(e)))
      case _ => for {
        adds <- elemsGen; removes <- elemsGen
      } yield Seq(AddTags(adds), RemoveTags(removes))
    }
  } yield scoreOp.toSeq ++ tagsOps

  def buildRow(ops: Seq[Op]): Row = {
    val b = new UpdateBuilder(valueSchema)
    ops.foreach {
      case SetScore(v) => b.setField("score", v)
      case SetTags(v) => b.setField("tags", v)
      case AddTags(v) => if (v.nonEmpty) b.setElementsToAddToListField("tags", v)
      case RemoveTags(v) => if (v.nonEmpty) b.setElementsToRemoveFromListField("tags", v)
    }
    b.buildRow()
  }

  def updatesDf(rows: Seq[(Long, Row)]): DataFrame =
    spark.createDataFrame(
      rows.map { case (ts, u) => Row.fromSeq(1L +: ts +: u.toSeq) }.asJava,
      StructType(StructField("id", LongType) +:
        StructField(WriteCompute.TsCol, LongType) +: updSchema.fields))

  def resultOf(snapshot: DataFrame, ups: Seq[(Long, Row)]): (Option[Long], List[String]) = {
    val r = WriteCompute.applyUpdates(snapshot, updatesDf(ups), Seq("id")).head()
    (if (r.isNullAt(r.fieldIndex("score"))) None
     else Some(r.getAs[Long]("score")),
      Option(r.getAs[scala.collection.Seq[String]]("tags"))
        .map(_.toList.sorted).getOrElse(Nil))
  }

  test("property: squash(u1,u2) ≡ sequential apply for 25 random op pairs") {
    val caseGen = for {
      base <- elemsGen; o1 <- updateGen; o2 <- updateGen
    } yield (base, o1, o2)
    (0 until 25).foreach { i =>
      val (baseTags, ops1, ops2) = caseGen(Gen.Parameters.default,
        Seed(42L + i)).get
      val snap = snapshotDf(baseTags)
      val (u1, u2) = (buildRow(ops1), buildRow(ops2))
      val sequential = resultOf(snap, Seq((100L, u1), (200L, u2)))
      val squashed = {
        val sq = updatesDf(Seq((100L, u1)))
          .select(struct(updSchema.fieldNames.map(col): _*).as("u1"))
          .crossJoin(updatesDf(Seq((200L, u2)))
            .select(struct(updSchema.fieldNames.map(col): _*).as("u2")))
          .select(WriteCompute.squashExpr(col("u1"), col("u2"), valueSchema).as("s"))
          .select(updSchema.fieldNames.map(n => col("s").getField(n).as(n)): _*)
          .head()
        resultOf(snap, Seq((150L, sq)))
      }
      assert(sequential == squashed, s"base=$baseTags ops1=$ops1 ops2=$ops2")
    }
  }
}
