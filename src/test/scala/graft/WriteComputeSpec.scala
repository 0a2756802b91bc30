package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftSession
import graft.operators.{UpdateBuilder, WriteCompute}

class WriteComputeSpec extends AnyFunSuite {
  lazy val spark = GraftSession.build(appName = "wc-spec")

  val valueSchema = StructType(Seq(
    StructField("name", StringType),
    StructField("score", LongType),
    StructField("tags", ArrayType(StringType)),
    StructField("attrs", MapType(StringType, StringType))))

  val keyed = StructType(StructField("id", LongType) +: valueSchema.fields)

  def snapshotDf: DataFrame = spark.createDataFrame(Seq(
    Row(1L, "alice", 10L, Seq("a", "b"), Map("k1" -> "v1", "k2" -> "v2")),
    Row(2L, "bob", 20L, Seq("x"), Map("m" -> "n"))).asJava, keyed)

  def updatesDf(rows: Seq[(Long, Long, Row)]): DataFrame = {
    val updSchema = WriteCompute.deriveUpdateSchema(valueSchema)
    val full = StructType(
      StructField("id", LongType) +:
        StructField(WriteCompute.TsCol, LongType) +: updSchema.fields)
    spark.createDataFrame(
      rows.map { case (id, ts, u) => Row.fromSeq(id +: ts +: u.toSeq) }.asJava,
      full)
  }

  test("W4: derived update schema shape") {
    val s = WriteCompute.deriveUpdateSchema(valueSchema)
    assert(s.fieldNames.toSeq == Seq(
      "name", "score",
      "tags", "tags__setUnion", "tags__setDiff",
      "attrs", "attrs__mapUnion", "attrs__mapDiff",
      "__set_fields"))
  }

  test("W2+W3: set, list add/remove, map put/remove, NoOp skip") {
    val u1 = new UpdateBuilder(valueSchema)
      .setField("score", 99L)
      .setElementsToAddToListField("tags", Seq("c"))
      .setKeysToRemoveFromMapField("attrs", Seq("k2"))
      .buildRow()
    val out = WriteCompute.applyUpdates(
      snapshotDf, updatesDf(Seq((1L, 100L, u1))), Seq("id"))
      .orderBy("id").collect()
    val r1 = out(0)
    assert(r1.getAs[String]("name") == "alice") // NoOp keeps value
    assert(r1.getAs[Long]("score") == 99L)
    assert(r1.getAs[scala.collection.Seq[String]]("tags").toList == List("a", "b", "c"))
    assert(r1.getAs[Map[String, String]]("attrs") == Map("k1" -> "v1"))
    val r2 = out(1) // untouched key
    assert(r2.getAs[Long]("score") == 20L)
  }

  test("W3: updates fold in timestamp order; later set overrides earlier ops") {
    val early = new UpdateBuilder(valueSchema)
      .setElementsToAddToListField("tags", Seq("z")).buildRow()
    val late = new UpdateBuilder(valueSchema)
      .setField("tags", Seq("only")).buildRow()
    val out = WriteCompute.applyUpdates(
      snapshotDf, updatesDf(Seq((1L, 200L, late), (1L, 100L, early))), Seq("id"))
      .filter(col("id") === 1L).head()
    assert(out.getAs[scala.collection.Seq[String]]("tags").toList == List("only"))
    // reversed order: set first, then add
    val out2 = WriteCompute.applyUpdates(
      snapshotDf, updatesDf(Seq((1L, 100L, late), (1L, 200L, early))), Seq("id"))
      .filter(col("id") === 1L).head()
    assert(out2.getAs[scala.collection.Seq[String]]("tags").toList == List("only", "z"))
  }

  test("W3: update on unknown key builds row from null base") {
    val u = new UpdateBuilder(valueSchema)
      .setField("name", "carol")
      .setElementsToAddToListField("tags", Seq("new"))
      .buildRow()
    val out = WriteCompute.applyUpdates(
      snapshotDf, updatesDf(Seq((3L, 100L, u))), Seq("id"))
      .filter(col("id") === 3L).head()
    assert(out.getAs[String]("name") == "carol")
    assert(out.isNullAt(out.fieldIndex("score")))
    assert(out.getAs[scala.collection.Seq[String]]("tags").toList == List("new"))
  }

  test("W2: conflicting calls throw") {
    intercept[IllegalArgumentException] {
      new UpdateBuilder(valueSchema).setField("tags", Seq("x"))
        .setElementsToAddToListField("tags", Seq("y"))
    }
    intercept[IllegalArgumentException] {
      new UpdateBuilder(valueSchema).setElementsToAddToListField("tags", Seq("y"))
        .setField("tags", Seq("x"))
    }
    intercept[IllegalArgumentException] {
      new UpdateBuilder(valueSchema).setElementsToAddToListField("score", Seq(1L))
    }
  }

  test("W8: squash(u1,u2) ≡ apply u1 then u2") {
    val updSchema = WriteCompute.deriveUpdateSchema(valueSchema)
    val u1 = new UpdateBuilder(valueSchema)
      .setElementsToAddToListField("tags", Seq("p", "q"))
      .setEntriesToAddToMapField("attrs", Map("a" -> "1"))
      .setField("score", 5L).buildRow()
    val u2 = new UpdateBuilder(valueSchema)
      .setElementsToRemoveFromListField("tags", Seq("q", "b"))
      .setKeysToRemoveFromMapField("attrs", Seq("a", "k1"))
      .buildRow()
    // sequential application
    val seqOut = WriteCompute.applyUpdates(snapshotDf,
      updatesDf(Seq((1L, 100L, u1), (1L, 200L, u2))), Seq("id"))
      .filter(col("id") === 1L).head()
    // squashed application: build the squashed update as a single row
    val pair = updatesDf(Seq((1L, 100L, u1)))
      .select(struct(updSchema.fieldNames.map(col): _*).as("u1"))
      .crossJoin(updatesDf(Seq((1L, 200L, u2)))
        .select(struct(updSchema.fieldNames.map(col): _*).as("u2")))
      .select(WriteCompute.squashExpr(col("u1"), col("u2"), valueSchema).as("sq"))
      .select(updSchema.fieldNames.map(n => col("sq").getField(n).as(n)): _*)
    val sqRow = pair.head()
    val sqOut = WriteCompute.applyUpdates(snapshotDf,
      updatesDf(Seq((1L, 150L, sqRow))), Seq("id"))
      .filter(col("id") === 1L).head()
    assert(seqOut.getAs[scala.collection.Seq[String]]("tags").toList.sorted ==
      sqOut.getAs[scala.collection.Seq[String]]("tags").toList.sorted)
    assert(seqOut.getAs[Map[String, String]]("attrs") ==
      sqOut.getAs[Map[String, String]]("attrs"))
    assert(seqOut.getAs[Long]("score") == sqOut.getAs[Long]("score"))
  }

  // union-as-struct-of-optionals (SURVEY §1.2): branches s | n | arr
  val unionSchema = StructType(Seq(
    StructField("name", StringType),
    StructField("u", StructType(Seq(
      StructField("s", StringType),
      StructField("n", LongType),
      StructField("arr", ArrayType(StringType)))))))
  val unionKeyed = StructType(StructField("id", LongType) +: unionSchema.fields)

  def unionSnapshot: DataFrame = spark.createDataFrame(Seq(
    Row(1L, "alice", Row("hello", null, null)),
    Row(2L, "bob", Row(null, 7L, null))).asJava, unionKeyed)

  def unionUpdates(rows: Seq[(Long, Long, Row)]): DataFrame = {
    val updSchema = WriteCompute.deriveUpdateSchema(unionSchema)
    val full = StructType(StructField("id", LongType) +:
      StructField(WriteCompute.TsCol, LongType) +: updSchema.fields)
    spark.createDataFrame(
      rows.map { case (id, ts, u) => Row.fromSeq(id +: ts +: u.toSeq) }.asJava,
      full)
  }

  test("unions: branch switch nulls siblings; collection ops reach a branch") {
    // switch key 1 from string branch to the list branch, then add elements
    // in a later update (Venice recurses into unions for collection ops)
    val u1 = new UpdateBuilder(unionSchema)
      .setUnionField("u", "arr", Seq("a")).buildRow()
    val u2 = new UpdateBuilder(unionSchema)
      .setElementsToAddToListField("u.arr", Seq("b", "c"))
      .setElementsToRemoveFromListField("u.arr", Seq("a")).buildRow()
    // switch key 2 from the long branch to the string branch
    val u3 = new UpdateBuilder(unionSchema)
      .setUnionField("u", "s", "now-a-string").buildRow()
    val out = WriteCompute.applyUpdates(unionSnapshot,
      unionUpdates(Seq((1L, 100L, u1), (1L, 200L, u2), (2L, 100L, u3))),
      Seq("id")).orderBy("id").collect()
    val r1u = out(0).getAs[Row]("u")
    assert(r1u.getAs[String]("s") == null && r1u.isNullAt(1))
    assert(r1u.getAs[scala.collection.Seq[String]]("arr").toList == List("b", "c"))
    val r2u = out(1).getAs[Row]("u")
    assert(r2u.getAs[String]("s") == "now-a-string" && r2u.isNullAt(1))
    // untouched union field on a NoOp update row stays intact (NoOp nesting)
    val noop = new UpdateBuilder(unionSchema).setField("name", "x").buildRow()
    val out2 = WriteCompute.applyUpdates(unionSnapshot,
      unionUpdates(Seq((1L, 100L, noop))), Seq("id"))
      .orderBy("id").collect()
    assert(out2(0).getAs[Row]("u").getAs[String]("s") == "hello")
  }

  test("unions: squash ≡ sequential apply across a branch switch") {
    val updSchema = WriteCompute.deriveUpdateSchema(unionSchema)
    val u1 = new UpdateBuilder(unionSchema)
      .setUnionField("u", "arr", Seq("a", "b")).buildRow()
    val u2 = new UpdateBuilder(unionSchema)
      .setElementsToAddToListField("u.arr", Seq("c"))
      .setElementsToRemoveFromListField("u.arr", Seq("a"))
      .setField("name", "squashed").buildRow()
    val seqOut = WriteCompute.applyUpdates(unionSnapshot,
      unionUpdates(Seq((1L, 100L, u1), (1L, 200L, u2))), Seq("id"))
      .filter(col("id") === 1L).head()
    val sqRow = unionUpdates(Seq((1L, 100L, u1)))
      .select(struct(updSchema.fieldNames.map(col): _*).as("u1"))
      .crossJoin(unionUpdates(Seq((1L, 200L, u2)))
        .select(struct(updSchema.fieldNames.map(col): _*).as("u2")))
      .select(WriteCompute.squashExpr(col("u1"), col("u2"), unionSchema).as("sq"))
      .select(updSchema.fieldNames.map(n => col("sq").getField(n).as(n)): _*)
      .head()
    val sqOut = WriteCompute.applyUpdates(unionSnapshot,
      unionUpdates(Seq((1L, 150L, sqRow))), Seq("id"))
      .filter(col("id") === 1L).head()
    assert(seqOut.getAs[Row]("u") == sqOut.getAs[Row]("u"))
    assert(seqOut.getAs[String]("name") == sqOut.getAs[String]("name"))
  }
}
