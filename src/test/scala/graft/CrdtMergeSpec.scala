package graft

import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftSession
import graft.operators.CrdtMerge

/** Golden + permutation tests for the field-level RMD merge, mirroring the
  * reference's scripted-ops expected-result style
  * (merge/helper/utils/ExpectedCollectionResults.java idea, not code). */
class CrdtMergeSpec extends AnyFunSuite {
  lazy val spark = GraftSession.build(appName = "crdt-spec")

  val valueSchema = StructType(Seq(
    StructField("name", StringType),
    StructField("tags", ArrayType(StringType))))

  /** op = (kind, field, payload, ts); build the per-event state DF. */
  def eventsDf(ops: Seq[(String, String, String, Long)]): DataFrame = {
    import spark.implicits._
    val rows = ops.toDF("kind", "field", "payload", "ts")
    rows.select(lit(1L).as("k"),
      when(col("kind") === "putName",
        CrdtMerge.setFieldState("name", col("payload"), col("ts"), valueSchema))
        .when(col("kind") === "add",
          CrdtMerge.elementOpState("tags", col("payload"), col("ts"),
            isRemove = false, valueSchema))
        .when(col("kind") === "remove",
          CrdtMerge.elementOpState("tags", col("payload"), col("ts"),
            isRemove = true, valueSchema))
        .when(col("kind") === "put",
          CrdtMerge.putState(
            struct(lit(null).cast("string").as("name"),
              split(col("payload"), ",").as("tags")),
            col("ts"), valueSchema))
        .as("state"))
  }

  def merge(ops: Seq[(String, String, String, Long)]): (String, List[String]) = {
    val out = CrdtMerge.mergeEvents(eventsDf(ops), Seq("k"), valueSchema).head()
    (out.getAs[String]("name"),
      Option(out.getAs[scala.collection.Seq[String]]("tags"))
        .map(_.toList).getOrElse(null))
  }

  test("scalar LWW: newer ts wins; tie broken by value compare") {
    assert(merge(Seq(("putName", "", "old", 100L), ("putName", "", "new", 200L)))
      ._1 == "new")
    assert(merge(Seq(("putName", "", "bbb", 100L), ("putName", "", "aaa", 100L)))
      ._1 == "bbb") // tie → larger string wins, deterministically
  }

  test("collection: add after put survives, remove tombstones, delete wins tie") {
    // full put at 100 establishes {a,b}; add c at 150; remove b at 160
    val (_, tags) = merge(Seq(
      ("put", "", "a,b", 100L),
      ("add", "tags", "c", 150L),
      ("remove", "tags", "b", 160L)))
    assert(tags == List("a", "c"))
    // delete at same ts as add → delete wins
    val (_, tags2) = merge(Seq(
      ("put", "", "a", 100L),
      ("add", "tags", "x", 150L),
      ("remove", "tags", "x", 150L)))
    assert(tags2 == List("a"))
    // re-add after remove with newer ts → element returns
    val (_, tags3) = merge(Seq(
      ("put", "", "a", 100L),
      ("remove", "tags", "a", 150L),
      ("add", "tags", "a", 200L)))
    assert(tags3 == List("a"))
  }

  test("newer full put supersedes older adds (top-level ts)") {
    val (_, tags) = merge(Seq(
      ("add", "tags", "stale", 100L),
      ("put", "", "fresh1,fresh2", 200L)))
    assert(tags == List("fresh1", "fresh2"))
    // but an add newer than the put lands on top of it
    val (_, tags2) = merge(Seq(
      ("put", "", "base", 200L),
      ("add", "tags", "later", 300L)))
    assert(tags2 == List("base", "later"))
  }

  test("merge is order-independent (A/A convergence): permuted folds agree") {
    val ops = Seq(
      ("put", "", "a,b,c", 100L),
      ("putName", "", "n1", 120L),
      ("add", "tags", "d", 150L),
      ("remove", "tags", "a", 160L),
      ("putName", "", "n2", 90L),
      ("add", "tags", "a", 170L),
      ("remove", "tags", "d", 150L),
      ("put", "", "z", 50L))
    val expected = merge(ops)
    val rnd = new Random(7)
    (1 to 5).foreach { _ =>
      val shuffled = rnd.shuffle(ops)
      assert(merge(shuffled) == expected, s"diverged for order $shuffled")
    }
    assert(expected._1 == "n1")
    assert(expected._2 == List("a", "b", "c")) // d added+removed at same ts
  }

  test("A/A streaming: two regions' event streams converge to one state") {
    // region A and region B each ingest their own op stream (out of order,
    // interleaved); folding the union equals folding either ordering —
    // the streaming form of the permutation test, driven through
    // Structured Streaming microbatches.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sq = spark.sqlContext
    import spark.implicits._

    val regionA = Seq(
      ("put", "", "a,b", 100L), ("add", "tags", "c", 150L),
      ("putName", "", "from-A", 120L))
    val regionB = Seq(
      ("remove", "tags", "a", 160L), ("putName", "", "from-B", 110L),
      ("add", "tags", "d", 170L))

    val stream = MemoryStream[(String, String, String, Long)]
    stream.addData(regionA)
    stream.addData(regionB)
    val outDir = graft.core.TmpStores.dir("aa-states").toString
    val q = stream.toDF().toDF("kind", "field", "payload", "ts")
      .writeStream
      .option("checkpointLocation", s"$outDir/cp")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$outDir/ops"); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val opsDf = spark.read.parquet(s"$outDir/ops")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    val streamed = merge(opsDf.toSeq)
    val direct = merge(regionA ++ regionB)
    assert(streamed == direct)
    assert(streamed._1 == "from-A")
    assert(streamed._2 == List("b", "c", "d"))
  }

  test("idempotence: replaying the same events changes nothing") {
    val ops = Seq(
      ("put", "", "a,b", 100L),
      ("add", "tags", "c", 150L),
      ("remove", "tags", "b", 160L))
    assert(merge(ops ++ ops) == merge(ops))
  }

  // ---- model-based fuzz ----------------------------------------------------

  /** Independent in-memory model of the documented semantics — per-field
    * LWW on (ts, value-string, null loses ties), observed-remove set with
    * full-put topTs, delete-wins-on-equal-ts. Random op sequences with
    * DELIBERATE timestamp collisions must agree with the column
    * implementation; a divergence means one of them misreads the spec. */
  private def modelMerge(ops: Seq[(String, String, String, Long)])
      : (String, List[String]) = {
    var nameV: String = null; var nameTs = Long.MinValue
    var topTs = Long.MinValue
    val adds = scala.collection.mutable.Map.empty[String, Long]
    val dels = scala.collection.mutable.Map.empty[String, Long]
    def scalar(v: String, ts: Long): Unit = {
      val wins = ts > nameTs ||
        (ts == nameTs && v != null && (nameV == null || v > nameV))
      if (wins) { nameV = v; nameTs = ts }
    }
    ops.foreach {
      case ("putName", _, v, ts) => scalar(v, ts)
      case ("add", _, e, ts) => adds(e) = math.max(adds.getOrElse(e, Long.MinValue), ts)
      case ("remove", _, e, ts) => dels(e) = math.max(dels.getOrElse(e, Long.MinValue), ts)
      case ("put", _, payload, ts) =>
        scalar(null, ts) // a full put stamps every scalar (here: null name)
        topTs = math.max(topTs, ts)
        payload.split(",").filter(_.nonEmpty).foreach(e =>
          adds(e) = math.max(adds.getOrElse(e, Long.MinValue), ts))
      case other => fail(s"unknown op $other")
    }
    val tags = adds.collect { case (e, ts)
      if ts >= topTs && ts > dels.getOrElse(e, Long.MinValue) => e
    }.toList.sorted
    (nameV, tags)
  }

  test("fuzz: random op sequences with ts collisions match the model") {
    val rnd = new Random(20260812L)
    val elems = Seq("a", "b", "c")
    def randOp(): (String, String, String, Long) = {
      val ts = 1L + rnd.nextInt(6) // tiny ts range → forced collisions
      rnd.nextInt(4) match {
        case 0 => ("putName", "", "v" + rnd.nextInt(3), ts)
        case 1 => ("add", "tags", elems(rnd.nextInt(3)), ts)
        case 2 => ("remove", "tags", elems(rnd.nextInt(3)), ts)
        case _ => ("put", "",
          rnd.shuffle(elems).take(rnd.nextInt(3) + 1).mkString(","), ts)
      }
    }
    (1 to 20).foreach { i =>
      val ops = Seq.fill(3 + rnd.nextInt(8))(randOp())
      val expected = modelMerge(ops)
      val got = merge(ops)
      assert(got == expected, s"case $i: ops=$ops got=$got want=$expected")
    }
  }

  // ---- map fields (per-entry RMD) ------------------------------------------

  val mapSchema = StructType(Seq(
    StructField("name", StringType),
    StructField("attrs", MapType(StringType, StringType))))

  /** op = (kind, key, value, ts); "put" parses value "k1=v1,k2=v2". */
  def mapEventsDf(ops: Seq[(String, String, String, Long)]): DataFrame = {
    import spark.implicits._
    val rows = ops.toDF("kind", "key", "value", "ts")
    rows.select(lit(1L).as("k"),
      when(col("kind") === "putEntry",
        CrdtMerge.mapEntryState("attrs", col("key"), col("value"), col("ts"),
          mapSchema))
        .when(col("kind") === "removeKey",
          CrdtMerge.mapRemoveState("attrs", col("key"), col("ts"), mapSchema))
        .when(col("kind") === "putName",
          CrdtMerge.setFieldState("name", col("value"), col("ts"), mapSchema))
        .when(col("kind") === "put",
          CrdtMerge.putState(
            struct(lit(null).cast("string").as("name"),
              map_from_entries(transform(split(col("value"), ","),
                p => struct(split_part(p, lit("="), lit(1)).as("key"),
                  split_part(p, lit("="), lit(2)).as("value")))).as("attrs")),
            col("ts"), mapSchema))
        .as("state"))
  }

  def mergeMap(ops: Seq[(String, String, String, Long)])
      : (String, Map[String, String]) = {
    val out = CrdtMerge.mergeEvents(mapEventsDf(ops), Seq("k"), mapSchema).head()
    (out.getAs[String]("name"),
      Option(out.getAs[Map[String, String]]("attrs")).orNull)
  }

  test("map entries: per-entry LWW with deterministic value tie-break") {
    assert(mergeMap(Seq(
      ("putEntry", "a", "old", 100L),
      ("putEntry", "a", "new", 200L)))._2 == Map("a" -> "new"))
    // same ts, same key → larger value string wins regardless of fold order
    assert(mergeMap(Seq(
      ("putEntry", "a", "bbb", 100L),
      ("putEntry", "a", "aaa", 100L)))._2 == Map("a" -> "bbb"))
  }

  test("map: remove tombstones, delete wins ties, newer re-put returns") {
    val (_, m) = mergeMap(Seq(
      ("put", "", "a=1,b=2", 100L),
      ("putEntry", "c", "3", 150L),
      ("removeKey", "b", "", 160L)))
    assert(m == Map("a" -> "1", "c" -> "3"))
    assert(mergeMap(Seq(
      ("putEntry", "x", "1", 150L),
      ("removeKey", "x", "", 150L)))._2 == Map.empty) // delete wins tie
    assert(mergeMap(Seq(
      ("removeKey", "x", "", 150L),
      ("putEntry", "x", "9", 200L)))._2 == Map("x" -> "9"))
  }

  test("map: newer full put supersedes older entries (top-level ts)") {
    assert(mergeMap(Seq(
      ("putEntry", "stale", "1", 100L),
      ("put", "", "fresh=2", 200L)))._2 == Map("fresh" -> "2"))
    assert(mergeMap(Seq(
      ("put", "", "base=1", 200L),
      ("putEntry", "later", "3", 300L)))._2 ==
      Map("base" -> "1", "later" -> "3"))
  }

  test("fuzz: random MAP op sequences with ts collisions match the model") {
    // independent model: per-entry (ts, value-string) LWW, remove-key
    // tombstones (delete wins ties), full-put topTs supersession
    def model(ops: Seq[(String, String, String, Long)]): Map[String, String] = {
      var topTs = Long.MinValue
      val puts = scala.collection.mutable.Map.empty[String, (Long, String)]
      val dels = scala.collection.mutable.Map.empty[String, Long]
      def putEntry(k: String, v: String, ts: Long): Unit = {
        val cur = puts.get(k)
        val wins = cur.forall { case (cts, cv) =>
          ts > cts || (ts == cts && v > cv)
        }
        if (wins) puts(k) = (ts, v)
      }
      ops.foreach {
        case ("putEntry", k, v, ts) => putEntry(k, v, ts)
        case ("removeKey", k, _, ts) =>
          dels(k) = math.max(dels.getOrElse(k, Long.MinValue), ts)
        case ("put", _, payload, ts) =>
          topTs = math.max(topTs, ts)
          payload.split(",").filter(_.nonEmpty).foreach { kv =>
            val Array(k, v) = kv.split("=", 2); putEntry(k, v, ts)
          }
        case other => fail(s"unknown op $other")
      }
      puts.collect { case (k, (ts, v))
        if ts >= topTs && ts > dels.getOrElse(k, Long.MinValue) => k -> v
      }.toMap
    }
    val rnd = new Random(42424242L)
    val keys = Seq("a", "b", "c")
    def randOp(): (String, String, String, Long) = {
      val ts = 1L + rnd.nextInt(6)
      rnd.nextInt(4) match {
        case 0 => ("putEntry", keys(rnd.nextInt(3)), "v" + rnd.nextInt(3), ts)
        case 1 => ("removeKey", keys(rnd.nextInt(3)), "", ts)
        case _ => ("put", "",
          rnd.shuffle(keys).take(rnd.nextInt(3) + 1)
            .map(k => s"$k=w${rnd.nextInt(3)}").mkString(","), ts)
      }
    }
    (1 to 20).foreach { i =>
      val ops = Seq.fill(3 + rnd.nextInt(8))(randOp())
      val expected = model(ops)
      val got = mergeMap(ops)._2
      assert(got == expected, s"case $i: ops=$ops got=$got want=$expected")
    }
  }

  test("map merge is order-independent and idempotent") {
    val ops = Seq(
      ("put", "", "a=1,b=2,c=3", 100L),
      ("putName", "", "n1", 120L),
      ("putEntry", "d", "4", 150L),
      ("removeKey", "a", "", 160L),
      ("putEntry", "a", "5", 170L),
      ("removeKey", "d", "", 150L),
      ("put", "", "z=0", 50L))
    val expected = mergeMap(ops)
    val rnd = new Random(11)
    (1 to 5).foreach { _ =>
      assert(mergeMap(rnd.shuffle(ops)) == expected)
    }
    assert(mergeMap(ops ++ ops) == expected)
    // a@170 survives its 160 tombstone; d@150 died on the equal-ts delete
    assert(expected._2 == Map("a" -> "5", "b" -> "2", "c" -> "3"))
    assert(expected._1 == "n1")
  }

  test("flattenStates ≡ mergeEvents on one-state-per-key frames") {
    // the A/A read fast path: untouched snapshot keys skip the fold via
    // flattenStates — pinned exactly equal to a fold of one, across every
    // state constructor (put / setField / element add+remove / map entry /
    // map remove), both with and without RMD columns
    val rnd = new Random(13)
    val arrOps = (0 until 100).map { i =>
      val kind = Seq("putName", "add", "remove", "put")(rnd.nextInt(4))
      (kind, "", if (kind == "put") s"a${i % 3},b${i % 5}" else s"v${i % 7}",
        rnd.nextInt(100).toLong)
    }
    val arrStates = eventsDf(arrOps)
      .withColumn("k", monotonically_increasing_id()).persist()
    val mapOps = (0 until 100).map { i =>
      val kind = Seq("putEntry", "removeKey", "putName", "put")(rnd.nextInt(4))
      (kind, s"k${i % 4}",
        if (kind == "put") s"a${i % 3}=1,b${i % 5}=2" else s"v${i % 7}",
        rnd.nextInt(100).toLong)
    }
    val mapStates = mapEventsDf(mapOps)
      .withColumn("k", monotonically_increasing_id()).persist()
    for {
      (states, schema) <- Seq((arrStates, valueSchema), (mapStates, mapSchema))
      keepRmd <- Seq(false, true)
    } {
      val folded = CrdtMerge.mergeEvents(states, Seq("k"), schema, keepRmd)
        .orderBy("k").collect().map(_.toString)
      val flat = CrdtMerge.flattenStates(states, Seq("k"), schema, keepRmd)
        .orderBy("k").collect().map(_.toString)
      assert(folded.sameElements(flat),
        s"fold-of-one mismatch (keepRmd=$keepRmd): " +
          folded.zip(flat).find(p => p._1 != p._2))
    }
    arrStates.unpersist(); mapStates.unpersist()
  }

  test("byte-parity tie-break applies at FIELD and ELEMENT level: the flag " +
      "flips equal-ts winners where string and Avro byte order disagree") {
    // int-valued schema: "10" < "9" as strings, but zigzag(10)=0x14 >
    // zigzag(9)=0x12 as unsigned Avro bytes (MergeByteBuffer order)
    val intSchema = StructType(Seq(
      StructField("score", IntegerType),
      StructField("attrs", MapType(StringType, IntegerType))))
    def events(): DataFrame = {
      import spark.implicits._
      val rows = Seq(("a", 10), ("a", 9)).toDF("key", "value")
      rows.select(lit(1L).as("k"),
        CrdtMerge.mapEntryState("attrs", col("key"), col("value"), lit(100L),
          intSchema).as("state"))
        .unionByName(rows.select(lit(1L).as("k"),
          CrdtMerge.setFieldState("score", col("value"), lit(100L), intSchema)
            .as("state")))
    }
    def winners(byteTie: Boolean): (Int, Map[String, Int]) = {
      val out = CrdtMerge.mergeEvents(events(), Seq("k"), intSchema,
        byteTieBreak = byteTie).head()
      (out.getAs[Int]("score"), out.getAs[Map[String, Int]]("attrs"))
    }
    val (sStr, mStr) = winners(byteTie = false)
    assert(sStr == 9 && mStr == Map("a" -> 9),
      "string order: \"9\" beats \"10\" at both levels")
    val (sByt, mByt) = winners(byteTie = true)
    assert(sByt == 10 && mByt == Map("a" -> 10),
      "byte order: zigzag(10) beats zigzag(9) at both levels")
    // convergence survives the flipped order: permuted folds still agree
    val fwd = CrdtMerge.mergeEvents(events(), Seq("k"), intSchema,
      byteTieBreak = true).head().toString
    val rev = CrdtMerge.mergeEvents(
      events().orderBy(col("state").cast("string").desc), Seq("k"),
      intSchema, byteTieBreak = true).head().toString
    assert(fwd == rev, "byte tie-break must stay order-independent")
    // pairwise reference semantics agree with the fold under the flag
    import org.apache.spark.sql.functions.{lit => l}
    val joined = spark.range(1)
      .select(CrdtMerge.joinStates(
        CrdtMerge.setFieldState("score", l(10), l(100L), intSchema),
        CrdtMerge.setFieldState("score", l(9), l(100L), intSchema),
        intSchema, byteTieBreak = true).as("j"))
      .select(col("j.score")).head().getInt(0)
    assert(joined == 10, "joinStates byte tie-break: 10 beats 9")
  }
}
