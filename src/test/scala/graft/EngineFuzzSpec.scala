package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, Executors, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{GraftEngine, GraftSession}
import graft.operators.{UpdateBuilder, WriteCompute}

/** Engine-level differential fuzzing: random op interleavings
  * (put/delete/update/repush/rollback/rebucket/compliance-purge over LWW
  * and A/A stores)
  * executed against a real [[GraftEngine]] and replayed on a sequential
  * in-memory model of the documented semantics — the engine-boundary
  * analog of the reference's TLA+ intent (specs/TLA+/CRDT: convergence of
  * the conflict resolution under arbitrary op orders; semantics, not
  * code), beyond CrdtMergeSpec's per-fold permutations.
  *
  * 1200 ScalaCheck-generated scripts: 250 LWW + 250 A/A through the
  * engine API, 100 + 100 whose final state is read through the DSv2
  * connector instead, 100 LWW scripts whose puts AND initial push go
  * through the DSv2 writer (df.write.format("graft")), 100 + 100 whose
  * puts and deletes ride the STREAMING sink's addBatch with crash
  * replays (exactly-once differential, LWW and A/A), and 100 + 100
  * view-maintenance scripts (LWW and A/A source stores) where full
  * recompute is the oracle — run on a
  * thread pool (independent stores; Spark schedules concurrent jobs
  * FIFO). Both op alphabets include schema evolution (register an
  * `extra: Long` field mid-script, old- and new-writer puts
  * interleaved). On a mismatch the failing script is SHRUNK by greedy
  * op-deletion to a minimal reproduction before reporting.
  *
  * Model semantics pinned here:
  *  - LWW: winner per key = max (ts, deleted, rendered-payload) — snapshot
  *    rows at ts 0, delete-wins on ties, string tie-break on put/put ties
  *    (concat_ws skips null columns).
  *  - Write-compute: updates fold IN TS ORDER onto the post-LWW state;
  *    an update whose key is absent creates the record from a null base.
  *  - A/A: per-field (ts, value); put stamps record marker + every field,
  *    delete beats fields/marker with older ts and leaves its own ts
  *    behind (late lower-ts puts stay dead), set-field touches one field;
  *    visible iff the marker survived or any field is live.
  *  - repush/rebucket: fold everything into a new version, logs archived;
  *    rollback: pointer flip to the newest older version, pending logs
  *    still overlay; repush after rollback re-mints the version number.
  */
class EngineFuzzSpec extends AnyFunSuite {
  lazy val spark = GraftSession.build(appName = "engine-fuzz")

  private val Keys = Seq(1L, 2L, 3L, 4L, 5L)
  private val TsPool = Seq(10L, 20L, 30L, 40L) // reuse → tie coverage (LWW)

  // ---------------------------------------------------------------- LWW ----

  sealed trait LOp
  case class LPut(kvs: Seq[(Long, String, Long)], ts: Long) extends LOp
  case class LDel(ks: Seq[Long], ts: Long) extends LOp
  case class LUpd(k: Long, field: String, sv: String, lv: Long, ts: Long)
    extends LOp
  case object LRepush extends LOp
  case object LRollback extends LOp
  case class LRebucket(n: Int) extends LOp
  /** Squash the pending-update log in place (the round-8 ADVICE crash:
    * update → compactUpdates dropped __log_seq from every file and
    * changelogSince/refreshView threw forever). Semantically a NO-OP on
    * the serving view AND on change coordinates — the model ignores it,
    * which is exactly the property the differential pins. */
  case object LCompact extends LOp
  /** Compliance purge: tombstone + drop the keys' pending updates + repush
    * + vacuum. `ts` must beat every prior write (assigned 5000+i per
    * script index, above the TsPool/update ranges by construction). */
  case class LPurge(ks: Seq[Long], ts: Long) extends LOp
  /** Register the evolved schema (adds `extra: Long`). */
  case object LEvolve extends LOp
  /** Put under the EVOLVED writer schema (carries `extra`). Before the
    * evolution registers, the engine conforms the batch to the superset
    * and the unknown column is dropped — the model mirrors that. */
  case class LPutNew(kvs: Seq[(Long, String, Long, Long)], ts: Long)
    extends LOp

  case class MVal(name: Option[String], score: Option[Long],
    extra: Option[Long] = None)

  /** Sequential in-memory model of an LWW store. */
  final class LwwModel {
    val versions = mutable.Map[Int, Map[Long, MVal]]()
    var current = 0
    var log = Vector.empty[(Long, Long, Boolean, MVal)] // ts, k, del, v
    var updates = Vector.empty[(Long, Long, String, String, Long)]

    var evolved = false

    def init(rows: Map[Long, MVal]): Unit = { versions(1) = rows; current = 1 }

    private def render(k: Long, v: MVal): String =
      (Seq(k.toString) ++ v.name.toSeq ++ v.score.map(_.toString) ++
        v.extra.map(_.toString)).mkString("|")

    def resolve(): Map[Long, MVal] = {
      val snap = versions.getOrElse(current, Map.empty)
      val keys = snap.keySet ++ log.map(_._2)
      val merged = keys.flatMap { k =>
        val cands = snap.get(k).map(v => (0L, false, v)).toSeq ++
          log.collect { case (ts, `k`, del, v) => (ts, del, v) }
        val win = cands.maxBy { case (ts, del, v) =>
          (ts, if (del) 1 else 0, render(k, v)) }
        if (win._2) None else Some(k -> win._3)
      }.toMap
      val byKey = updates.groupBy(_._2)
      (merged.keySet ++ byKey.keySet).flatMap { k =>
        byKey.get(k) match {
          case None => merged.get(k).map(k -> _)
          case Some(us) =>
            val base = merged.getOrElse(k, MVal(None, None))
            Some(k -> us.sortBy(_._1).foldLeft(base) { (acc, u) =>
              if (u._3 == "name") acc.copy(name = Some(u._4))
              else acc.copy(score = Some(u._5))
            })
        }
      }.toMap
    }

    def hasBackup: Boolean = versions.keys.exists(_ < current)

    def apply(op: LOp): Unit = op match {
      case LPut(kvs, ts) =>
        log ++= kvs.map { case (k, n, s) =>
          (ts, k, false, MVal(Some(n), Some(s))) }
      case LEvolve => evolved = true
      case LPutNew(kvs, ts) =>
        log ++= kvs.map { case (k, n, s, x) =>
          (ts, k, false,
            MVal(Some(n), Some(s), if (evolved) Some(x) else None)) }
      case LDel(ks, ts) =>
        log ++= ks.map(k => (ts, k, true, MVal(None, None)))
      case LUpd(k, f, sv, lv, ts) => updates :+= ((ts, k, f, sv, lv))
      case LRepush | LRebucket(_) =>
        val state = resolve(); val v = current + 1
        versions(v) = state; current = v
        log = Vector.empty; updates = Vector.empty
      case LPurge(ks, ts) =>
        // tombstone at a ts beating every prior write, drop the keys'
        // PENDING updates (they would null-base-resurrect otherwise),
        // fold into a fresh version; vacuum retires every older version,
        // so rollback below this point must be refused by the engine
        log ++= ks.map(k => (ts, k, true, MVal(None, None)))
        updates = updates.filterNot(u => ks.contains(u._2))
        val state = resolve(); val v = current + 1
        versions.clear(); versions(v) = state; current = v
        log = Vector.empty; updates = Vector.empty
      case LRollback =>
        current = versions.keys.filter(_ < current).max
      case LCompact => () // squash preserves the fold outcome by contract
    }
  }

  private val lwwOpGen: Gen[LOp] = {
    val put = for {
      ks <- Gen.nonEmptyContainerOf[Set, Long](Gen.oneOf(Keys))
      ts <- Gen.oneOf(TsPool)
      tag <- Gen.choose(0, 9)
    } yield LPut(ks.toSeq.sorted.map(k => (k, s"p$tag-$k", tag * 100L + k)), ts)
    val del = for {
      ks <- Gen.nonEmptyContainerOf[Set, Long](Gen.oneOf(Keys))
      ts <- Gen.oneOf(TsPool)
    } yield LDel(ks.toSeq.sorted, ts)
    val upd = for {
      k <- Gen.oneOf(Keys)
      f <- Gen.oneOf("name", "score")
      tag <- Gen.choose(0, 9)
    } yield LUpd(k, f, s"u$tag", 1000L + tag, 0L) // ts assigned per-index below
    val putNew = for {
      ks <- Gen.nonEmptyContainerOf[Set, Long](Gen.oneOf(Keys))
      ts <- Gen.oneOf(TsPool)
      tag <- Gen.choose(0, 9)
    } yield LPutNew(ks.toSeq.sorted.map(k =>
      (k, s"n$tag-$k", tag * 100L + k, tag * 7L + k)), ts)
    val purge = Gen.nonEmptyContainerOf[Set, Long](Gen.oneOf(Keys))
      .map(ks => LPurge(ks.toSeq.sorted, 0L)) // ts assigned per-index below
    Gen.frequency(4 -> put, 3 -> del, 2 -> upd, 1 -> Gen.const(LRepush),
      1 -> Gen.const(LRollback), 1 -> Gen.choose(2, 8).map(LRebucket),
      1 -> Gen.const(LEvolve), 2 -> putNew, 1 -> purge,
      1 -> Gen.const(LCompact))
  }

  private val lwwScriptGen: Gen[List[LOp]] = for {
    n <- Gen.choose(3, 8)
    ops <- Gen.listOfN(n, lwwOpGen)
  } yield ops.zipWithIndex.map { // unique ts per update: squash order defined
    case (u: LUpd, i) => u.copy(ts = 200L + i)
    case (p: LPurge, i) => p.copy(ts = 5000L + i) // beats every prior write
    case (op, _) => op
  }

  private def runLww(script: List[LOp],
      viaConnector: Boolean = false,
      viaWriter: Boolean = false,
      viaSink: Boolean = false): Option[String] = {
    val root = graft.core.TmpStores.dir("fuzz-lww").toString
    val e = new GraftEngine(spark, root)
    e.createStore("s", Seq("k"))
    val model = new LwwModel
    val initRows = Keys.take(3).map(k => (k, s"init$k", k * 100L))
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("name", StringType), StructField("score", LongType)))
    def df(rows: Seq[(Long, String, Long)]) = spark.createDataFrame(
      rows.map(r => Row(r._1, r._2, r._3)).asJava, schema)
    // viaSink: puts AND deletes flow through the streaming sink's addBatch
    // (one CDC microbatch each, per-batch tsMs), with deterministic CRASH
    // REPLAYS: ~1 in 3 batches is re-delivered — same id, CORRUPTED
    // payload — and must be skipped by the per-query commit record (a
    // replay that applied would corrupt state and the model would catch
    // it). Fuzz-proves exactly-once over every admin interleaving.
    val sinkRng = new scala.util.Random(script.hashCode)
    var nextBatch = 0L
    def sinkBatch(d: org.apache.spark.sql.DataFrame, ts: Long): Unit = {
      val sink = graft.sources.GraftStreamSink(root, "s",
        Map("tsms" -> ts.toString, "deletecolumn" -> "dead"))
      sink.addBatch(nextBatch, d)
      if (sinkRng.nextInt(3) == 0) // crash replay: must be a no-op
        sink.addBatch(nextBatch, d.withColumn("name", lit("REPLAYED"))
          .withColumn("dead", !col("dead")))
      if (sinkRng.nextInt(4) == 0 && nextBatch > 0) // stale re-delivery
        graft.sources.GraftStreamSink(root, "s",
          Map("tsms" -> (ts + 999).toString, "deletecolumn" -> "dead"))
          .addBatch(sinkRng.nextLong(nextBatch), d)
      nextBatch += 1
    }
    // viaWriter: the puts and the initial push go through the DSv2 write
    // surface (df.write.format("graft")) instead of the engine API —
    // fuzz-proves the writer is byte-equivalent to put/push. Deletes,
    // updates and admin ops stay on the API: the writer surface is
    // put/push, exactly as Venice's push job carries no deletes.
    def putVia(d: org.apache.spark.sql.DataFrame, ts: Long): Unit =
      if (viaSink) sinkBatch(d.withColumn("dead", lit(false)), ts)
      else if (viaWriter) d.write.format("graft").option("root", root)
        .option("store", "s").option("tsMs", ts).mode("append").save()
      else e.put("s", d, ts)
    if (viaWriter) df(initRows).write.format("graft").option("root", root)
      .option("store", "s").option("numBuckets", 4).mode("overwrite").save()
    else e.push("s", df(initRows), numBuckets = 4)
    model.init(initRows.map(r => r._1 -> MVal(Some(r._2), Some(r._3))).toMap)
    val valueSchema = StructType(schema.fields.filterNot(_.name == "k"))
    val updSchema = StructType(StructField("k", LongType) +:
      WriteCompute.deriveUpdateSchema(valueSchema).fields)
    val evolvedSchema = StructType(schema.fields :+
      StructField("extra", LongType))
    def df4(rows: Seq[(Long, String, Long, Long)]) = spark.createDataFrame(
      rows.map(r => Row(r._1, r._2, r._3, r._4)).asJava, evolvedSchema)
    script.foreach {
      case op @ LPut(kvs, ts) => putVia(df(kvs), ts); model(op)
      case op @ LEvolve =>
        e.registerValueSchema("s", evolvedSchema); model(op)
      case op @ LPutNew(kvs, ts) => putVia(df4(kvs), ts); model(op)
      case op @ LDel(ks, ts) =>
        if (viaSink) sinkBatch(spark.createDataFrame(
          ks.map(k => Row(k)).asJava,
          StructType(Seq(StructField("k", LongType))))
          .withColumn("dead", lit(true)), ts)
        else e.delete("s", spark.createDataFrame(
          ks.map(k => Row(k)).asJava,
          StructType(Seq(StructField("k", LongType)))), ts)
        model(op)
      case op @ LUpd(k, f, sv, lv, ts) =>
        val b = new UpdateBuilder(valueSchema)
        val u = (if (f == "name") b.setField("name", sv)
                 else b.setField("score", lv)).buildRow()
        e.update("s", spark.createDataFrame(
          List(Row.fromSeq(k +: u.toSeq)).asJava, updSchema), ts)
        model(op)
      case LRepush => e.repush("s"); model(LRepush)
      case LCompact => e.compactUpdates("s"); model(LCompact)
      case op @ LPurge(ks, ts) =>
        e.purge("s", spark.createDataFrame(
          ks.map(k => Row(k)).asJava,
          StructType(Seq(StructField("k", LongType)))), ts)
        model(op)
      case op @ LRebucket(n) => e.rebucket("s", n); model(op)
      case LRollback =>
        if (model.hasBackup) { e.rollback("s"); model(LRollback) }
        else {
          intercept[IllegalStateException] { e.rollback("s") }
          () // engine refused; state unchanged on both sides
        }
    }
    val view =
      if (viaConnector) spark.read.format("graft")
        .option("root", root).option("store", "s").load()
      else e.servingView("s")
    val hasExtra = view.columns.contains("extra")
    if (hasExtra != model.evolved)
      return Some(s"schema: engine extra=$hasExtra model=${model.evolved}")
    val got = view
      .select(Seq(col("k"), col("name"), col("score")) ++
        (if (hasExtra) Seq(col("extra")) else Nil): _*)
      .collect()
      .map(r => r.getLong(0) ->
        MVal(Option(r.get(1)).map(_.toString),
          Option(r.get(2)).map(_.asInstanceOf[Long]),
          if (hasExtra) Option(r.get(3)).map(_.asInstanceOf[Long]) else None))
      .toMap
    val want = model.resolve()
    if (got != want) return Some(s"engine=$got\n  model=$want")

    // versionDiff differential: whenever the script left ≥2 retained
    // versions, the engine's push-to-push diff must equal the diff of the
    // model's two newest snapshots — delta-only, per-field, null-safe
    // (superset-conformed: a pre-evolution snapshot reads extra as None)
    val mvs = model.versions.keys.toSeq.sorted
    if (mvs.size >= 2) {
      val (va, vb) = (mvs(mvs.size - 2), mvs.last)
      val evs = e.listVersions("s")
      if (evs != mvs) return Some(s"versions: engine=$evs model=$mvs")
      val gotD = e.versionDiff("s", va, vb).collect().map { r =>
        r.getLong(0) -> (r.getString(1), Option(r.getString(2)))
      }.toMap
      def fields(v: MVal): Map[String, Option[Any]] =
        Map("name" -> v.name, "score" -> v.score, "extra" -> v.extra)
      val a = model.versions(va); val b = model.versions(vb)
      val wantD = (a.keySet ++ b.keySet).flatMap { k =>
        (a.get(k), b.get(k)) match {
          case (None, Some(_)) => Some(k -> (("added", None)))
          case (Some(_), None) => Some(k -> (("removed", None)))
          case (Some(x), Some(y)) =>
            val ch = fields(x).keys.toSeq.sorted
              .filter(f => fields(x)(f) != fields(y)(f))
            if (ch.isEmpty) None
            else Some(k -> (("changed", Some(ch.mkString(",")))))
          case _ => None
        }
      }.toMap
      if (gotD != wantD)
        return Some(s"versionDiff($va,$vb): engine=$gotD\n  model=$wantD")
    }

    // migration differential (~1 in 4 scripts): clone the final store —
    // whatever state the script reached (pending logs, updates, evolution,
    // rebucket, purge) — into a fresh root; migrateStore's internal
    // count+hash verify throws if recoverStoreFrom missed any state file
    if (!viaConnector && !viaWriter && !viaSink && script.length % 4 == 0)
      e.migrateStore("s", new GraftEngine(spark,
        graft.core.TmpStores.dir("fuzz-mig").toString))
    None
  }

  // ---------------------------------------------------------------- A/A ----

  sealed trait AOp { def ts: Long }
  case class APut(k: Long, name: String, score: Long, ts: Long) extends AOp
  case class ADel(k: Long, ts: Long) extends AOp
  case class ASet(k: Long, field: String, sv: String, lv: Long, ts: Long)
    extends AOp
  /** Collection element ops on the `tags` array field — the
    * observed-remove set CRDT under random interleavings with puts
    * (which reset the collection at topTs), record deletes, repush
    * (which persists collapsed element RMD) and rollback. */
  case class ATagAdd(k: Long, tag: String, ts: Long) extends AOp
  case class ATagRem(k: Long, tag: String, ts: Long) extends AOp
  case class AAdmin(kind: String, n: Int, ts: Long) extends AOp // repush etc
  /** A/A compliance purge: deleteAA at a ts beating every prior write,
    * TTL repush at ts+1 (GCs ALL tombstones — their max contributing ts
    * is ≤ ts), vacuum (backups gone → rollback must refuse). Later
    * lower-ts writes RESURRECT from a blank base: the RMD that would
    * have killed them was garbage-collected — the documented TTL
    * tradeoff, now fuzzed against the model. */
  case class APurge(ks: Seq[Long], ts: Long) extends AOp
  /** Register the evolved A/A schema (adds `extra: Long`). */
  case class AEvolve(ts: Long) extends AOp
  /** Put under the EVOLVED writer schema. Pre-evolution the engine
    * conforms the batch to the superset (extra dropped) — the model
    * downgrades the op to a plain put. Post-evolution, old-writer puts
    * get BOTTOM state for `extra` (SchemaIdCol dispatch: an old-schema
    * put must not clobber a field it never knew), while whole-record
    * deletes tombstone ALL superset fields at their ts — Venice deletes
    * are schema-agnostic, and applying them over the resolve-time
    * superset is the order-independent reading of that. */
  case class APutNew(k: Long, name: String, score: Long, extra: Long,
    ts: Long) extends AOp

  case class AField(ts: Long, v: Option[Any])
  /** Collection state mirroring CrdtMerge.mergedArray's bag semantics:
    * per-element max add/remove ts + collection-level topTs; liveness is
    * resolved at visibility time (addTs >= topTs && addTs > remTs — the
    * filters are monotone in topTs, so never collapsing the maps is
    * equivalent to the engine's collapse-at-merge). */
  case class ACol(topTs: Long, add: Map[String, Long], rem: Map[String, Long])
  case class ARec(recTs: Long, rec: Boolean, name: AField, score: AField,
    extra: AField, tags: ACol)

  final class AaModel {
    private val Bottom = Long.MinValue
    private def blank = ARec(Bottom, false, AField(Bottom, None),
      AField(Bottom, None), AField(Bottom, None),
      ACol(Bottom, Map.empty, Map.empty))
    val versions = mutable.Map[Int, Map[Long, ARec]]()
    var current = 0
    var ops = Vector.empty[AOp]
    var evolved = false

    def init(rows: Map[Long, (String, Long)]): Unit = {
      // snapshot rows without persisted RMD enter the fold as putState at
      // ts 0 (GraftEngine snapState) — element ts 0, topTs 0; scalar
      // Bottom stays fine because op timestamps are always ≥ 10
      versions(1) = rows.map { case (k, (n, s)) =>
        k -> ARec(Bottom, true, AField(Bottom, Some(n)),
          AField(Bottom, Some(s)), AField(Bottom, None),
          ACol(0L, Map(s"t$k" -> 0L), Map.empty))
      }.toMap
      current = 1
    }

    def resolve(): Map[Long, ARec] = {
      val state = mutable.Map.empty[Long, ARec] ++
        versions.getOrElse(current, Map.empty)
      // put/delete reset the collection at topTs (putState gives a put's
      // elements the put ts and a delete an empty bag at the delete ts);
      // element adds/removes touch only their element's max ts
      def putTags(c: ACol, tag: String, ts: Long): ACol =
        ACol(math.max(c.topTs, ts),
          c.add + (tag -> math.max(c.add.getOrElse(tag, Bottom), ts)), c.rem)
      ops.foreach {
        case APut(k, n, s, ts) =>
          val r = state.getOrElse(k, blank)
          state(k) = r.copy(
            recTs = math.max(r.recTs, ts),
            rec = if (ts > r.recTs) true else r.rec,
            name = if (ts > r.name.ts) AField(ts, Some(n)) else r.name,
            score = if (ts > r.score.ts) AField(ts, Some(s)) else r.score,
            tags = putTags(r.tags, n, ts))
        case APutNew(k, n, s, x, ts) =>
          val r = state.getOrElse(k, blank)
          state(k) = r.copy(
            recTs = math.max(r.recTs, ts),
            rec = if (ts > r.recTs) true else r.rec,
            name = if (ts > r.name.ts) AField(ts, Some(n)) else r.name,
            score = if (ts > r.score.ts) AField(ts, Some(s)) else r.score,
            extra = if (ts > r.extra.ts) AField(ts, Some(x)) else r.extra,
            tags = putTags(r.tags, n, ts))
        case ADel(k, ts) =>
          val r = state.getOrElse(k, blank)
          state(k) = r.copy(
            recTs = math.max(r.recTs, ts),
            rec = if (ts > r.recTs) false else r.rec,
            name = if (ts > r.name.ts) AField(ts, None) else r.name,
            score = if (ts > r.score.ts) AField(ts, None) else r.score,
            extra = if (ts > r.extra.ts) AField(ts, None) else r.extra,
            tags = r.tags.copy(topTs = math.max(r.tags.topTs, ts)))
        case ATagAdd(k, tag, ts) =>
          val r = state.getOrElse(k, blank)
          state(k) = r.copy(tags = r.tags.copy(add = r.tags.add +
            (tag -> math.max(r.tags.add.getOrElse(tag, Bottom), ts))))
        case ATagRem(k, tag, ts) =>
          val r = state.getOrElse(k, blank)
          state(k) = r.copy(tags = r.tags.copy(rem = r.tags.rem +
            (tag -> math.max(r.tags.rem.getOrElse(tag, Bottom), ts))))
        case ASet(k, f, sv, lv, ts) =>
          val r = state.getOrElse(k, blank)
          state(k) =
            if (f == "name")
              r.copy(name =
                if (ts > r.name.ts) AField(ts, Some(sv)) else r.name)
            else
              r.copy(score =
                if (ts > r.score.ts) AField(ts, Some(lv)) else r.score)
        case _: AAdmin => // handled by apply
      }
      state.toMap
    }

    def liveTags(c: ACol): List[String] =
      c.add.collect {
        case (e, t) if t >= c.topTs &&
            t > c.rem.getOrElse(e, Bottom) => e
      }.toList.sorted

    def visible(): Map[Long,
        (Option[String], Option[Long], Option[Long], List[String])] =
      resolve().collect {
        case (k, r) if r.rec || r.name.v.nonEmpty || r.score.v.nonEmpty ||
            r.extra.v.nonEmpty || liveTags(r.tags).nonEmpty =>
          k -> (r.name.v.map(_.toString),
            r.score.v.map(_.asInstanceOf[Long]),
            r.extra.v.map(_.asInstanceOf[Long]),
            liveTags(r.tags))
      }

    def hasBackup: Boolean = versions.keys.exists(_ < current)

    def apply(op: AOp): Unit = op match {
      case AAdmin("repush", _, _) | AAdmin("rebucket", _, _) =>
        val v = current + 1
        versions(v) = resolve(); current = v; ops = Vector.empty
      case AAdmin("rollback", _, _) =>
        current = versions.keys.filter(_ < current).max
      case APurge(ks, ts) =>
        // tombstone the keys at the all-beating ts, then fold with the
        // TTL at ts+1: every tombstone's max contributing ts is ≤ ts, so
        // ALL tombstoned records (purged keys AND earlier plain deletes)
        // are physically dropped; vacuum retires the older versions
        ks.foreach(k => ops :+= ADel(k, ts))
        val kept = resolve().filter { case (_, r) =>
          r.rec || r.name.v.nonEmpty || r.score.v.nonEmpty ||
            r.extra.v.nonEmpty || liveTags(r.tags).nonEmpty
        }
        val v = current + 1
        versions.clear(); versions(v) = kept; current = v
        ops = Vector.empty
      case AEvolve(_) => evolved = true
      case APutNew(k, n, s, _, ts) if !evolved =>
        ops :+= APut(k, n, s, ts) // conform dropped the unknown column
      case o => ops :+= o
    }
  }

  private val aaOpGen: Gen[AOp] = {
    val put = for {
      k <- Gen.oneOf(Keys); tag <- Gen.choose(0, 9)
    } yield APut(k, s"a$tag-$k", tag * 10L + k, 0L)
    val del = Gen.oneOf(Keys).map(k => ADel(k, 0L))
    val set = for {
      k <- Gen.oneOf(Keys); f <- Gen.oneOf("name", "score")
      tag <- Gen.choose(0, 9)
    } yield ASet(k, f, s"s$tag", 500L + tag, 0L)
    val putNew = for {
      k <- Gen.oneOf(Keys); tag <- Gen.choose(0, 9)
    } yield APutNew(k, s"e$tag-$k", tag * 10L + k, tag * 7L + k, 0L)
    // tag pool collides with init tags (t$k) and put tags (the put name)
    // so add/remove races the collection resets, not just itself
    def tagPool(k: Long): Gen[String] =
      Gen.oneOf("x", "y", s"t$k", s"a3-$k", s"init$k")
    val tagAdd = for {
      k <- Gen.oneOf(Keys); t <- tagPool(k)
    } yield ATagAdd(k, t, 0L)
    val tagRem = for {
      k <- Gen.oneOf(Keys); t <- tagPool(k)
    } yield ATagRem(k, t, 0L)
    val purge = Gen.nonEmptyContainerOf[Set, Long](Gen.oneOf(Keys))
      .map(ks => APurge(ks.toSeq.sorted, 0L))
    Gen.frequency(4 -> put, 3 -> del, 3 -> set,
      1 -> Gen.const(AAdmin("repush", 0, 0L)),
      1 -> Gen.const(AAdmin("rollback", 0, 0L)),
      1 -> Gen.choose(2, 8).map(n => AAdmin("rebucket", n, 0L)),
      1 -> Gen.const(AEvolve(0L)), 2 -> putNew,
      2 -> tagAdd, 2 -> tagRem, 1 -> purge)
  }

  /** Distinct, SHUFFLED timestamps: ops arrive out of ts order — the A/A
    * resolution must converge regardless (including late old-ts events
    * landing after a repush persisted the RMD state). */
  private val aaScriptGen: Gen[List[AOp]] = for {
    n <- Gen.choose(3, 8)
    ops <- Gen.listOfN(n, aaOpGen)
    perm <- Gen.const(()).flatMap(_ => genPerm(n))
  } yield ops.zip(perm).map {
    case (o: APut, t) => o.copy(ts = t)
    case (o: ADel, t) => o.copy(ts = t)
    case (o: ASet, t) => o.copy(ts = t)
    case (o: APutNew, t) => o.copy(ts = t)
    case (o: ATagAdd, t) => o.copy(ts = t)
    case (o: ATagRem, t) => o.copy(ts = t)
    // the purge ts must beat every write ts in the script (the erasure
    // contract); the +t keeps two purges' ts distinct and ordered
    case (o: APurge, t) => o.copy(ts = 100000L + t)
    case (o: AEvolve, _) => o
    case (o: AAdmin, _) => o
  }

  private def genPerm(n: Int): Gen[Seq[Long]] =
    Gen.listOfN(n, Gen.choose(0, 1 << 20)).map { rs =>
      // rank-order the random draws → a shuffled permutation of 10,20,…
      val ranks = rs.zipWithIndex.sortBy(x => (x._1, x._2)).zipWithIndex
        .map { case ((_, orig), rank) => orig -> ((rank + 1) * 10L) }
        .toMap
      (0 until n).map(ranks)
    }

  private def runAa(script: List[AOp],
      viaConnector: Boolean = false,
      viaSink: Boolean = false): Option[String] = {
    val root = graft.core.TmpStores.dir("fuzz-aa").toString
    val e = new GraftEngine(spark, root)
    e.createStore("s", Seq("k"))
    e.enableActiveActive("s")
    val model = new AaModel
    val initRows = Keys.take(3).map(k => (k, s"init$k", k * 100L))
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("name", StringType), StructField("score", LongType),
      StructField("tags", ArrayType(StringType))))
    // every put carries tags = [name] so the collection sees full-put
    // resets (topTs) interleaved with the element ops
    def df(rows: Seq[(Long, String, Long)]) = spark.createDataFrame(
      rows.map(r => Row(r._1, r._2, r._3, Seq(r._2))).asJava, schema)
    e.push("s", spark.createDataFrame(
      initRows.map(r => Row(r._1, r._2, r._3, Seq(s"t${r._1}"))).asJava,
      schema), numBuckets = 4)
    model.init(initRows.map(r => r._1 -> (r._2, r._3)).toMap)
    val kdf = (k: Long) => spark.createDataFrame(List(Row(k)).asJava,
      StructType(Seq(StructField("k", LongType))))
    val evolvedSchema = StructType(schema.fields :+
      StructField("extra", LongType))
    // viaSink: puts and whole-record deletes ride the streaming sink's
    // addBatch (exercising the A/A branch — putAA/deleteAA with a per-row
    // flag split), with the same corrupted crash replays and stale
    // re-deliveries as the LWW sink fuzz. Field-sets and admin stay API.
    val sinkRng = new scala.util.Random(script.hashCode)
    var nextBatch = 0L
    def sinkBatch(d: org.apache.spark.sql.DataFrame, ts: Long): Unit = {
      val sink = graft.sources.GraftStreamSink(root, "s",
        Map("tsms" -> ts.toString, "deletecolumn" -> "dead"))
      sink.addBatch(nextBatch, d)
      if (sinkRng.nextInt(3) == 0) // crash replay: must be a no-op
        sink.addBatch(nextBatch, d.withColumn("name", lit("REPLAYED"))
          .withColumn("dead", !col("dead")))
      if (sinkRng.nextInt(4) == 0 && nextBatch > 0) // stale re-delivery
        graft.sources.GraftStreamSink(root, "s",
          Map("tsms" -> (ts + 999).toString, "deletecolumn" -> "dead"))
          .addBatch(sinkRng.nextLong(nextBatch), d)
      nextBatch += 1
    }
    script.foreach {
      case op @ APut(k, n, s, ts) =>
        if (viaSink) sinkBatch(df(Seq((k, n, s))).withColumn("dead", lit(false)), ts)
        else e.putAA("s", df(Seq((k, n, s))), ts)
        model(op)
      case op @ AEvolve(_) =>
        e.registerValueSchema("s", evolvedSchema); model(op)
      case op @ APutNew(k, n, s, x, ts) =>
        val d = spark.createDataFrame(List(Row(k, n, s, Seq(n), x)).asJava,
          evolvedSchema)
        if (viaSink) sinkBatch(d.withColumn("dead", lit(false)), ts)
        else e.putAA("s", d, ts)
        model(op)
      case op @ ATagAdd(k, tag, ts) =>
        e.addToSetAA("s", spark.createDataFrame(List(Row(k, tag)).asJava,
          StructType(Seq(StructField("k", LongType),
            StructField("tag", StringType)))), "tags", "tag", ts)
        model(op)
      case op @ ATagRem(k, tag, ts) =>
        e.removeFromSetAA("s", spark.createDataFrame(List(Row(k, tag)).asJava,
          StructType(Seq(StructField("k", LongType),
            StructField("tag", StringType)))), "tags", "tag", ts)
        model(op)
      case op @ ADel(k, ts) =>
        if (viaSink) sinkBatch(kdf(k).withColumn("dead", lit(true)), ts)
        else e.deleteAA("s", kdf(k), ts)
        model(op)
      case op @ ASet(k, f, sv, lv, ts) =>
        if (f == "name")
          e.setFieldAA("s", spark.createDataFrame(List(Row(k, sv)).asJava,
            StructType(Seq(StructField("k", LongType),
              StructField("name", StringType)))), "name", ts)
        else
          e.setFieldAA("s", spark.createDataFrame(List(Row(k, lv)).asJava,
            StructType(Seq(StructField("k", LongType),
              StructField("score", LongType)))), "score", ts)
        model(op)
      case op @ AAdmin("repush", _, _) => e.repush("s"); model(op)
      case op @ APurge(ks, ts) =>
        e.purge("s", spark.createDataFrame(ks.map(Row(_)).asJava,
          StructType(Seq(StructField("k", LongType)))), ts)
        model(op)
      case op @ AAdmin("rebucket", n, _) => e.rebucket("s", n); model(op)
      case op @ AAdmin("rollback", _, _) =>
        if (model.hasBackup) { e.rollback("s"); model(op) }
        else { intercept[IllegalStateException] { e.rollback("s") }; () }
      case other => fail(s"unknown op $other")
    }
    val view =
      if (viaConnector) spark.read.format("graft")
        .option("root", root).option("store", "s").load()
      else e.servingView("s")
    val hasExtra = view.columns.contains("extra")
    if (hasExtra != model.evolved)
      return Some(s"schema: engine extra=$hasExtra model=${model.evolved}")
    val got = view
      .select(Seq(col("k"), col("name"), col("score"), col("tags")) ++
        (if (hasExtra) Seq(col("extra")) else Nil): _*)
      .collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)).map(_.toString),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        if (hasExtra) Option(r.get(4)).map(_.asInstanceOf[Long]) else None,
        Option(r.get(3)).map(_ => r.getSeq[String](3).toList.sorted)
          .getOrElse(Nil)))
      .toMap
    val want = model.visible()
    if (got == want) None
    else Some(s"engine=$got\n  model=$want")
  }

  // ------------------------------------------------------------- harness ---

  private def genAt[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, rng.Seed(seed)).get

  /** Greedy delta-debugging shrink: drop ops one at a time while the
    * mismatch persists (engine runs are deterministic). */
  private def shrink[T](script: List[T], fails: List[T] => Option[String])
      : (List[T], String) = {
    var cur = script
    var msg = fails(cur).getOrElse("")
    var progress = true
    while (progress && cur.length > 1) {
      progress = false
      var i = 0
      while (i < cur.length && !progress) {
        val cand = cur.patch(i, Nil, 1)
        fails(cand) match {
          case Some(m) => cur = cand; msg = m; progress = true
          case None => i += 1
        }
      }
    }
    (cur, msg)
  }

  private def fuzz[T](label: String, n: Int, gen: Gen[List[T]],
      run: List[T] => Option[String]): Unit = {
    val pool = Executors.newFixedThreadPool(8)
    try {
      val tasks = (0 until n).map { i =>
        new Callable[Option[(Long, List[T], String)]] {
          override def call(): Option[(Long, List[T], String)] = {
            val script = genAt(gen, i.toLong)
            run(script).map(msg => (i.toLong, script, msg))
          }
        }
      }
      val failures = pool.invokeAll(tasks.asJava).asScala
        .flatMap(_.get()).toList
      failures.headOption.foreach { case (seed, script, _) =>
        val (minScript, minMsg) = shrink(script, run)
        fail(s"$label differential mismatch (seed=$seed, " +
          s"${failures.length}/$n scripts failed).\n  Minimal script " +
          s"(${minScript.length} ops): ${minScript.mkString("; ")}\n  $minMsg")
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.MINUTES)
      ()
    }
  }

  test("LWW engine ≡ sequential model over 250 random op scripts") {
    // 250 (was 500): the differential fuzz dominated `sbt test` wall time
    // (~25 of 44 min) and the r10 driver run died in a shutdown race at
    // the end of the budget — historically every real mismatch reproduced
    // within the first few dozen seeds, so the halved battery keeps the
    // coverage that matters while the suite fits the driver's budget
    fuzz("LWW", 250, lwwScriptGen, (s: List[LOp]) => runLww(s))
  }

  test("A/A engine ≡ sequential model over 250 random op scripts") {
    fuzz("A/A", 250, aaScriptGen, (s: List[AOp]) => runAa(s))
  }

  /** Same differential, but the final state is read through the DSv2
    * connector (`format("graft")`) instead of the engine API — fuzz-proves
    * the analysis-time rewrite tracks every engine state the scripts can
    * reach (schema evolution, rollback, rebucket, pending logs, updates,
    * A/A RMD), not just the happy path ConnectorSpec pins. */
  test("DSv2 connector ≡ model over 100 random LWW op scripts") {
    fuzz("LWW-connector", 100, lwwScriptGen,
      (s: List[LOp]) => runLww(s, viaConnector = true))
  }

  /** Both directions vanilla: every put (and the initial push) goes
    * through df.write.format("graft"), the final read through
    * format("graft") — the engine API appears only for deletes, updates
    * and admin. Fuzz-proves the DSv2 writer ≡ put/push over every state
    * the scripts reach. */
  test("DSv2 writer ≡ model over 100 random LWW op scripts") {
    fuzz("LWW-writer", 100, lwwScriptGen,
      (s: List[LOp]) => runLww(s, viaConnector = true, viaWriter = true))
  }

  test("DSv2 connector ≡ model over 100 random A/A op scripts") {
    fuzz("A/A-connector", 100, aaScriptGen,
      (s: List[AOp]) => runAa(s, viaConnector = true))
  }

  /** Every put AND delete rides the streaming sink's addBatch (one CDC
    * microbatch each), with ~1-in-3 batches crash-REPLAYED carrying a
    * corrupted payload and ~1-in-4 re-delivered under a stale batch id —
    * all must be skipped by the per-query commit record. Fuzz-proves the
    * sink's exactly-once contract and its applyCdc atomicity across
    * evolution/repush/rollback/rebucket interleavings. */
  test("streaming sink ≡ model over 100 random LWW op scripts with replays") {
    fuzz("LWW-sink", 100, lwwScriptGen,
      (s: List[LOp]) => runLww(s, viaConnector = true, viaSink = true))
  }

  /** The A/A twin: puts and whole-record deletes ride the sink's
    * active-active branch (per-row flag split into putAA/deleteAA with a
    * per-batch event time), same corrupted replays — fuzz-proves the CRDT
    * routing and the tsCol deleteAA overload over every admin
    * interleaving. */
  test("streaming sink ≡ model over 100 random A/A op scripts with replays") {
    fuzz("A/A-sink", 100, aaScriptGen,
      (s: List[AOp]) => runAa(s, viaConnector = true, viaSink = true))
  }

  // ------------------------------------------- view maintenance fuzz ------

  sealed trait VOp
  case class VLPut(ks: Seq[Long], tag: Int, ts: Long) extends VOp
  case class VLDel(ks: Seq[Long], ts: Long) extends VOp
  /** Write-compute partial update of L's `lv` field (LWW source) /
    * setFieldAA (A/A source) — the delta shape changelogSince must
    * surface as a resolved after-image, not an empty raw-log delta. */
  case class VLUpd(k: Long, lv: Long, ts: Long) extends VOp
  case class VRPut(ks: Seq[Long], tag: Int, ts: Long) extends VOp
  case class VRDel(ks: Seq[Long], ts: Long) extends VOp
  case object VRepushL extends VOp
  case object VRollbackL extends VOp
  case class VRebucketL(n: Int) extends VOp
  case object VRefresh extends VOp
  /** Squash L's pending-update log mid-script: view refresh AFTER a
    * compaction must still see exactly the deltas it hasn't consumed
    * (the coordinate-preservation property the round-8 fix added). */
  case object VCompactL extends VOp

  private val vOpGen: Gen[VOp] = {
    val ks = Gen.nonEmptyContainerOf[Set, Long](Gen.choose(1L, 12L))
      .map(_.toSeq.sorted)
    Gen.frequency(
      4 -> Gen.zip(ks, Gen.choose(0, 9)).map { case (k, t) => VLPut(k, t, 0L) },
      3 -> ks.map(VLDel(_, 0L)),
      2 -> Gen.zip(Gen.choose(1L, 12L), Gen.choose(0L, 9L))
        .map { case (k, t) => VLUpd(k, 5000L + t, 0L) },
      3 -> Gen.zip(ks, Gen.choose(0, 9)).map { case (k, t) => VRPut(k, t, 0L) },
      2 -> ks.map(VRDel(_, 0L)),
      1 -> Gen.const(VRepushL), 1 -> Gen.const(VRollbackL),
      1 -> Gen.choose(2, 8).map(VRebucketL),
      2 -> Gen.const(VRefresh), 1 -> Gen.const(VCompactL))
  }

  private val vScriptGen: Gen[List[VOp]] = for {
    n <- Gen.choose(3, 7)
    ops <- Gen.listOfN(n, vOpGen)
  } yield ops.zipWithIndex.map { // monotone ts per op keeps intent obvious;
    case (o: VLPut, i) => o.copy(ts = 100L + i) // refresh ≡ recompute must
    case (o: VLDel, i) => o.copy(ts = 100L + i) // hold under ANY ts anyway
    case (o: VLUpd, i) => o.copy(ts = 100L + i)
    case (o: VRPut, i) => o.copy(ts = 100L + i)
    case (o: VRDel, i) => o.copy(ts = 100L + i)
    case (o, _) => o
  }

  /** Invariant fuzz (no model — recompute IS the oracle): after any op
    * interleaving incl. repush/rollback/rebucket of the source, refreshing
    * the re-key view, the aggregate view and the join view reproduces the
    * full recompute exactly. Covers the resync fallbacks and the
    * delta-path tombstone/re-insert logic under randomized schedules. */
  private def runViews(script: List[VOp],
      aaLeft: Boolean = false): Option[String] = {
    val root = graft.core.TmpStores.dir("fuzz-view").toString
    val e = new GraftEngine(spark, root)
    import org.apache.spark.sql.DataFrame
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("g", LongType), StructField("lv", LongType)))
    def ldf(ks: Seq[Long], tag: Int) = spark.createDataFrame(
      ks.map(k => Row(k, k % 3, tag * 100L + k)).asJava, schema)
    val rschema = StructType(Seq(StructField("k", LongType),
      StructField("rv", LongType)))
    def rdf(ks: Seq[Long], tag: Int) = spark.createDataFrame(
      ks.map(k => Row(k, tag * 1000L + k)).asJava, rschema)
    def kdf(ks: Seq[Long]) = spark.createDataFrame(
      ks.map(Row(_)).asJava, StructType(Seq(StructField("k", LongType))))
    e.createStore("L", Seq("k"))
    e.createStore("R", Seq("k"))
    e.push("L", ldf(1L to 8L, 0), numBuckets = 4)
    if (aaLeft) e.enableActiveActive("L")
    e.push("R", rdf(1L to 6L, 0), numBuckets = 4)
    e.materializedView("L", "mv", Seq("g", "k"), numBuckets = 4)
    e.aggregateView("L", "av", Seq("g"), Seq("slv" -> "lv"), numBuckets = 4)
    e.joinView("L", "R", "jv", numBuckets = 4)
    var lCurrent = 1
    def refreshAll(): Unit = {
      e.refreshView("mv"); e.refreshAggView("av"); e.refreshJoinView("jv")
    }
    script.foreach {
      case VLPut(ks, tag, ts) =>
        if (aaLeft) e.putAA("L", ldf(ks, tag), ts)
        else e.put("L", ldf(ks, tag), ts)
      case VLDel(ks, ts) =>
        if (aaLeft) e.deleteAA("L", kdf(ks), ts)
        else e.delete("L", kdf(ks), ts)
      case VLUpd(k, lv, ts) =>
        if (aaLeft) e.setFieldAA("L",
          spark.createDataFrame(Seq(Row(k, lv)).asJava, StructType(Seq(
            StructField("k", LongType), StructField("lv", LongType)))),
          "lv", ts)
        else {
          val vs = StructType(Seq(StructField("g", LongType),
            StructField("lv", LongType)))
          val us = StructType(StructField("k", LongType) +:
            WriteCompute.deriveUpdateSchema(vs).fields)
          e.update("L", spark.createDataFrame(Seq(Row.fromSeq(
            k +: new UpdateBuilder(vs).setField("lv", lv).buildRow().toSeq))
            .asJava, us), ts)
        }
      case VRPut(ks, tag, ts) => e.put("R", rdf(ks, tag), ts)
      case VRDel(ks, ts) => e.delete("R", kdf(ks), ts)
      case VRepushL => e.repush("L"); lCurrent += 1
      case VCompactL =>
        // write-compute updates exist on the LWW source only; on the A/A
        // variant there is never a pending-update log and this is a no-op
        e.compactUpdates("L")
      case VRebucketL(n) => e.rebucket("L", n); lCurrent += 1
      case VRollbackL =>
        // versions 1..max are all retained (no vacuum in the script), so
        // a backup exists exactly when the pointer sits above v1
        if (lCurrent > 1) { e.rollback("L"); lCurrent -= 1 }
        else intercept[IllegalStateException] { e.rollback("L") }
      case VRefresh => refreshAll()
    }
    refreshAll()
    def canon(df: DataFrame, cols: String*): Set[Seq[Any]] =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val L = e.servingView("L")
    val mvWant = canon(L, "g", "k", "lv")
    val mvGot = canon(e.servingView("mv"), "g", "k", "lv")
    if (mvGot != mvWant)
      return Some(s"mv: got=${mvGot.size} want=${mvWant.size} " +
        s"diff=${(mvGot diff mvWant).take(3)}|${(mvWant diff mvGot).take(3)}")
    val avWant = canon(L.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("lv")).as("slv")), "g", "n", "slv")
    val avGot = canon(e.servingView("av"), "g", "n", "slv")
    if (avGot != avWant)
      return Some(s"av: got=$avGot want=$avWant")
    val jvWant = canon(L.join(e.servingView("R"), Seq("k")), "k", "lv", "rv")
    val jvGot = canon(e.servingView("jv"), "k", "lv", "rv")
    if (jvGot != jvWant)
      return Some(s"jv: got=${jvGot.size} want=${jvWant.size} " +
        s"diff=${(jvGot diff jvWant).take(3)}|${(jvWant diff jvGot).take(3)}")
    None
  }

  test("view maintenance: refresh ≡ recompute over 100 random op scripts") {
    fuzz("views", 100, vScriptGen, (s: List[VOp]) => runViews(s))
  }

  /** Same invariant with an ACTIVE-ACTIVE source store: the re-key,
    * aggregate and join views must refresh correctly from the A/A
    * changelog (resolved after-images), through repush/rollback/rebucket,
    * with deletes arriving as RMD tombstones rather than LWW rows. */
  test("view maintenance over an A/A source: refresh ≡ recompute over " +
      "100 random op scripts") {
    fuzz("views-aa", 100, vScriptGen,
      (s: List[VOp]) => runViews(s, aaLeft = true))
  }
}
