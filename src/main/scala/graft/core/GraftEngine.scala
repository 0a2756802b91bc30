package graft.core

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Compaction, Merge}

/** The engine facade: a catalog of versioned, keyed stores — the Spark-native
  * re-expression of Venice's store/version/hybrid model (SURVEY §1.1).
  *
  * A store is a directory tree:
  * {{{
  *   root/<store>/v=N/           immutable Parquet snapshot (a "version")
  *   root/<store>/log/           append-only upsert log (PUT/DELETE rows)
  *   root/<store>/CURRENT        atomic current-version pointer
  * }}}
  *
  * Reference concepts (not code): store (meta/Store.java), version swap
  * (VenicePushJob.java:885-892,980), hybrid batch+RT overlay
  * (HybridStoreConfig.java), changelog consumer
  * (VeniceChangelogConsumer.java:19-166).
  *
  * Scale posture: all operations are DataFrame plans — point reads are
  * pruned scans, batchGet is a broadcast semi-join, the serving view is a
  * union + single keyed shuffle. Nothing collects to the driver except
  * explicit `get`.
  */
final case class StoreMeta(name: String, keyCols: Seq[String])

/** Per-store persisted configuration — the Spark re-expression of Venice's
  * store record (reference semantics, not code: meta/Store.java carries the
  * hybrid config, compression strategy and storage quota;
  * HybridStoreConfig.java:17-19 — rewindTimeInSeconds,
  * offsetLagThresholdToGoOnline, producerTimestampLagThresholdToGoOnline).
  * Persisting these on the STORE (not per call) is what makes two ingest
  * jobs against the same store agree on rewind windows and lag gates.
  *
  *  - `rewindSeconds`: hybrid rewind window replayed onto a fresh version.
  *  - `lagThresholdMs`: producer-timestamp lag under which a replica may
  *    serve (the time-lag go-online strategy).
  *  - `compressionStrategy`: Venice strategy name (`NO_OP`/`GZIP`/`ZSTD`),
  *    mapped to the parquet codec of every version write; empty = engine
  *    default codec.
  *  - `quotaBytes`: storage quota enforced at push time (< 0 = unlimited) —
  *    an over-quota push is aborted before the version swap, the serving
  *    version untouched.
  *  - `activeActive`: route writes through the field-level CRDT op log.
  *    WRITE-ONCE: once a store is A/A its op log holds per-field RMD
  *    state that record-level LWW cannot interpret, so
  *    [[GraftEngine.setStoreConfig]] REJECTS `activeActive = false` on an
  *    already-A/A store (disable = repush into a fresh non-A/A store).
  *  - `lwwByteTieBreak`: break LWW timestamp ties by the unsigned bytes of
  *    the Avro-serialized value (the reference's tie-break DOMAIN — it
  *    compares serialized values too, but by collision-unstable hashCode;
  *    this order is byte-defined and stable) instead of the string
  *    rendering — at record, field AND element level.
  *  - `compactLogRows`: size-tiered compaction trigger —
  *    [[GraftEngine.compactIfNeeded]] repushes once the RT overlay exceeds
  *    this many pending rows (the read-amplification budget).
  *  - `daVinciMaxRows` / `daVinciAutoRefreshMs`: defaults for
  *    [[GraftEngine.daVinci]]'s subscription budget and staleness-check
  *    cadence, so every embedded client of a store shares one policy. */
final case class StoreConfig(
    rewindSeconds: Long = 86400L,
    lagThresholdMs: Long = 0L,
    compressionStrategy: String = "",
    quotaBytes: Long = -1L,
    activeActive: Boolean = false,
    lwwByteTieBreak: Boolean = false,
    compactLogRows: Long = 1000000L,
    daVinciMaxRows: Int = 5000000,
    daVinciAutoRefreshMs: Long = -1L)

/** CDC checkpoint: a (version, log-append-seq) coordinate — exact resume
  * position, unlike a timestamp seek (S4). `epoch` is the store's lineage
  * counter, bumped by every event that invalidates (version, seq) as a
  * resume position — a log archive (repush/rebucket consumed the entries)
  * or a pointer move that reuses version numbers (rollback/roll-forward).
  * Without it, `put; repush; rollback` aliases: the stored (v1, seq) looks
  * caught-up against a v1 whose overlay was archived, and a delta consumer
  * would silently keep state the store has lost (found by EngineFuzzSpec's
  * view-maintenance property). Plain pushes don't bump it — the version
  * change already forces the resync. */
final case class ChangeCoordinate(version: Int, seq: Long, epoch: Long = 0L)

class GraftEngine(val spark: SparkSession, val root: String) {
  import GraftEngine._

  private def dir(parts: String*): String =
    (Seq(root) ++ parts).mkString("/")

  // ---- catalog -------------------------------------------------------------

  def createStore(name: String, keyCols: Seq[String]): StoreMeta = {
    Files.createDirectories(Paths.get(dir(name)))
    Files.writeString(Paths.get(dir(name, "KEYS")), keyCols.mkString(","))
    StoreMeta(name, keyCols)
  }

  /** Create a store with a persisted [[StoreConfig]]: every session reading
    * the store sees the SAME rewind window, lag gate, codec, quota and merge
    * flags (Venice keeps these on the store record, not on each job). */
  def createStore(name: String, keyCols: Seq[String],
      config: StoreConfig): StoreMeta = {
    val meta = createStore(name, keyCols)
    setStoreConfig(name, config)
    meta
  }

  /** Persist (or update) the store's config. Key=value lines — readable,
    * diff-able, and parseable without a JSON library on the classpath. */
  def setStoreConfig(name: String, config: StoreConfig): Unit = {
    // refusal check FIRST: a refused A/A downgrade must leave the store's
    // config byte-identical (the refused-mutation-leaves-state-unchanged
    // principle the push/quota gate follows) — persisting the other
    // settings before throwing would silently mutate them
    if (!config.activeActive && isActiveActive(name))
      throw new IllegalStateException(
        s"store $name is active-active; activeActive is write-once " +
          "(its op log holds field-level CRDT state the LWW path cannot " +
          "read) — to disable, repush the serving view into a new store")
    val body = Seq(
      s"rewindSeconds=${config.rewindSeconds}",
      s"lagThresholdMs=${config.lagThresholdMs}",
      s"compressionStrategy=${config.compressionStrategy}",
      s"quotaBytes=${config.quotaBytes}",
      s"lwwByteTieBreak=${config.lwwByteTieBreak}",
      s"compactLogRows=${config.compactLogRows}",
      s"daVinciMaxRows=${config.daVinciMaxRows}",
      s"daVinciAutoRefreshMs=${config.daVinciAutoRefreshMs}").mkString("\n")
    val tmp = Paths.get(dir(name, ".CONFIG.tmp"))
    Files.writeString(tmp, body)
    Files.move(tmp, Paths.get(dir(name, "CONFIG")),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // A/A mode rides the same flag file the rest of the engine checks.
    // One-way: the A/A op log carries per-field RMD that the LWW read
    // path cannot resolve, so flipping an A/A store back is refused
    // loudly (ABOVE, before any byte is written) rather than silently
    // ignored (StoreConfig doc: write-once)
    if (config.activeActive) enableActiveActive(name)
  }

  /** The store's persisted config; all defaults when none was ever set
    * (stores created before configs existed keep their behavior). */
  def storeConfig(name: String): StoreConfig = {
    val p = Paths.get(dir(name, "CONFIG"))
    val base = StoreConfig(activeActive = isActiveActive(name))
    if (!Files.exists(p)) base
    else {
      val kv = Files.readString(p).linesIterator
        .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
      StoreConfig(
        rewindSeconds = kv.get("rewindSeconds").map(_.toLong)
          .getOrElse(base.rewindSeconds),
        lagThresholdMs = kv.get("lagThresholdMs").map(_.toLong)
          .getOrElse(base.lagThresholdMs),
        compressionStrategy = kv.getOrElse("compressionStrategy",
          base.compressionStrategy),
        quotaBytes = kv.get("quotaBytes").map(_.toLong)
          .getOrElse(base.quotaBytes),
        activeActive = base.activeActive,
        lwwByteTieBreak = kv.get("lwwByteTieBreak").map(_.toBoolean)
          .getOrElse(base.lwwByteTieBreak),
        compactLogRows = kv.get("compactLogRows").map(_.toLong)
          .getOrElse(base.compactLogRows),
        daVinciMaxRows = kv.get("daVinciMaxRows").map(_.toInt)
          .getOrElse(base.daVinciMaxRows),
        daVinciAutoRefreshMs = kv.get("daVinciAutoRefreshMs").map(_.toLong)
          .getOrElse(base.daVinciAutoRefreshMs))
    }
  }

  def storeMeta(name: String): StoreMeta =
    StoreMeta(name,
      Files.readString(Paths.get(dir(name, "KEYS"))).split(",").toSeq)

  def currentVersion(name: String): Int = {
    val p = Paths.get(dir(name, "CURRENT"))
    if (Files.exists(p)) Files.readString(p).trim.toInt else 0
  }

  /** Atomic pointer flip (same-directory move): the version-swap step. */
  private def setCurrentVersion(name: String, v: Int): Unit = {
    val tmp = Paths.get(dir(name, s".CURRENT.tmp"))
    Files.writeString(tmp, v.toString)
    Files.move(tmp, Paths.get(dir(name, "CURRENT")),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  // ---- value-schema registry (§1.4: multi-schema evolution) ----------------

  /** Register an evolved row schema (key cols + value fields) under the next
    * schema id. Venice semantics (pointers, not code): every record carries
    * its writer schema id and readers resolve writer→reader through the
    * superset of registered schemas (StorageReadRequestHandler.java:932-937,
    * AvroSupersetSchemaUtils). Here: log rows are stamped with
    * [[GraftEngine.SchemaIdCol]] and every read path conforms both snapshot
    * and log to [[supersetSchema]]. Registration validates that the new
    * schema reconciles with what's already registered (same-name fields must
    * agree or widen) — the compat check Venice's controller runs. */
  def registerValueSchema(name: String,
      schema: org.apache.spark.sql.types.StructType): Int = {
    // A/A stores evolve too (round 5): the resolver gives fields outside a
    // writer's schema BOTTOM RMD state and fields newer than a snapshot
    // version bottom timestamps, so late events on old and new fields keep
    // resolving correctly — see aaResolve
    val d = Paths.get(dir(name, "schemas"))
    Files.createDirectories(d)
    // normalized to fully-nullable: parquet reads surface nullable fields
    // anyway, and the A/A element-state casts are illegal into
    // non-null-element array/map types (SchemaEvolution.nullable scaladoc)
    val norm = SchemaEvolution.nullable(schema)
    val before = supersetSchemaOpt(name)
    before.foreach(s => SchemaEvolution.superset(s, norm))
    val next = registeredSchemaIds(name).lastOption.getOrElse(0) + 1
    Files.writeString(d.resolve(s"$next.json"), norm.json)
    // a registration that WIDENS an existing field (int→long, float→double)
    // changes the superset's physical expectation out from under log files
    // already written with the narrower type — drop the typed-log markers
    // so those dirs fall back to the mergeSchema+conform read (new log dirs
    // re-earn the marker on their first append)
    before.foreach { s =>
      val after = SchemaEvolution.superset(s, norm)
      val changed = s.fields.exists(f =>
        !SchemaEvolution.sameType(f.dataType, after(f.name).dataType))
      if (changed) Seq("log", "aa_log").foreach { ld =>
        Files.deleteIfExists(Paths.get(dir(name, ld), TypedLogMarker))
      }
    }
    next
  }

  def registeredSchemaIds(name: String): Seq[Int] = {
    val d = Paths.get(dir(name, "schemas"))
    if (!Files.exists(d)) Nil
    else {
      val s = Files.list(d)
      try {
        val b = Seq.newBuilder[Int]
        s.forEach { p =>
          val f = p.getFileName.toString
          if (f.endsWith(".json")) b += f.stripSuffix(".json").toInt
        }
        b.result().sorted
      } finally s.close()
    }
  }

  def valueSchema(name: String, id: Int): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType
      .fromJson(Files.readString(Paths.get(dir(name, "schemas", s"$id.json"))))
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  private def supersetSchemaOpt(
      name: String): Option[org.apache.spark.sql.types.StructType] =
    registeredSchemaIds(name).map(valueSchema(name, _))
      .reduceOption(SchemaEvolution.superset)

  /** Superset of all registered schemas — the reader-side resolution target. */
  def supersetSchema(name: String): org.apache.spark.sql.types.StructType =
    supersetSchemaOpt(name).getOrElse(snapshot(name).schema)

  /** Lowest registered schema covering the writer's columns — the writer
    * schema id stamped per log batch. Columns outside every registered
    * schema (e.g. a stream's event-time column) don't count against it. */
  private def writerSchemaId(name: String, writerCols: Set[String]): Int = {
    val ids = registeredSchemaIds(name)
    val known = supersetSchemaOpt(name)
      .map(s => writerCols.intersect(s.fieldNames.toSet)).getOrElse(writerCols)
    ids.find(id => known.subsetOf(valueSchema(name, id).fieldNames.toSet))
      .orElse(ids.lastOption).getOrElse(1)
  }

  /** Snapshot resolved to the superset schema: fields added after the
    * version was pushed read as typed nulls, widened fields cast. */
  private def resolvedSnapshot(name: String,
      version: Option[Int] = None,
      buckets: Option[Seq[Int]] = None): DataFrame = {
    val v = version.getOrElse(currentVersion(name))
    require(v > 0, s"store $name has no pushed version")
    val raw = spark.read.parquet(dir(name, s"v=$v"))
    // bucket-SET pruning (multi-key point reads): the filter sits on the
    // partition column BEFORE the drop, so the scan reads only the
    // requested bucket directories
    val pruned = buckets match {
      case Some(bs) if raw.columns.contains(BucketCol) =>
        raw.filter(col(BucketCol).isin(bs.map(Integer.valueOf): _*))
      case _ => raw
    }
    val snap = pruned.drop(BucketCol)
    supersetSchemaOpt(name) match {
      case Some(s) => SchemaEvolution.conform(snap, s)
      case None => snap
    }
  }

  // ---- batch push (VPJ analog: B1→B4→B8→B9) --------------------------------

  /** Push a full dataset as a new immutable version, then swap the pointer.
    * Dedups on key: the winner is the max of `orderCol` when given (the true
    * Venice analog — a real offset/timestamp from the source), else of an
    * input-order surrogate (monotonically_increasing_id orders rows by
    * (partition, row-within-partition), which reflects input order for file
    * scans/parallelize but is plan-dependent downstream of a shuffle —
    * callers pushing shuffled data with duplicate keys should pass an
    * explicit ordering). The Spark analog of Venice's max-offset-wins
    * compaction (AbstractDataWriterSparkJob.applyCompaction). Partitions by
    * the Venice-style md5-mod bucket so point lookups prune files.
    *
    * `clusterBy` makes z-order layout a STORE property rather than a query
    * trick: within the bucket partitioning (which point reads prune on),
    * rows are range-split and sorted along the Morton curve of the given
    * dimensions ([[graft.operators.Layout]]), so every file owns a tight
    * hyper-rectangle of the clustered key space and a range predicate on
    * ANY clustered dimension prunes to a small file subset via parquet
    * min/max stats — 100-TB scans stay bounded for the dimensional
    * accesses the store was declared for. `clusterFiles` caps total output
    * files (default 4 z-ranges per bucket). */
  def push(name: String, df: DataFrame, numBuckets: Int = 16,
      orderCol: Option[Column] = None,
      clusterBy: Seq[String] = Nil, clusterFiles: Int = 0): Int = {
    val meta = storeMeta(name)
    val v = currentVersion(name) + 1
    val seq = "__push_seq"
    require(!df.columns.contains(seq),
      s"input carries reserved column $seq — rename it before push")
    val stamped = df
      .withColumn(seq, orderCol.getOrElse(monotonically_increasing_id()))
      .withColumn(BucketCol,
        graft.functions.HashOps.partitionId(
          graft.functions.HashOps.renderKey(meta.keyCols), numBuckets))
    val cfg = storeConfig(name)
    val laidOut =
      if (clusterBy.isEmpty) {
        // ONE exchange for compaction + layout (was two: latestPerKey
        // shuffled by key, then repartition(bucket) shuffled again).
        // bucket = f(key), so latest-per-key grouped by (bucket, key) keeps
        // exactly latestPerKey's rows, and HashPartitioning(bucket) already
        // satisfies the window's ClusteredDistribution(bucket, key...) —
        // no second exchange. The window's required sort (bucket, key...,
        // seq desc) also leaves output ordered by the dynamic-partition
        // column first and the store key within each bucket, which is the
        // exact order the partitionBy writer needs — no further sort.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy((col(BucketCol) +: meta.keyCols.map(col)): _*)
          .orderBy(col(seq).desc)
        stamped.repartition(numBuckets, col(BucketCol))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn", seq)
      } else {
        val keyed = Compaction.latestPerKey(
          stamped, meta.keyCols, Seq(col(seq))).drop(seq)
        val bucketed = keyed
        // z-order WITHIN the bucket partitioning: range-partition on
        // (bucket, z) keeps the curve contiguous per output file, so each
        // bucket dir holds a few files with tight min/max on every
        // clustered dimension — bucket pruning for point reads AND
        // stats pruning for dimensional ranges, from one write
        val nf = if (clusterFiles > 0) clusterFiles else numBuckets * 4
        graft.operators.Layout.withBounds(bucketed, clusterBy)
          .withColumn("__z", graft.operators.Layout.zvalue(clusterBy, 10))
          .repartitionByRange(nf, col(BucketCol), col("__z"))
          .sortWithinPartitions(col(BucketCol), col("__z"))
          .select(bucketed.columns.map(col): _*)
      }
    val writer = laidOut
      .write.mode("overwrite")
      .partitionBy(BucketCol)
    // per-store compression strategy (Store.java semantics: the strategy is
    // a store property, applied by every push) → parquet codec per write
    (if (cfg.compressionStrategy.nonEmpty)
      writer.option("compression",
        graft.operators.WireFormat.codecFor(cfg.compressionStrategy))
    else writer).parquet(dir(name, s"v=$v"))
    // zero-row version (every key tombstoned before a repush): the
    // partitionBy write above emits no data files, so the snapshot read
    // would fail schema inference — append ONE empty schema-carrying file
    // with __bucket as a regular column (drop/filter behave identically on
    // read). Detection is a driver-side listing; limit(0) folds to an
    // empty LocalRelation, so the plan is never re-executed.
    if (!hasParquetData(Paths.get(dir(name, s"v=$v"))))
      stamped.drop(seq).limit(0).repartition(1).write.mode("append")
        .parquet(dir(name, s"v=$v"))
    // per-version bucket-count marker (underscore file — ignored by Spark's
    // file index): BUCKETS tracks the LATEST push, but retained versions
    // written before a rebucket keep their own count, and the DSv2 bucket-
    // pruning rule must never prune an old version with the new modulus
    Files.writeString(Paths.get(dir(name, s"v=$v", "_NBUCKETS")),
      numBuckets.toString)
    // layout marker (underscore file — ignored by the file index): which
    // dimensions this version is z-clustered on, for operators/inspection
    if (clusterBy.nonEmpty)
      Files.writeString(Paths.get(dir(name, s"v=$v", "_CLUSTER_BY")),
        clusterBy.mkString(","))
    // B7 storage quota as a store property: an over-quota push aborts BEFORE
    // the swap — the serving version is untouched, the oversized candidate
    // is removed (Venice kills the push job and never swaps). Physical
    // parquet bytes are the enforced unit (what the store actually holds);
    // the size check is one driver-side directory walk, no Spark job.
    val cfgQuota = storeConfig(name).quotaBytes
    if (cfgQuota >= 0L) {
      val vp = Paths.get(dir(name, s"v=$v"))
      val bytes = {
        val s = Files.walk(vp)
        try s.filter(p => Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
          .mapToLong(Files.size).sum()
        finally s.close()
      }
      if (bytes > cfgQuota) {
        rmTree(vp)
        throw new IllegalStateException(
          s"push to $name exceeds the store's storage quota: $bytes bytes " +
            s"written > quotaBytes=$cfgQuota — the serving version is " +
            "unchanged (raise the quota via setStoreConfig for a " +
            "deliberately larger store)")
      }
    }
    // store-level mutations only AFTER the quota gate passes: a refused
    // push must leave the serving store byte-identical — BUCKETS written
    // earlier would repoint the read path's modulus at a candidate that
    // never swapped, silently pruning existing keys to the wrong files
    // (the serving version's own _NBUCKETS marker is authoritative for
    // reads either way, but BUCKETS is the repush/append default)
    Files.writeString(Paths.get(dir(name, "BUCKETS")), numBuckets.toString)
    // first push registers the row schema as id 1 (evolutions come through
    // registerValueSchema); RMD/bucket plumbing never enters the registry
    if (registeredSchemaIds(name).isEmpty)
      registerValueSchema(name, org.apache.spark.sql.types.StructType(
        df.schema.fields.filterNot(f =>
          f.name == BucketCol || isRmdCol(f.name) || f.name == RecCol)))
    setCurrentVersion(name, v)
    v
  }

  /** Dimensions version `v` is z-clustered on (empty = unclustered) —
    * from the `_CLUSTER_BY` marker [[push]] writes. */
  def clusterByOf(name: String, version: Int): Seq[String] = {
    val p = Paths.get(dir(name, s"v=$version", "_CLUSTER_BY"))
    if (Files.exists(p)) Files.readString(p).trim.split(",").toSeq else Nil
  }

  def snapshot(name: String, version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(currentVersion(name))
    require(v > 0, s"store $name has no pushed version")
    spark.read.parquet(dir(name, s"v=$v")).drop(BucketCol)
  }

  /** Every retained version of `name` (v=N dirs), ascending. A non-current
    * entry is a backup ([[rollback]] target) or a rolled-off future version
    * ([[rollForward]] target) until [[vacuum]] drops it. */
  def listVersions(name: String): Seq[Int] = {
    val base = Paths.get(dir(name))
    if (!Files.exists(base)) return Nil
    val s = Files.list(base)
    try {
      val b = Seq.newBuilder[Int]
      s.forEach { p =>
        val n = p.getFileName.toString
        if (n.startsWith("v=") && Files.isDirectory(p)) b += n.drop(2).toInt
      }
      b.result().sorted
    } finally s.close()
  }

  /** Push-to-push diff audit: what the `newVersion` push changed relative
    * to `oldVersion` (reference semantics, not code: the admin store
    * comparison surface — `Admin.compareStore` / `StoreComparisonInfo`,
    * services/venice-controller/src/main/java/com/linkedin/venice/
    * controller/VeniceParentHelixAdmin.java:5240, which diffs a store's
    * version/schema/key state across fabrics; here the same audit runs
    * DATA-level between two retained version snapshots of one store).
    *
    * Output: one row per key that differs — status `added` (key only in
    * new), `removed` (only in old), `changed` (present in both, any value
    * column differs null-safely) with the sorted list of changed fields;
    * unchanged keys are NOT emitted, so the result is bounded by the delta,
    * never the store. Both sides read straight from immutable version dirs
    * (RT overlay excluded on purpose: the log is version-independent, so
    * it cancels out of a push-vs-push comparison). Scale shape: one
    * full-outer sort-merge join keyed on the store key; per-field compares
    * are columnar null-safe predicates, no row rendering, no collect. */
  def versionDiff(name: String, oldVersion: Int, newVersion: Int): DataFrame = {
    val vs = listVersions(name).toSet
    require(vs.contains(oldVersion) && vs.contains(newVersion),
      s"store $name retains versions ${vs.toSeq.sorted.mkString(",")}; " +
        s"asked for v$oldVersion vs v$newVersion")
    val keyCols = storeMeta(name).keyCols
    // superset-conformed on BOTH sides: a version pushed before a schema
    // evolution reads the later fields as typed nulls, so the diff can
    // compare across an evolution (null → value = changed)
    val o = resolvedSnapshot(name, Some(oldVersion))
    val n = resolvedSnapshot(name, Some(newVersion))
    val valCols = n.columns.filterNot(keyCols.contains).toSeq
    val j = o.select(struct(col("*")).as("__o"))
      .select(col("__o"), struct(keyCols.map(k => col(s"__o.$k")): _*).as("__k"))
      .join(n.select(struct(col("*")).as("__n"))
          .select(col("__n"), struct(keyCols.map(k => col(s"__n.$k")): _*).as("__k")),
        Seq("__k"), "full_outer")
    val changedFields = array_sort(filter(
      array(valCols.map(c => when(!(col(s"__o.$c") <=> col(s"__n.$c")),
        lit(c)).otherwise(lit(null).cast("string"))): _*),
      x => x.isNotNull))
    j.withColumn("status",
        when(col("__o").isNull, lit("added"))
          .when(col("__n").isNull, lit("removed"))
          .when(size(changedFields) > 0, lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("status") =!= "unchanged")
      .withColumn("changed_fields",
        when(col("status") === "changed",
          array_join(changedFields, ",")).otherwise(lit(null).cast("string")))
      .select(keyCols.map(k => col(s"__k.$k")) ++
        Seq(col("status"), col("changed_fields")): _*)
  }

  /** Venice's backup-version rollback (admin `rollbackToBackupVersion`;
    * controller flips the store's current version back to the retained
    * backup — semantics, not code: services/venice-controller/src/main/java/
    * com/linkedin/venice/controller/VeniceHelixAdmin.java
    * `rollbackToBackupVersion`). Atomically re-points CURRENT at the newest
    * retained version BEHIND the serving one. Nothing is deleted — the
    * rolled-off version stays on disk for [[rollForward]], and the RT log
    * overlay still applies on top of whichever snapshot serves (hybrid
    * stores re-consume RT into the serving version). Returns the version
    * now serving. */
  def rollback(name: String): Int = {
    val cur = currentVersion(name)
    val backup = listVersions(name).filter(_ < cur) match {
      case Nil => throw new IllegalStateException(
        s"store $name has no backup version behind v$cur (vacuumed?)")
      case vs => vs.max
    }
    setCurrentVersion(name, backup)
    // the pointer moved BACKWARD onto a version number consumers may have
    // already checkpointed — bump the lineage epoch so (version, seq)
    // coordinates from the rolled-off timeline force a resync
    bumpEpoch(name)
    backup
  }

  /** DaVinci partial-key lookup: every row whose LEADING key components
    * equal `prefix` (reference semantics, not code: internal/venice-test-
    * common/src/jmh/java/com/linkedin/venice/benchmark/
    * DaVinciPartialKeyLookupBenchmark.java — an `equalTo` predicate over
    * the leading field of a composite key, evaluated by scanning the
    * store's partitions, because partitions hash the FULL key so no
    * single-bucket routing exists). Here the predicate pushes into the
    * snapshot's parquet scan (PushedFilters) and the log overlay stays a
    * small merge — the right distributed shape for the same contract. */
  def partialKeyGet(name: String, prefix: Map[String, Any]): DataFrame = {
    val meta = storeMeta(name)
    val lead = meta.keyCols.take(prefix.size)
    require(lead.toSet == prefix.keySet,
      s"partial key ${prefix.keySet} must be the leading prefix of ${meta.keyCols}")
    prefix.foldLeft(servingView(name)) { case (df, (k, v)) =>
      df.filter(col(k) <=> lit(v))
    }
  }

  /** Inverse of [[rollback]]: re-point CURRENT at the oldest retained
    * version AHEAD of the serving one (Venice admin `rollForwardToFutureVersion`). */
  def rollForward(name: String): Int = {
    val cur = currentVersion(name)
    val future = listVersions(name).filter(_ > cur) match {
      case Nil => throw new IllegalStateException(
        s"store $name has no future version ahead of v$cur")
      case vs => vs.min
    }
    setCurrentVersion(name, future)
    bumpEpoch(name) // same lineage rule as rollback — version numbers reused
    future
  }

  // ---- read path (R1/R2/R3) ------------------------------------------------

  /** The SERVING version's bucket modulus. The per-version `_NBUCKETS`
    * marker is authoritative — store-level BUCKETS only tracks the latest
    * successful push (the repush default), and the two can diverge when
    * the pointer moves backward ([[rollback]] across a [[rebucket]]) —
    * so point-read pruning always uses the modulus the serving files
    * were actually laid out with. */
  private[core] def numBuckets(name: String): Int = {
    val marker = Paths.get(dir(name, s"v=${currentVersion(name)}", "_NBUCKETS"))
    if (Files.exists(marker)) Files.readString(marker).trim.toInt
    else {
      val p = Paths.get(dir(name, "BUCKETS"))
      if (Files.exists(p)) Files.readString(p).trim.toInt else 16
    }
  }

  /** Driver-side twin of HashOps.partitionId (md5 of the rendered key,
    * first 15 hex chars mod N) — lets point reads compute the bucket
    * WITHOUT a scan, so the snapshot read prunes to one partition dir. */
  private def bucketOf(name: String, key: Seq[Any]): Int =
    bucketHash(key, numBuckets(name))

  private def bucketHash(key: Seq[Any], nb: Int): Int =
    GraftEngine.bucketHashOf(key, nb)

  /** Point lookup. The bucket predicate prunes the snapshot scan to a
    * single partition directory (the Spark analog of Venice routing each
    * key to exactly its partition's replica); the log overlay — small by
    * construction, compacted away on repush — is filtered by key. */
  def get(name: String, key: Seq[Any]): Option[org.apache.spark.sql.Row] = {
    val meta = storeMeta(name)
    val pred = meta.keyCols.zip(key)
      // null-SAFE equality: a null key component must match its row (the
      // bucket rendering routes null as "null"), not vacuously filter all
      .map { case (c, k) => col(c) <=> lit(k) }.reduce(_ && _)
    // A/A stores resolve through the CRDT fold, pruned like the LWW path:
    // the snapshot scan reads ONE bucket directory, the op log (bucketed
    // on append) reads one too, and the key predicate prunes the fold to
    // this key's events — a fat store with a lagging repush cadence no
    // longer folds the world per point read
    if (isActiveActive(name))
      return aaView(name,
        snapBucket = Some(bucketOf(name, key)),
        logBucket = aaLogBuckets(name, createIfAbsent = false)
          .map(nb => bucketHash(key, nb)),
        keyPred = Some(pred))
        .limit(1).collect().headOption
    val pruned = spark.read.parquet(dir(name, s"v=${currentVersion(name)}"))
      .filter(col(BucketCol) === bucketOf(name, key))
      .drop(BucketCol)
    val snap = supersetSchemaOpt(name)
      .map(SchemaEvolution.conform(pruned, _)).getOrElse(pruned)
      .filter(pred)
      .withColumn(TsCol, lit(0L)).withColumn(DeletedCol, lit(false))
    val merged =
      if (!hasLog(name)) snap
      else {
        val log = readLog(name).filter(pred)
        Merge.lww(snap, log, meta.keyCols, col(TsCol),
          lwwTieBreak(name,
            snap.columns.filterNot(Set(TsCol, DeletedCol))), col(DeletedCol))
      }
    val base = Merge.dropTombstones(merged, col(DeletedCol))
      .drop(TsCol, DeletedCol)
    val resolved =
      if (!hasUpdates(name)) base
      else graft.operators.WriteCompute.applyUpdates(base,
        readUpdates(name).filter(pred), meta.keyCols)
    resolved.limit(1).collect().headOption
  }

  /** batchGet: broadcast-hash left-semi join; missing keys omitted. */
  def batchGet(name: String, keys: DataFrame): DataFrame =
    servingViewForKeys(name, keys)

  /** The serving view RESTRICTED to a key set — the multi-key point-read
    * shape shared by [[batchGet]] and the incremental view refreshes.
    *
    * Scale shape: snapshot, RT log and update log are EACH semi-joined to
    * the (broadcast) key set BEFORE the LWW merge and update fold — a
    * view-then-filter plan would run the store-wide keyed merge shuffle
    * first and filter after (Catalyst pushes filters through aggregates,
    * but a JOIN cannot push through one), so restricting the inputs is
    * what turns a store-sized shuffle into an O(|keys|) merge. The scans
    * stay scans (broadcast-hash semi, no shuffle of the store), and
    * LWW(snap, log)|K ≡ LWW(snap|K, log|K) because the merge is per-key. */
  def servingViewForKeys(name: String, keys: DataFrame): DataFrame = {
    val meta = storeMeta(name)
    val keySet = keys.select(meta.keyCols.map(col): _*)
    if (isActiveActive(name))
      // the CRDT fold groups by key, so semi-restricting snapshot AND op
      // log BEFORE the fold is sound — O(|keys|) fold, not store-sized
      return aaView(name, keys = Some(broadcast(keySet)))
    def restrict(df: DataFrame): DataFrame =
      df.join(broadcast(keySet), meta.keyCols, "left_semi")
    // bucket-SET pruning: the requested keys' distinct bucket ids are a
    // ≤ numBuckets collect (one cheap job over the key set, paid at plan
    // build), and the snapshot scan then reads ONLY those partition dirs
    // — a 10-key batchGet on a 1024-bucket store touches ~10 directories.
    // Skipped when the keys cover every bucket (no pruning to gain).
    val nb = numBuckets(name)
    val hitBuckets = keySet
      .select(graft.functions.HashOps.partitionId(
        graft.functions.HashOps.renderKey(meta.keyCols), nb).as("__b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val buckets = if (hitBuckets.length >= nb) None else Some(hitBuckets)
    val snap = restrict(resolvedSnapshot(name, buckets = buckets))
      .withColumn(TsCol, lit(0L)).withColumn(DeletedCol, lit(false))
    val merged =
      if (!hasLog(name)) snap
      else Merge.lww(snap, restrict(readLog(name)), meta.keyCols, col(TsCol),
        lwwTieBreak(name,
          snap.columns.filterNot(Set(TsCol, DeletedCol))), col(DeletedCol))
    val base = Merge.dropTombstones(merged, col(DeletedCol))
      .drop(TsCol, DeletedCol)
    if (!hasUpdates(name)) base
    else graft.operators.WriteCompute.applyUpdates(base,
      restrict(readUpdates(name)), meta.keyCols)
  }

  /** R11 streaming batchGet — the Venice `streamingBatchGet` /
    * `streamingExecute` read contract (partial results delivered
    * incrementally; non-existing keys surfaced to the callback as explicit
    * markers; a completion result says whether every route answered —
    * ComputeRequestBuilder.java:82-91, semantics not code):
    *
    *  - `onRecord(row, missing)` fires once per requested key, in arrival
    *    order. Found keys carry the full value row; missing keys fire with
    *    `missing = true` (their value columns null) — Venice's
    *    non-existing-key callback.
    *  - Delivery is INCREMENTAL: the plan is consumed through
    *    `toLocalIterator`, so partitions stream to the driver one at a
    *    time (O(one partition) driver memory) and the callback starts
    *    firing while later partitions are still executing. A callback
    *    that throws aborts the remaining delivery — the client-side
    *    early-termination analog.
    *  - Returns the completion event: (found, missing) counts — the
    *    analog of Venice's isFullResponse signal (here a batch engine
    *    always reaches every "route", so found+missing = #keys).
    *
    * Scale shape: identical to [[batchGet]] — the serving view never
    * shuffles. Found rows come off the broadcast left-semi join; the
    * missing set is the key set anti-joined against the FOUND KEYS (both
    * sides ≤ the request size, broadcast), never against the view. */
  def streamingBatchGet(name: String, keys: DataFrame)(
      onRecord: (org.apache.spark.sql.Row, Boolean) => Unit): (Long, Long) = {
    val meta = storeMeta(name)
    // the request is a key SET (Venice batchGet takes Set<K>): distinct
    // the frame so duplicate requested keys fire the callback exactly once
    // whether found or missing — without this the anti-join would keep
    // every duplicate of a missing key while found duplicates collapse
    val keySet = keys.select(meta.keyCols.map(col): _*).distinct()
    // materialize the (small, ≤ request-size) found rows once: they feed
    // both the delivery and the anti-join, and caching keeps the second
    // consumer from re-scanning the store. persist (not localCheckpoint):
    // the cacheManager can actually release it in the finally below —
    // unpersist() on a localCheckpoint leaks the RDD blocks until GC.
    val found = batchGet(name, keySet)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val valueCols = found.columns.filterNot(meta.keyCols.contains)
      val markers = keySet
        .join(broadcast(found.select(meta.keyCols.map(col): _*)),
          meta.keyCols, "left_anti")
        .select(meta.keyCols.map(col) ++
          valueCols.map(c =>
            lit(null).cast(found.schema(c).dataType).as(c)): _*)
      var nFound = 0L
      var nMissing = 0L
      val it = found.withColumn("__missing", lit(false))
        .unionByName(markers.withColumn("__missing", lit(true)))
        .toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        val missing = r.getBoolean(r.fieldIndex("__missing"))
        if (missing) nMissing += 1 else nFound += 1
        onRecord(r, missing)
      }
      (nFound, nMissing)
    } finally {
      // the checkpoint's blocks are otherwise leaked until the DataFrame
      // is GC'd — repeated calls on a long-lived session would accumulate
      found.unpersist(blocking = false)
      ()
    }
  }

  def compute(name: String): ComputeBuilder =
    new ComputeBuilder(servingView(name), storeMeta(name).keyCols)

  /** Facet-counting compute aggregation (countGroupByValue /
    * countGroupByBucket) over the serving view. */
  def computeAggregation(name: String): AggregationBuilder =
    new AggregationBuilder(servingView(name), storeMeta(name).keyCols)

  // ---- write path (W1: upsert log) -----------------------------------------

  /** Append PUT rows to the RT log. Rows must carry the value columns. */
  def put(name: String, rows: DataFrame, tsMs: Long): Unit =
    appendLog(name, rows, lit(tsMs), deleted = false)

  /** A/A stores must write through the CRDT op log — the record-level LWW
    * log and update log are never read by the A/A serving view, so writes
    * there would silently vanish. */
  private def requireNotAa(name: String, use: String): Unit =
    require(!isActiveActive(name),
      s"store $name is active-active — use $use")

  /** Append PUT rows with a per-row event-time column: ONE log write per
    * call regardless of how many distinct timestamps the batch carries —
    * the streaming-ingest shape (a driver loop issuing one append per
    * distinct ts would mean per-row round-trips at per-ms event time). */
  def put(name: String, rows: DataFrame, tsCol: Column): Unit =
    appendLog(name, rows, tsCol, deleted = false)

  /** Append DELETE tombstones (key columns only needed). */
  def delete(name: String, keys: DataFrame, tsMs: Long): Unit =
    appendLog(name, keys, lit(tsMs), deleted = true)

  /** W1 as one CDC batch: a SINGLE atomic log append carrying per-row puts
    * AND tombstones with per-row event time — the shape a changelog
    * consumer or streaming producer emits (Venice's nearline writers
    * interleave PUT and DELETE messages on the RT topic; semantics, not
    * code: the leader path of StoreIngestionTask). Atomic because one
    * append = one file commit: a crash can never land a batch's tombstones
    * without its sibling puts. `deletedCol` may reference any input column
    * (it is evaluated before the value-schema conform drops extras). */
  def applyCdc(name: String, rows: DataFrame, tsCol: Column,
      deletedCol: Column): Unit =
    appendLogRows(name, rows, tsCol, deletedCol)

  /** Fill value columns missing from df with typed nulls and project to the
    * template's schema, carrying along any `keep` extra columns. */
  private def conformToValueSchema(df: DataFrame, tpl: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val withMissing = tpl.schema.fields.foldLeft(df) { (d, f) =>
      have.get(f.name) match {
        case None => d.withColumn(f.name, lit(null).cast(f.dataType))
        // cast PRESENT columns to the registered type too: a writer frame
        // carrying e.g. a LongType where the registry says IntegerType
        // used to write INT64 parquet into the log, and the explicit-
        // schema log scan (readLogRaw/readAaLog) then hits a physical
        // type mismatch. The serving view always conformed these to the
        // registry types at read time anyway, so normalizing at write
        // changes no resolved value.
        case Some(dt) if dt != f.dataType =>
          d.withColumn(f.name, col(f.name).cast(f.dataType))
        case _ => d
      }
    }
    withMissing.select((tpl.schema.fieldNames.map(col) ++ keep.map(col)): _*)
  }

  /** Marker stamped INSIDE a log dir every one of whose files was written
    * typed to the registered superset schema (the r10 write-side cast in
    * [[conformToValueSchema]]): the explicit-expected-schema fast scan
    * (readLogRaw/readAaLog) is only sound for such dirs. Logs written by a
    * pre-fix engine, or begun before any schema was registered (conformed
    * to the snapshot's types, which a first registration may contradict),
    * lack the marker and keep the mergeSchema+conform read — slower,
    * correct for mixed physical types. Underscore-prefixed so Spark's file
    * index ignores it; lives inside the dir so a repush archive moves it
    * with the files and a fresh log starts unmarked. */
  private val TypedLogMarker = "_TYPED"

  private def typedLogMarked(name: String, d: String): Boolean =
    Files.exists(Paths.get(dir(name, d), TypedLogMarker))

  /** Stamp after a successful append: only when the write was conformed to
    * a registered superset AND every earlier file in the dir was too
    * (the dir was empty before this append, or already marked). */
  private def stampTypedLog(name: String, d: String,
      wasEmpty: Boolean): Unit =
    if (supersetSchemaOpt(name).isDefined &&
        (wasEmpty || typedLogMarked(name, d))) {
      val p = Paths.get(dir(name, d), TypedLogMarker)
      if (!Files.exists(p)) Files.writeString(p, "1")
    }

  // ---- incremental log mirror (r11, guide §6/§1.2) -------------------------
  //
  // A probe-heavy workload (streaming dedup-on-arrival, incremental view
  // refresh, point-read loops) re-reads the SAME growing log directory on
  // every probe: each append adds files, so the b-th probe opens b files'
  // footers and schedules b scan tasks — quadratic across a drain. The
  // mirror keeps an in-memory (MEMORY_AND_DISK) union of the log dir's data
  // files, extended per read by scanning ONLY the files not yet mirrored
  // (exact file-set diff, so out-of-band writers are picked up and any file
  // REMOVAL — archive, compaction, vacuum — invalidates the mirror). This
  // is incremental maintenance of the engine's OWN store inside one run,
  // never a cross-run cache: the mirror starts empty with every engine and
  // mirrors bytes that live on disk either way. Logs between repushes are
  // operationally bounded deltas, and a mirror that outgrows
  // [[GraftEngine.LogMirrorMaxRows]] is dropped for plain dir scans.

  private case class LogMirror(files: Set[String], schemaJson: String,
      parts: Vector[DataFrame], df: DataFrame)
  private val logMirror = scala.collection.mutable.Map[String, LogMirror]()
  private val logMirrorOff = scala.collection.mutable.Set[String]()
  private val logMirrorReads = scala.collection.mutable.Map[String, Int]()

  /** Reads of one log dir before the mirror kicks in: one-shot readers
    * (a batch query's single serving-view scan) keep the plain dir scan —
    * the mirror's multi-part union inflates AQE stage counts, measured a
    * net loss below a handful of re-reads — while probe-heavy paths
    * (streaming dedup drains, incremental refresh loops: tens of reads of
    * a growing dir) cross the gate almost immediately. */
  private val LogMirrorMinReads = 4

  /** Files in the log dir before the mirror kicks in: re-scanning a
    * handful of files is already cheap (one listing, few footers), so
    * mirroring a SMALL dir never wins — a full sweep with only the
    * read-count gate regressed the point-read/index-probe families a few
    * hundred ms each (their loops cross 4 reads but their logs hold 2–6
    * files). The mirror is for GROWING dirs: many appends × many probes. */
  private val LogMirrorMinFiles = 12

  /** Scan of `<store>/<d>` under the explicit `expected` schema, served
    * from (and extending) the incremental mirror. Only sound for
    * typed-marked logs — every file's physical schema must embed into
    * `expected` — which callers gate on. */
  private def mirroredLogScan(name: String, d: String,
      expected: org.apache.spark.sql.types.StructType): DataFrame =
    logMirror.synchronized {
      val base = dir(name, d)
      val key = s"$name/$d"
      def dirScan: DataFrame = spark.read.schema(expected).parquet(base)
      if (logMirrorOff(key)) return dirScan
      val reads = logMirrorReads.getOrElse(key, 0) + 1
      logMirrorReads(key) = reads
      if (reads < LogMirrorMinReads) return dirScan
      val current = GraftEngine.listDataFiles(base)
      if (current.isEmpty) return emptyFrame(expected)
      if (current.size < LogMirrorMinFiles && !logMirror.contains(key))
        return dirScan
      if (current.values.sum > LogMirrorMaxBytes) {
        // over-budget log: stop mirroring, free anything held
        logMirror.remove(key).foreach(_.parts.foreach(_.unpersist(false)))
        logMirrorOff += key
        return dirScan
      }
      val fileSet = current.keySet
      val sj = expected.json
      val memo = logMirror.get(key)
        .filter(m => m.schemaJson == sj && m.files.subsetOf(fileSet))
      memo match {
        case Some(m) if m.files == fileSet => m.df
        case m0 =>
          if (m0.isEmpty) logMirror.remove(key)
            .foreach(_.parts.foreach(_.unpersist(false)))
          // persist the DELTA alone and extend the union PLAN over the
          // already-cached parts: persisting the whole union would rewrite
          // O(mirror) cache blocks on every probe (measured slower than
          // the dir scans it replaced). The persist is LAZY — the probe's
          // own first read materializes it — so mirror maintenance adds
          // ZERO extra jobs (a budget in file bytes, not rows, keeps it
          // job-free). basePath keeps partition-dir columns (the A/A
          // log's bucket) parsed from leaf paths exactly as the full-dir
          // scan does.
          val prev = m0.map(_.files).getOrElse(Set.empty[String])
          val delta = (fileSet -- prev).toSeq.sorted
          val deltaDf = spark.read.option("basePath", base)
            .schema(expected).parquet(delta: _*)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          var parts = m0.map(_.parts).getOrElse(Vector.empty) :+ deltaDf
          // bound the union plan's depth: every 64 parts, collapse the
          // chain into ONE cached part (amortized O(mirror/64) per probe)
          if (parts.size >= 64) {
            val collapsed = parts.reduce(_ unionByName _)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            collapsed.count()
            parts.foreach(_.unpersist(false))
            parts = Vector(collapsed)
          }
          val df = parts.reduce(_ unionByName _)
          logMirror(key) = LogMirror(fileSet, sj, parts, df)
          df
      }
    }

  /** Next log-append sequence number (monotone per store) — the Spark
    * analog of the RT topic offset in Venice's change coordinate
    * (VeniceChangeCoordinate.java:30 checkpoints (version, offset)). One
    * seq per append batch: batch appends are the atomic unit here. */
  private def nextLogSeq(name: String): Long = {
    val p = Paths.get(dir(name, "SEQ"))
    val next = (if (Files.exists(p)) Files.readString(p).trim.toLong else 0L) + 1
    Files.writeString(p, next.toString)
    next
  }

  def currentLogSeq(name: String): Long = {
    val p = Paths.get(dir(name, "SEQ"))
    if (Files.exists(p)) Files.readString(p).trim.toLong else 0L
  }

  private def appendLog(name: String, rows: DataFrame, tsCol: Column,
      deleted: Boolean): Unit =
    appendLogRows(name, rows, tsCol, lit(deleted))

  /** Generalized log append with PER-ROW ts and tombstone flag: lets one
    * batch atomically carry deletes and puts (the view-refresh shape — a
    * crash can never land the tombstones without their reinserts). */
  private def appendLogRows(name: String, rows: DataFrame, tsCol: Column,
      deletedCol: Column): Unit = {
    requireNotAa(name, "putAA/deleteAA")
    // conform to the SUPERSET of registered schemas — a writer on an evolved
    // schema keeps its new fields, an old writer's missing fields become
    // typed nulls — and stamp the writer schema id per batch
    val tpl = supersetSchemaOpt(name).map(emptyFrame)
      .getOrElse(snapshot(name).limit(0))
    val sid = writerSchemaId(name, rows.columns.toSet)
    val wasEmpty = !hasLog(name)
    // stamp ts/deleted BEFORE conforming — they may reference columns (e.g.
    // the stream's event-time) that are not part of the value schema
    conformToValueSchema(
      rows.withColumn(TsCol, tsCol.cast("long"))
        .withColumn(DeletedCol, deletedCol),
      tpl, keep = Seq(TsCol, DeletedCol))
      .withColumn(SchemaIdCol, lit(sid))
      .withColumn(LogSeqCol, lit(nextLogSeq(name)))
      .write.mode("append").parquet(dir(name, "log"))
    stampTypedLog(name, "log", wasEmpty)
  }

  private def emptyFrame(s: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), s)

  /** Log read for merge paths: seq + schema-id columns are CDC plumbing, not
    * value state — drop them, and resolve mixed-writer-schema files to the
    * superset (mergeSchema unions the parquet footers; conform fills fields
    * a given writer didn't know about with typed nulls). */
  private def readLog(name: String): DataFrame =
    conformLog(name, readLogRaw(name).drop(LogSeqCol, SchemaIdCol))

  /** RT-log scan with an EXPLICIT expected schema where the registry knows
    * it (value superset + the fixed meta columns appendLogRows stamps) —
    * mergeSchema=true re-reconciled every append's footer on every
    * serving-view read, a per-read cost that grows with the log. A file
    * written before a schema evolution reads its missing fields as typed
    * nulls, exactly what mergeSchema produced. */
  private def readLogRaw(name: String): DataFrame =
    supersetSchemaOpt(name) match {
      // the explicit schema is only sound when every file in the dir was
      // written typed to the superset ([[TypedLogMarker]]); unmarked logs
      // (pre-fix engine, or begun before the first schema registration)
      // keep the mergeSchema read, whose footer union tolerates mixed
      // physical types and whose result conformLog casts to the superset
      case Some(s) if typedLogMarked(name, "log") =>
        import org.apache.spark.sql.types._
        val metaFields = Seq(
          StructField(TsCol, LongType),
          StructField(DeletedCol, BooleanType),
          StructField(SchemaIdCol, IntegerType),
          StructField(LogSeqCol, LongType))
          .filterNot(f => s.fieldNames.contains(f.name))
        mirroredLogScan(name, "log", StructType(s.fields ++ metaFields))
      case _ => spark.read.option("mergeSchema", "true")
        .parquet(dir(name, "log"))
    }

  /** Resolve a log frame to the superset schema, carrying the ts/deleted
    * meta columns through. */
  private def conformLog(name: String, raw: DataFrame): DataFrame =
    supersetSchemaOpt(name) match {
      case Some(s) => SchemaEvolution.conform(raw,
        org.apache.spark.sql.types.StructType(
          s.fields ++ raw.schema.fields.filter(f =>
            f.name == TsCol || f.name == DeletedCol)))
      case None => raw
    }

  /** Directory-non-empty probe that closes the listing stream (Files.list
    * leaks an fd per call otherwise — every servingView would leak one). */
  private def nonEmptyDir(p: java.nio.file.Path): Boolean =
    Files.exists(p) && {
      val s = Files.list(p)
      try s.findFirst.isPresent finally s.close()
    }

  private def hasLog(name: String): Boolean = nonEmptyDir(Paths.get(dir(name, "log")))

  /** LWW tie-break column over the value columns (everything but the
    * ts/deleted plumbing). Default: a deterministic string rendering —
    * same total order every run, codegen'd. With
    * `StoreConfig.lwwByteTieBreak`: the unsigned bytes of the
    * Avro-serialized value struct — the reference's tie-break domain
    * (MergeByteBuffer compares serialized values, but by hashCode —
    * AbstractMerge.java/MergeUtils.java; semantics, not code) under a
    * stable byte-defined order instead of its collision-unstable one
    * (e.g. numeric fields: "10" < "9" as strings but 10 > 9 as small
    * zigzag varints). */
  private def lwwTieBreak(name: String, cols: Seq[String]): Column =
    if (storeConfig(name).lwwByteTieBreak)
      graft.functions.AvroBinaryExpr.avroBinary(struct(cols.map(col): _*))
    else concat_ws("|", cols.map(c => col(c).cast("string")): _*)

  /** The hybrid-store read view: snapshot outer-merged with the RT log,
    * LWW per key with delete-wins tie-break (W5/W6). */
  def servingView(name: String): DataFrame = {
    if (isActiveActive(name)) return aaView(name)
    val snap = resolvedSnapshot(name)
      .withColumn(TsCol, lit(0L)).withColumn(DeletedCol, lit(false))
    val merged =
      if (!hasLog(name)) snap
      else {
        val meta = storeMeta(name)
        val log = readLog(name)
        Merge.lww(snap, log, meta.keyCols, col(TsCol),
          lwwTieBreak(name,
            snap.columns.filterNot(Set(TsCol, DeletedCol))), col(DeletedCol))
      }
    val base = Merge.dropTombstones(merged, col(DeletedCol))
      .drop(TsCol, DeletedCol)
    if (!hasUpdates(name)) base
    else {
      // fold pending partial updates (ts order) onto the merged state
      val meta = storeMeta(name)
      graft.operators.WriteCompute.applyUpdates(base,
        readUpdates(name), meta.keyCols)
    }
  }

  /** Update-log read: mergeSchema unions files written against different
    * registered value schemas; applyUpdates/squashUpdates conform rows to
    * the derived update schema (missing op columns = NoOp). */
  private def readUpdates(name: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dir(name, "updates"))

  // ---- write compute (W2/W3: partial-update log) ---------------------------

  /** Append write-compute update rows (derived schema per
    * [[graft.operators.WriteCompute.deriveUpdateSchema]], key cols included).
    * Updates land in their own log and fold onto the merged PUT/DELETE state
    * in timestamp order at read time. */
  def update(name: String, updateRows: DataFrame, tsMs: Long): Unit = {
    requireNotAa(name, "setFieldAA/addToSetAA/removeFromSetAA/putMapEntryAA")
    // write-compute rides the same change coordinate as puts (in Venice
    // UPDATE shares the RT topic): freshness checks — [[cachedServingView]],
    // view refresh — must see it move. The batch carries its seq so
    // [[changelogSince]] can tell WHICH pending updates a coordinate has
    // already seen (the fold paths select their own columns and ignore it;
    // a squash/compact rewrite may drop it — absent seq reads as
    // always-new, which only over-emits an idempotent after-image).
    val seq = nextLogSeq(name)
    updateRows
      .withColumn(graft.operators.WriteCompute.TsCol, lit(tsMs))
      .withColumn(LogSeqCol, lit(seq))
      .write.mode("append").parquet(dir(name, "updates"))
  }

  private def hasUpdates(name: String): Boolean =
    nonEmptyDir(Paths.get(dir(name, "updates")))

  /** W8 wired in: squash the pending update log to ONE row per key —
    * updates fold pairwise in ts order through
    * [[graft.operators.WriteCompute.squashExpr]] (op-history-aware: a later
    * set kills earlier collection ops; collection ops compose), keeping the
    * max ts. Bounds read-time fold work between repushes the way Venice
    * compacts the write-compute stream. One keyed shuffle. */
  def compactUpdates(name: String): Unit = {
    import org.apache.spark.sql.types.StructType
    import graft.operators.WriteCompute
    if (!hasUpdates(name)) return // nothing pending — compaction is a no-op
    val meta = storeMeta(name)
    val valueSchema = StructType(
      supersetSchema(name).fields.filterNot(f => meta.keyCols.contains(f.name)))
    // chunked hierarchical squash — bounded per-task memory even for a
    // hot key with millions of pending ops (see WriteCompute.squashUpdates)
    rewriteUpdates(name) { u =>
      val squashed = WriteCompute.squashUpdates(u, meta.keyCols, valueSchema)
      // re-attach the per-key max change-coordinate: squashUpdates conforms
      // to keys+ops+ts only, and a changelog consumer whose coordinate has
      // already seen these updates must not re-see them after a compaction
      // (and changelogSince's seq filter must still resolve at all)
      if (!u.columns.contains(LogSeqCol)) squashed
      else squashed.join(
        u.groupBy(meta.keyCols.map(col): _*)
          .agg(max(col(LogSeqCol)).as(LogSeqCol)),
        meta.keyCols, "left")
    }
  }

  private def rmTree(p: java.nio.file.Path): Unit = {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))
    finally walk.close()
  }

  /** Physically rewrite the pending-updates log through `f`, crash-safe:
    * write the result to a tmp dir, then two renames (updates → .old,
    * tmp → updates) with the recovery preamble undoing a crash between
    * them. An EMPTY result removes the log entirely — readers must never
    * face a schema-less parquet dir. Shared by [[compactUpdates]] (squash)
    * and [[purge]] (drop purged keys' pending ops). */
  private def rewriteUpdates(name: String)(
      f: DataFrame => DataFrame): Unit = {
    // recover from a previous crash mid-swap: a leftover .updates.old with
    // no live updates dir means the first move landed but the second never
    // did — restore it; a stale .updates.squashing is a dead tmp, drop it
    val targetP = Paths.get(dir(name, "updates"))
    val oldP = Paths.get(dir(name, ".updates.old"))
    val tmpP = Paths.get(dir(name, ".updates.squashing"))
    if (Files.exists(oldP) && !Files.exists(targetP)) Files.move(oldP, targetP)
    Seq(oldP, tmpP).filter(Files.exists(_)).foreach(rmTree)
    if (!hasUpdates(name)) return
    // materialize before replacing the directory the plan reads from
    val rows = f(readUpdates(name)).cache()
    val n = rows.count()
    if (n == 0) {
      // crash-safe removal: move the live dir to the dead-tmp name first
      // (the recovery preamble drops a stale tmp), so a crash mid-delete
      // leaves either the full old log or no log — never a partial one
      rows.unpersist(); Files.move(targetP, tmpP); rmTree(tmpP); return
    }
    rows.write.mode("overwrite").parquet(tmpP.toString)
    rows.unpersist()
    Files.move(targetP, oldP)
    Files.move(tmpP, targetP)
    rmTree(oldP)
  }

  // ---- active-active (W7: field-level RMD CRDT) ----------------------------

  /** Mark the store active-active: subsequent [[putAA]]/[[deleteAA]]/
    * [[setFieldAA]]/[[addToSetAA]]/[[removeFromSetAA]] ops land in an RMD op
    * log and [[servingView]] resolves them through the field-level CRDT
    * ([[graft.operators.CrdtMerge]]) instead of record-level LWW — the
    * Spark re-expression of Venice's A/A conflict resolution
    * (MergeConflictResolver.java:111-255: per-field timestamps, per-element
    * collection timestamps, delete resolved field-by-field). */
  def enableActiveActive(name: String): Unit =
    Files.writeString(Paths.get(dir(name, "AA")), "1")

  def isActiveActive(name: String): Boolean =
    Files.exists(Paths.get(dir(name, "AA")))

  /** Full PUT at tsMs: every scalar field stamped tsMs; collection fields
    * become full puts (topTs = tsMs). */
  def putAA(name: String, rows: DataFrame, tsMs: Long): Unit =
    appendAA(name, rows, "put", "", None, None, lit(tsMs))

  /** Full PUTs with a per-row event-time column — the A/A streaming-ingest
    * shape (each RT record carries its own conflict-resolution timestamp):
    * ONE op-log append per batch. */
  def putAA(name: String, rows: DataFrame, tsCol: Column): Unit =
    appendAA(name, rows, "put", "", None, None, tsCol)

  /** DELETE at tsMs, resolved per-field (Venice A/A semantics): each field
    * is nulled/emptied iff tsMs wins against that field's timestamp; the
    * record disappears from the view when every field is gone. */
  def deleteAA(name: String, keys: DataFrame, tsMs: Long): Unit =
    appendAA(name, keys, "delete", "", None, None, lit(tsMs))

  /** DELETEs with a per-row event-time column — the A/A streaming-ingest
    * shape (each tombstone carries its own conflict-resolution timestamp,
    * resolved per-field downstream exactly like the tsMs form). */
  def deleteAA(name: String, keys: DataFrame, tsCol: Column): Unit =
    appendAA(name, keys, "delete", "", None, None, tsCol)

  /** Partial update of one scalar field (rows carry key cols + the field). */
  def setFieldAA(name: String, rows: DataFrame, field: String, tsMs: Long): Unit =
    appendAA(name, rows, "set", field, None, None, lit(tsMs))

  /** Add one element to a collection field (observed-remove set add). */
  def addToSetAA(name: String, rows: DataFrame, field: String,
      elemCol: String, tsMs: Long): Unit =
    appendAA(name, rows, "add", field, Some(elemCol), None, lit(tsMs))

  /** Remove one element from a collection field (tombstone at tsMs —
    * delete-wins-on-tie against adds). */
  def removeFromSetAA(name: String, rows: DataFrame, field: String,
      elemCol: String, tsMs: Long): Unit =
    appendAA(name, rows, "remove", field, Some(elemCol), None, lit(tsMs))

  /** Put one entry (key→value at tsMs) into a map field — per-entry LWW. */
  def putMapEntryAA(name: String, rows: DataFrame, field: String,
      keyCol: String, valueCol: String, tsMs: Long): Unit =
    appendAA(name, rows, "add", field, Some(keyCol), Some(valueCol), lit(tsMs))

  /** Remove one map key (tombstone at tsMs — delete wins ties). */
  def removeMapKeyAA(name: String, rows: DataFrame, field: String,
      keyCol: String, tsMs: Long): Unit =
    appendAA(name, rows, "remove", field, Some(keyCol), None, lit(tsMs))

  private def appendAA(name: String, rows: DataFrame, op: String,
      field: String, elemCol: Option[String], elem2Col: Option[String],
      tsCol: Column): Unit = {
    require(isActiveActive(name), s"store $name is not active-active")
    val meta = storeMeta(name)
    // conform to the SUPERSET of registered value schemas (never the raw
    // snapshot — post-repush it carries RMD sibling columns, which are
    // compaction state, not op-row payload): an evolved writer keeps its
    // new fields, an old writer's missing fields become typed nulls. The
    // batch is stamped with its writer schema id so the resolver can give
    // fields OUTSIDE the writer's schema bottom RMD state — an old-schema
    // put must not clobber a new field another region already set (Venice
    // resolves puts per-field against the superset;
    // AvroSupersetSchemaUtils / MergeConflictResolver.java:89-95
    // semantics, not code).
    val tpl = supersetSchemaOpt(name).map(emptyFrame).getOrElse {
      val snap0 = snapshot(name).limit(0)
      snap0.drop(snap0.columns.filter(c => isRmdCol(c) || c == RecCol): _*)
    }
    val sid = writerSchemaId(name, rows.columns.toSet)
    val nb = aaLogBuckets(name, createIfAbsent = true).get
    val wasEmpty = !hasAaLog(name)
    // stamp ts and elem BEFORE conforming — they may reference columns
    // (e.g. the stream's event-time) outside the value schema
    val withElem = rows
      .withColumn(AaElemCol,
        elemCol.map(c => col(c).cast("string")).getOrElse(lit(null).cast("string")))
      .withColumn(AaElem2Col,
        elem2Col.map(c => col(c).cast("string")).getOrElse(lit(null).cast("string")))
      .withColumn(TsCol, tsCol.cast("long"))
    conformToValueSchema(withElem, tpl, keep = Seq(AaElemCol, AaElem2Col, TsCol))
      .withColumn(AaOpCol, lit(op))
      .withColumn(AaFieldCol, lit(field))
      .withColumn(SchemaIdCol, lit(sid))
      .withColumn(LogSeqCol, lit(nextLogSeq(name)))
      // bucketed like the snapshot so point reads prune BOTH sides of the
      // fold to one partition directory each
      .withColumn(BucketCol, graft.functions.HashOps.partitionId(
        graft.functions.HashOps.renderKey(meta.keyCols), nb))
      .write.mode("append").partitionBy(BucketCol).parquet(dir(name, "aa_log"))
    stampTypedLog(name, "aa_log", wasEmpty)
  }

  private def hasAaLog(name: String): Boolean =
    nonEmptyDir(Paths.get(dir(name, "aa_log")))

  /** Bucket count pinned for the LIFETIME of the current op log (a later
    * push may change the snapshot's numBuckets; mixing layouts inside one
    * log directory would break pruning). Re-pinned after each repush
    * archives the log. */
  private def aaLogBuckets(name: String,
      createIfAbsent: Boolean): Option[Int] = {
    val p = Paths.get(dir(name, "AA_BUCKETS"))
    if (Files.exists(p)) Some(Files.readString(p).trim.toInt)
    else if (createIfAbsent) {
      val n = numBuckets(name)
      Files.writeString(p, n.toString)
      Some(n)
    } else None
  }

  /** A/A op-log read resolved to the superset value schema (mixed writer
    * schemas union via mergeSchema; an old writer's missing fields read as
    * typed nulls), op/meta columns carried through; optional bucket
    * pruning. */
  private def readAaLog(name: String,
      logBucket: Option[Int] = None): DataFrame = {
    // Explicit expected schema instead of mergeSchema=true: the op log is
    // re-read on EVERY probe/fold, and mergeSchema reconciles every
    // file's footer on every read — on a streaming ingest whose log grows
    // by one append per microbatch that footer sweep is quadratic in
    // batches (measured on stream_semdedup/stream_neardup). The schema
    // registry already knows the full column set (value superset + the
    // fixed op/meta columns appendAA stamps); a file written before a
    // schema evolution reads its missing columns as typed nulls — exactly
    // what mergeSchema yielded. Fallback to mergeSchema only when no
    // schema was ever registered (pre-push store, not reachable for A/A).
    val raw0 = supersetSchemaOpt(name) match {
      // marker-gated like readLogRaw: unmarked op logs (pre-fix writer, or
      // begun before the first registration) keep the mergeSchema read and
      // are conformed below
      case Some(s) if typedLogMarked(name, "aa_log") =>
        import org.apache.spark.sql.types._
        val metaFields = Seq(
          StructField(AaElemCol, StringType),
          StructField(AaElem2Col, StringType),
          StructField(TsCol, LongType),
          StructField(AaOpCol, StringType),
          StructField(AaFieldCol, StringType),
          StructField(SchemaIdCol, IntegerType),
          StructField(LogSeqCol, LongType),
          StructField(BucketCol, IntegerType))
          .filterNot(f => s.fieldNames.contains(f.name))
        mirroredLogScan(name, "aa_log", StructType(s.fields ++ metaFields))
      case _ => spark.read.option("mergeSchema", "true")
        .parquet(dir(name, "aa_log"))
    }
    val raw1 = logBucket match {
      case Some(b) if raw0.columns.contains(BucketCol) =>
        raw0.filter(col(BucketCol) === b)
      case _ => raw0
    }
    val raw = if (raw1.columns.contains(BucketCol)) raw1.drop(BucketCol)
      else raw1
    supersetSchemaOpt(name) match {
      case Some(s) =>
        val metaFields = raw.schema.fields.filterNot(f =>
          s.fieldNames.contains(f.name))
        SchemaEvolution.conform(raw,
          org.apache.spark.sql.types.StructType(s.fields ++ metaFields))
      case None => raw
    }
  }

  /** RMD sibling columns (f__ts / f__rmd) persisted by an A/A repush. */
  private def isRmdCol(n: String): Boolean =
    n.endsWith("__ts") || n.endsWith("__rmd")

  /** The A/A serving view: snapshot lifted into CRDT states — from its
    * PERSISTED RMD columns when the version was written by an A/A repush
    * (so late out-of-order events keep losing to what already won), else
    * as a full put at ts 0 — unioned with the op log lifted per-op, folded
    * per key in ONE keyed shuffle
    * ([[graft.operators.CrdtMerge.mergeEvents]]). Fold order is irrelevant
    * (commutative lattice) — the multi-region guarantee.
    *
    * `snapBucket`/`logBucket` prune the two scans to one partition
    * directory each (the point-read shape); `keyPred` prunes the fold to
    * matching keys — both prunings are sound because the fold groups by
    * key, so dropping other keys' events cannot change a kept key's
    * state. */
  private[graft] def aaView(name: String, snapBucket: Option[Int] = None,
      logBucket: Option[Int] = None,
      keyPred: Option[Column] = None,
      keys: Option[DataFrame] = None): DataFrame = {
    val resolved = aaResolve(name, keepRmd = false, snapBucket = snapBucket,
      logBucket = logBucket, keyPred = keyPred, keys = keys)
    // visible iff the record-existence marker survived (a put won it) OR
    // any field carries live state (a partial update after a delete
    // resurrects those fields — Venice A/A semantics). A record whose
    // marker lost to a delete and whose fields are all dead is a tombstone
    // (its RMD still survives compaction via aaResolve(keepRmd = true)).
    resolved
      .filter(col(RecCol) === "1" || !aaFieldsGone(aaValueSchema(name)))
      .drop(RecCol)
  }

  /** Record-tombstone predicate over a resolved (RecCol-bearing) frame:
    * the existence marker lost to a delete AND every field is dead. */
  private def aaTombstone(name: String): Column =
    not(coalesce(col(RecCol) === "1", lit(false))) &&
      aaFieldsGone(aaValueSchema(name))

  /** True when every value field is dead: scalars null, collections empty. */
  private def aaFieldsGone(
      valueSchema: org.apache.spark.sql.types.StructType): Column = {
    import org.apache.spark.sql.types.{ArrayType, MapType}
    valueSchema.fields.map { f =>
      f.dataType match {
        case _: ArrayType | _: MapType => size(col(f.name)) === 0
        case _ => col(f.name).isNull
      }
    }.reduce(_ && _)
  }

  private def aaValueSchema(name: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    val meta = storeMeta(name)
    // the superset of REGISTERED schemas, not the current snapshot: fields
    // registered after the version was pushed must exist in the resolved
    // view (as typed nulls with bottom RMD)
    StructType(supersetSchema(name).fields.filterNot(f =>
      meta.keyCols.contains(f.name) || isRmdCol(f.name) || f.name == RecCol))
  }

  /** Resolve the store's CRDT state per key: snapshot + op log lifted to
    * state structs and folded ([[graft.operators.CrdtMerge.mergeEvents]]).
    *
    * Schema evolution is handled per FIELD:
    *  - a field whose RMD sibling the version persisted → stored state
    *    (late out-of-order events keep losing to what already won);
    *  - a field the version carries without RMD (plain batch push) → full
    *    put at ts 0;
    *  - a field REGISTERED AFTER the version was written → BOTTOM state
    *    (Long.MinValue timestamps — loses to everything), NOT a ts-0 null
    *    put: ts-0 would still win ties deterministically, but bottom is
    *    the honest "this version never saw the field";
    *  - a PUT op row gives fields outside its writer's schema bottom state
    *    (dispatch on the batch's [[GraftEngine.SchemaIdCol]]) — an
    *    old-schema put at ts T must not null out a new field another
    *    region set at ts < T. Venice: per-field merge against the
    *    superset schema (MergeConflictResolver.java:89-95, semantics).
    */
  private def aaResolve(name: String, keepRmd: Boolean,
      snapBucket: Option[Int] = None, logBucket: Option[Int] = None,
      keyPred: Option[Column] = None,
      keys: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType, StructField, StringType}
    import graft.operators.CrdtMerge
    val meta = storeMeta(name)
    val valSchema = aaValueSchema(name)
    // per-store byte-parity tie-break applies at FIELD and ELEMENT level
    // (scalar LWW, map-entry LWW) — same flag the record-level LWW uses
    val btb = storeConfig(name).lwwByteTieBreak
    // the CRDT folds over the value fields PLUS a record-existence marker
    // (a scalar "1" that every put stamps and every delete nulls) so a
    // legitimately-all-null record is distinguishable from a tombstone
    val crdtSchema = StructType(valSchema.fields :+
      StructField(RecCol, StringType))
    val keyCols = meta.keyCols.map(col)
    def rmdName(f: StructField): String = f.dataType match {
      case _: ArrayType | _: MapType => s"${f.name}__rmd"
      case _ => s"${f.name}__ts"
    }

    // ---- snapshot side: optionally directory-pruned, conformed to the
    // superset, lifted per-field (stored RMD / ts-0 put / bottom)
    val snapRaw0 = spark.read.parquet(dir(name, s"v=${currentVersion(name)}"))
    val snapRaw = snapBucket
      .map(b => snapRaw0.filter(col(BucketCol) === b)).getOrElse(snapRaw0)
      .drop(BucketCol)
    val snapCols0 = snapRaw.columns.toSet
    val keyFields = snapRaw.schema.fields.filter(f => meta.keyCols.contains(f.name))
    val carried = snapRaw.schema.fields.filter(f =>
      isRmdCol(f.name) || f.name == RecCol)
    var snap = SchemaEvolution.conform(snapRaw,
      StructType(keyFields ++ valSchema.fields ++ carried))
    keyPred.foreach(p => snap = snap.filter(p))
    keys.foreach(k => snap = snap.join(k, meta.keyCols, "left_semi"))
    val putStruct = struct(
      valSchema.fieldNames.map(col) :+ lit("1").as(RecCol): _*)
    val put0 = CrdtMerge.putState(putStruct, lit(0L), crdtSchema)
    val bot = CrdtMerge.bottomState(crdtSchema)
    // state struct field order must match the op-state constructors'
    // (interleaved per value field) for the unionByName below
    val snapState = struct(crdtSchema.fields.flatMap { f =>
      val rn = rmdName(f)
      if (snapCols0(rn)) Seq(col(f.name).as(f.name), col(rn).as(rn))
      else if (snapCols0(f.name) || f.name == RecCol)
        Seq(put0.getField(f.name).as(f.name), put0.getField(rn).as(rn))
      else Seq(bot.getField(f.name).as(f.name), bot.getField(rn).as(rn))
    }.toIndexedSeq: _*)
    val snapEvents = snap.select(keyCols :+ snapState.as("state"): _*)

    // ---- op-log side
    val ts = col(TsCol)
    val putBase = CrdtMerge.putState(putStruct, ts, crdtSchema)
    def mixPut(known: Set[String]): Column =
      struct(crdtSchema.fields.flatMap { f =>
        val rn = rmdName(f)
        val src = if (known(f.name) || f.name == RecCol) putBase else bot
        Seq(src.getField(f.name).as(f.name), src.getField(rn).as(rn))
      }.toIndexedSeq: _*)
    val logEvents =
      if (!hasAaLog(name)) snapEvents.limit(0)
      else {
        var log = readAaLog(name, logBucket)
        keyPred.foreach(p => log = log.filter(p))
        keys.foreach(k => log = log.join(k, meta.keyCols, "left_semi"))
        // writer-schema-aware put dispatch: only registered schemas that
        // MISS some superset field need a branch (the common, un-evolved
        // store adds none)
        val partialIds =
          if (!log.columns.contains(SchemaIdCol)) Nil
          else registeredSchemaIds(name)
            .map(id => id -> valueSchema(name, id).fieldNames.toSet)
            .filterNot { case (_, known) =>
              valSchema.fieldNames.forall(known) }
        var state = partialIds.foldLeft(when(lit(false), putBase)) {
          case (acc, (id, known)) =>
            acc.when(col(AaOpCol) === "put" && col(SchemaIdCol) === id,
              mixPut(known))
        }.when(col(AaOpCol) === "put", putBase)
          .when(col(AaOpCol) === "delete",
            CrdtMerge.putState(lit(null).cast(crdtSchema), ts, crdtSchema))
        valSchema.fields.foreach { f =>
          f.dataType match {
            case _: ArrayType =>
              state = state
                .when(col(AaOpCol) === "add" && col(AaFieldCol) === f.name,
                  CrdtMerge.elementOpState(f.name, col(AaElemCol), ts,
                    isRemove = false, crdtSchema))
                .when(col(AaOpCol) === "remove" && col(AaFieldCol) === f.name,
                  CrdtMerge.elementOpState(f.name, col(AaElemCol), ts,
                    isRemove = true, crdtSchema))
            case _: MapType =>
              state = state
                .when(col(AaOpCol) === "add" && col(AaFieldCol) === f.name,
                  CrdtMerge.mapEntryState(f.name, col(AaElemCol), col(AaElem2Col),
                    ts, crdtSchema))
                .when(col(AaOpCol) === "remove" && col(AaFieldCol) === f.name,
                  CrdtMerge.mapRemoveState(f.name, col(AaElemCol), ts, crdtSchema))
            case _ =>
              state = state
                .when(col(AaOpCol) === "set" && col(AaFieldCol) === f.name,
                  CrdtMerge.setFieldState(f.name, col(f.name), ts, crdtSchema))
          }
        }
        log.select(keyCols :+ state.as("state"): _*)
      }
    // The fold is the identity on a key with no pending ops, so only
    // op-touched keys pay it (Venice equivalent: snapshot records are
    // already conflict-resolved; only RT ops go through the resolver).
    // At 100 TB with a bounded between-repush delta this turns the read
    // from an O(store) keyed shuffle into O(delta) fold + a narrow
    // pass-through of the rest.
    if (!hasAaLog(name))
      CrdtMerge.flattenStates(snapEvents, meta.keyCols, crdtSchema, keepRmd,
        byteTieBreak = btb)
    else if (keys.isDefined)
      // caller already restricted both sides to the requested keys
      CrdtMerge.mergeEvents(
        snapEvents.unionByName(logEvents), meta.keyCols, crdtSchema,
        keepRmd = keepRmd, byteTieBreak = btb)
    else {
      val touched = logEvents.select(meta.keyCols.map(col): _*).distinct()
      val folded = CrdtMerge.mergeEvents(
        snapEvents.join(touched, meta.keyCols, "left_semi")
          .unionByName(logEvents),
        meta.keyCols, crdtSchema, keepRmd = keepRmd, byteTieBreak = btb)
      val untouched = CrdtMerge.flattenStates(
        snapEvents.join(touched, meta.keyCols, "left_anti"),
        meta.keyCols, crdtSchema, keepRmd, byteTieBreak = btb)
      folded.unionByName(untouched)
    }
  }

  // ---- views & registration ------------------------------------------------

  /** Materialized view: a re-partitioned copy of the store under different
    * keys (reference: views/MaterializedView.java — a second output with its
    * own partitioner). Captures the source's change coordinate so
    * [[refreshView]] can maintain it incrementally from the changelog
    * instead of re-pushing the world. */
  def materializedView(name: String, viewName: String, viewKeys: Seq[String],
      numBuckets: Int = 16): Int = {
    createStore(viewName, viewKeys)
    // capture BEFORE materializing: writes racing the push are replayed by
    // the next refresh (at-least-once; LWW upserts make replay idempotent)
    val coord = latestCoordinate(name)
    val v = push(viewName, servingView(name), numBuckets)
    saveViewCoord(viewName, name, coord)
    v
  }

  private def saveViewCoord(viewName: String, src: String,
      c: ChangeCoordinate): Unit =
    Files.writeString(Paths.get(dir(viewName, "VIEW_SRC")),
      s"$src,${c.version},${c.seq},${c.epoch}")

  private def viewCoord(viewName: String): (String, ChangeCoordinate) = {
    val parts = Files.readString(Paths.get(dir(viewName, "VIEW_SRC")))
      .trim.split(",")
    (parts(0), ChangeCoordinate(parts(1).toInt, parts(2).toLong,
      if (parts.length > 3) parts(3).toLong else 0L))
  }

  /** Incremental view maintenance (reference intent:
    * views/MaterializedView.java:23-70 — views are maintained from the
    * ingest path, not by full recompute). Reads the source changelog since
    * the stored coordinate and touches ONLY the changed keys:
    *
    *  1. compact the delta to the latest state per source key;
    *  2. tombstone every view row derived from a changed source key — this
    *     is what makes a view-key CHANGE (the re-key column's value moved)
    *     and a source DELETE correct, which blind upserts are not;
    *  3. re-insert the still-live delta rows under their (possibly new)
    *     view keys, one LWW tick later so the insert beats the tombstone.
    *
    * A coordinate from an older source version (post-repush/swap) falls
    * back to a full re-push — exactly the changelog consumer's resync rule.
    * Both steps are log appends: one broadcast-size semi-join against the
    * delta keys plus bounded writes, never a scan-rewrite of the view. */
  def refreshView(viewName: String): Unit = {
    val (src, coord) = viewCoord(viewName)
    // A/A sources work too (round 5): changelogSince emits resolved
    // after-images for A/A stores, which is exactly the delta shape the
    // tombstone+reinsert steps below consume
    val meta = storeMeta(src)
    val vmeta = storeMeta(viewName)
    val newCoord = latestCoordinate(src)
    if (coord == newCoord) return // caught up
    if (coord.version != currentVersion(src) ||
        coord.epoch != currentEpoch(src)) {
      val v = push(viewName, servingView(src), numBuckets(viewName))
      // the rebuild supersedes every pending view-log delta — archive the
      // log rather than let it overlay the fresh snapshot (idempotent in
      // the ordinary resync, but after a source purge the stale deltas
      // would physically retain — and resurrect — purged rows)
      Seq("log", "updates").foreach(archiveLog(viewName, _, v))
      saveViewCoord(viewName, src, newCoord)
      return
    }
    val delta = changelogSince(src, coord)
    val latest = Compaction.latestPerKey(delta, meta.keyCols, Seq(col(TsCol)))
      .cache()
    try {
      if (latest.limit(1).isEmpty) { saveViewCoord(viewName, src, newCoord); return }
      // monotone LWW ticks per refresh, above the snapshot's ts 0
      val tick = 2L * (currentLogSeq(viewName) + 1)
      // no explicit broadcast hint: a small delta auto-broadcasts, a huge
      // one (≈ full rebuild) must be allowed to shuffle instead of OOM
      val changedKeys = latest.select(meta.keyCols.map(col): _*)
      // ONE atomic log batch: tombstones for every view row derived from a
      // changed source key (at `tick`) + reinserts of the still-live delta
      // under their new view keys (at `tick`+1, so the insert beats the
      // tombstone). Two separate appends would leave a crash window where
      // the view has lost rows it was about to re-gain.
      val stale = servingView(viewName)
        .join(changedKeys, meta.keyCols, "left_semi")
        .select(vmeta.keyCols.map(col): _*)
        .withColumn("__r_ts", lit(tick))
        .withColumn("__r_del", lit(true))
      val live = latest.filter(!col(DeletedCol)).drop(TsCol, DeletedCol)
        .withColumn("__r_ts", lit(tick + 1))
        .withColumn("__r_del", lit(false))
      appendLogRows(viewName,
        stale.unionByName(live, allowMissingColumns = true),
        tsCol = col("__r_ts"), deletedCol = col("__r_del"))
      saveViewCoord(viewName, src, newCoord)
    } finally latest.unpersist()
  }

  // ---- incremental JOIN views ----------------------------------------------

  /** Materialize the INNER equi-join of two stores sharing key columns —
    * the feature-store join (user_features ⋈ user_profile on user_id),
    * maintainable from both changelogs without recomputing the join
    * (reference intent: views are maintained from the ingest path, not by
    * rescan — views/MaterializedView.java:23-70; semantics, not code).
    * Value columns must be disjoint (standard join hygiene). Returns the
    * view's initial version. */
  def joinView(left: String, right: String, viewName: String,
      numBuckets: Int = 16): Int = {
    val lk = storeMeta(left).keyCols
    val rk = storeMeta(right).keyCols
    require(lk == rk,
      s"joinView needs both stores keyed by the same columns ($lk vs $rk)")
    val overlap = (servingView(left).columns.toSet
      .intersect(servingView(right).columns.toSet)) -- lk
    require(overlap.isEmpty,
      s"joinView value columns must be disjoint; both sides carry $overlap")
    createStore(viewName, lk)
    // capture coordinates BEFORE materializing (at-least-once replay)
    val cl = latestCoordinate(left)
    val cr = latestCoordinate(right)
    val v = push(viewName, servingView(left).join(servingView(right), lk),
      numBuckets)
    saveJoinCoords(viewName, left, cl, right, cr)
    v
  }

  private def saveJoinCoords(viewName: String, l: String, cl: ChangeCoordinate,
      r: String, cr: ChangeCoordinate): Unit =
    Files.writeString(Paths.get(dir(viewName, "JOIN_SRC")),
      s"$l,${cl.version},${cl.seq},${cl.epoch}\n" +
        s"$r,${cr.version},${cr.seq},${cr.epoch}")

  private def joinCoords(viewName: String)
      : ((String, ChangeCoordinate), (String, ChangeCoordinate)) = {
    val Array(l0, r0) = Files.readString(Paths.get(dir(viewName, "JOIN_SRC")))
      .trim.split("\n")
    def parse(s: String) = {
      val p = s.split(",")
      (p(0), ChangeCoordinate(p(1).toInt, p(2).toLong,
        if (p.length > 3) p(3).toLong else 0L))
    }
    (parse(l0), parse(r0))
  }

  /** Delta-join refresh: changed keys from EITHER changelog probe the
    * other store's serving view — the last IVM shape [[refreshView]]
    * (re-key) and [[aggView]] (distributive aggregates) don't cover.
    *
    *  1. Δ = union of both sources' changed keys since the stored
    *     coordinates (latest-per-key compaction, then distinct) —
    *     delta-sized by construction;
    *  2. tombstone every view row keyed in Δ (a delete for a key the view
    *     never held is a harmless tombstone — no read needed);
    *  3. recompute the join FOR Δ ONLY: each side's serving view is
    *     semi-joined down to Δ (broadcast — Δ is small; the store scans
    *     stay filter-pushed point-ish reads, exactly batchGet's shape),
    *     inner-joined, and re-inserted one LWW tick above the tombstone.
    *
    * Deletes on either side fall out naturally: the key is in Δ, the
    * inner join no longer emits it, the tombstone stands. A source
    * repush/rollback (version moved) falls back to a full rebuild — the
    * changelog consumer's resync rule. Cost per refresh: O(|Δ|) probe
    * rows + two broadcast semi-joins; never a view scan-rewrite. */
  def refreshJoinView(viewName: String): Unit = {
    val ((left, cl), (right, cr)) = joinCoords(viewName)
    val keys = storeMeta(viewName).keyCols
    val ncl = latestCoordinate(left)
    val ncr = latestCoordinate(right)
    if (cl == ncl && cr == ncr) return // caught up
    if (cl.version != currentVersion(left) ||
        cl.epoch != currentEpoch(left) ||
        cr.version != currentVersion(right) ||
        cr.epoch != currentEpoch(right)) {
      // post-swap resync: full rebuild, pending view deltas superseded
      val v = push(viewName, servingView(left).join(servingView(right), keys),
        numBuckets(viewName))
      Seq("log", "updates").foreach(archiveLog(viewName, _, v))
      saveJoinCoords(viewName, left, ncl, right, ncr)
      return
    }
    val changed = changelogSince(left, cl).select(keys.map(col): _*)
      .unionByName(changelogSince(right, cr).select(keys.map(col): _*))
      .distinct().cache()
    try {
      if (changed.limit(1).isEmpty) {
        saveJoinCoords(viewName, left, ncl, right, ncr); return
      }
      val tick = 2L * (currentLogSeq(viewName) + 1)
      // servingViewForKeys restricts snapshot+logs BEFORE the LWW merge,
      // so each probe's keyed merge is delta-sized, not store-sized
      val fresh = servingViewForKeys(left, changed)
        .join(servingViewForKeys(right, changed), keys)
      // ONE atomic append (tombstones + re-inserts), as in refreshView:
      // two appends would leave a crash window with rows lost
      val stale = changed
        .withColumn("__r_ts", lit(tick)).withColumn("__r_del", lit(true))
      val live = fresh
        .withColumn("__r_ts", lit(tick + 1)).withColumn("__r_del", lit(false))
      appendLogRows(viewName,
        stale.unionByName(live, allowMissingColumns = true),
        tsCol = col("__r_ts"), deletedCol = col("__r_del"))
      saveJoinCoords(viewName, left, ncl, right, ncr)
    } finally { changed.unpersist(); () }
  }

  // ---- incremental AGGREGATE views -----------------------------------------

  private def aggTwin(viewName: String): String = s"${viewName}__rows"

  private def saveAggMeta(viewName: String, groupCols: Seq[String],
      measures: Seq[(String, String)]): Unit =
    Files.writeString(Paths.get(dir(viewName, "AGG_META")),
      (groupCols.mkString(",") +: measures.map { case (n, e) => s"$n\t$e" })
        .mkString("\n"))

  private def aggMeta(viewName: String): (Seq[String], Seq[(String, String)]) = {
    val lines = Files.readString(Paths.get(dir(viewName, "AGG_META")))
      .split("\n").toSeq
    (lines.head.split(",").toSeq,
      lines.tail.map { l => val Array(n, e) = l.split("\t", 2); (n, e) })
  }

  /** Materialize a DISTRIBUTIVE aggregate (row count + exact long sums per
    * group) over a store, maintainable from the changelog without ever
    * rescanning the source — classic incremental view maintenance, the
    * piece [[materializedView]]'s key-level re-keying can't express
    * (an aggregate row has no source key to tombstone).
    *
    * Two stores implement it:
    *  - `viewName` — keyed by `groupCols`, columns `n` + one long per
    *    measure: the served aggregate;
    *  - `viewName__rows` (the "twin") — keyed by the SOURCE keys, holding
    *    each key's current (group, measure…) contribution. The twin exists
    *    because group-delta maintenance must know which group a changed key
    *    LEFT; the changelog's after-images only say where it landed.
    *
    * Measures are (name, SQL expression) pairs evaluated against source
    * rows and cast to long — exact integer arithmetic end to end (scale
    * monetary doubles to cents in the expression). Works for LWW and A/A
    * sources alike: maintenance consumes only resolved after-images.
    * Sums/counts stay exact under insert, update, group move, and delete
    * because every key's old contribution is retracted before its new one
    * is added. */
  def aggregateView(src: String, viewName: String, groupCols: Seq[String],
      measures: Seq[(String, String)], numBuckets: Int = 16): Unit = {
    require(groupCols.nonEmpty, "aggregateView needs group columns")
    require(measures.nonEmpty, "aggregateView needs at least one measure")
    require(!measures.map(_._1).contains("n"), "measure name 'n' is reserved")
    val meta = storeMeta(src)
    createStore(aggTwin(viewName), meta.keyCols)
    createStore(viewName, groupCols)
    val coord = latestCoordinate(src)
    rebuildAggFrom(src, viewName, groupCols, measures, numBuckets)
    saveViewCoord(viewName, src, coord)
    saveAggMeta(viewName, groupCols, measures)
  }

  private def aggTwinRows(src: DataFrame, srcKeys: Seq[String],
      groupCols: Seq[String], measures: Seq[(String, String)]): DataFrame =
    src.select((srcKeys ++ groupCols).map(col) ++
      measures.map { case (n, e) => expr(e).cast("long").as(n) }: _*)

  private def aggOf(rows: DataFrame, groupCols: Seq[String],
      mNames: Seq[String]): DataFrame =
    rows.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        mNames.map(m => sum(col(m)).as(m)): _*)

  private def rebuildAggFrom(src: String, viewName: String,
      groupCols: Seq[String], measures: Seq[(String, String)],
      numBuckets: Int): Unit = {
    val meta = storeMeta(src)
    val rows = aggTwinRows(servingView(src), meta.keyCols, groupCols, measures)
    val vTwin = push(aggTwin(viewName), rows, numBuckets)
    val v = push(viewName, aggOf(rows, groupCols, measures.map(_._1)),
      numBuckets)
    // a rebuild supersedes any pending deltas on both stores
    Seq(viewName -> v, aggTwin(viewName) -> vTwin).foreach { case (st, ver) =>
      archiveLog(st, "log", ver)
    }
  }

  /** Apply the source changelog since the stored coordinate to the
    * aggregate view: retract each changed key's OLD contribution (read
    * from the twin, which still holds pre-delta state), add its new one,
    * and upsert only the AFFECTED groups — cost scales with the delta,
    * never the view. Groups whose count reaches 0 are tombstoned. A
    * coordinate from an older source version falls back to a full
    * rebuild (the resync rule).
    *
    * Each store's update is one atomic log batch, but the agg append and
    * the twin append are two writes: a crash BETWEEN them leaves the pair
    * inconsistent until [[rebuildAggView]] runs (the coordinate is saved
    * last, so the tear is detectable: a refresh that finds the coordinate
    * unmoved but the twin ahead of the agg must rebuild — production
    * would gate both appends behind one manifest commit the way push()
    * swaps versions). */
  def refreshAggView(viewName: String): Unit = {
    val (src, coord) = viewCoord(viewName)
    val (groupCols, measures) = aggMeta(viewName)
    val meta = storeMeta(src)
    val twin = aggTwin(viewName)
    val mNames = measures.map(_._1)
    val newCoord = latestCoordinate(src)
    if (coord == newCoord) return
    if (coord.version != currentVersion(src) ||
        coord.epoch != currentEpoch(src)) {
      rebuildAggFrom(src, viewName, groupCols, measures, numBuckets(viewName))
      saveViewCoord(viewName, src, newCoord)
      return
    }
    val delta = changelogSince(src, coord)
    val latest = Compaction.latestPerKey(delta, meta.keyCols, Seq(col(TsCol)))
      .cache()
    try {
      if (latest.limit(1).isEmpty) { saveViewCoord(viewName, src, newCoord); return }
      val changedKeys = latest.select(meta.keyCols.map(col): _*)
      // OLD contributions: the twin still holds pre-delta state
      val old = servingView(twin).join(changedKeys, meta.keyCols, "left_semi")
      val fresh = aggTwinRows(latest.filter(!col(DeletedCol)),
        meta.keyCols, groupCols, measures)
      def contrib(df: DataFrame, sign: Int): DataFrame =
        df.groupBy(groupCols.map(col): _*)
          .agg((count(lit(1)) * sign).cast("long").as("__dn"),
            mNames.map(m => (sum(col(m)) * sign).cast("long").as(s"__d_$m")): _*)
      val gdelta = contrib(old, -1).unionByName(contrib(fresh, 1))
        .groupBy(groupCols.map(col): _*)
        .agg(sum(col("__dn")).as("__dn"),
          mNames.map(m => sum(col(s"__d_$m")).as(s"__d_$m")): _*)
      val current = servingView(viewName)
        .join(gdelta.select(groupCols.map(col): _*), groupCols, "left_semi")
      val merged = current.join(gdelta, groupCols, "full_outer")
        .select(groupCols.map(col) ++
          Seq((coalesce(col("n"), lit(0L)) + coalesce(col("__dn"), lit(0L)))
            .as("n")) ++
          mNames.map(m => (coalesce(col(m), lit(0L)) +
            coalesce(col(s"__d_$m"), lit(0L))).as(m)): _*)
        .cache()
      try {
        // agg store first: one atomic batch of dead-group tombstones +
        // surviving-group upserts
        val tick = 2L * (currentLogSeq(viewName) + 1)
        val deadAgg = merged.filter(col("n") <= 0)
          .select(groupCols.map(col): _*)
          .withColumn("__r_ts", lit(tick)).withColumn("__r_del", lit(true))
        val liveAgg = merged.filter(col("n") > 0)
          .withColumn("__r_ts", lit(tick + 1))
          .withColumn("__r_del", lit(false))
        appendLogRows(viewName,
          deadAgg.unionByName(liveAgg, allowMissingColumns = true),
          tsCol = col("__r_ts"), deletedCol = col("__r_del"))
        // then the twin: tombstone deleted keys, upsert live contributions
        val ttick = 2L * (currentLogSeq(twin) + 1)
        val twinDead = latest.filter(col(DeletedCol))
          .select(meta.keyCols.map(col): _*)
          .withColumn("__r_ts", lit(ttick)).withColumn("__r_del", lit(true))
        val twinLive = fresh
          .withColumn("__r_ts", lit(ttick + 1))
          .withColumn("__r_del", lit(false))
        appendLogRows(twin,
          twinDead.unionByName(twinLive, allowMissingColumns = true),
          tsCol = col("__r_ts"), deletedCol = col("__r_del"))
        saveViewCoord(viewName, src, newCoord)
      } finally merged.unpersist()
    } finally latest.unpersist()
  }

  /** Full recompute escape hatch for [[refreshAggView]]'s documented
    * two-append crash window. */
  def rebuildAggView(viewName: String): Unit = {
    val (src, _) = viewCoord(viewName)
    val (groupCols, measures) = aggMeta(viewName)
    val coord = latestCoordinate(src)
    rebuildAggFrom(src, viewName, groupCols, measures, numBuckets(viewName))
    saveViewCoord(viewName, src, coord)
  }

  /** B11 incremental push: delta batch appended to the RT log of the
    * current version (no new version, no swap). */
  def incrementalPush(name: String, rows: DataFrame, tsMs: Long): Unit =
    put(name, rows, tsMs)

  /** S6: expose the serving view to spark.sql — the DuckDB-integration
    * analog; our snapshots are already SQL-projectable. */
  def registerSql(name: String, asName: String = ""): Unit =
    servingView(name).createOrReplaceTempView(
      if (asName.nonEmpty) asName else name)

  /** As-of read: the serving view at a past instant — a pinned snapshot
    * version plus only the log entries at or before `tsMs` (version dirs are
    * immutable, so time travel is free; Venice's rewind/seek semantics). */
  def servingViewAsOf(name: String, tsMs: Long,
      version: Option[Int] = None): DataFrame = {
    val meta = storeMeta(name)
    val snap = resolvedSnapshot(name, version)
      .withColumn(TsCol, lit(0L)).withColumn(DeletedCol, lit(false))
    val merged =
      if (!hasLog(name)) snap
      else {
        val log = readLog(name).filter(col(TsCol) <= tsMs)
        Merge.lww(snap, log, meta.keyCols, col(TsCol),
          lwwTieBreak(name,
            snap.columns.filterNot(Set(TsCol, DeletedCol))), col(DeletedCol))
      }
    val base = Merge.dropTombstones(merged, col(DeletedCol))
      .drop(TsCol, DeletedCol)
    // pending write-compute updates are part of history too: fold the ones
    // at or before the instant, exactly like [[servingView]] does with all
    // of them (an as-of read at ts ≥ every write must equal the live view)
    if (!hasUpdates(name)) base
    else graft.operators.WriteCompute.applyUpdates(base,
      readUpdates(name)
        .filter(col(graft.operators.WriteCompute.TsCol) <= tsMs),
      meta.keyCols)
  }

  // ---- CDC (S4) ------------------------------------------------------------

  /** After-image change stream since a timestamp (checkpoint = max ts seen).
    * A/A stores emit conflict-RESOLVED after-images of the touched keys, not
    * raw CRDT ops — the Venice changelog contract for A/A
    * (ActiveActiveStoreIngestionTask.java:97 produces resolved records into
    * the version topic the changelog consumer reads; semantics, not code). */
  def changelog(name: String, sinceTsMs: Long): DataFrame = {
    if (isActiveActive(name)) {
      require(hasAaLog(name), s"store $name has no A/A op log")
      return aaAfterImages(name, col(TsCol) >= sinceTsMs)
    }
    require(hasLog(name) || hasUpdates(name), s"store $name has no RT log")
    val raw =
      if (!hasLog(name))
        resolvedSnapshot(name).limit(0)
          .withColumn(TsCol, lit(0L)).withColumn(DeletedCol, lit(false))
      else readLog(name).filter(col(TsCol) >= sinceTsMs)
    if (!hasUpdates(name)) raw
    else {
      // write-compute updates surface as resolved after-images (the
      // leader's UPDATE→PUT), same contract as [[changelogSince]]
      val meta = storeMeta(name)
      val ai = lwwUpdateAfterImages(name,
        col(graft.operators.WriteCompute.TsCol) >= sinceTsMs,
        Some(raw.select(meta.keyCols.map(col): _*)))
      raw.join(ai.select(meta.keyCols.map(col): _*), meta.keyCols, "left_anti")
        .unionByName(ai)
    }
  }

  /** Resolved after-images for the keys touched by op-log rows matching
    * `opFilter` — the A/A changelog unit. One row per touched key: the
    * full CRDT fold restricted to those keys (their snapshot slice + their
    * COMPLETE op history, because an after-image reflects all of a key's
    * state, not just the new ops), stamped with the max matching op ts and
    * a tombstone flag. Output schema matches [[changelog]]'s LWW shape:
    * key + value cols + ts + deleted. Cost scales with the delta (one
    * semi-join against the touched keys on each fold side), not the
    * store. */
  private def aaAfterImages(name: String, opFilter: Column): DataFrame = {
    val meta = storeMeta(name)
    val touched = readAaLog(name).filter(opFilter)
      .groupBy(meta.keyCols.map(col): _*).agg(max(col(TsCol)).as(TsCol))
    val resolved = aaResolve(name, keepRmd = false,
      keys = Some(touched.select(meta.keyCols.map(col): _*)))
    val valueCols = resolved.columns.filterNot(_ == RecCol).map(col)
    resolved
      .withColumn(DeletedCol, aaTombstone(name))
      .join(touched, meta.keyCols)
      .select(valueCols :+ col(TsCol) :+ col(DeletedCol): _*)
  }

  /** Exact CDC checkpoint: (version, log append seq) — the Venice change
    * coordinate (VeniceChangeCoordinate.java:30). Timestamp seeks are
    * approximate (duplicate/skewed event times); the coordinate is not. */
  def latestCoordinate(name: String): ChangeCoordinate =
    ChangeCoordinate(currentVersion(name), currentLogSeq(name),
      currentEpoch(name))

  /** Bootstrapping changelog consumer: the full current state as
    * after-images PLUS the exact coordinate to resume the live stream
    * from — Venice's bootstrapping-changelog-consumer contract
    * (clients/da-vinci-client/.../consumer/
    * StatefulVeniceChangelogConsumer.java:24: a fresh node "obtains a
    * complete data snapshot" before transitioning to the live stream;
    * semantics, not code). Applying the returned frame LWW-style (max ts
    * per key, tombstones win at their ts) reconstructs the serving view
    * as of the coordinate; `changelogSince(coord)` then continues with
    * NO gap and NO overlap — the coordinate is captured before the
    * frame is built, and the frame contains every op at-or-before it.
    * Cost: one snapshot scan + log scan, the same frame a post-swap
    * resync pays. */
  def bootstrapChangelog(name: String): (DataFrame, ChangeCoordinate) = {
    val coord = latestCoordinate(name)
    // a version that can never be current forces changelogSince's full
    // resync branch: snapshot as ts-0 after-images + the surviving log
    (changelogSince(name, ChangeCoordinate(-1, -1L)), coord)
  }

  /** Entries strictly after the checkpoint coordinate. A coordinate from an
    * older version is stale — the consumer re-reads the whole current state
    * (the post-version-swap resync, Venice's TopicSwitch semantics): the
    * current snapshot as after-images (ts 0) plus any surviving log. Output
    * schema matches [[changelog]] (value cols + ts + deleted). */
  def changelogSince(name: String, coord: ChangeCoordinate): DataFrame = {
    if (isActiveActive(name)) {
      if (coord.version != currentVersion(name) ||
          coord.epoch != currentEpoch(name)) {
        // post-swap resync: the full resolved state as after-images at
        // ts 0, tombstoned records flagged deleted (the consumer's
        // TopicSwitch-style re-read)
        val resolved = aaResolve(name, keepRmd = false)
        val valueCols = resolved.columns.filterNot(_ == RecCol).map(col)
        return resolved
          .withColumn(DeletedCol, aaTombstone(name))
          .withColumn(TsCol, lit(0L))
          .select(valueCols :+ col(TsCol) :+ col(DeletedCol): _*)
      }
      if (!hasAaLog(name))
        return servingView(name).limit(0)
          .withColumn(TsCol, lit(0L)).withColumn(DeletedCol, lit(false))
      return aaAfterImages(name, col(LogSeqCol) > coord.seq)
    }
    val logExists = hasLog(name)
    val hasUpd = hasUpdates(name)
    if (coord.version != currentVersion(name) ||
          coord.epoch != currentEpoch(name)) {
      val snap = resolvedSnapshot(name)
        .withColumn(TsCol, lit(0L)).withColumn(DeletedCol, lit(false))
      val base = if (logExists) snap.unionByName(readLog(name)) else snap
      if (!hasUpd) base
      else {
        // full-state read: keys with pending write-compute updates emit
        // their RESOLVED after-image (the fold is not ts-LWW-expressible,
        // so their raw rows are replaced, not merely joined)
        val ai = lwwUpdateAfterImages(name, lit(true), None)
        base.join(ai.select(storeMeta(name).keyCols.map(col): _*),
            storeMeta(name).keyCols, "left_anti")
          .unionByName(ai)
      }
    } else {
      val logDelta =
        if (!logExists)
          // caught up on the current version with nothing appended since
          resolvedSnapshot(name).limit(0)
            .withColumn(TsCol, lit(0L)).withColumn(DeletedCol, lit(false))
        else conformLog(name, readLogRaw(name)
          .filter(col(LogSeqCol) > coord.seq).drop(LogSeqCol, SchemaIdCol))
      if (!hasUpd) logDelta
      else {
        // write-compute deltas (the bug this closes: update() moves the
        // coordinate but its rows live in updates/, not log/ — a raw-log
        // delta was EMPTY and the refresh saved the coordinate, silently
        // skipping the update forever): emit resolved after-images for
        // keys with new pending updates, AND for log-delta keys that have
        // any pending update (their raw row alone under-represents the
        // folded state). Raw rows for after-imaged keys are suppressed —
        // within a batch the after-image IS that key's state.
        val meta = storeMeta(name)
        // seq guard: a compaction rewrite predating the seq-preserving
        // squash may have dropped __log_seq from EVERY updates file —
        // then the column is unresolvable, not merely null. Fall back to
        // always-new (over-emits an idempotent after-image) instead of
        // AnalysisException-ing every changelogSince/refreshView.
        val updSeq =
          if (readUpdates(name).columns.contains(LogSeqCol))
            coalesce(col(LogSeqCol), lit(Long.MaxValue)) > coord.seq
          else lit(true)
        val ai = lwwUpdateAfterImages(name, updSeq,
          Some(logDelta.select(meta.keyCols.map(col): _*)))
        logDelta.join(ai.select(meta.keyCols.map(col): _*),
            meta.keyCols, "left_anti")
          .unionByName(ai)
      }
    }
  }

  /** Resolved after-images for keys with pending write-compute updates —
    * the LWW analog of [[aaAfterImages]], and the Venice leader's
    * UPDATE→full-PUT resolution (a changelog consumer never sees a partial
    * update, it sees the record the update produced; semantics, not code).
    * Emits one row per touched key: the post-fold serving state (or a
    * tombstone if the key resolves dead), stamped with the key's LATEST
    * contributing ts across the full log and every pending update — the
    * pending set only grows between repushes, so re-emissions are
    * ts-monotone and idempotent under the consumer's LWW fold. (A
    * same-ts re-emission after a lower-ts late write falls to the
    * deterministic tie-break — documented, the fold-on-top semantic is
    * not exactly expressible in ts-LWW; view refresh is immune, it
    * applies deltas at its own ticks.)
    *
    * `updFilter` selects which pending updates count as "touched";
    * `alsoKeys` adds delta keys that must be after-imaged because they
    * also carry pending updates. Cost: the touched-key set is delta-sized
    * and broadcasts; the serving view is scanned ONCE, linearly, to slice
    * those keys' resolved rows (same shape as [[aaAfterImages]]) — no
    * quadratic term, and stores without pending updates skip all of it
    * behind one directory probe. */
  private def lwwUpdateAfterImages(name: String, updFilter: Column,
      alsoKeys: Option[DataFrame]): DataFrame = {
    val meta = storeMeta(name)
    val keyCols = meta.keyCols.map(col)
    val upd = readUpdates(name)
    val updKeys = upd.select(keyCols: _*).distinct()
    val touched0 = upd.filter(updFilter).select(keyCols: _*).distinct()
    val touched = (alsoKeys match {
      case Some(k) => touched0.unionByName(
        k.join(updKeys, meta.keyCols, "left_semi")).distinct()
      case None => touched0
    })
    val updTs = upd.groupBy(keyCols: _*)
      .agg(max(col(graft.operators.WriteCompute.TsCol)).as("__uts"))
    val logTs =
      if (!hasLog(name)) touched.withColumn("__lts", lit(0L))
      else readLog(name).groupBy(keyCols: _*).agg(max(col(TsCol)).as("__lts"))
    val ts = touched
      .join(updTs, meta.keyCols, "left")
      .join(logTs, meta.keyCols, "left")
      .select(keyCols :+ greatest(coalesce(col("__uts"), lit(0L)),
        coalesce(col("__lts"), lit(0L))).as(TsCol): _*)
    val sv = servingView(name)
    val live = sv.join(ts, meta.keyCols)
      .withColumn(DeletedCol, lit(false))
    val valueFields = sv.schema.fields.filterNot(f => meta.keyCols.contains(f.name))
    val dead = ts.join(sv.select(keyCols: _*), meta.keyCols, "left_anti")
      .select(keyCols ++ valueFields.map(f =>
        lit(null).cast(f.dataType).as(f.name)) ++
        Seq(col(TsCol), lit(true).as(DeletedCol)): _*)
    live.select(live.columns.filterNot(c => c == TsCol || c == DeletedCol)
        .map(col) ++ Seq(col(TsCol), col(DeletedCol)): _*)
      .unionByName(dead)
  }

  // ---- repush (B3/B4: TTL + compaction into a new version) -----------------

  /** Compact snapshot+log into a fresh version (optionally TTL-filtering
    * log entries older than ttlStartMs), then swap. The Venice "repush". */
  def repush(name: String, ttlStartMs: Option[Long] = None,
      newBuckets: Option[Int] = None): Int = {
    // preserve the store's partition count across the rewrite unless the
    // caller is migrating it ([[rebucket]]) — a repush is a compaction,
    // not a layout change (Venice: partition count is store config, and a
    // repush inherits it; changing it REQUIRES a full push — semantics,
    // not code: VeniceHelixAdmin partition-count handling)
    val nb = newBuckets.getOrElse(numBuckets(name))
    // z-order clustering is a layout property too: the compacted version
    // inherits the serving version's clustered dimensions, so dimensional
    // file pruning survives compaction without the caller re-declaring it
    val cluster = clusterByOf(name, currentVersion(name))
    // A/A stores take this branch even with NO pending op log (e.g. a
    // rebucket right after a repush): the LWW branch below would conform
    // the snapshot to the value superset, STRIPPING the persisted RMD
    // columns — a tombstoned record would resurrect as a live null row
    // (found by EngineFuzzSpec: ADel; repush; rebucket).
    if (isActiveActive(name)) {
      // compact WITH the merged RMD columns: the new version keeps
      // per-field/per-element timestamps, so late out-of-order events
      // arriving after the repush still resolve correctly (Venice persists
      // RMD alongside the value for exactly this reason). Record-level
      // tombstones ride along too — only serving hides them — unless the
      // TTL says they are old enough to garbage-collect.
      import org.apache.spark.sql.types.{ArrayType, MapType}
      val resolved = aaResolve(name, keepRmd = true)
      val valueSchema = aaValueSchema(name)
      val rows0 = ttlStartMs match {
        case Some(t0) =>
          val tombstone = col(RecCol).isNull && aaFieldsGone(valueSchema)
          val tsCols = coalesce(col(s"${RecCol}__ts"), lit(Long.MinValue)) +:
            valueSchema.fields.toSeq.map { f =>
              f.dataType match {
                case _: ArrayType | _: MapType =>
                  col(s"${f.name}__rmd").getField("topTs")
                case _ => coalesce(col(s"${f.name}__ts"), lit(Long.MinValue))
              }
            }
          val maxTs = if (tsCols.size == 1) tsCols.head else greatest(tsCols: _*)
          resolved.filter(!(tombstone && maxTs < t0))
        case None => resolved
      }
      val rows = rows0.cache()
      rows.count()
      val v = push(name, rows, nb, clusterBy = cluster)
      rows.unpersist()
      if (hasAaLog(name)) archiveLog(name, "aa_log", v)
      // the archived log's bucket layout dies with it — the next append
      // re-pins to the (possibly changed) snapshot bucket count
      Files.deleteIfExists(Paths.get(dir(name, "AA_BUCKETS")))
      return v
    }
    val meta = storeMeta(name)
    val snap = resolvedSnapshot(name)
      .withColumn(TsCol, lit(0L)).withColumn(DeletedCol, lit(false))
    val merged = if (!hasLog(name)) snap else {
      val log0 = readLog(name)
      val log = ttlStartMs match {
        case Some(t0) => log0.filter(col(TsCol) >= t0 || col(DeletedCol))
        case None => log0
      }
      Merge.lww(snap, log, meta.keyCols, col(TsCol),
        lwwTieBreak(name,
          snap.columns.filterNot(Set(TsCol, DeletedCol))), col(DeletedCol))
    }
    val base = Merge.dropTombstones(merged, col(DeletedCol))
      .drop(TsCol, DeletedCol)
    val compacted =
      if (!hasUpdates(name)) base
      else {
        // the TTL ages out pending UPDATE records exactly like puts
        // (Venice's TTL repush filters the RT replay per-record by its
        // write timestamp, whatever the record type — semantics, not
        // code); without this an aged-out put's companion update would
        // survive the fold and resurrect stale state into the new version
        val upd = ttlStartMs match {
          case Some(t0) => readUpdates(name)
            .filter(col(graft.operators.WriteCompute.TsCol) >= t0)
          case None => readUpdates(name)
        }
        graft.operators.WriteCompute.applyUpdates(base, upd, meta.keyCols)
      }
    // materialize BEFORE archiving the logs the plan reads from
    val rows = compacted.cache()
    rows.count()
    val v = push(name, rows, nb, clusterBy = cluster)
    rows.unpersist()
    // the new version now carries the folded state — archive consumed logs
    Seq("log", "updates").foreach(archiveLog(name, _, v))
    v
  }

  /** Store lineage epoch — see [[ChangeCoordinate]]. */
  def currentEpoch(name: String): Long = {
    val p = Paths.get(dir(name, "EPOCH"))
    if (Files.exists(p)) Files.readString(p).trim.toLong else 0L
  }

  private def bumpEpoch(name: String): Unit =
    Files.writeString(Paths.get(dir(name, "EPOCH")),
      (currentEpoch(name) + 1).toString)

  /** Archive a consumed log dir and bump the lineage epoch (the archived
    * entries' seq range is no longer a valid resume window). */
  private def archiveLog(name: String, d: String, v: Int): Unit = {
    val p = Paths.get(dir(name, d))
    if (Files.exists(p)) {
      Files.move(p, archiveTarget(name, d, v))
      bumpEpoch(name)
    }
  }

  /** Any .parquet data file under `p` (recursive one level — bucket dirs)? */
  private def hasParquetData(p: java.nio.file.Path): Boolean = {
    val s = Files.walk(p, 2)
    try s.anyMatch(f => f.getFileName.toString.endsWith(".parquet"))
    finally s.close()
  }

  /** Unique archive path for a consumed log: `<d>_applied_v<v>` can repeat
    * after a rollback + repush re-mints version v — suffix until free. */
  private def archiveTarget(name: String, d: String,
      v: Int): java.nio.file.Path = {
    var cand = Paths.get(dir(name, s"${d}_applied_v$v"))
    var i = 2
    while (Files.exists(cand)) {
      cand = Paths.get(dir(name, s"${d}_applied_v${v}_$i")); i += 1
    }
    cand
  }

  /** Size-tiered compaction policy: repush iff the RT overlay has grown
    * past `maxLogRows` pending rows. Venice compacts continuously inside
    * RocksDB and re-materializes hybrid stores on a repush cadence; in
    * the snapshot+log model the overlay's size is the read-amplification
    * knob, so the policy trigger is its row count — a parquet metadata
    * read (footer row counts), not a data scan. Returns the new version
    * when compaction fired, 0 when the overlay is still within budget. */
  def compactIfNeeded(name: String): Int =
    compactIfNeeded(name, storeConfig(name).compactLogRows)

  def compactIfNeeded(name: String, maxLogRows: Long): Int = {
    val logRows =
      if (isActiveActive(name))
        if (hasAaLog(name)) readAaLog(name).count() else 0L
      else {
        val l = if (hasLog(name)) readLog(name).count() else 0L
        val u = if (hasUpdates(name)) readUpdates(name).count() else 0L
        l + u
      }
    if (logRows > maxLogRows) repush(name) else 0
  }

  /** Partition-count migration: rewrite the store at `newBuckets` md5-mod
    * buckets via a full repush and swap atomically. The operational move a
    * store needs as it grows 100× — bucket count sizes both file pruning
    * granularity and point-read fan-in, and Venice likewise only changes a
    * store's partition count through a full push of a new version (store
    * config `partitionCount`, applied at version creation — semantics, not
    * code: services/venice-controller/.../VeniceHelixAdmin.java). Pending
    * log/update overlays are folded in (they are consumed by the repush),
    * so reads before and after are identical; only the layout moves. */
  def rebucket(name: String, newBuckets: Int): Int = {
    require(newBuckets > 0, s"rebucket($name): need a positive bucket count")
    repush(name, newBuckets = Some(newBuckets))
  }

  /** Cross-region data recovery: seed this engine's copy of `name` from a
    * healthy sibling engine's root (Venice admin data recovery — a store's
    * data is copied from a source fabric to repair/bootstrap a target
    * fabric; semantics, not code: services/venice-controller/.../
    * datarecovery/DataRecoveryManager.java). Copies the whole store tree —
    * version dirs (including persisted RMD columns, so A/A conflict state
    * survives), upsert/op logs, schema registry, bucket/AA config — and
    * activates the CURRENT pointer LAST, so a reader of the target engine
    * either sees no store or a fully consistent one. The target store must
    * not already exist (recovery bootstraps; it does not merge). Driver-side
    * file I/O only — no Spark job; the data never re-shuffles. */
  def recoverStoreFrom(srcRoot: String, name: String): Unit = {
    val src = Paths.get(srcRoot, name)
    require(Files.exists(src), s"source store $srcRoot/$name does not exist")
    val dst = Paths.get(dir(name))
    require(!Files.exists(dst), s"store $name already exists in this engine")
    Files.createDirectories(dst)
    val s = Files.walk(src)
    try {
      s.forEach { p =>
        val rel = src.relativize(p)
        // CURRENT last: its presence is what makes the store readable
        if (rel.toString != "CURRENT" && rel.toString.nonEmpty) {
          val target = dst.resolve(rel)
          if (Files.isDirectory(p)) Files.createDirectories(target)
          else Files.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
        }
      }
    } finally s.close()
    val cur = Paths.get(srcRoot, name, "CURRENT")
    if (Files.exists(cur))
      Files.copy(cur, dst.resolve("CURRENT"),
        StandardCopyOption.REPLACE_EXISTING)
  }

  /** STORE MIGRATION to another engine root (reference semantics, not
    * code: `VeniceHelixAdmin.migrateStore`, services/venice-controller/
    * src/main/java/com/linkedin/venice/controller/VeniceHelixAdmin
    * .java:1789, orchestrated by StoreMigrationTask — clone the store's
    * config/schemas/data into the destination cluster, VERIFY, and only
    * delete the source when the operator confirms with an explicit
    * end-migration step).
    *
    * Phase 1 (this call): clone every retained version, log overlay,
    * pending updates, config and schema registry into `dest` (file
    * manifest copy — the data never re-shuffles), then verify parity with
    * ONE aggregate pass per side: row count + an order-independent sum of
    * per-row xxhash64 over every column of the resolved serving view.
    * On any mismatch the destination clone is rolled back and the call
    * throws — a failed migration must leave the destination clean. The
    * SOURCE keeps serving untouched (reads/writes continue) until
    * [[endMigration]] retires it — Venice's two-step contract, so a
    * botched cutover can always fall back to the source. */
  def migrateStore(name: String, dest: GraftEngine): Unit = {
    dest.recoverStoreFrom(root, name)
    def checksum(e: GraftEngine): (Long, java.math.BigDecimal) = {
      val v = e.servingView(name)
      // sum in DECIMAL(38,0): a long sum of ±2^63-scale hashes overflows
      // under ANSI mode after two rows
      val row = v.agg(count(lit(1)),
        sum(xxhash64(v.columns.map(c => col(c).cast("string")): _*)
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .head()
      (row.getLong(0),
        if (row.isNullAt(1)) java.math.BigDecimal.ZERO
        else row.getDecimal(1))
    }
    val (srcN, srcH) = checksum(this)
    val (dstN, dstH) = try checksum(dest) catch {
      case e: Throwable => dest.rmTree(Paths.get(dest.dir(name))); throw e
    }
    if (srcN != dstN || srcH.compareTo(dstH) != 0) {
      dest.rmTree(Paths.get(dest.dir(name)))
      throw new IllegalStateException(
        s"store $name migration verify failed: source ($srcN rows, " +
          s"hash $srcH) != destination ($dstN rows, hash $dstH); " +
          "destination clone rolled back, source untouched")
    }
  }

  /** Phase 2 of [[migrateStore]]: retire the SOURCE copy after the
    * operator confirms the destination serves correctly (Venice's
    * `--end-migration`/ABORT_MIGRATION admin step — deleting the source
    * is never implicit in phase 1, so cutover always has a fallback). */
  def endMigration(name: String): Unit = {
    val p = Paths.get(dir(name))
    require(Files.exists(p), s"store $name does not exist in this engine")
    rmTree(p)
    synchronized { cachedViews.remove(name) }
  }

  // ---- DaVinci-style local materialization ---------------------------------

  private val cachedViews =
    scala.collection.mutable.Map[String, (ChangeCoordinate, DataFrame)]()

  /** DaVinci-style local read cache (reference intent:
    * clients/da-vinci-client — the store materialized inside the reader's
    * own process so reads skip the network/fold entirely; semantics, not
    * code). The resolved serving view is persisted in executor memory,
    * keyed by the store's change coordinate: a version swap, put, delete,
    * or write-compute update moves the coordinate and the next call
    * re-resolves (dropping the stale cache); an unchanged store is served
    * straight from memory. Callers that can tolerate staleness keep the
    * returned frame; callers that cannot, call again — the freshness check
    * is two metadata file reads, not a scan. */
  def cachedServingView(name: String): DataFrame = synchronized {
    val now = latestCoordinate(name)
    cachedViews.get(name) match {
      case Some((c, df)) if c == now => df
      case prev =>
        prev.foreach(_._2.unpersist())
        val df = servingView(name).persist()
        df.count() // materialize eagerly: the point is to pay the fold once
        cachedViews(name) = (now, df)
        df
    }
  }

  /** Open a [[DaVinciClient]] on this store: the subscribed slice
    * materialized into driver-process memory for O(1) sub-millisecond
    * point reads with no Spark job on the read path (the reference's
    * DaVinci embedded-client contract; [[cachedServingView]] is the
    * DataFrame-shaped sibling for callers that want plans, not lookups).
    * `buckets` = Venice partition subscription — the memory bound for
    * corpus-scale stores.
    *
    * `maxRows`/`autoRefreshMs` left at their sentinels read the STORE's
    * persisted defaults (StoreConfig.daVinciMaxRows/daVinciAutoRefreshMs)
    * — every embedded client of a store shares one subscription budget
    * and staleness cadence unless a caller overrides explicitly. */
  def daVinci(name: String, buckets: Option[Seq[Int]] = None,
      maxRows: Int = -1, autoRefreshMs: Long = Long.MinValue,
      transform: DataFrame => DataFrame = identity): DaVinciClient = {
    val cfg = storeConfig(name)
    new DaVinciClient(this, name, buckets,
      if (maxRows >= 0) maxRows else cfg.daVinciMaxRows,
      if (autoRefreshMs != Long.MinValue) autoRefreshMs
      else cfg.daVinciAutoRefreshMs,
      transform = transform)
  }

  /** Open a [[DistributedDaVinci]] on this store: the serving view resident
    * in CLUSTER memory (each executor holds its bucket partitions), reads
    * pruned to the probed buckets — the path for stores past any single
    * host's subscription budget, where the embedded [[daVinci]] client
    * refuses. Driver memory per read is O(batch), store size is bounded by
    * cluster storage memory only. */
  def daVinciDistributed(name: String): DistributedDaVinci =
    new DistributedDaVinci(this, name)

  /** Seekable DaVinci client pinned at a past instant (reference intent:
    * AvroGenericSeekableDaVinciClient — subscribe the local replica as of
    * a point in the change stream; semantics, not code): materializes
    * [[servingViewAsOf]] once and never goes stale — the past is
    * immutable. LWW stores only (the A/A op log resolves through the CRDT
    * fold, which has no ts-prefix cut). */
  def daVinciAsOf(name: String, tsMs: Long,
      buckets: Option[Seq[Int]] = None, maxRows: Int = -1,
      transform: DataFrame => DataFrame = identity): DaVinciClient = {
    require(!isActiveActive(name),
      s"store $name is active-active — daVinciAsOf pins the LWW log prefix")
    new DaVinciClient(this, name, buckets,
      if (maxRows >= 0) maxRows else storeConfig(name).daVinciMaxRows,
      autoRefreshMs = -1L, asOfTs = Some(tsMs), transform = transform)
  }

  /** Drop `name`'s local cache (all stores when `name` is null). */
  def dropCachedView(name: String = null): Unit = synchronized {
    val doomed = if (name == null) cachedViews.keys.toSeq else Seq(name)
    doomed.foreach { n =>
      cachedViews.remove(n).foreach(_._2.unpersist())
    }
  }

  // ---- catalog enumeration, vacuum & compliance purge ----------------------

  /** Every store under this engine root (a store = a dir carrying KEYS). */
  def listStores: Seq[String] = {
    val r = Paths.get(root)
    if (!Files.exists(r)) return Nil
    val s = Files.list(r)
    try {
      val b = Seq.newBuilder[String]
      s.forEach { p =>
        if (Files.isDirectory(p) && Files.exists(p.resolve("KEYS")))
          b += p.getFileName.toString
      }
      b.result().sorted
    } finally s.close()
  }

  /** Views registered on `name` (stores whose VIEW_SRC names it). */
  def viewsOf(name: String): Seq[String] =
    listStores.filter { v =>
      val p = Paths.get(dir(v, "VIEW_SRC"))
      Files.exists(p) && Files.readString(p).trim.split(",")(0) == name
    }

  /** Physically drop retired state: every non-current version dir and every
    * applied-log archive. Venice's backup-version cleanup (semantics, not
    * code: services/venice-controller/.../StoreBackupVersionCleanupService
    * .java retires versions behind the serving one) — only the current
    * version serves reads, so retired dirs are storage debt, and after a
    * [[purge]] they are also where purged rows still physically live. */
  def vacuum(name: String): Unit = {
    val cur = s"v=${currentVersion(name)}"
    val base = Paths.get(dir(name))
    val entries = Files.list(base)
    val doomed = try {
      val b = Seq.newBuilder[java.nio.file.Path]
      entries.forEach { p =>
        val n = p.getFileName.toString
        if ((n.startsWith("v=") && n != cur) || n.contains("_applied_v"))
          b += p
      }
      b.result()
    } finally entries.close()
    doomed.foreach(rmTree)
  }

  /** Compliance purge — the right-to-erasure flow: tombstone `keys` (at
    * `tsMs`, which must beat every prior write to those keys), fold the
    * tombstones through a repush so the new version physically omits them,
    * then [[vacuum]] the retired versions and applied logs where the rows
    * still lived. Views of the store rebuild from the purged serving view
    * (the repush bumped the version, so [[refreshView]] takes its resync
    * path — which also archives the stale view log) and are vacuumed too.
    * Venice parity: user DELETEs are tombstones that version compaction
    * drops; backup-version cleanup retires the dirs (semantics, not code).
    * A/A stores purge through the CRDT op log; the repush TTL-collects the
    * purge tombstones themselves. */
  def purge(name: String, keys: DataFrame, tsMs: Long): Int = {
    val meta = storeMeta(name)
    val k = keys.select(meta.keyCols.map(col): _*)
    if (isActiveActive(name)) {
      deleteAA(name, k, tsMs)
      repush(name, ttlStartMs = Some(tsMs + 1))
    } else {
      delete(name, k, tsMs)
      // PENDING WRITE-COMPUTE UPDATES bypass LWW (they fold onto the
      // post-merge state at their own ts, recreating absent records from a
      // null base — the documented W3 semantic), so the purge tombstone
      // alone would NOT stop a pending update from resurrecting the key
      // into the freshly purged version. Right-to-erasure means the
      // pending ops about the key are themselves data to erase: drop them
      // physically before the repush folds. The anti-join needs plan
      // independence from the directory being rewritten, not a driver-local
      // relation — materialize the key set to a tmp parquet instead of
      // collect()ing it (a large erasure batch must not OOM the driver).
      if (hasUpdates(name)) {
        // NOT dot/underscore-prefixed: Spark's file index silently ignores
        // hidden paths even when given explicitly — a `.purge.keys` dir
        // reads back as an EMPTY frame and the anti-join would remove
        // nothing (caught by the fuzz suite's ignored-path warnings)
        val kTmp = Paths.get(dir(name, "tmp_purge_keys"))
        if (Files.exists(kTmp)) rmTree(kTmp)
        k.distinct().write.parquet(kTmp.toString)
        try {
          val kFrame = spark.read.parquet(kTmp.toString)
          require(!kFrame.isEmpty || k.isEmpty,
            "purge key set failed to round-trip through the tmp parquet")
          rewriteUpdates(name)(
            _.join(kFrame, meta.keyCols, "left_anti"))
        } finally rmTree(kTmp)
      }
      repush(name)
    }
    vacuum(name)
    viewsOf(name).foreach { v => refreshView(v); vacuum(v) }
    currentVersion(name)
  }
}

object GraftEngine {
  val BucketCol = "__bucket"
  val TsCol = "__ts_ms"
  val DeletedCol = "__deleted"
  val AaOpCol = "__aa_op"
  val AaFieldCol = "__aa_field"
  val AaElemCol = "__aa_elem"
  val AaElem2Col = "__aa_elem2"
  val LogSeqCol = "__log_seq"
  /** Per-batch writer schema id on the RT log (readers resolve to the
    * registered-schema superset — Venice's writer→reader resolution). */
  val SchemaIdCol = "__schema_id"
  /** A/A record-existence marker ("1" when a put won it, null after a
    * winning delete) — distinguishes empty-but-real records from
    * tombstones. */
  val RecCol = "__rec"

  /** Budget for the incremental log mirror (bytes of on-disk log files —
    * checkable from the listing with no Spark job) — beyond it the mirror
    * is dropped and log reads go back to plain dir scans (a log that big
    * is overdue for a repush anyway). The mirror spills to disk
    * (MEMORY_AND_DISK), so the budget bounds duplication, not heap.
    * Env-parameterised for cluster deployments with memory to spare. */
  val LogMirrorMaxBytes: Long = scala.util.Try(
    sys.env.getOrElse("SPARK_GRAFT_LOG_MIRROR_MAX_MB", "8192").trim.toLong)
    .getOrElse(8192L).max(1L) * 1024L * 1024L

  /** Data files of a log dir with sizes: the files a dir scan of `base`
    * reads. A file is skipped when its name or any directory between it and
    * `base` is hidden — `_`- or `.`-prefixed, as Spark's file index rules
    * it, so `__bucket=3` partition dirs stay and an in-flight append's
    * `_temporary/…/part-*` files (not yet committed, soon moved) do not. */
  private[graft] def listDataFiles(base: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(base)
    def hidden(n: String) =
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try {
        val b = Map.newBuilder[String, Long]
        s.forEach { p =>
          if (Files.isRegularFile(p) &&
              !root.relativize(p).iterator().asScala.exists(c => hidden(c.toString)))
            b += (p.toString -> Files.size(p))
        }
        b.result()
      } finally s.close()
    }
  }

  /** Driver-side twin of HashOps.partitionId (md5 of the "|"-joined key
    * rendering, first 15 hex chars mod N) — shared by the engine's point
    * reads and the DSv2 bucket-pruning optimizer rule. */
  private[graft] def bucketHashOf(key: Seq[Any], nb: Int): Int = {
    val rendered = key.map(String.valueOf).mkString("|")
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(rendered.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    (java.lang.Long.parseLong(hex.substring(0, 15), 16) % nb).toInt
  }
}
