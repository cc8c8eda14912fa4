package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Table-maintenance operations the delta-rs layer gives the reference
  * for free (SURVEY.md §2b) plus the classic lakehouse upkeep trio:
  * checkpointing, small-file compaction, and vacuum.
  */
object Maintenance {

  /** Write a classic single-file checkpoint parquet for the snapshot's
    * version plus the `_last_checkpoint` pointer. Readers (ours and
    * delta-rs) can then bootstrap without replaying the JSON tail.
    *
    * Checkpoint schema follows the corpus shape
    * (`with_checkpoint/.../00000000000000000002.checkpoint.parquet`):
    * nullable top-level structs txn/add/remove/metaData/protocol.
    */
  def checkpoint(log: DeltaLog): Long = {
    val snap = log.snapshot
    // a checkpoint scans the whole state anyway — the natural point to
    // validate the incremental .crc chain against actual replay
    Checksum.validate(log, snap.version).foreach(err =>
      throw new IllegalStateException(
        s"refusing to checkpoint ${log.tablePath}: $err"))
    writeCheckpointDf(log, snap, checkpointDf(log, snap), parts = 1)
    snap.version
  }

  /** The full checkpoint relation per the Delta checkpoint spec:
    * metaData + protocol + every active add + unexpired remove
    * tombstones + txn (idempotent-writer) state. Dropping the latter two
    * would lose other engines' vacuum-retention safety and appId/version
    * exactly-once state.
    *
    * The add/remove sections are SPARK-SIDE transforms of the
    * snapshot's metadata relations — the driver never materializes the
    * file list, so checkpointing a 10⁷-file table is a distributed job
    * with O(1) driver rows (metaData/protocol/txn only). */
  private[delta] def checkpointDf(
      log: DeltaLog, snap: Snapshot): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    val spark = log.spark
    val m = snap.metadata
    val small = ArrayBuffer[Row](
      Row(null, Row(m.id, Row("parquet", Map.empty[String, String]), m.schemaString,
        m.partitionColumns, m.configuration, m.createdTime.getOrElse(0L)),
        null, null, null, null),
      Row(null, null, protocolRow(snap.protocol), null, null, null))
    small ++= snap.setTransactions.values.toSeq.sortBy(_.appId).map { t =>
      Row(null, null, null, null,
        Row(t.appId, t.version, t.lastUpdated.map(java.lang.Long.valueOf).orNull), null)
    }
    small ++= snap.domainMetadata.values.toSeq.sortBy(_.domain).map { d =>
      Row(null, null, null, null, null, Row(d.domain, d.configuration, d.removed))
    }
    val smallDf = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(small.toSeq).asJava),
      checkpointSchema)
    val addT = checkpointSchema("add").dataType
    val removeT = checkpointSchema("remove").dataType
    def nul(f: String) = lit(null).cast(checkpointSchema(f).dataType).as(f)
    val addsDf = snap.adds.select(
      addStructCol(addT),
      nul("metaData"), nul("protocol"), nul("remove"), nul("txn"),
      nul("domainMetadata"))
    val removesDf = snap.tombstones.select(
      nul("add"), nul("metaData"), nul("protocol"),
      removeStructCol(removeT),
      nul("txn"), nul("domainMetadata"))
    smallDf.unionByName(addsDf).unionByName(removesDf)
  }

  /** The `add` struct column of a checkpoint row, from the snapshot's
    * [[Snapshot.adds]] relation. */
  private def addStructCol(addT: org.apache.spark.sql.types.DataType) =
    struct(
      col("path"),
      col("partition_values").as("partitionValues"),
      col("size_bytes").as("size"),
      col("modification_time").as("modificationTime"),
      lit(false).as("dataChange"),
      col("stats"),
      col("deletion_vector").as("deletionVector"),
      col("base_row_id").as("baseRowId"),
      col("default_row_commit_version").as("defaultRowCommitVersion"))
      .cast(addT).as("add")

  /** The `remove` struct column of a checkpoint row, from
    * [[Snapshot.tombstones]]. */
  private def removeStructCol(removeT: org.apache.spark.sql.types.DataType) =
    struct(
      col("path"),
      col("deletion_timestamp").as("deletionTimestamp"),
      lit(true).as("dataChange"),
      lit(true).as("extendedFileMetadata"),
      col("partition_values").as("partitionValues"),
      col("size_bytes").as("size")).cast(removeT).as("remove")

  private[delta] val checkpointSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val strMap = MapType(StringType, StringType)
    val dvT = StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", IntegerType),
      StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))
    val addT = StructType(Seq(
      StructField("path", StringType), StructField("partitionValues", strMap),
      StructField("size", LongType), StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType), StructField("stats", StringType),
      StructField("deletionVector", dvT),
      StructField("baseRowId", LongType),
      StructField("defaultRowCommitVersion", LongType)))
    val metaT = StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType), StructField("options", strMap)))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", strMap),
      StructField("createdTime", LongType)))
    // Feature lists must survive checkpointing: a v3/v7 table whose
    // checkpoint dropped them would advertise a featureless protocol to
    // readers that bootstrap from it.
    val protoT = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))
    val removeT = StructType(Seq(
      StructField("path", StringType),
      StructField("deletionTimestamp", LongType),
      StructField("dataChange", BooleanType),
      StructField("extendedFileMetadata", BooleanType),
      StructField("partitionValues", strMap),
      StructField("size", LongType)))
    val txnT = StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType),
      StructField("lastUpdated", LongType)))
    val dmT = StructType(Seq(
      StructField("domain", StringType),
      StructField("configuration", StringType),
      StructField("removed", BooleanType)))
    StructType(Seq(
      StructField("add", addT), StructField("metaData", metaT),
      StructField("protocol", protoT), StructField("remove", removeT),
      StructField("txn", txnT), StructField("domainMetadata", dmT)))
  }

  private def protocolRow(p: Protocol): org.apache.spark.sql.Row = {
    import org.apache.spark.sql.Row
    // Spec: reader v3 / writer v7 protocols MUST list features; lower
    // versions must NOT carry the fields (null here).
    Row(p.minReaderVersion, p.minWriterVersion,
      if (p.minReaderVersion >= 3 || p.readerFeatures.nonEmpty)
        p.readerFeatures.toSeq.sorted else null,
      if (p.minWriterVersion >= 7 || p.writerFeatures.nonEmpty)
        p.writerFeatures.toSeq.sorted else null)
  }

  /** Write checkpoint parquet (single- or multi-part) + `_last_checkpoint`. */
  private[delta] def writeCheckpointDf(
      log: DeltaLog, snap: Snapshot, df: org.apache.spark.sql.DataFrame,
      parts: Int): Unit = {
    val fs = log.fs
    val tmpDir = new Path(log.logPath, s".cp-${java.util.UUID.randomUUID}")
    df.repartition(parts).write.mode("overwrite").parquet(tmpDir.toString)
    val written = fs.listStatus(tmpDir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    require(written.nonEmpty, "checkpoint write produced no parquet")
    if (parts == 1) {
      val target = new Path(log.logPath, f"${snap.version}%020d.checkpoint.parquet")
      if (fs.exists(target)) fs.delete(target, false)
      fs.rename(written.head, target)
    } else {
      // Multi-part naming per the spec: v.checkpoint.<part>.<of>.parquet;
      // readers treat the set as one checkpoint only when all N exist.
      written.zipWithIndex.foreach { case (p, i) =>
        val target = new Path(log.logPath,
          f"${snap.version}%020d.checkpoint.${i + 1}%010d.${written.length}%010d.parquet")
        if (fs.exists(target)) fs.delete(target, false)
        fs.rename(p, target)
      }
    }
    fs.delete(tmpDir, true)
    val lastCp = new Path(log.logPath, "_last_checkpoint")
    val partsField = if (parts == 1) "" else s""","parts":${written.length}"""
    // action count, from metadata-relation aggregates (never a driver list)
    val size = 2 + snap.setTransactions.size + snap.numFiles + snap.tombstones.count()
    val out = fs.create(lastCp, true)
    try out.write(
      s"""{"version":${snap.version},"size":$size$partsField}""".getBytes("UTF-8"))
    finally out.close()
  }

  /** Widenings the Delta `typeWidening` feature allows AND Spark's
    * parquet reader performs in-scan (narrow physical files read under
    * the widened logical schema — probed by WidenProbeSpec). */
  private val supportedWidenings: Set[(String, String)] = Set(
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("byte", "double"),
    ("short", "integer"), ("short", "long"), ("short", "double"),
    ("integer", "long"), ("integer", "double"),
    ("float", "double"))

  /** ALTER TABLE ... ALTER COLUMN <c> TYPE <wider>: the Delta
    * `typeWidening` table feature. Metadata-only commit — existing
    * narrow parquet files are NOT rewritten; reads apply the widened
    * logical schema over them (Spark's parquet scan upcasts
    * byte/short/int→long-chain and float→double natively), and the
    * field's `delta.typeChanges` metadata records each change with the
    * version it landed at, per the protocol, so other readers can
    * decide file-level convertibility. Upgrades the protocol to
    * reader 3 / writer 7 with `typeWidening` in BOTH feature lists
    * (a reader that ignores it would mis-type narrow files); legacy
    * implied features are normalized onto the v7 lists the same way
    * [[dropFeature]] does. Refuses anything that is not a pure
    * widening. */
  def widenColumnType(
      log: DeltaLog, column: String, newTypeName: String): Long = {
    val snap = log.snapshot
    val m = snap.metadata
    val schema = m.schema
    val idx = schema.fieldIndex(column)
    val field = schema(idx)
    val from = field.dataType.typeName
    val to = newTypeName.toLowerCase(java.util.Locale.ROOT) match {
      case "int" => "integer" case "bigint" => "long" case t => t
    }
    require(supportedWidenings.contains((from, to)),
      s"cannot widen $column: $from -> $to is not a supported widening " +
        s"(supported: $supportedWidenings)")
    val v = snap.version + 1
    val change = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("fromType", from)
      .putString("toType", to)
      .putLong("tableVersion", v)
      .build()
    val prior =
      if (field.metadata.contains("delta.typeChanges"))
        field.metadata.getMetadataArray("delta.typeChanges")
      else Array.empty[org.apache.spark.sql.types.Metadata]
    val newMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(field.metadata)
      .putMetadataArray("delta.typeChanges", prior :+ change)
      .build()
    val newField = field.copy(
      dataType = org.apache.spark.sql.types.DataType.fromJson(s""""$to""""),
      metadata = newMeta)
    val newSchema = org.apache.spark.sql.types.StructType(
      schema.fields.updated(idx, newField))
    // normalize a legacy protocol onto v7/v3 feature lists (implied
    // features stay listed — same shape dropFeature produces)
    val p = snap.protocol
    val impliedW: Set[String] =
      if (p.minWriterVersion >= 7) Set.empty
      else Seq(
        2 -> Set("appendOnly", "invariants"),
        3 -> Set("checkConstraints"),
        4 -> Set("changeDataFeed", "generatedColumns"),
        5 -> Set("columnMapping"),
        6 -> Set("identityColumns"))
        .collect { case (mv, fs) if p.minWriterVersion >= mv => fs }
        .flatten.toSet
    val impliedR: Set[String] =
      if (p.minReaderVersion >= 3) Set.empty
      else if (p.minReaderVersion == 2) Set("columnMapping")
      else Set.empty
    val proto = Protocol(
      minReaderVersion = 3, minWriterVersion = 7,
      readerFeatures = p.readerFeatures ++ impliedR + "typeWidening",
      writerFeatures = p.writerFeatures ++ impliedW + "typeWidening")
    log.commit(v, Seq(
      CommitInfoAction(CommitInfo(System.currentTimeMillis(),
        "ALTER COLUMN TYPE",
        Map("column" -> column, "from" -> from, "to" -> to))),
      ProtocolAction(proto),
      MetadataAction(m.copy(schemaString = newSchema.json))),
      ictEnabled = m.configuration
        .get("delta.enableInCommitTimestamps").contains("true"))
    v
  }

  /** ALTER TABLE SET/UNSET TBLPROPERTIES: commit the metadata with
    * `set` entries applied and `unset` keys removed. Feature-gating
    * properties (delta.enable*) only flip the FLAG here — protocol
    * upgrades belong to the dedicated enable APIs, protocol downgrades
    * to [[dropFeature]]. */
  def setTableProperties(
      log: DeltaLog, set: Map[String, String],
      unset: Seq[String] = Nil): Long = {
    val snap = log.snapshot
    val m = snap.metadata
    val conf = (m.configuration ++ set) -- unset
    if (conf == m.configuration) return snap.version
    val v = snap.version + 1
    log.commit(v, Seq(
      CommitInfoAction(CommitInfo(System.currentTimeMillis(),
        "SET TBLPROPERTIES", set ++ unset.map(_ -> "<unset>"))),
      MetadataAction(m.copy(configuration = conf))),
      ictEnabled = conf.get("delta.enableInCommitTimestamps").contains("true"))
    v
  }

  /** Features whose TRACES live in data/history a reader must
    * understand (not just a writer): dropping one makes older
    * commits/checkpoints unreadable-by-contract, so the drop demands
    * history truncation. */
  private val readerBorneFeatures =
    Set("deletionVectors", "columnMapping", "v2Checkpoint", "timestampNtz")

  /** ALTER TABLE ... DROP FEATURE (delta-spark's feature-removal flow,
    * compressed): validate the table no longer USES the feature,
    * optionally truncate history (checkpoint now + delete the
    * pre-checkpoint log — required for reader-borne features whose
    * traces persist in old commits), then commit the downgraded
    * protocol. Feature lists shrink; when a list empties the version
    * collapses to the legacy equivalent. Retention responsibility for
    * truncated history sits with the caller (delta-spark enforces a
    * 24h double-confirm; a library API refuses nothing it was
    * explicitly asked to do). */
  def dropFeature(
      log: DeltaLog, feature: String, truncateHistory: Boolean = false): Long = {
    val snap = log.snapshot
    val p = snap.protocol
    // A legacy protocol (writer < 7) IMPLIES features without listing
    // them; normalize to the table-features representation so an
    // implied feature is droppable (the remaining implied set stays
    // listed on the upgraded v7 protocol — delta-spark does the same
    // normalize-then-drop).
    val legacyWriterImplied: Set[String] =
      if (p.minWriterVersion >= 7) Set.empty
      else Seq(
        2 -> Set("appendOnly", "invariants"),
        3 -> Set("checkConstraints"),
        4 -> Set("changeDataFeed", "generatedColumns"),
        5 -> Set("columnMapping"),
        6 -> Set("identityColumns"))
        .collect { case (v, fs) if p.minWriterVersion >= v => fs }
        .flatten.toSet
    val legacyReaderImplied: Set[String] =
      if (p.minReaderVersion == 2) Set("columnMapping") else Set.empty
    val effReader = p.readerFeatures ++ legacyReaderImplied
    val effWriter = p.writerFeatures ++ legacyWriterImplied
    require(effReader.contains(feature) || effWriter.contains(feature),
      s"table ${log.tablePath} does not list feature '$feature' " +
        s"(reader=$effReader, writer=$effWriter)")
    val conf = snap.metadata.configuration
    def refuse(msg: String): Nothing =
      throw new IllegalStateException(s"cannot drop feature '$feature': $msg")
    feature match {
      case "deletionVectors" =>
        if (conf.get("delta.enableDeletionVectors").contains("true"))
          refuse("unset delta.enableDeletionVectors first")
        val dved = snap.planFiles(Some(col("deletion_vector.cardinality") > 0))
        if (dved.nonEmpty)
          refuse(s"${dved.size} active file(s) still carry deletion vectors — " +
            "run GRAFT REORG ... APPLY PURGE first")
      case "columnMapping" =>
        if (snap.columnMappingMode != "none")
          refuse(s"column mapping mode is '${snap.columnMappingMode}'")
      case "v2Checkpoint" =>
        if (conf.get("delta.checkpointPolicy").contains("v2"))
          refuse("unset delta.checkpointPolicy first")
      case "changeDataFeed" =>
        if (conf.get("delta.enableChangeDataFeed").contains("true"))
          refuse("unset delta.enableChangeDataFeed first")
      case "rowTracking" =>
        if (conf.get("delta.enableRowTracking").contains("true"))
          refuse("unset delta.enableRowTracking first")
      case "inCommitTimestamp" =>
        if (conf.get("delta.enableInCommitTimestamps").contains("true"))
          refuse("unset delta.enableInCommitTimestamps first")
      case "checkConstraints" =>
        val live = conf.keys.filter(_.startsWith("delta.constraints."))
        if (live.nonEmpty) refuse(s"constraints still defined: ${live.mkString(", ")}")
      case "identityColumns" =>
        if (snap.schema.fields.exists(_.metadata.contains("delta.identity.start")))
          refuse("schema still declares identity columns")
      case _ => ()
    }
    if (readerBorneFeatures.contains(feature)) {
      require(truncateHistory,
        s"'$feature' is reader-borne: older commits/checkpoints still carry " +
          "its traces, so dropping it requires truncateHistory = true " +
          "(SQL: DROP FEATURE ... TRUNCATE HISTORY)")
      checkpoint(log)
      cleanupLog(log)
    }
    val rf = effReader - feature
    val wf = effWriter - feature
    val downgraded = Protocol(
      minReaderVersion =
        if (rf.isEmpty) 1
        else if (rf == Set("columnMapping") && p.minReaderVersion <= 2) 2
        else 3,
      minWriterVersion = if (wf.isEmpty) 2 else 7,
      readerFeatures = if (rf.isEmpty ||
          (rf == Set("columnMapping") && p.minReaderVersion <= 2)) Set.empty
        else rf,
      writerFeatures = if (wf.isEmpty) Set.empty else wf)
    val cur = log.snapshot // truncation may have advanced nothing, but re-resolve
    val v = cur.version + 1
    log.commit(v, Seq(
      CommitInfoAction(CommitInfo(System.currentTimeMillis(),
        "DROP FEATURE", Map("feature" -> feature))),
      ProtocolAction(downgraded)),
      ictEnabled = conf.get("delta.enableInCommitTimestamps").contains("true"))
    v
  }

  /** Minor log compaction (Delta protocol "Log Compaction Files"):
    * write `<start>.<end>.compacted.json` holding the RECONCILED
    * actions of the commit range — latest protocol/metaData, latest
    * txn per appId, latest domainMetadata per domain (tombstones
    * kept), and per-path file-action resolution (add beats remove at
    * the same version; remove tombstones kept). commitInfo and cdc
    * actions are dropped — they never affect replayed state, and CDF
    * readers go to the individual commits, which compaction leaves in
    * place (log cleanup stays governed by checkpoints).
    *
    * Readers then replay a long checkpoint-to-head tail in
    * O(tail / interval) file opens instead of O(tail) — the difference
    * between hundreds of object-store GETs and a handful when
    * checkpointing is infrequent ([[DeltaLog.readTail]]).
    *
    * The range is driver-parsed like the commit tail it replaces —
    * bounded by the compaction interval, not table size. Idempotent:
    * an existing file for the same range is kept (contents are a pure
    * function of the immutable commits). */
  def compactLog(log: DeltaLog, startVersion: Long, endVersion: Long): String = {
    require(startVersion <= endVersion,
      s"invalid compaction range [$startVersion, $endVersion]")
    val fs = log.fs
    val target = new Path(log.logPath,
      f"$startVersion%020d.$endVersion%020d.compacted.json")
    if (fs.exists(target)) return target.getName
    val pairs: Seq[(Long, Action)] = (startVersion to endVersion).flatMap { v =>
      require(fs.exists(new Path(log.logPath, f"$v%020d.json")),
        s"cannot compact [$startVersion, $endVersion]: commit $v missing")
      log.commitActions(v).map(v -> _)
    }
    val protocol = pairs.collect { case (_, a: ProtocolAction) => a }.lastOption
    val metadata = pairs.collect { case (_, a: MetadataAction) => a }.lastOption
    val txns = pairs.collect { case (_, TxnAction(t)) => t }
      .foldLeft(Map.empty[String, SetTransaction])((m, t) => m + (t.appId -> t))
    val domains = pairs.collect { case (_, DomainMetadataAction(d)) => d }
      .foldLeft(Map.empty[String, DomainMetadata])((m, d) => m + (d.domain -> d))
    // per path: last version wins, add beats its tombstone at equal version
    val files = pairs.collect {
      case (v, a @ AddAction(add)) => (add.path, v, true, a: Action)
      case (v, r @ RemoveAction(rm)) => (rm.path, v, false, r: Action)
    }.groupBy(_._1).map { case (_, acts) =>
      acts.maxBy { case (_, v, isAdd, _) => (v, isAdd) }._4
    }.toSeq.sortBy {
      case AddAction(a) => a.path
      case RemoveAction(r) => r.path
      case _ => ""
    }
    val actions: Seq[Action] =
      protocol.toSeq ++ metadata.toSeq ++
        txns.values.toSeq.sortBy(_.appId).map(TxnAction) ++
        domains.values.toSeq.sortBy(_.domain).map(DomainMetadataAction) ++
        files
    val tmp = new Path(log.logPath,
      s".${target.getName}.${java.util.UUID.randomUUID}.tmp")
    val out = fs.create(tmp, false)
    try out.write(actions.map(JsonUtil.renderAction)
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, target)) { // lost a race: same content either way
      fs.delete(tmp, false)
      require(fs.exists(target),
        s"log compaction rename failed for ${target.getName}")
    }
    target.getName
  }

  /** Multi-part checkpoint: same rows split across `parts` files — the
    * shape a 10⁷-file table needs (one driver-written file would not
    * scale; here the row set is written by a Spark job). */
  def checkpointMultiPart(log: DeltaLog, parts: Int): Long = {
    require(parts >= 2, s"multi-part checkpoint needs parts >= 2, got $parts")
    val snap = log.snapshot
    writeCheckpointDf(log, snap, checkpointDf(log, snap), parts)
    snap.version
  }

  /** Write a v2 checkpoint (Delta spec "V2 Checkpoints"): parquet
    * sidecar file(s) holding the file actions under
    * `_delta_log/_sidecars/`, plus a top-level manifest
    * `v.checkpoint.<uuid>.{parquet|json}` carrying checkpointMetadata,
    * protocol, metaData, txn state and the sidecar references, plus the
    * `_last_checkpoint` pointer. File-action rows are written by a
    * Spark job (never a driver list); `sidecarParts` shards them so a
    * 10⁷-file table's checkpoint writes in parallel and reads back with
    * per-sidecar task granularity. */
  def checkpointV2(
      log: DeltaLog, sidecarParts: Int = 1, jsonManifest: Boolean = false): Long = {
    require(sidecarParts >= 1, s"sidecarParts must be >= 1, got $sidecarParts")
    val snap = log.snapshot
    Checksum.validate(log, snap.version).foreach(err =>
      throw new IllegalStateException(
        s"refusing to checkpoint ${log.tablePath}: $err"))
    val fs = log.fs
    val sidecarDir = new Path(log.logPath, "_sidecars")
    if (!fs.exists(sidecarDir)) fs.mkdirs(sidecarDir)
    val tmp = new Path(log.logPath, s".cp2-${java.util.UUID.randomUUID}")
    val addT = checkpointSchema("add").dataType
    val removeT = checkpointSchema("remove").dataType
    // Sidecars carry ONLY file actions (spec): add + remove columns.
    val addsDf = snap.adds.select(
      addStructCol(addT), lit(null).cast(removeT).as("remove"))
    val removesDf = snap.tombstones.select(
      lit(null).cast(addT).as("add"), removeStructCol(removeT))
    addsDf.unionByName(removesDf)
      .repartition(sidecarParts).write.mode("overwrite").parquet(tmp.toString)
    val written = fs.listStatus(tmp).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    require(written.nonEmpty, "v2 checkpoint sidecar write produced no parquet")
    val sidecars = written.toSeq.map { p =>
      val name = s"${java.util.UUID.randomUUID}.parquet"
      val dest = new Path(sidecarDir, name)
      if (!fs.rename(p, dest))
        throw new java.io.IOException(s"rename $p -> $dest failed")
      val st = fs.getFileStatus(dest)
      SidecarFile(name, Some(st.getLen), Some(st.getModificationTime))
    }
    fs.delete(tmp, true)
    val uuid = java.util.UUID.randomUUID.toString
    if (jsonManifest) {
      val manifestActions: Seq[Action] =
        Seq(CheckpointMetadataAction(CheckpointMetadata(snap.version)),
          ProtocolAction(snap.protocol), MetadataAction(snap.metadata)) ++
          snap.setTransactions.values.toSeq.sortBy(_.appId).map(TxnAction.apply) ++
          snap.domainMetadata.values.toSeq.sortBy(_.domain)
            .map(DomainMetadataAction.apply) ++
          sidecars.map(SidecarAction.apply)
      val target = new Path(log.logPath, f"${snap.version}%020d.checkpoint.$uuid.json")
      val out = fs.create(target, true)
      try out.write(manifestActions.map(JsonUtil.renderAction)
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
    } else writeManifestParquet(log, snap, sidecars, uuid)
    // V2 `_last_checkpoint` pointers carry no `parts` field.
    val size = 3 + snap.setTransactions.size + snap.domainMetadata.size +
      sidecars.size + snap.numFiles + snap.tombstones.count()
    val lastCp = new Path(log.logPath, "_last_checkpoint")
    val out = fs.create(lastCp, true)
    try out.write(s"""{"version":${snap.version},"size":$size}""".getBytes("UTF-8"))
    finally out.close()
    snap.version
  }

  private def writeManifestParquet(
      log: DeltaLog, snap: Snapshot, sidecars: Seq[SidecarFile],
      uuid: String): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val strMap = MapType(StringType, StringType)
    val cmT = StructType(Seq(
      StructField("version", LongType), StructField("tags", strMap)))
    val scT = StructType(Seq(
      StructField("path", StringType), StructField("sizeInBytes", LongType),
      StructField("modificationTime", LongType)))
    val schema = StructType(Seq(
      StructField("checkpointMetadata", cmT),
      StructField("sidecar", scT),
      StructField("metaData", checkpointSchema("metaData").dataType),
      StructField("protocol", checkpointSchema("protocol").dataType),
      StructField("txn", checkpointSchema("txn").dataType),
      StructField("domainMetadata", checkpointSchema("domainMetadata").dataType)))
    val m = snap.metadata
    val rows = ArrayBuffer[Row](
      Row(Row(snap.version, Map.empty[String, String]), null, null, null, null, null),
      Row(null, null,
        Row(m.id, Row("parquet", Map.empty[String, String]), m.schemaString,
          m.partitionColumns, m.configuration, m.createdTime.getOrElse(0L)),
        null, null, null),
      Row(null, null, null, protocolRow(snap.protocol), null, null))
    rows ++= snap.setTransactions.values.toSeq.sortBy(_.appId).map { t =>
      Row(null, null, null, null,
        Row(t.appId, t.version, t.lastUpdated.map(java.lang.Long.valueOf).orNull), null)
    }
    rows ++= snap.domainMetadata.values.toSeq.sortBy(_.domain).map { d =>
      Row(null, null, null, null, null, Row(d.domain, d.configuration, d.removed))
    }
    rows ++= sidecars.map { s =>
      Row(null,
        Row(s.path, s.sizeInBytes.map(java.lang.Long.valueOf).orNull,
          s.modificationTime.map(java.lang.Long.valueOf).orNull),
        null, null, null, null)
    }
    val df = log.spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows.toSeq).asJava),
      schema).coalesce(1)
    val fs = log.fs
    val tmp = new Path(log.logPath, s".cp2m-${java.util.UUID.randomUUID}")
    df.write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    require(part.length == 1, s"manifest write produced ${part.length} files")
    val target = new Path(log.logPath,
      f"${snap.version}%020d.checkpoint.$uuid.parquet")
    if (fs.exists(target)) fs.delete(target, false)
    if (!fs.rename(part.head, target))
      throw new java.io.IOException(s"rename ${part.head} -> $target failed")
    fs.delete(tmp, true)
  }

  /** Sidecar file names a v2 checkpoint manifest references. */
  private def manifestSidecarNames(
      log: DeltaLog, form: V2Checkpoint): Seq[String] = {
    if (form.isJson) {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        log.fs.open(new Path(form.topFile)), "UTF-8"))
      try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.trim.nonEmpty).flatMap(JsonUtil.parseAction)
        .collect { case SidecarAction(s) => s.path }.toVector
      finally in.close()
    } else {
      val df = log.spark.read.parquet(form.topFile)
      if (!df.schema.fieldNames.contains("sidecar")) Nil
      else df.where(org.apache.spark.sql.functions.col("sidecar.path").isNotNull)
        .select("sidecar.path").collect().map(_.getString(0)).toSeq
    }
  }

  /** OPTIMIZE-style small-file compaction: rewrite the current snapshot
    * into ~`targetFileBytes` files (per partition for partitioned
    * tables). Data is unchanged — pure file-layout commit. */
  /** Shared OPTIMIZE layout: size the output file count from the bytes
    * being rewritten. Partitioned tables must repartition BY the
    * partition columns: a round-robin repartition(n) followed by
    * partitionBy(...) writes up to n files per partition value —
    * fragmentation, not compaction. Hashing by partition key alone,
    * though, merges ALL of a value's bytes into ONE file regardless of
    * `targetFileBytes`; so partition values whose rewritten bytes
    * exceed the target additionally get a per-value salt sized
    * `ceil(bytes_p / targetFileBytes)`, splitting just the oversized
    * values into ~target-sized files while small values keep exactly
    * one. The per-value byte totals come from the (driver-resident)
    * file list being rewritten — no extra Spark job. */
  private def layoutFor(
      df: org.apache.spark.sql.DataFrame, files: Seq[AddFile],
      targetFileBytes: Long, partCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val bytes = math.max(files.map(_.size).sum, 1L)
    val targetFiles =
      math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    if (partCols.isEmpty) return df.repartition(targetFiles)
    val perPart: Seq[(Map[String, String], Int)] =
      files.groupBy(_.partitionValues).toSeq.map { case (pv, fs) =>
        pv -> math.max(1,
          math.ceil(fs.map(_.size).sum.toDouble / targetFileBytes).toInt)
      }
    if (perPart.forall(_._2 <= 1))
      return df.repartition(math.max(perPart.size, 1),
        partCols.map(col): _*)
    // Broadcast the tiny (partition value -> split count, dense bin
    // offset) relation, salt rows of oversized values, and place each
    // (value, salt) bucket in ITS OWN task by dense bin index. A hash
    // repartition on (partCols, salt) is not enough: two distinct
    // buckets colliding into one task write one merged 2x-target file
    // (tasks emit one file per partition dir), so the output layout
    // would depend on hash luck. Same justified identity-partitioner
    // use as Multimodal.repartitionBySize.
    val spark = df.sparkSession
    val pvSchema = org.apache.spark.sql.types.StructType(
      partCols.map(c => org.apache.spark.sql.types.StructField(
        s"__pvs_$c", org.apache.spark.sql.types.StringType)) :+
        org.apache.spark.sql.types.StructField(
          "__np", org.apache.spark.sql.types.IntegerType, nullable = false) :+
        org.apache.spark.sql.types.StructField(
          "__off", org.apache.spark.sql.types.IntegerType, nullable = false))
    val offsets = perPart.map(_._2).scanLeft(0)(_ + _)
    val pvRows = perPart.zip(offsets).map { case ((pv, n), off) =>
      org.apache.spark.sql.Row.fromSeq(partCols.map(c => pv.get(c).orNull) :+ n :+ off)
    }
    val pvDf = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(pvRows).asJava), pvSchema)
    val cond = partCols.map { c =>
      df(c) <=> col(s"__pvs_$c").cast(df.schema(c).dataType)
    }.reduce(_ && _)
    val nTotal = perPart.map(_._2).sum
    val binned = df.join(broadcast(pvDf), cond, "left")
      .withColumn("__bin",
        (coalesce(col("__off"), lit(0)) +
          pmod(hash(monotonically_increasing_id()), coalesce(col("__np"), lit(1))))
          .cast("int"))
      .drop(("__np" +: "__off" +: partCols.map(c => s"__pvs_$c")): _*)
    val keepSchema = org.apache.spark.sql.types.StructType(
      binned.schema.filterNot(_.name == "__bin"))
    val rdd = binned
      .select(col("__bin") +: keepSchema.fieldNames.map(col).toSeq: _*)
      .rdd.map(r => (r.getInt(0), org.apache.spark.sql.Row.fromSeq(r.toSeq.tail)))
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = nTotal
        override def getPartition(key: Any): Int =
          math.min(math.max(key.asInstanceOf[Int], 0), nTotal - 1)
      })
      .map(_._2)
    spark.createDataFrame(rdd, keepSchema)
  }

  def compact(log: DeltaLog, targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    val snap = log.snapshot
    // Clustered table: OPTIMIZE restores clustering locality (Z-order
    // along the declared columns) instead of plain compaction — the
    // delta-spark behavior for liquid-clustered tables. When a prior
    // full pass already persisted curve bounds for the SAME columns,
    // OPTIMIZE maintains INCREMENTALLY (only files added since the
    // clustering watermark are rewritten) — the liquid posture proper:
    // a periodic OPTIMIZE on a 100 TB clustered table costs the
    // ingested delta, not the table. `GRAFT OPTIMIZE ... ZORDER BY`
    // (explicit columns) stays the full-recluster escape hatch.
    val clusterCols = Clustering.clusteringColumns(snap)
    if (clusterCols.nonEmpty) {
      // route by the PERSISTED curve when the columns match — a table
      // maintained with HILBERT BY must keep its hilbert layout under
      // plain OPTIMIZE, not be silently re-clustered to z-order
      val storedCurve = Domains.get(snap, ClusterStateDomain).flatMap { s =>
        val n = JsonUtil.mapper.readTree(s)
        import scala.jdk.CollectionConverters._
        val sameCols =
          n.path("cols").elements().asScala.map(_.asText()).toSeq == clusterCols
        if (sameCols) Some(n.path("curve").asText()) else None
      }
      return storedCurve match {
        case Some(curve) =>
          clusterIncremental(log, clusterCols, curve, targetFileBytes)
        case None => zorder(log, clusterCols, targetFileBytes)
      }
    }
    val planned = snap.planFiles()
    val (scan, preserved) = RowTracking.preservingScan(snap, planned)
    val df = layoutFor(scan, planned,
      targetFileBytes, snap.metadata.partitionColumns)
    // dataChange = false: pure layout rewrite — streaming consumers
    // must not re-emit or fail on an OPTIMIZE (Delta spec)
    TransactionWriter.overwrite(log, df,
      partitionBy = Some(snap.metadata.partitionColumns), operation = "OPTIMIZE",
      dataChange = false, preservedCols = preserved)
  }

  /** OPTIMIZE ... WHERE: validate and translate a user predicate that
    * scopes a maintenance pass to matching partitions (delta-spark's
    * contract — at 100 TB you optimize the partitions that just
    * ingested, not the table). Non-partition columns are refused: a
    * row predicate cannot select whole files. Returns the file-level
    * pruning predicate over the adds relation. */
  private def partitionScope(
      log: DeltaLog, snap: Snapshot,
      w: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val spark = log.spark
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      snap.schema)
    val attrs = empty.where(w).queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.collect {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            a.name
        }
    }.flatten.distinct
    require(attrs.nonEmpty &&
      attrs.forall(snap.metadata.partitionColumns.contains),
      s"OPTIMIZE WHERE accepts partition-column predicates only " +
        s"(partitions: ${snap.metadata.partitionColumns.mkString(",")}; " +
        s"predicate references: ${attrs.mkString(",")})")
    Skipping.pruningPredicate(snap, w).getOrElse(
      throw new IllegalArgumentException(
        s"OPTIMIZE WHERE predicate is not translatable to partition pruning: $w"))
  }

  /** Targeted OPTIMIZE: rewrite ONLY the active files smaller than
    * `smallThreshold` into ~`targetFileBytes` files, leaving right-sized
    * files untouched in the log. This is the shape an OPTIMIZE pass
    * needs at scale — cost O(small-file bytes), not O(table): a 100 TB
    * table with 1% small-file debt rewrites 1 TB, where [[compact]]
    * (full rewrite) is the layout-reset sledgehammer. Returns the new
    * version, or the current one when fewer than `minSmallFiles` small
    * files exist (no commit — OPTIMIZE on a healthy table is a no-op).
    *
    * Partitioned tables compact per partition value; a value whose
    * small-file debt exceeds `targetFileBytes` is split across
    * ~`ceil(bytes/targetFileBytes)` output files via a per-value salt
    * (see [[layoutFor]]) instead of collapsing into one oversized file.
    * dataChange = false: streaming consumers skip pure layout
    * rewrites. */
  def compactSmall(
      log: DeltaLog,
      targetFileBytes: Long = 128L * 1024 * 1024,
      smallThresholdBytes: Long = -1L,
      minSmallFiles: Int = 2,
      where: Option[org.apache.spark.sql.Column] = None): Long = {
    val threshold =
      if (smallThresholdBytes > 0) smallThresholdBytes else targetFileBytes / 2
    val snap = log.snapshot
    val partitionPred: Option[org.apache.spark.sql.Column] =
      where.map(w => partitionScope(log, snap, w))
    // The minSmallFiles floor applies PER PARTITION VALUE: a lone small
    // file in a partition rewrites to itself (one output file per
    // value), so including it would commit a useless identical rewrite
    // on every invocation — the pass must converge to a no-op.
    // size pruning runs IN SPARK: only the small-file candidates are
    // ever collected (at scale the small-file debt is a sliver of the
    // table, which is the whole point of this pass)
    val sizeFilter = col("size_bytes") < threshold
    val touched = snap.planFiles(
      Some(partitionPred.map(sizeFilter && _).getOrElse(sizeFilter)))
      .groupBy(_.partitionValues).values
      .filter(_.size >= minSmallFiles)
      .flatten.toSeq
    if (touched.isEmpty) return snap.version
    val (scan, preserved) = RowTracking.preservingScan(snap, touched)
    val df = layoutFor(scan, touched,
      targetFileBytes, snap.metadata.partitionColumns)
    TransactionWriter.rewriteFiles(log, snap, touched, df, "OPTIMIZE",
      dataChange = false, preservedCols = preserved)
  }

  /** REORG TABLE ... APPLY (PURGE): rewrite ONLY the active files that
    * carry a live deletion vector, materializing their surviving rows
    * into clean files; DV-free files are untouched in the log. This
    * retires deletion-vector debt accumulated by DV DELETE/UPDATE —
    * after the commit no active file references a DV, and the orphaned
    * DV bitmaps become reclaimable by [[vacuum]].
    *
    * Cost is O(DV'd-file bytes), not O(table): a 100 TB table where
    * 0.5% of files carry DVs rewrites 500 GB. `dataChange = false` —
    * the logical content is unchanged (the deleted rows were already
    * logically gone), so streaming consumers skip the commit, same as
    * OPTIMIZE. Returns the new version, or the current one when no
    * file carries a DV (no-op commit avoided). */
  def purgeDeletionVectors(
      log: DeltaLog, targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    val snap = log.snapshot
    // DV pruning runs IN SPARK — only the DV-carrying sliver collects
    val dved = snap.planFiles(Some(col("deletion_vector.cardinality") > 0))
    if (dved.isEmpty) return snap.version
    val (scan, preserved) = RowTracking.preservingScan(snap, dved)
    val df = layoutFor(scan, dved,
      targetFileBytes, snap.metadata.partitionColumns)
    TransactionWriter.rewriteFiles(log, snap, dved, df, "REORG",
      dataChange = false, preservedCols = preserved)
  }

  /** FSCK REPAIR TABLE (delta-rs `FSCK`): drop add entries whose data
    * files are MISSING from storage (deleted out-of-band — a premature
    * vacuum from another engine, manual cleanup, a storage incident),
    * so scans stop failing on FileNotFound. Returns the repaired
    * (removed) relative paths; `dryRun` only reports them. The repair
    * commit removes with `dataChange = true` — rows genuinely
    * disappeared from the table's visible state.
    *
    * Existence checks run on the driver (one `exists` per active
    * file) — fine to ~10⁶ files; beyond that, run the same check as a
    * Spark job over [[Snapshot.addsFlat]] and pass the survivors
    * through a targeted commit.
    *
    * Change Data Feed: an FSCK commit contributes NOTHING to the feed
    * (the removed rows' content is unrecoverable — there is no file to
    * read the deleted rows from), and [[ChangeDataFeed.tableChanges]]
    * skips its removes so ranges spanning a repair stay readable. */
  def fsck(log: DeltaLog, dryRun: Boolean = false): Seq[String] = {
    val snap = log.snapshot
    val fs = log.fs
    val missing = snap.planFiles()
      .filterNot(f => fs.exists(new Path(snap.absolutePath(f))))
    if (missing.isEmpty || dryRun) return missing.map(_.path)
    val now = System.currentTimeMillis()
    log.commit(snap.version + 1,
      CommitInfoAction(CommitInfo(now, "FSCK",
        Map("numRemovedFiles" -> missing.size.toString))) +:
        missing.map(f => RemoveAction(RemoveFile(f.path, now,
          dataChange = true, partitionValues = f.partitionValues,
          size = Some(f.size), deletionVector = f.deletionVector))),
      ictEnabled = snap.metadata.configuration
        .get("delta.enableInCommitTimestamps").contains("true"))
    missing.map(_.path)
  }

  /** Production-default retention: 7 days, as in delta-spark. */
  val DefaultVacuumRetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  /** Delete data files no longer referenced by the current snapshot and
    * older than the retention window. Returns deleted paths.
    *
    * Safety rails: paths with any dot- or underscore-prefixed component
    * are skipped (a concurrent writer's `.graft-staging-*` directory
    * holds parquet that is not yet in the active set — deleting it
    * would corrupt an in-flight commit; `_delta_log` likewise).
    * `retentionMs = 0` instantly breaks time travel to prior versions,
    * so it requires an explicit opt-in. */
  /** VACUUM inventory mode (the "VACUUM ... USING INVENTORY" idea):
    * candidates come from a caller-supplied relation instead of a
    * recursive filesystem listing. At 10⁷+ files on an object store the
    * LIST itself is the dominant vacuum cost, and deployments usually
    * already maintain a file inventory (S3 Inventory reports, a
    * metastore export) — this reuses it. Required columns: `path`
    * (absolute URI or relative to the table root) and
    * `modificationTime` (epoch ms — the orphan-retention clock);
    * optional `isDir`. Rows outside the table root, directories,
    * hidden paths, and non-data files are ignored. Filtering runs in
    * Spark; the driver sees only surviving candidates. */
  private def inventoryCandidates(
      log: DeltaLog,
      inv: org.apache.spark.sql.DataFrame,
      rootDepth: Int,
      isCandidate: String => Boolean): Seq[(String, Long)] = {
    val cols = inv.schema.fieldNames.toSet
    require(Set("path", "modificationTime").subsetOf(cols),
      "vacuum inventory needs 'path' and 'modificationTime' columns, " +
        s"got ${cols.mkString(", ")}")
    val isDirCol =
      if (cols.contains("isDir")) col("isDir").cast("boolean") else lit(false)
    val fs = log.fs
    val rootQ = fs.makeQualified(log.rootPath).toString
    val out = ArrayBuffer.empty[(String, Long)]
    val it = inv.where(!isDirCol && col("path").isNotNull &&
        col("modificationTime").isNotNull)
      .select(col("path").cast("string"), col("modificationTime").cast("long"))
      .toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      val q = fs.makeQualified(new Path(log.rootPath, r.getString(0))).toString
      if ((q == rootQ || q.startsWith(rootQ + "/")) &&
          isCandidate(new Path(q).getName)) {
        val comps = new Path(q).toUri.getPath
          .split('/').filter(_.nonEmpty).drop(rootDepth)
        if (!comps.exists(c => c.startsWith(".") || c.startsWith("_")))
          out += ((q, r.getLong(1)))
      }
    }
    out.toSeq
  }

  def vacuum(
      log: DeltaLog,
      retentionMs: Long = DefaultVacuumRetentionMs,
      allowZeroRetention: Boolean = false,
      distributed: Boolean = false,
      inventory: Option[org.apache.spark.sql.DataFrame] = None): Seq[String] = {
    require(retentionMs > 0 || allowZeroRetention,
      "retentionMs = 0 deletes every unreferenced file immediately and " +
        "breaks time travel; pass allowZeroRetention = true to confirm")
    val fs = log.fs
    val snap = log.snapshot
    // Live files = active data files PLUS the deletion-vector files
    // their descriptors reference — deleting a live DV would silently
    // resurrect deleted rows, strictly worse than leaking space.
    val planned = snap.planFiles()
    val active: Set[String] = planned.map { f =>
      fs.makeQualified(new Path(log.rootPath, DeltaLog.decodePath(f.path))).toString
    }.toSet ++ planned.flatMap(_.deletionVector).collect {
      case dv if dv.storageType == "u" || dv.storageType == "p" =>
        fs.makeQualified(DeletionVectors.filePath(log.rootPath, dv)).toString
    }
    val rootDepth = fs.makeQualified(log.rootPath).toUri.getPath
      .split('/').count(_.nonEmpty)
    // Zero retention (explicitly confirmed) must reclaim a tombstone
    // committed in the SAME millisecond as this vacuum — the strict
    // `< cutoff` below would flake on a fast delete→vacuum sequence.
    // Nonzero retentions keep the strict boundary.
    val cutoff = System.currentTimeMillis() - retentionMs +
      (if (retentionMs == 0) 1 else 0)

    // (qualified path, mtime) of every data-file candidate under `dir`,
    // skipping dot/underscore-prefixed components BELOW the table root
    // (in-flight staging dirs, _delta_log). Candidates are parquet data
    // files and deletion-vector .bin files (orphaned when the file they
    // covered was rewritten or their delete was superseded).
    def isCandidate(name: String): Boolean =
      name.endsWith(".parquet") ||
        (name.startsWith("deletion_vector_") && name.endsWith(".bin"))
    def listCandidates(fsLocal: org.apache.hadoop.fs.FileSystem,
        dir: Path): Seq[(String, Long)] = {
      val out = ArrayBuffer.empty[(String, Long)]
      val it = fsLocal.listFiles(dir, true)
      while (it.hasNext) {
        val st = it.next()
        val p = st.getPath
        val comps = fsLocal.makeQualified(p).toUri.getPath
          .split('/').filter(_.nonEmpty).drop(rootDepth)
        val hidden = comps.exists(c => c.startsWith(".") || c.startsWith("_"))
        if (st.isFile && isCandidate(p.getName) && !hidden)
          out += ((fsLocal.makeQualified(p).toString, st.getModificationTime))
      }
      out.toSeq
    }

    val candidates: Seq[(String, Long)] =
      if (inventory.isDefined) inventoryCandidates(log, inventory.get,
        rootDepth, isCandidate)
      else if (!distributed) listCandidates(fs, log.rootPath)
      else {
        // 10⁷-file shape: fan the recursive listing out over executors,
        // one task per top-level entry (≈ first partition level). The
        // driver only ever holds the candidate list.
        val rootEntries = fs.listStatus(log.rootPath).toSeq
          .filterNot(st => st.getPath.getName.startsWith(".") ||
            st.getPath.getName.startsWith("_"))
        val topDirs = rootEntries.filter(_.isDirectory)
          .map(st => fs.makeQualified(st.getPath).toUri.toString)
        val rootFiles = rootEntries.collect {
          case st if st.isFile && isCandidate(st.getPath.getName) =>
            (fs.makeQualified(st.getPath).toString, st.getModificationTime)
        }
        val sc = log.spark.sparkContext
        val depth = rootDepth
        // ship the session's Hadoop conf (credentials, endpoints, fs
        // impls) — a blank Configuration would break on object stores
        val confEntries: Array[(String, String)] = {
          import scala.jdk.CollectionConverters._
          log.spark.sessionState.newHadoopConf().asScala
            .map(e => e.getKey -> e.getValue).toArray
        }
        val fromDirs =
          if (topDirs.isEmpty) Nil
          else sc.parallelize(topDirs, math.min(topDirs.size, sc.defaultParallelism))
            .flatMap { d =>
              val conf = new org.apache.hadoop.conf.Configuration(false)
              confEntries.foreach { case (k, v) => conf.set(k, v) }
              val p = new Path(new java.net.URI(d))
              val fsx = p.getFileSystem(conf)
              val out = ArrayBuffer.empty[(String, Long)]
              val it = fsx.listFiles(p, true)
              while (it.hasNext) {
                val st = it.next()
                val f = st.getPath
                val comps = fsx.makeQualified(f).toUri.getPath
                  .split('/').filter(_.nonEmpty).drop(depth)
                val hidden = comps.exists(c => c.startsWith(".") || c.startsWith("_"))
                val cand = f.getName.endsWith(".parquet") ||
                  (f.getName.startsWith("deletion_vector_") && f.getName.endsWith(".bin"))
                if (st.isFile && cand && !hidden)
                  out += ((fsx.makeQualified(f).toString, st.getModificationTime))
              }
              out
            }.collect().toSeq
        rootFiles ++ fromDirs
      }

    // Retention is measured from the REMOVE tombstone's deletionTimestamp
    // when one exists, not the file's mtime: a file created long ago but
    // removed seconds ago (overwrite/rewrite) is still inside the
    // retention window for time travel and concurrent readers. mtime is
    // the fallback for true orphans (no tombstone — aborted writes,
    // superseded DV .bin files).
    val tombstoneTs: Map[String, Long] = snap.tombstones
      .select("path", "deletion_timestamp").collect().flatMap { r =>
        Option(r.get(1)).map(_ => fs.makeQualified(new Path(log.rootPath,
          DeltaLog.decodePath(r.getString(0)))).toString -> r.getLong(1))
      }.toMap
    val toDelete = candidates.collect {
      case (p, mtime) if !active.contains(p) &&
          tombstoneTs.getOrElse(p, mtime) < cutoff => p
    }
    toDelete.foreach(p => fs.delete(new Path(new java.net.URI(p)), false))
    toDelete
  }

  /** Append commit: add new files (with full per-file stats) without
    * removing existing ones. */
  def append(log: DeltaLog, df: org.apache.spark.sql.DataFrame): Long =
    TransactionWriter.append(log, df)

  /** Log retention: delete commit JSONs and checkpoints that are no
    * longer needed to reconstruct any version newer than the latest
    * checkpoint minus `retainVersions` (delta's logRetention idea, by
    * version count). Never deletes past the newest checkpoint — every
    * remaining version stays reconstructible. Returns deleted names. */
  def cleanupLog(log: DeltaLog, retainVersions: Long = 0L): Seq[String] = {
    val (commits, cps) = log.listLog()
    if (cps.isEmpty) return Nil // nothing to anchor reconstruction
    // The anchor must itself be a CHECKPOINT at or below the retain
    // horizon: every retained version v >= anchor replays from that
    // checkpoint + commits (anchor, v]. Using the horizon directly would
    // delete the checkpoint the retained window depends on.
    val horizon = cps.max - retainVersions
    val anchorOpt = cps.filter(_ <= horizon).maxOption
    if (anchorOpt.isEmpty) return Nil
    val anchor = anchorOpt.get
    val fs = log.fs
    val deleted = ArrayBuffer.empty[String]
    commits.filter(_ < anchor).foreach { v =>
      val p = new Path(log.logPath, f"$v%020d.json")
      if (fs.delete(p, false)) deleted += p.getName
    }
    // A compaction file is usable only for tails starting past a
    // retained checkpoint (>= anchor + 1); once its range dips at or
    // below the anchor it can never be spliced again.
    log.compactedRanges().filter(_._1 <= anchor).foreach { case (a, b) =>
      val p = new Path(log.logPath, f"$a%020d.$b%020d.compacted.json")
      if (fs.delete(p, false)) deleted += p.getName
    }
    // Sidecars may be SHARED between v2 checkpoints (the spec allows
    // incremental checkpoints to reuse unchanged sidecars), so a
    // deletable checkpoint's sidecars are removed only when no
    // surviving checkpoint still references them. Read refs BEFORE
    // deleting any manifest.
    val (deadCps, liveCps) = cps.partition(_ < anchor)
    def v2FormAt(v: Long): Option[V2Checkpoint] =
      log.checkpointFormAt(v).collect { case f: V2Checkpoint => f }
    val liveSidecars: Set[String] =
      liveCps.flatMap(v => v2FormAt(v).toSeq.flatMap(manifestSidecarNames(log, _))).toSet
    deadCps.foreach { v =>
      val deadSidecars = v2FormAt(v).toSeq.flatMap(manifestSidecarNames(log, _))
      log.checkpointFiles(v).foreach { f =>
        val p = new Path(f)
        if (fs.delete(p, false)) deleted += p.getName
      }
      deadSidecars.filterNot(liveSidecars).foreach { name =>
        val p = log.sidecarPath(SidecarFile(name))
        if (fs.delete(p, false)) deleted += p.getName
      }
    }
    deleted.toSeq
  }

  /** Turn on the in-commit-timestamps writer feature (Delta spec
    * "In-Commit Timestamps"): after this commit, every commit's
    * commitInfo carries a monotonic `inCommitTimestamp` as its FIRST
    * action, and timestamp time travel reads that instead of file
    * modification times (which object-store copies/restores rewrite).
    * The enablement commit pins `delta.inCommitTimestampEnablementVersion`
    * / `...EnablementTimestamp` so readers know where the ICT clock
    * starts. Writer-only feature: the reader protocol is unchanged. */
  def enableInCommitTimestamps(log: DeltaLog): Long = {
    val snap = log.snapshot
    if (snap.metadata.configuration
        .get("delta.enableInCommitTimestamps").contains("true"))
      return snap.version
    val v = snap.version + 1
    val prevIct = if (v == 0) None else log.inCommitTimestampOf(v - 1)
    val ict = math.max(System.currentTimeMillis(),
      prevIct.map(_ + 1).getOrElse(0L))
    val p = snap.protocol
    // Upgrading a legacy writer version to table features must list the
    // features the old version implied (same move as the DV writer).
    val legacyWriter = if (p.minWriterVersion < 7) Set("appendOnly", "invariants")
      else Set.empty[String]
    val proto = Protocol(
      minReaderVersion = p.minReaderVersion,
      minWriterVersion = 7,
      readerFeatures = p.readerFeatures,
      writerFeatures = p.writerFeatures ++ legacyWriter + "inCommitTimestamp")
    val m = snap.metadata
    val newMeta = m.copy(configuration = m.configuration ++ Map(
      "delta.enableInCommitTimestamps" -> "true",
      "delta.inCommitTimestampEnablementVersion" -> v.toString,
      "delta.inCommitTimestampEnablementTimestamp" -> ict.toString))
    log.commit(v, Seq(
      CommitInfoAction(CommitInfo(ict, "SET TBLPROPERTIES",
        Map("delta.enableInCommitTimestamps" -> "true"),
        inCommitTimestamp = Some(ict))),
      ProtocolAction(proto),
      MetadataAction(newMeta)))
    v
  }

  /** DESCRIBE HISTORY (delta-rs `history()`): one row per commit with
    * version, timestamp, operation, and operation parameters — parsed
    * from the commitInfo actions of the JSON commits (checkpointed-away
    * commits no longer have history, as in other engines). */
  def history(log: DeltaLog): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val (commits, _) = log.listLog()
    val rows = commits.sorted.reverse.map { v =>
      val ci = log.commitActions(v).collectFirst { case CommitInfoAction(c) => c }
      Row(v,
        // ICT, when present, is the table's authoritative clock
        ci.map(c => new java.sql.Timestamp(
          c.inCommitTimestamp.getOrElse(c.timestamp))).orNull,
        ci.map(_.operation).orNull,
        ci.map(_.operationParameters).orNull)
    }
    val schema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("timestamp", TimestampType),
      StructField("operation", StringType),
      StructField("operationParameters", MapType(StringType, StringType))))
    log.spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
  }

  /** OPTIMIZE ZORDER BY: rewrite the table ordered along a Z-curve
    * (Morton interleave) over `zCols`, so each output file covers a
    * small hyper-rectangle of the key space and min/max stats skipping
    * prunes on EVERY z-column, not just a lexicographic prefix.
    *
    * Normalization is linear min/max scaling to 16 bits per column (one
    * cheap global agg); the interleave itself is a map-only Column
    * expression, and file assignment is a range partition on the
    * z-value — fully distributed, no global sort on the driver.
    *
    * `where` scopes the pass to partitions matching a PARTITION
    * predicate (same contract as [[compactSmall]]): only the matching
    * files are rewritten — at 100 TB you z-order the partitions that
    * just ingested, not the table — with z-value normalization bounds
    * computed over the scoped rows. */
  def zorder(
      log: DeltaLog, zCols: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024,
      where: Option[org.apache.spark.sql.Column] = None): Long = {
    require(zCols.nonEmpty && zCols.size <= 4, "zorder needs 1-4 columns")
    // total interleaved bits must stay < 63 (Long, positive): 16 bits
    // per column up to 3 columns, 15 for 4 — math.pow at bit 63 would
    // saturate and wrap the z-value negative
    val bits = math.min(16, 62 / zCols.size)
    clusterRewrite(log, zCols, bits, curveExpr("zorder", _, bits),
      "OPTIMIZE ZORDER BY", targetFileBytes, where, curveKind = "zorder")
  }

  /** The curve-index Column for already-scaled `[0, 2^bits)` long
    * coordinates: the Morton bit interleave, or the compiled Hilbert
    * kernel. Shared by the full and incremental clustering passes so
    * both orderings are bit-identical by construction. */
  private def curveExpr(kind: String,
      scaled: Seq[org.apache.spark.sql.Column], bits: Int)
      : org.apache.spark.sql.Column = kind match {
    case "zorder" =>
      val nc = scaled.size
      scaled.zipWithIndex.map { case (v, ci) =>
        (0 until bits).map { i =>
          (floor(v / lit(1L << i)) % 2).cast("long") * lit(1L << (i * nc + ci))
        }.reduce(_ + _)
      }.reduce(_ + _)
    case "hilbert" =>
      graft.functions.VectorExpressions.hilbertIndex(scaled, bits)
    case other => throw new IllegalArgumentException(
      s"unknown clustering curve '$other' (have zorder, hilbert)")
  }

  /** Shared clustering-rewrite scaffolding for the curve layouts
    * ([[zorder]], [[hilbertCluster]]): partition scoping, numeric-like
    * validation, ONE bounds aggregation, linear min/max scaling of
    * each column to [0, 2^bits) longs (nulls scale to 0; dates go
    * through unix_date — a DATE cannot cast to DOUBLE directly), the
    * curve expression supplied by the caller, and a range partition +
    * within-partition sort on the curve value — distributed end to
    * end, no global sort. */
  /** Domain persisting the curve-clustering state an INCREMENTAL pass
    * needs: curve kind, columns, bit width, the normalization bounds
    * of the last full pass, and the clustering watermark (the version
    * whose files are already laid out). */
  private[graft] val ClusterStateDomain = "graft.clustering.state"

  private def numericCol(df: org.apache.spark.sql.DataFrame,
      c: String): org.apache.spark.sql.Column =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.DateType =>
        unix_date(col(c)).cast("double")
      case _ => col(c).cast("double")
    }

  /** Linear min/max normalization of each clustering column to
    * `[0, 2^bits)` longs under the GIVEN bounds — shared by the full
    * pass (bounds just aggregated) and the incremental pass (bounds
    * persisted from the last full pass). Values outside the bounds
    * CLAMP to the edge cells (the least/greatest pair), which is what
    * makes persisted bounds stable under drift: a new row past the old
    * max lands in the top cell — locality degrades only at the extreme
    * shells, and a full pass re-derives. Nulls sort first (0). */
  private def scaledCols(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String], bits: Int, bounds: Seq[(Double, Double)])
      : Seq[org.apache.spark.sql.Column] =
    cols.zip(bounds).map { case (c, (mn, mx)) =>
      val range = if (mx > mn) mx - mn else 1.0
      val sc = least(greatest(
        ((numericCol(df, c) - lit(mn)) / lit(range) * lit((1 << bits) - 1)),
        lit(0.0)), lit(((1 << bits) - 1).toDouble))
      coalesce(floor(sc).cast("long"), lit(0L))
    }

  private def validateClusterCols(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): Unit =
    cols.foreach { c =>
      require(df.columns.contains(c), s"unknown clustering column $c")
      val dt = df.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        dt == org.apache.spark.sql.types.DateType ||
        dt == org.apache.spark.sql.types.TimestampType ||
        dt == org.apache.spark.sql.types.BooleanType,
        s"clustering column $c has type ${dt.simpleString}: the curve " +
          "uses linear min/max normalization, which needs a numeric-like " +
          "type (numeric, date, timestamp, boolean)")
    }

  /** Curve-ordered layout of `df`: range partition on the curve value
    * (distributed — no global sort), in-partition sort, sized to
    * `targetFileBytes`. */
  private def curveLayout(df: org.apache.spark.sql.DataFrame,
      curveVal: org.apache.spark.sql.Column, totalBytes: Long,
      targetFileBytes: Long): org.apache.spark.sql.DataFrame = {
    val targetFiles = math.max(1,
      math.ceil(math.max(totalBytes, 1L).toDouble / targetFileBytes).toInt)
    df.withColumn("__curve", curveVal)
      .repartitionByRange(targetFiles, col("__curve"))
      .sortWithinPartitions("__curve")
      .drop("__curve")
  }

  private def clusterStateJson(curveKind: String, cols: Seq[String],
      bits: Int, bounds: Seq[(Double, Double)], watermark: Long,
      drift: Double = 0.0): String = {
    val root = JsonUtil.mapper.createObjectNode()
    root.put("curve", curveKind)
    val ca = root.putArray("cols"); cols.foreach(ca.add)
    root.put("bits", bits)
    val mn = root.putArray("mins"); bounds.foreach(b => mn.add(b._1))
    val mx = root.putArray("maxs"); bounds.foreach(b => mx.add(b._2))
    root.put("watermark", watermark)
    root.put("drift", drift)
    JsonUtil.mapper.writeValueAsString(root)
  }

  /** Compare-and-set write of the clustering state: the domain is
    * last-writer-wins, so a full re-cluster racing an incremental pass
    * could have its freshly derived bounds/watermark clobbered by the
    * other pass's STALE state — regressing the watermark (redundant
    * re-rewrites) and pinning outdated normalization bounds (layout
    * degradation; data stays correct either way). Re-read the live
    * state right before writing and skip the write when its watermark
    * already advanced past this pass's planning version — whichever
    * pass PLANNED later owns the state. The read-then-set window is
    * vastly smaller than the pass-length window it closes; a loser in
    * that residual race costs one extra incremental re-check, never
    * lost data (clustering commits are excluded from windows by
    * operation name). */
  private def casClusterState(
      log: DeltaLog, json: String, plannedVersion: Long): Unit = {
    val liveWm = Domains.get(log.snapshot, ClusterStateDomain)
      .map(s => JsonUtil.mapper.readTree(s).path("watermark").asLong())
    if (liveWm.forall(_ <= plannedVersion))
      Domains.set(log, ClusterStateDomain, json)
  }

  private def clusterRewrite(
      log: DeltaLog, cols: Seq[String], bits: Int,
      curve: Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column,
      opName: String, targetFileBytes: Long,
      where: Option[org.apache.spark.sql.Column],
      curveKind: String): Long = {
    val snap = log.snapshot
    val scopePred = where.map(w => partitionScope(log, snap, w))
    val planned = snap.planFiles(scopePred)
    if (planned.isEmpty) return snap.version
    val (df, preserved) = RowTracking.preservingScan(snap, planned)
    validateClusterCols(df, cols)
    val boundAggs = cols.flatMap(c => Seq(
      min(numericCol(df, c)).as(s"__mn_$c"),
      max(numericCol(df, c)).as(s"__mx_$c")))
    val boundsRow = df.agg(boundAggs.head, boundAggs.tail: _*).collect()(0)
    val bounds = cols.map { c =>
      (Option(boundsRow.getAs[java.lang.Double](s"__mn_$c")).map(_.toDouble).getOrElse(0.0),
        Option(boundsRow.getAs[java.lang.Double](s"__mx_$c")).map(_.toDouble).getOrElse(0.0))
    }
    val curveVal = curve(scaledCols(df, cols, bits, bounds))
    val ordered = curveLayout(df, curveVal,
      planned.map(_.size).sum, targetFileBytes)
    val v =
      if (scopePred.isDefined)
        // scoped pass: swap ONLY the matched files, like compactSmall —
        // the rest of the table's layout (and log entries) are untouched
        TransactionWriter.rewriteFiles(log, snap, planned, ordered,
          opName, dataChange = false, preservedCols = preserved)
      else
        TransactionWriter.overwrite(log, ordered,
          partitionBy = Some(snap.metadata.partitionColumns),
          operation = opName,
          dataChange = false, preservedCols = preserved)
    // Persist bounds + watermark so a later INCREMENTAL pass can lay
    // out ONLY files added after this one — UNSCOPED passes only (a
    // WHERE-scoped pass derives bounds from the scoped rows; adopting
    // them table-wide would misnormalize everything else). The
    // watermark is the PLANNING snapshot version: a commit landing
    // concurrently between snap and the (possibly rebased) rewrite
    // commit stays inside the next incremental window, and this pass's
    // own commit is excluded there by its operation name. A crash
    // between the rewrite and this domain commit just means the next
    // incremental pass re-checks this window — idempotent (its own
    // adds are operation-excluded). CAS, not blind set: a racing pass
    // that planned later must keep the state (see casClusterState).
    if (scopePred.isEmpty && curveKind.nonEmpty)
      casClusterState(log,
        clusterStateJson(curveKind, cols, bits, bounds, snap.version),
        snap.version)
    v
  }

  /** INCREMENTAL clustering maintenance — the 100 TB OPTIMIZE story.
    * A full `OPTIMIZE ZORDER/HILBERT BY` pass rewrites every scoped
    * file; appending 1% of a clustered table must NOT cost a 100%
    * re-rewrite, so this pass (the delta-spark liquid-clustering
    * posture) rewrites ONLY the files added since the persisted
    * clustering watermark, curve-ordered under the PERSISTED
    * normalization bounds of the last full pass (out-of-bounds values
    * clamp to the edge cells — see [[scaledCols]] — so the layout
    * stays merge-compatible with the already-clustered files; heavy
    * bound drift is the cue to run a full pass, which re-derives).
    *
    * Scale shape: the log tail `(watermark, current]` is read
    * driver-side (O(commits since the last pass)), intersected with
    * the active set, and ONLY those files are scanned, curve-ordered
    * (one range partition — no global sort) and swapped via a targeted
    * rewrite; previously-clustered files keep their add entries
    * untouched. Cost tracks the ingested delta, not the table.
    *
    * DRIFT GAUGE: clamping is only harmless while the incoming data
    * still lives inside the persisted bounds — a table whose key range
    * drifts (a timestamp axis, a growing id space) would silently pile
    * every new row into the edge cells, an
    * everything-in-one-cell layout no probe can see from the outside.
    * Each pass therefore MEASURES the out-of-range row fraction of its
    * target files (one column-pruned agg over the delta it already
    * scans) and persists it in the clustering state; when the fraction
    * exceeds `driftThreshold` the pass routes to a FULL re-cluster,
    * which re-derives the bounds. The default is 0.25; a threshold
    * ≥ 1 forces incremental regardless of drift.
    *
    * Returns the current version when there is nothing new. Requires a
    * prior full pass with the same curve and columns. */
  def clusterIncremental(
      log: DeltaLog, cols: Seq[String], curveKind: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      driftThreshold: Double = 0.25): Long = {
    val snap = log.snapshot
    val stateStr = Domains.get(snap, ClusterStateDomain).getOrElse(
      throw new IllegalStateException(
        s"no persisted clustering state on ${log.tablePath}: run a full " +
          s"GRAFT OPTIMIZE ... ${curveKind.toUpperCase} BY pass first"))
    val st = JsonUtil.mapper.readTree(stateStr)
    import scala.jdk.CollectionConverters._
    val stCols = st.path("cols").elements().asScala.map(_.asText()).toSeq
    val stCurve = st.path("curve").asText()
    require(stCurve == curveKind && stCols == cols,
      s"clustering state on ${log.tablePath} is $stCurve(${stCols.mkString(",")}) " +
        s"but this pass asked for $curveKind(${cols.mkString(",")}): run a " +
        "full pass to re-cluster under the new definition")
    val bits = st.path("bits").asInt()
    val mins = st.path("mins").elements().asScala.map(_.asDouble()).toSeq
    val maxs = st.path("maxs").elements().asScala.map(_.asDouble()).toSeq
    val watermark = st.path("watermark").asLong()
    val cur = snap.version
    if (cur <= watermark) return cur
    // Files added after the watermark that are still active — the
    // newest-add-wins replay already resolved later removes/rewrites.
    // Adds from CLUSTERING commits (full or incremental, this pass's
    // predecessors included) are curve-ordered by construction and
    // skipped BY OPERATION, not by watermark arithmetic: the watermark
    // is the pass's PLANNING snapshot version, so a commit that landed
    // concurrently between planning and the rewrite commit still falls
    // inside the next pass's window instead of being silently skipped.
    val addedPaths = ((watermark + 1) to cur)
      .map(v => log.commitActions(v))
      .filterNot(_.exists {
        case CommitInfoAction(ci) =>
          ci.operation.startsWith("OPTIMIZE ") && ci.operation.contains(" BY")
        case _ => false
      })
      .flatten
      .collect { case AddAction(a) => a.path }.toSet
    val targets = snap.planFiles().filter(f => addedPaths.contains(f.path))
    // nothing to lay out → NO commit (a scheduled idle run must be
    // free: a watermark-bump commit per run would itself re-open the
    // next run's window — unbounded pure-churn log growth)
    if (targets.isEmpty) return cur
    val (df, preserved) = RowTracking.preservingScan(snap, targets)
    validateClusterCols(df, cols)
    // drift = fraction of target rows with ANY cluster column outside
    // the persisted bounds (nulls scale to cell 0 and never drift).
    // One extra column-pruned agg over the DELTA files only.
    val oob = cols.zip(mins.zip(maxs)).map { case (c, (mn, mx)) =>
      val n = numericCol(df, c)
      n.isNotNull && (n < lit(mn) || n > lit(mx))
    }.reduce(_ || _)
    val drift = Option(
      df.agg(avg(when(oob, 1.0).otherwise(0.0))).head().get(0))
      .map(_.asInstanceOf[Double]).getOrElse(0.0)
    require(driftThreshold >= 0.0,
      s"driftThreshold must be >= 0, got $driftThreshold")
    if (drift > driftThreshold)
      // past the threshold, clamped layout quality is gone — run the
      // full pass instead: it re-derives bounds from the whole table
      // (and resets the persisted drift to 0 via clusterRewrite)
      return curveKind match {
        case "zorder" => zorder(log, cols, targetFileBytes)
        case _ => hilbertCluster(log, cols, targetFileBytes)
      }
    val curveVal = curveExpr(curveKind,
      scaledCols(df, cols, bits, mins.zip(maxs)), bits)
    val ordered = curveLayout(df, curveVal,
      targets.map(_.size).sum, targetFileBytes)
    val v = TransactionWriter.rewriteFiles(log, snap, targets, ordered,
      s"OPTIMIZE ${curveKind.toUpperCase} BY INCREMENTAL",
      dataChange = false, preservedCols = preserved)
    // watermark = the PLANNING snapshot version, not the (possibly
    // rebased) rewrite commit: anything committed concurrently between
    // snap and v stays inside the next window; this pass's own rewrite
    // commit is excluded there by its operation name, not the version.
    // CAS: a concurrent full pass that planned later owns the state.
    // The measured drift rides in the state — the gauge a scheduler
    // (or ClusterProbe) reads to see bound erosion building up.
    casClusterState(log,
      clusterStateJson(curveKind, cols, bits, mins.zip(maxs), snap.version,
        drift),
      snap.version)
    v
  }

  /** OPTIMIZE HILBERT BY: rewrite the table ordered along a 2-D
    * Hilbert curve — the locality-optimal clustering (consecutive
    * curve positions are ADJACENT grid cells, so per-file min/max
    * boxes are tighter than the jumping Z-curve's and 2-D box
    * predicates prune more files; see [[graft.functions.Hilbert]]).
    * Same contract and scale shape as [[zorder]]: one bounds agg,
    * map-only curve index (a single HOF fold, no expression blowup),
    * range partition on the index — no global sort, `where` scopes the
    * pass to matching partitions. */
  def hilbertCluster(
      log: DeltaLog, cols: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024,
      where: Option[org.apache.spark.sql.Column] = None): Long = {
    val d = cols.size
    require(d >= 2 && d <= 6,
      s"hilbert clustering takes 2-6 columns, got $cols")
    // full 2-D resolution as before; past that, as many bits per axis
    // as keep the d·bits index in a positive long
    val bits = math.min(16, 62 / d)
    // native codegen'd kernel (one compiled call per row) — the
    // aggregate-HOF forms it replaced (Hilbert.index2/indexD, kept as
    // the HilbertSpec cross-checks) are CodegenFallback and ran
    // ~10 µs/row interpreted, the cost that made q_hilbert3_read the
    // suite's slowest gate
    clusterRewrite(log, cols, bits, curveExpr("hilbert", _, bits),
      "OPTIMIZE HILBERT BY", targetFileBytes, where, curveKind = "hilbert")
  }

  /** ANALYZE: backfill min/max/nullCount stats for active files that
    * lack them (written under a `dataSkippingNumIndexedCols` cap, by a
    * stats-less external writer, or before a column was interesting).
    * Without stats a file is conservatively scanned by EVERY stats
    * predicate — on an old 100 TB table that's the difference between
    * pruning and a full scan. LOG-ONLY: one grouped Spark pass over
    * just the stats-less files computes the same JSON the write path
    * renders, and one commit re-adds those entries with stats attached
    * (`dataChange = false`, newest-add-wins replay supersedes in
    * place) — no data file is rewritten or moved.
    * Returns the commit version (current version if nothing to do). */
  def analyze(log: DeltaLog): Long = {
    val snap = log.snapshot
    // stats cover DATA columns only (partition values live in the log);
    // file columns use physical names under column mapping
    val leaves = TransactionWriter.statLeaves(snap.physicalDataSchema)
    // needy = stats absent, OR present but missing some stat-eligible
    // leaf (the cap-limited common case: dataSkippingNumIndexedCols
    // covered only a prefix). Empty files are complete by definition.
    def covered(f: AddFile): Boolean = f.stats.exists { s =>
      val node = JsonUtil.mapper.readTree(s)
      if (node.path("numRecords").asLong(-1L) == 0L) true
      else {
        val mv = node.path("minValues")
        !mv.isMissingNode && leaves.forall { case (p, _) =>
          !p.split('.').foldLeft(mv)((n, seg) => n.path(seg)).isMissingNode
        }
      }
    }
    // activeFiles, not planFiles: the planning relation deliberately
    // nulls the stats string (slimAdds) — ANALYZE both inspects and
    // re-emits it, the documented activeFiles use case
    val needy = snap.activeFiles.filterNot(covered)
    if (needy.isEmpty) return snap.version
    val aggs = count(lit(1)).as("__num") +:
      leaves.zipWithIndex.flatMap { case ((p, _), i) =>
        Seq(min(col(p)).as(s"__min_$i"), max(col(p)).as(s"__max_$i"),
          sum(col(p).isNull.cast("long")).as(s"__nc_$i"))
      }
    val rows = log.spark.read.schema(snap.physicalDataSchema)
      .parquet(needy.map(snap.absolutePath): _*)
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    // attribute scan rows back to AddFiles through the same
    // pathCandidates-normalized index the mutation path uses — an
    // endsWith match misses absolute-URI entries (shallow clones), and
    // fabricating stats for an unmatched file would be silent data
    // loss at read time (a wrong numRecords:0 prunes the file forever)
    val idx = Mutations.fileIndex(snap, needy)
    val byPath = rows.flatMap { r =>
      idx.get(Mutations.normalize(r.getAs[String]("__file")))
        .map(_.path -> r)
    }.toMap
    val readds = needy.flatMap { f =>
      // no scan row: either a genuinely empty file (the scan produced
      // no group) or an attribution miss on a NONEMPTY file — only the
      // truly empty case may claim numRecords:0 (a wrong 0 prunes the
      // file forever), so the miss is disambiguated by the parquet
      // footer's own record count, one driver-side footer read per
      // missing file. Empty files then leave the needy set after one
      // pass instead of being re-scanned by every subsequent ANALYZE.
      byPath.get(f.path) match {
        case Some(r) => Some(
          AddAction(f.copy(
            stats = Some(TransactionWriter.renderStats(r, leaves)),
            dataChange = false)))
        case None =>
          val verifiablyEmpty =
            try {
              val in = org.apache.parquet.hadoop.util.HadoopInputFile
                .fromPath(new Path(snap.absolutePath(f)),
                  log.spark.sessionState.newHadoopConf())
              val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
              try rd.getRecordCount == 0L finally rd.close()
            } catch { case scala.util.control.NonFatal(_) => false }
          if (verifiablyEmpty)
            Some(AddAction(f.copy(
              stats = Some("""{"numRecords":0}"""), dataChange = false)))
          else None // keep the original entry untouched
      }
    }
    if (readds.isEmpty) return snap.version
    val v = snap.version + 1
    log.commit(v,
      CommitInfoAction(CommitInfo(System.currentTimeMillis(), "ANALYZE",
        Map("files" -> readds.size.toString))) +: readds,
      ictEnabled = snap.metadata.configuration
        .get("delta.enableInCommitTimestamps").contains("true"),
      recomputeChecksum = true)
    v
  }

  /** RESTORE to a previous version (delta-rs `restore`): a metadata-only
    * commit that re-adds the target version's files and removes files
    * added since — NO data is rewritten or copied, so restoring a
    * 100 TB table costs one commit. Time travel to the interim versions
    * keeps working (their files stay on disk until vacuumed). */
  def restore(log: DeltaLog, version: Long): Long = {
    val current = log.snapshot
    require(version < current.version,
      s"cannot restore to version $version: current version is ${current.version}")
    val target = log.snapshotAt(version)
    val now = System.currentTimeMillis()
    // schema may have changed since — restore pins the target metadata.
    // In-commit-timestamp properties are carried FORWARD, not restored:
    // once the ICT clock started it must keep ticking (pinning a
    // pre-enablement configuration would silently switch time travel
    // back to file mtimes mid-history).
    val ictProps = current.metadata.configuration.filter { case (k, _) =>
      k == "delta.enableInCommitTimestamps" || k.startsWith("delta.inCommitTimestamp")
    }
    val head = ArrayBuffer[Action](
      CommitInfoAction(CommitInfo(now, "RESTORE",
        Map("version" -> version.toString))))
    if (target.metadata.schemaString != current.metadata.schemaString ||
        target.metadata.partitionColumns != current.metadata.partitionColumns)
      head += MetadataAction(target.metadata.copy(
        configuration = target.metadata.configuration ++ ictProps))
    // Files are matched on (path, DV identity), not path alone: a path
    // present in both snapshots but whose deletion vector changed since
    // the target version (DV DELETE/UPDATE) must be re-added so the
    // target's DV state is reinstated — replay's newest-add-wins
    // reconciliation then supersedes the current DV-carrying entry.
    // The whole diff runs IN SPARK over the two adds relations; the
    // driver only streams the surviving action rows into the commit
    // file (O(partition) memory — a 10⁷-file restore never collects).
    def dvIdCol: org.apache.spark.sql.Column =
      when(col("deletion_vector").isNull, lit(""))
        .otherwise(concat_ws(":",
          col("deletion_vector.storageType"),
          col("deletion_vector.pathOrInlineDv"),
          coalesce(col("deletion_vector.offset"), lit(-1)).cast("string")))
    val currentKeyed = current.adds.select(col("path"), dvIdCol.as("__cur_dv"))
    val reAdds = target.adds.withColumn("__dv", dvIdCol)
      .join(currentKeyed, Seq("path"), "left_outer")
      .where(col("__cur_dv").isNull || col("__cur_dv") =!= col("__dv"))
      .drop("__cur_dv", "__dv")
    val removes = current.adds
      .select(col("path"), col("partition_values"), col("size_bytes"))
      .join(target.adds.select("path"), Seq("path"), "left_anti")
    // Vacuum check: only files ABSENT from the current snapshot can
    // have been reclaimed (files still active in `current` are
    // vacuum-protected by definition), and every such file is in the
    // re-add set — so existence-check exactly the re-adds not in
    // current. Streamed: O(1) driver memory, first examples kept.
    import scala.jdk.CollectionConverters._
    var nMissing = 0L
    val missingExamples = ArrayBuffer[String]()
    reAdds.join(currentKeyed.select("path"), Seq("path"), "left_anti")
      .select("path").toLocalIterator().asScala.foreach { r =>
        val p = r.getString(0)
        if (!log.fs.exists(new Path(log.rootPath, DeltaLog.decodePath(p)))) {
          nMissing += 1
          if (missingExamples.size < 3) missingExamples += p
        }
      }
    require(nMissing == 0,
      s"cannot restore to version $version: $nMissing of its data " +
        s"files were vacuumed (e.g. $missingExamples)")
    val fileActions: Iterator[Action] =
      reAdds.toLocalIterator().asScala
        .map(r => AddAction(target.rowToAddFile(r).copy(dataChange = true))) ++
      removes.toLocalIterator().asScala.map { r =>
        RemoveAction(RemoveFile(r.getAs[String]("path"), now, dataChange = true,
          partitionValues = Option(r.getAs[scala.collection.Map[String, String]](
            "partition_values")).map(_.toMap).getOrElse(Map.empty),
          size = Some(r.getAs[Long]("size_bytes"))))
      }
    val v = current.version + 1
    // streamed commit recomputes the checksum from replayed state (the
    // DV-changed re-adds would double-count in an incremental delta)
    log.commitStreamed(v, head.toSeq, fileActions,
      ictEnabled = current.metadata.configuration
        .get("delta.enableInCommitTimestamps").contains("true"))
    v
  }
}
