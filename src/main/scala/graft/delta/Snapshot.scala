package graft.delta

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata => _, _}
import scala.jdk.CollectionConverters._

/** A resolved table state at one version: checkpoint part (lazy Spark
  * read) + driver-parsed JSON tail, reconciled into the active-file set.
  *
  * The add-actions relation (`adds` / `addsFlat`) is the reference's
  * signature data structure: one row per active data file with flattened
  * per-column min/max/nullCount stats
  * (`get_add_actions(flatten=True)`, /root/reference/levi/__init__.py:14).
  */
class Snapshot(
    val log: DeltaLog,
    val version: Long,
    val checkpointVersion: Option[Long],
    val tail: Seq[(Long, Action)]) {

  private def spark: SparkSession = log.spark

  // ---- metadata / protocol -------------------------------------------------

  private lazy val checkpointForm: Option[CheckpointForm] =
    checkpointVersion.flatMap(log.checkpointFormAt)

  /** Driver-parsed actions of a v2 JSON checkpoint manifest. Manifests
    * are driver-scale by construction — protocol/metaData/txn/sidecar
    * references, with file actions normally in the parquet sidecars;
    * inline file actions are handled too, bounded by the manifest file
    * size. */
  private lazy val v2ManifestActions: Seq[Action] = checkpointForm match {
    case Some(V2Checkpoint(top, true)) =>
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        log.fs.open(new org.apache.hadoop.fs.Path(top)),
        java.nio.charset.StandardCharsets.UTF_8))
      val actions =
        try Iterator.continually(in.readLine()).takeWhile(_ != null)
          .filter(_.trim.nonEmpty).flatMap(JsonUtil.parseAction).toVector
        finally in.close()
      actions.collectFirst { case CheckpointMetadataAction(cm) => cm }.foreach { cm =>
        require(cm.version == checkpointVersion.get,
          s"v2 checkpoint manifest $top declares version ${cm.version}, " +
            s"expected ${checkpointVersion.get}")
      }
      actions
    case _ => Nil
  }

  /** Parquet-backed checkpoint relation: the classic part files, or —
    * for a v2 checkpoint — the parquet manifest (when parquet) plus
    * every referenced sidecar, unioned by name. */
  private lazy val checkpointDf: Option[DataFrame] = checkpointForm.map {
    case ClassicCheckpoint(files) => spark.read.parquet(files: _*)
    case V2Checkpoint(top, isJson) =>
      val topDf = if (isJson) None else Some(spark.read.parquet(top))
      val sidecarRefs: Seq[SidecarFile] =
        if (isJson) v2ManifestActions.collect { case SidecarAction(s) => s }
        else topDf.toSeq.flatMap { df =>
          if (!df.schema.fieldNames.contains("sidecar")) Nil
          else df.where(col("sidecar.path").isNotNull).select("sidecar.path")
            .collect().map(r => SidecarFile(r.getString(0))).toSeq
        }
      val sidecarDf =
        if (sidecarRefs.isEmpty) None
        else Some(spark.read.parquet(
          sidecarRefs.map(s => log.sidecarPath(s).toString): _*))
      (topDf.toSeq ++ sidecarDf.toSeq)
        .reduceOption(_.unionByName(_, allowMissingColumns = true))
        .getOrElse(spark.emptyDataFrame)
  }

  lazy val metadata: Metadata =
    tail.collect { case (_, MetadataAction(m)) => m }.lastOption
      .orElse(v2ManifestActions.collectFirst { case MetadataAction(m) => m })
      .orElse(checkpointMetadata)
      .getOrElse(throw new IllegalStateException(
        s"no metaData action found for ${log.tablePath} @ v$version"))

  lazy val protocol: Protocol =
    tail.collect { case (_, ProtocolAction(p)) => p }.lastOption
      .orElse(v2ManifestActions.collectFirst { case ProtocolAction(p) => p })
      .orElse(checkpointProtocol)
      .getOrElse(Protocol())

  private def checkpointMetadata: Option[Metadata] = checkpointDf
    .filter(_.schema.fieldNames.contains("metaData")).flatMap { df =>
    df.select("metaData").where(col("metaData.id").isNotNull).limit(1)
      .collect().headOption.map { row =>
        val m = row.getStruct(0)
        def idx(f: String) = m.schema.fieldIndex(f)
        Metadata(
          id = m.getString(idx("id")),
          schemaString = m.getString(idx("schemaString")),
          partitionColumns = m.getSeq[String](idx("partitionColumns")),
          configuration = Option(m.getMap[String, String](idx("configuration")))
            .map(_.toMap).getOrElse(Map.empty),
          createdTime = Option(m.get(idx("createdTime"))).map(_.asInstanceOf[Long]))
      }
  }

  private def checkpointProtocol: Option[Protocol] = checkpointDf
    .filter(_.schema.fieldNames.contains("protocol")).flatMap { df =>
    df.select("protocol").where(col("protocol.minReaderVersion").isNotNull)
      .limit(1).collect().headOption.map { row =>
        val p = row.getStruct(0)
        def idx(f: String) = p.schema.fieldIndex(f)
        def featSet(f: String): Set[String] =
          if (!p.schema.fieldNames.contains(f) || p.isNullAt(idx(f))) Set.empty
          else p.getSeq[String](idx(f)).toSet
        Protocol(p.getInt(idx("minReaderVersion")), p.getInt(idx("minWriterVersion")),
          featSet("readerFeatures"), featSet("writerFeatures"))
      }
  }

  def schema: StructType = metadata.schema

  /** `delta.columnMapping.mode`: none | name | id. */
  def columnMappingMode: String =
    metadata.configuration.getOrElse("delta.columnMapping.mode", "none")

  /** Fail when the table requires reader features this engine doesn't
    * implement — reading anyway would SILENTLY return wrong rows (e.g.
    * resurrect DV-deleted rows), so fail like delta-rs instead. Called
    * eagerly by [[DeltaLog.snapshotAt]]. Supported: reader v1; reader
    * v2 (column mapping in name or id mode, implemented below); and
    * reader v3 when every listed reader feature is one we implement
    * (column mapping, deletion vectors, timestampNtz). Anything else is
    * rejected rather than misread. */
  def requireReadable(): Unit = {
    val v = protocol.minReaderVersion
    // vacuumProtocolCheck asks vacuum to verify the protocol before
    // deleting files — Maintenance.vacuum resolves a snapshot first,
    // which runs this very check, so the contract holds by design.
    val supportedFeatures =
      Set("columnMapping", "deletionVectors", "timestampNtz", "v2Checkpoint",
        "vacuumProtocolCheck",
        // typeWidening: reads apply the widened logical schema over
        // narrow physical files (Spark's parquet scan upcasts)
        "typeWidening",
        // variantType: Spark 4's native variant parquet encoding
        "variantType")
    val unsupported = protocol.readerFeatures.diff(supportedFeatures)
    val ok = v <= 1 ||
      (v == 2 && Set("name", "id", "none").contains(columnMappingMode)) ||
      (v == 3 && unsupported.isEmpty &&
        Set("name", "id", "none").contains(columnMappingMode))
    require(ok,
      s"unsupported Delta protocol: table ${log.tablePath} requires " +
        s"minReaderVersion=$v with columnMapping.mode=$columnMappingMode" +
        (if (unsupported.nonEmpty) s" and reader features $unsupported" else "") +
        " (supported: v1, v2 with columnMapping in name or id mode, or v3 " +
        s"with reader features within $supportedFeatures); " +
        "refusing to read rather than silently returning wrong rows")
  }

  // ---- column mapping (name + id modes) ------------------------------------

  private val PhysicalNameKey = "delta.columnMapping.physicalName"
  private val ColumnIdKey = "delta.columnMapping.id"
  /** Spark's parquet reader resolves a read-schema field by parquet
    * field id instead of by name when this metadata key is present and
    * `spark.sql.parquet.fieldId.read.enabled` is on. */
  private val ParquetFieldIdKey = "parquet.field.id"

  private def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalNameKey)) f.metadata.getString(PhysicalNameKey)
    else f.name

  private def toPhysical(dt: DataType, withIds: Boolean): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map { f =>
        val md =
          if (withIds && f.metadata.contains(ColumnIdKey))
            new MetadataBuilder()
              .putLong(ParquetFieldIdKey, f.metadata.getLong(ColumnIdKey)).build()
          else org.apache.spark.sql.types.Metadata.empty
        StructField(physicalName(f), toPhysical(f.dataType, withIds), f.nullable, md)
      })
    case a: ArrayType => a.copy(elementType = toPhysical(a.elementType, withIds))
    case m: MapType =>
      m.copy(keyType = toPhysical(m.keyType, withIds),
        valueType = toPhysical(m.valueType, withIds))
    case other => other
  }

  /** The schema as stored in data files: logical names replaced by
    * `delta.columnMapping.physicalName` recursively (identity when the
    * table doesn't use column mapping). In `id` mode every mapped field
    * additionally carries `parquet.field.id` so the parquet reader
    * resolves it by the Delta column id — per the spec, id-mode files
    * may name their columns anything. */
  def physicalSchema: StructType =
    toPhysical(schema, columnMappingMode == "id").asInstanceOf[StructType]

  /** [[physicalSchema]] minus the partition columns: the schema a raw
    * parquet read of this table's data files takes (partition values
    * live in the log, not in the files). */
  lazy val physicalDataSchema: StructType = {
    val partPhys = metadata.partitionColumns.map(physicalNameOf).toSet
    StructType(physicalSchema.filterNot(f => partPhys.contains(f.name)))
  }

  /** Physical name of a top-level (e.g. partition) column. */
  def physicalNameOf(logicalCol: String): String = physicalName(schema(logicalCol))

  // ---- active-file reconciliation ------------------------------------------

  private val dvStructType = StructType(Seq(
    StructField("storageType", StringType),
    StructField("pathOrInlineDv", StringType),
    StructField("offset", IntegerType),
    StructField("sizeInBytes", IntegerType),
    StructField("cardinality", LongType)))

  private val actionSchema = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("is_add", BooleanType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("partition_values", MapType(StringType, StringType), nullable = true),
    StructField("size_bytes", LongType, nullable = true),
    StructField("modification_time", LongType, nullable = true),
    StructField("stats", StringType, nullable = true),
    StructField("deletion_timestamp", LongType, nullable = true),
    StructField("deletion_vector", dvStructType, nullable = true),
    StructField("base_row_id", LongType, nullable = true),
    StructField("default_row_commit_version", LongType, nullable = true)))

  private def dvRow(dv: Option[DeletionVectorDescriptor]): Row = dv.map { d =>
    Row(d.storageType, d.pathOrInlineDv,
      d.offset.map(java.lang.Integer.valueOf).orNull, d.sizeInBytes, d.cardinality)
  }.orNull

  private def tailActionsDf: DataFrame = actionsDf(tail)

  /** Driver-held (version, action) pairs as the normalized action
    * relation (used for the commit tail, and for file actions inlined
    * in a v2 JSON checkpoint manifest). */
  private def actionsDf(pairs: Seq[(Long, Action)]): DataFrame = {
    val rows: Seq[Row] = pairs.collect {
      case (v, AddAction(a)) =>
        Row(v, true, a.path, a.partitionValues, a.size, a.modificationTime,
          a.stats.orNull, null, dvRow(a.deletionVector),
          a.baseRowId.map(java.lang.Long.valueOf).orNull,
          a.defaultRowCommitVersion.map(java.lang.Long.valueOf).orNull)
      case (v, RemoveAction(r)) =>
        Row(v, false, r.path, r.partitionValues, r.size.getOrElse(0L), 0L, null,
          java.lang.Long.valueOf(r.deletionTimestamp), null, null, null)
    }
    spark.createDataFrame(rows.asJava, actionSchema)
  }

  /** File actions inlined in a v2 JSON checkpoint manifest (rare — the
    * spec prefers sidecars — but legal), at the checkpoint's version. */
  private def v2InlineActionsDf: Option[DataFrame] = {
    val inline = v2ManifestActions.collect {
      case a @ AddAction(_) => (checkpointVersion.get, a: Action)
      case a @ RemoveAction(_) => (checkpointVersion.get, a: Action)
    }
    if (inline.isEmpty) None else Some(actionsDf(inline))
  }

  private def checkpointActionsDf: Option[DataFrame] =
    checkpointDf.map { df => checkpointFileActions(df) }

  private def checkpointFileActions(df: DataFrame): DataFrame = {
    // A v2 JSON manifest with inline file actions (or no sidecars) may
    // leave the parquet-backed side without an `add` column entirely.
    val parquetSide: Option[DataFrame] = if (!df.schema.fieldNames.contains("add")) None
    else Some {
      val addFields = df.schema("add").dataType.asInstanceOf[StructType].fieldNames.toSet
      // `writeStatsAsStruct` tables carry stats only as a typed struct
      // (`stats_parsed`) in the checkpoint — normalize back to the JSON form.
      val statsCol =
        if (addFields.contains("stats") && addFields.contains("stats_parsed"))
          coalesce(col("add.stats"), to_json(col("add.stats_parsed")))
        else if (addFields.contains("stats")) col("add.stats")
        else if (addFields.contains("stats_parsed")) to_json(col("add.stats_parsed"))
        else lit(null).cast(StringType)
      // DV descriptor survives checkpointing (without it a checkpoint
      // of a DV table would silently resurrect deleted rows).
      val dvCol =
        if (addFields.contains("deletionVector"))
          when(col("add.deletionVector.storageType").isNotNull,
            struct(
              col("add.deletionVector.storageType").as("storageType"),
              col("add.deletionVector.pathOrInlineDv").as("pathOrInlineDv"),
              col("add.deletionVector.offset").cast(IntegerType).as("offset"),
              col("add.deletionVector.sizeInBytes").cast(IntegerType).as("sizeInBytes"),
              col("add.deletionVector.cardinality").cast(LongType).as("cardinality")))
        else lit(null).cast(dvStructType)
      def addCol(f: String, dt: DataType): org.apache.spark.sql.Column =
        if (addFields.contains(f)) col(s"add.$f").cast(dt) else lit(null).cast(dt)
      val adds = df.where(col("add.path").isNotNull).select(
        lit(checkpointVersion.get).as("version"),
        lit(true).as("is_add"),
        col("add.path").as("path"),
        col("add.partitionValues").as("partition_values"),
        col("add.size").as("size_bytes"),
        col("add.modificationTime").as("modification_time"),
        statsCol.as("stats"),
        lit(null).cast(LongType).as("deletion_timestamp"),
        dvCol.cast(dvStructType).as("deletion_vector"),
        addCol("baseRowId", LongType).as("base_row_id"),
        addCol("defaultRowCommitVersion", LongType).as("default_row_commit_version"))
      // Checkpoints carry unexpired remove tombstones too; without them
      // a post-checkpoint re-add of the same path would resolve wrong
      // and vacuum-retention state would be lost.
      if (!df.schema.fieldNames.contains("remove")) adds
      else {
        val rmFields = df.schema("remove").dataType.asInstanceOf[StructType].fieldNames.toSet
        def rmCol(f: String, dt: DataType): org.apache.spark.sql.Column =
          if (rmFields.contains(f)) col(s"remove.$f").cast(dt) else lit(null).cast(dt)
        val removes = df.where(col("remove.path").isNotNull).select(
          lit(checkpointVersion.get).as("version"),
          lit(false).as("is_add"),
          col("remove.path").as("path"),
          rmCol("partitionValues", MapType(StringType, StringType)).as("partition_values"),
          coalesce(rmCol("size", LongType), lit(0L)).as("size_bytes"),
          lit(0L).as("modification_time"),
          lit(null).cast(StringType).as("stats"),
          rmCol("deletionTimestamp", LongType).as("deletion_timestamp"),
          lit(null).cast(dvStructType).as("deletion_vector"),
          lit(null).cast(LongType).as("base_row_id"),
          lit(null).cast(LongType).as("default_row_commit_version"))
        adds.unionByName(removes)
      }
    }
    (parquetSide.toSeq ++ v2InlineActionsDf.toSeq)
      .reduceOption(_.unionByName(_))
      .getOrElse(spark.createDataFrame(new java.util.ArrayList[Row](), actionSchema))
  }

  /** True when every file action of this snapshot is driver-held (the
    * JSON tail / inline manifest) — no parquet-backed checkpoint state.
    * Gates the local reconciliation fast path below. */
  private lazy val tailOnlyState: Boolean = checkpointDf.isEmpty

  /** All checkpoint+tail file actions reconciled per path: the row with
    * `is_add=true` is a live file, `is_add=false` an unexpired remove
    * tombstone. Last action per path wins; at equal version an add
    * (re-add) beats its tombstone.
    *
    * Two strategies with identical semantics:
    *  - checkpoint-backed state reconciles IN SPARK (window over the
    *    parquet checkpoint relation ∪ tail) — the file list is never
    *    driver-materialized;
    *  - checkpoint-less state (new/small tables, and every table in its
    *    first `checkpointInterval` commits) reconciles on the DRIVER
    *    over the already-parsed tail and hands Spark a LocalRelation:
    *    planning collects then run driver-only (zero shuffles, zero
    *    executor tasks) — measured ~1.2 s of per-snapshot task time on
    *    the mutation queries, pure scheduling overhead at 32 shuffle
    *    partitions for a handful of rows. */
  private def reconciledActions: DataFrame = {
    // no checkpointForm → no v2 manifest either: `tail` IS the state
    if (tailOnlyState) return localReconciled(tail)
    val all = checkpointActionsDf match {
      case Some(cp) => cp.unionByName(tailActionsDf)
      case None => tailActionsDf
    }
    val w = Window.partitionBy("path").orderBy(desc("version"), desc("is_add"))
    all.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn", "version")
  }

  /** Driver-side newest-action-per-path reconciliation (same rules as
    * the window form: version desc, add beats remove at equal version),
    * emitted as a LocalRelation in [[reconciledActions]]' post-drop
    * column layout. */
  private def localReconciled(pairs: Seq[(Long, Action)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    def rank(v: Long, a: Action): (Long, Int) =
      (v, a match { case AddAction(_) => 1; case _ => 0 })
    val best = scala.collection.mutable.HashMap.empty[String, (Long, Action)]
    pairs.foreach {
      case p @ (v, a @ AddAction(x)) =>
        if (best.get(x.path).forall { case (bv, ba) =>
          Ordering[(Long, Int)].lt(rank(bv, ba), rank(v, a)) }) best(x.path) = p
      case p @ (v, a @ RemoveAction(x)) =>
        if (best.get(x.path).forall { case (bv, ba) =>
          Ordering[(Long, Int)].lt(rank(bv, ba), rank(v, a)) }) best(x.path) = p
      case _ => ()
    }
    val rows: Seq[Row] = best.values.toSeq.sortBy(_._2 match {
      case AddAction(a) => a.path
      case RemoveAction(r) => r.path
      case _ => ""
    }).map {
      case (_, AddAction(a)) =>
        Row(true, a.path, a.partitionValues, a.size, a.modificationTime,
          a.stats.orNull, null, dvRow(a.deletionVector),
          a.baseRowId.map(java.lang.Long.valueOf).orNull,
          a.defaultRowCommitVersion.map(java.lang.Long.valueOf).orNull)
      case (_, RemoveAction(r)) =>
        Row(false, r.path, r.partitionValues, r.size.getOrElse(0L), 0L, null,
          java.lang.Long.valueOf(r.deletionTimestamp), null, null, null)
      case other => throw new IllegalStateException(s"unexpected action $other")
    }
    spark.createDataFrame(rows.asJava,
      StructType(actionSchema.filterNot(_.name == "version")))
  }

  /** Active add-actions: one row per live data file. Checkpoint-backed
    * state is cached (every log-plane analytic runs off this relation
    * without touching data files); the LocalRelation fast path is NOT —
    * caching would promote driver-only collects back into executor
    * cache-scan tasks, re-adding exactly the scheduling overhead the
    * fast path removes. */
  lazy val adds: DataFrame = {
    val df = reconciledActions
      .where(col("is_add"))
      .drop("is_add", "deletion_timestamp")
    if (tailOnlyState) df else df.cache()
  }

  /** Unexpired remove tombstones (paths whose latest action is a
    * remove): checkpointed so other engines keep vacuum-retention
    * safety across our checkpoints. */
  lazy val tombstones: DataFrame =
    reconciledActions
      .where(!col("is_add"))
      .select(col("path"), col("deletion_timestamp"), col("partition_values"),
        col("size_bytes"))

  /** Latest idempotent-writer state per appId (`txn` actions), tail
    * winning over checkpoint. */
  lazy val setTransactions: Map[String, SetTransaction] = {
    val fromCp: Map[String, SetTransaction] = checkpointDf match {
      case Some(df) if df.schema.fieldNames.contains("txn") =>
        df.where(col("txn.appId").isNotNull).select("txn.*").collect().map { r =>
          def idx(f: String) = r.schema.fieldIndex(f)
          val t = SetTransaction(
            r.getString(idx("appId")),
            r.getLong(idx("version")),
            if (r.schema.fieldNames.contains("lastUpdated") && !r.isNullAt(idx("lastUpdated")))
              Some(r.getLong(idx("lastUpdated"))) else None)
          t.appId -> t
        }.toMap
      case _ => Map.empty
    }
    val fromManifest = v2ManifestActions.collect { case TxnAction(t) => t }
      .map(t => t.appId -> t).toMap
    tail.collect { case (_, TxnAction(t)) => t }
      .foldLeft(fromCp ++ fromManifest)((m, t) => m + (t.appId -> t))
  }

  /** Live domain-metadata state: latest action per domain wins,
    * tombstones (`removed`) delete the domain; tail over manifest over
    * checkpoint, same precedence as [[setTransactions]]. Checkpoints
    * carry live domains only (tombstones have no readers to protect —
    * unlike remove actions there is no file to vacuum). */
  lazy val domainMetadata: Map[String, DomainMetadata] = {
    val fromCp: Map[String, DomainMetadata] = checkpointDf match {
      case Some(df) if df.schema.fieldNames.contains("domainMetadata") =>
        df.where(col("domainMetadata.domain").isNotNull)
          .select("domainMetadata.*").collect().map { r =>
            def idx(f: String) = r.schema.fieldIndex(f)
            val d = DomainMetadata(
              r.getString(idx("domain")),
              Option(r.getString(idx("configuration"))).getOrElse(""),
              r.schema.fieldNames.contains("removed") &&
                !r.isNullAt(idx("removed")) && r.getBoolean(idx("removed")))
            d.domain -> d
          }.toMap
      case _ => Map.empty
    }
    val fromManifest = v2ManifestActions
      .collect { case DomainMetadataAction(d) => d }
      .map(d => d.domain -> d).toMap
    tail.collect { case (_, DomainMetadataAction(d)) => d }
      .foldLeft(fromCp ++ fromManifest)((m, d) => m + (d.domain -> d))
      .filterNot(_._2.removed)
  }

  /** `adds` with `add.stats` JSON exploded into typed columns:
    * `num_records`, `min.<col>`, `max.<col>`, `null_count.<col>`.
    * Stats in the log are keyed by PHYSICAL column names; the exposed
    * relation is logical (positional struct cast renames — physical and
    * logical stats schemas are structurally identical). */
  lazy val addsFlat: DataFrame = {
    val stPhys = Snapshot.statsSchema(physicalSchema)
    val stLog = Snapshot.statsSchema(schema)
    def logicalType(f: String) = stLog(f).dataType
    adds
      .withColumn("__stats", from_json(col("stats"), stPhys))
      .select(col("path"), col("partition_values"), col("size_bytes"),
        col("modification_time"),
        col("__stats.numRecords").as("num_records"),
        col("__stats.minValues").cast(logicalType("minValues")).as("min"),
        col("__stats.maxValues").cast(logicalType("maxValues")).as("max"),
        col("__stats.nullCount").cast(logicalType("nullCount")).as("null_count"))
  }

  private[delta] def rowToAddFile(r: Row): AddFile = {
    val dv = Option(r.getAs[Row]("deletion_vector")).map { d =>
      DeletionVectorDescriptor(
        storageType = d.getAs[String]("storageType"),
        pathOrInlineDv = d.getAs[String]("pathOrInlineDv"),
        offset = Option(d.getAs[java.lang.Integer]("offset")).map(_.intValue),
        sizeInBytes = d.getAs[Int]("sizeInBytes"),
        cardinality = d.getAs[Long]("cardinality"))
    }
    AddFile(
      path = r.getAs[String]("path"),
      partitionValues = Option(r.getAs[scala.collection.Map[String, String]]("partition_values"))
        .map(_.toMap).getOrElse(Map.empty),
      size = r.getAs[Long]("size_bytes"),
      modificationTime = r.getAs[Long]("modification_time"),
      stats = Option(r.getAs[String]("stats")),
      deletionVector = dv,
      baseRowId = Option(r.getAs[java.lang.Long]("base_row_id")).map(_.longValue),
      defaultRowCommitVersion =
        Option(r.getAs[java.lang.Long]("default_row_commit_version")).map(_.longValue),
      numRecordsStat =
        if (r.schema.fieldNames.contains("num_records"))
          Option(r.getAs[java.lang.Long]("num_records")).map(_.longValue)
        else None)
  }

  /** FULL driver-side active-file list, per-file stats JSON included.
    * This is the expensive planner — stats dominate driver memory at
    * large file counts (KBs per file vs ~100 B for everything else) —
    * so it is reserved for the paths that re-emit add entries verbatim
    * and must carry the stats forward: checkpointing, CLONE, RESTORE,
    * row-tracking backfill. Scans and mutations plan via [[planFiles]] /
    * [[planFilesForPredicate]] instead. */
  lazy val activeFiles: Seq[AddFile] = {
    val out = adds.collect().toSeq.map(rowToAddFile)
    Snapshot.driverFileRowsCollected.addAndGet(out.size)
    out
  }

  /** [[adds]] with the stats JSON projected out — the scan/mutation
    * PLANNING relation. Building a scan or a rewrite needs path,
    * partition values, size, and the DV descriptor, never the stats
    * string; stats-based pruning runs in Spark over [[addsFlat]]
    * BEFORE anything is collected. */
  private[graft] lazy val slimAdds: DataFrame =
    adds
      // keep the one 8-byte stat planning integrity checks need (the
      // sidecar entry-count invariant) while shedding the KB-sized
      // stats JSON that dominates driver memory at large file counts
      .withColumn("num_records",
        get_json_object(col("stats"), "$.numRecords").cast("long"))
      .withColumn("stats", lit(null).cast(StringType))

  /** Memo for the no-predicate [[planFiles]] collect: a Snapshot is
    * immutable and the large-table flows plan several times per
    * operation (coverage pass, probe coverage, scan build — at 10⁶
    * files each collect costs seconds, LogScaleProbe). SOFT reference
    * keeps the slim-planning memory posture: under heap pressure the
    * GC reclaims the memo and the next call re-collects. */
  private val planFilesMemo = new java.util.concurrent.atomic.AtomicReference[
    java.lang.ref.SoftReference[Seq[AddFile]]]()

  /** Bounded planning collect: the (slim) active files, optionally
    * pruned IN SPARK by `pred` over the adds columns (`path`,
    * `partition_values`, `size_bytes`, `deletion_vector`, ...). The
    * default planner for reads, mutations, and maintenance. The
    * no-predicate result is memoized per snapshot (the collected-rows
    * observable counts only genuine materializations). */
  def planFiles(pred: Option[org.apache.spark.sql.Column] = None): Seq[AddFile] =
    pred match {
      case Some(p) =>
        val out = slimAdds.where(p).collect().toSeq.map(rowToAddFile)
        Snapshot.driverFileRowsCollected.addAndGet(out.size)
        out
      case None =>
        Option(planFilesMemo.get()).flatMap(r => Option(r.get())).getOrElse {
          val out = slimAdds.collect().toSeq.map(rowToAddFile)
          Snapshot.driverFileRowsCollected.addAndGet(out.size)
          planFilesMemo.set(new java.lang.ref.SoftReference(out))
          out
        }
    }

  /** Planning collect pruned by a best-effort stats/partition
    * translation of a ROW predicate ([[Skipping.pruningPredicate]]):
    * only files that MAY contain matching rows are collected — the
    * delta-spark data-skipping move, applied to mutation planning. A
    * predicate with no translatable conjunct falls back to all (slim)
    * files. */
  private[graft] def planFilesForPredicate(
      rowPredicate: org.apache.spark.sql.Column): Seq[AddFile] =
    Skipping.pruningPredicate(this, rowPredicate) match {
      case Some(p) => planFilesPruned(p)
      case None => planFiles()
    }

  /** Slim planning collect of the files whose [[addsFlat]] row
    * (`min.<c>` / `max.<c>` / `null_count.<c>` / `partition_values`)
    * satisfies the FILE predicate `filePred`. Pruning runs IN SPARK over
    * the metadata relation; only surviving AddFiles are collected to the
    * driver — at 10⁷ files with a selective predicate, the difference
    * between a handful of rows and hundreds of driver MB. */
  private[graft] def planFilesPruned(
      filePred: org.apache.spark.sql.Column): Seq[AddFile] = {
    val survivors = addsFlat.where(filePred).select("path")
    val out = slimAdds.join(survivors, Seq("path"), "left_semi")
      .collect().toSeq.map(rowToAddFile)
    Snapshot.driverFileRowsCollected.addAndGet(out.size)
    out
  }

  /** Like [[planFilesForPredicate]] but returns FULL rows (stats
    * included) when the pruned candidate set is small enough to hold
    * its stats on the driver (`cap` files) — selective-mutation
    * planners that must RE-EMIT touched adds verbatim (DV marking)
    * skip a second full-row fetch this way. The Boolean reports
    * whether the rows actually carry stats: an over-cap candidate set
    * or an unprunable predicate falls back to slim planning and the
    * caller refetches just its touched files. */
  private[graft] def planFilesForPredicateFull(
      rowPredicate: org.apache.spark.sql.Column,
      cap: Int = 65536): (Seq[AddFile], Boolean) =
    Skipping.pruningPredicate(this, rowPredicate) match {
      case Some(p) =>
        val survivors = addsFlat.where(p).select("path")
        val full = adds.join(survivors, Seq("path"), "left_semi")
          .limit(cap + 1).collect().toSeq.map(rowToAddFile)
        Snapshot.driverFileRowsCollected.addAndGet(full.size)
        if (full.size <= cap) (full, true)
        else (planFilesForPredicate(rowPredicate), false)
      case None => (planFiles(), false)
    }

  /** Collect only the active files matching `pred` (evaluated over the
    * [[adds]] relation IN SPARK — the driver never holds the non-matching
    * files), stats included: the shape for fetching FULL entries of a
    * small, already-identified path set. */
  def collectAddFiles(pred: org.apache.spark.sql.Column): Seq[AddFile] = {
    val out = adds.where(pred).collect().toSeq.map(rowToAddFile)
    Snapshot.driverFileRowsCollected.addAndGet(out.size)
    out
  }

  /** Stream the active files (optionally filtered) one Spark partition
    * at a time — O(partition) driver memory instead of O(table files).
    * For planners that batch work per partition-value group or page
    * through very large file sets. */
  def iterateAddFiles(
      pred: Option[org.apache.spark.sql.Column] = None): Iterator[AddFile] = {
    val src = pred.map(adds.where).getOrElse(adds)
    import scala.jdk.CollectionConverters._
    src.toLocalIterator().asScala.map(rowToAddFile)
  }

  /** Stream the (slim) planning rows in BOUNDED batches — the posture
    * for tables whose active-file list, even pruned, exceeds driver
    * memory (~10⁸ small files on a 100 TB table). The metadata relation
    * is first repartitioned to ~`batchFiles` rows per partition so
    * `toLocalIterator` never holds more than one batch of rows; each
    * yielded batch materializes at most `batchFiles` AddFiles. The
    * repartition is one cheap metadata shuffle; batch order is
    * arbitrary (scan composition is set-semantied). */
  def planFileBatches(
      pred: Option[org.apache.spark.sql.Column] = None,
      batchFiles: Int = 65536): Iterator[Seq[AddFile]] = {
    require(batchFiles > 0, s"batchFiles must be > 0, got $batchFiles")
    val src = pred.map(slimAdds.where).getOrElse(slimAdds)
    val n = src.count()
    if (n == 0) return Iterator.empty
    val parts = math.max(1, math.ceil(n.toDouble / batchFiles).toInt)
    import scala.jdk.CollectionConverters._
    src.repartition(parts).toLocalIterator().asScala
      .map(rowToAddFile).grouped(batchFiles).map { b =>
        Snapshot.driverFileRowsCollected.addAndGet(b.size)
        Snapshot.driverPlanPeakBatch.accumulateAndGet(b.size.toLong, Math.max)
        b
      }
  }

  /** Scan the table through [[planFileBatches]]: each bounded batch
    * becomes an ordinary [[readFiles]] sub-scan (partition-value
    * attachment and DV routing per batch), combined in ONE n-ary Union
    * (a pairwise fold would re-analyze a growing plan per batch —
    * O(batches²) planning work). Honest memory accounting: what this
    * bounds to O(batchFiles) is the MATERIALIZED AddFile planning rows
    * (stats strings, partition maps, DV descriptors — the heavyweight
    * per-file objects); the union plan itself still holds every
    * surviving path string, which any Spark scan must (delta-spark's
    * file index has the same floor). [[read]] engages it past
    * [[Snapshot.AutoBatchFiles]] active files; call it directly to opt
    * in below that. */
  def readBatched(
      pred: Option[org.apache.spark.sql.Column] = None,
      batchFiles: Int = 65536): DataFrame = {
    val parts = planFileBatches(pred, batchFiles).map(readFiles).toSeq
    if (parts.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    else org.apache.spark.sql.graftshims.SqlShims.unionAll(parts)
  }

  def numFiles: Long = adds.count()

  def absolutePath(f: AddFile): String =
    new org.apache.hadoop.fs.Path(log.rootPath, DeltaLog.decodePath(f.path)).toString

  // ---- scan ----------------------------------------------------------------

  /** Read the table at this version: log-defined file set (NOT directory
    * listing), with partition columns re-attached from the log's
    * `partitionValues` and cast from their string encoding to the
    * declared type. */
  def read(): DataFrame = read(Snapshot.AutoBatchFiles)

  /** [[read]] with the auto-batching threshold as a parameter, so a
    * test can make a small table count as "very many files". */
  private[delta] def read(autoBatchFiles: Long): DataFrame =
    // AUTO-engaged bounded planning: when the version's .crc checksum
    // (a free driver-side read — no Spark job on the hot path) says
    // the active-file count exceeds the threshold, stream the file
    // index in bounded batches instead of one driver collect, so the
    // 10⁶⁺-file posture is the default rather than a flag users must
    // know about. House-written tables always carry .crc; a legacy
    // table without one keeps the direct path ([[readBatched]] remains
    // its explicit opt-in).
    if (crcNumFiles.exists(_ > autoBatchFiles)) readBatched(None, 65536)
    else readFiles(planFiles())

  /** File count from the version's `.crc`, cached: the checksum of a
    * fixed (log, version) is immutable, and read() is a hot path — an
    * uncached exists+open+parse would cost object-store metadata round
    * trips on every call. */
  private lazy val crcNumFiles: Option[Long] =
    Checksum.read(log, version).map(_.numFiles)

  /** Scan a chosen subset of the active files (used by stats/partition
    * file pruning — see [[graft.delta.Skipping]]).
    *
    * Column-mapped tables (name mode): data files and the log's
    * `partitionValues` use physical names; the scan reads the physical
    * schema and renames back to logical via positional struct casts
    * (identity when mapping is off). */
  def readFiles(files: Seq[AddFile]): DataFrame = {
    if (files.isEmpty) {
      return spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    }
    // DV-free scans (the overwhelmingly common case) skip row lineage
    // entirely — requesting `_metadata.row_index` just to drop it would
    // put a generated column in the hot scan path for nothing.
    if (!files.exists(_.deletionVector.exists(_.cardinality > 0)))
      scanFiles(files, withRowLineage = false)
        .select(schema.fieldNames.map(col).toSeq: _*)
    else
      readFilesLineage(files).select(schema.fieldNames.map(col).toSeq: _*)
  }

  /** [[readFiles]] plus per-row lineage columns `__file`
    * (`_metadata.file_path` of the scan) and `__row`
    * (`_metadata.row_index`) — the handle targeted mutations need to
    * attribute rows to files. Unlike `input_file_name()` the lineage is
    * a real column, so it survives the deletion-vector anti-join (and
    * any later shuffle). */
  private[graft] def readFilesLineage(
      files: Seq[AddFile],
      extraDataCols: Seq[StructField] = Nil): DataFrame = {
    if (files.isEmpty) {
      val withLineage = StructType(schema.fields ++ extraDataCols ++ Seq(
        StructField("__file", StringType), StructField("__row", LongType)))
      return spark.createDataFrame(new java.util.ArrayList[Row](), withLineage)
    }
    val (dved, clean) = files.partition(_.deletionVector.exists(_.cardinality > 0))
    val cleanDf =
      if (clean.isEmpty) None
      else Some(scanFiles(clean, withRowLineage = true, extraDataCols))
    val dvDf =
      if (dved.isEmpty) None else Some(applyDeletionVectors(dved, extraDataCols))
    (cleanDf.toSeq ++ dvDf.toSeq).reduce(_.unionByName(_))
      .withColumnRenamed("__dv_path", "__file")
      .withColumnRenamed("__dv_row", "__row")
      .select((schema.fieldNames.toSeq ++ extraDataCols.map(_.name) ++
        Seq("__file", "__row")).map(col): _*)
  }

  /** Scan a file subset with partition-value attachment; when
    * `withRowLineage` the result additionally carries `__dv_path`
    * (the scan's `_metadata.file_path`) and `__dv_row`
    * (`_metadata.row_index`) for deletion-vector filtering.
    * `extraDataCols` are NON-schema physical columns to read as-is
    * (nullable — files lacking them yield null): the materialized
    * row-tracking columns. */
  private def scanFiles(files: Seq[AddFile], withRowLineage: Boolean,
      extraDataCols: Seq[StructField] = Nil): DataFrame = {
    val partCols = metadata.partitionColumns
    // id-mode resolution is by parquet field id; the flag is a session
    // conf (no per-read option exists) and STAYS SET for the session —
    // restoring it after this call would race the lazy scan. Known
    // scope: it only changes resolution for read schemas that carry
    // parquet.field.id metadata, which ours do only for id-mode tables;
    // a user-supplied schema with that metadata on an unrelated read
    // would also switch to id resolution in this session.
    if (columnMappingMode == "id") {
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    }
    val dataFieldsLogical = schema.filterNot(f => partCols.contains(f.name))
    val dataSchemaPhysical = StructType(
      physicalSchema.fields.zip(schema.fields).collect {
        case (pf, lf) if !partCols.contains(lf.name) => pf
      })
    // The physical→logical rename is a struct cast; cast to a NOT NULL
    // nested field is rejected by the analyzer, so the cast target
    // relaxes nullability (the declared schema still governs metadata —
    // Spark itself treats parquet-sourced columns as nullable).
    def relaxNullable(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        StructField(f.name, relaxNullable(f.dataType), nullable = true)))
      case a: ArrayType =>
        ArrayType(relaxNullable(a.elementType), containsNull = true)
      case m: MapType => MapType(relaxNullable(m.keyType),
        relaxNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
    // One parquet scan per distinct partition tuple (bounded by live
    // partition count), each with its literal partition values attached;
    // unpartitioned tables collapse to a single multi-file scan.
    val groups = files.groupBy(_.partitionValues).toSeq
    val readSchema = StructType(dataSchemaPhysical.fields ++
      extraDataCols.map(_.copy(nullable = true)))
    val parts = groups.map { case (pv, fs) =>
      val scanned = spark.read.schema(readSchema).parquet(fs.map(absolutePath): _*)
      val renames = dataSchemaPhysical.fields.zip(dataFieldsLogical).map { case (pf, lf) =>
        col(s"`${pf.name}`").cast(relaxNullable(lf.dataType)).as(lf.name)
      }.toSeq
      val extras = extraDataCols.map(f => col(s"`${f.name}`"))
      val lineage =
        if (withRowLineage)
          Seq(col("_metadata.file_path").as("__dv_path"),
            col("_metadata.row_index").as("__dv_row"))
        else Nil
      val renamed = scanned.select(renames ++ extras ++ lineage: _*)
      partCols.foldLeft(renamed) { (df, pc) =>
        val dt = schema(pc).dataType
        val raw = pv.get(physicalNameOf(pc)).orNull
        df.withColumn(pc, (if (raw == null) lit(null) else lit(raw)).cast(dt))
      }
    }
    parts.reduce(_.unionByName(_))
  }

  /** Candidate `_metadata.file_path` spellings of an active file — the
    * qualified Hadoop path and its URI form (they differ in scheme
    * slash count, e.g. `file:/x` vs `file:///x`). The deleted-row
    * relation emits every candidate; extra spellings are harmless on
    * the anti-join side because they can only re-name the SAME file. */
  /** Qualified-root prefix forms, computed ONCE per snapshot: every
    * candidate spelling of a plain relative add path is one of these
    * prefixes + the decoded path. At 10⁶-file planning scale the
    * per-file Path/URI construction and regex of the general route is
    * the dominant driver cost of coverage/refresh/SHOW INDEXES
    * (measured by LogScaleProbe), and add paths are overwhelmingly
    * plain `part-*.parquet` names. */
  private lazy val rootPrefixForms: Seq[String] = {
    val q = log.fs.makeQualified(log.rootPath)
    val forms = Seq(q.toString, q.toUri.toString)
    (forms ++ forms.map(
      Snapshot.SchemeSingleSlashRe.pattern.matcher(_).replaceFirst("$1:///")))
      .distinct.map(r => if (r.endsWith("/")) r else r + "/")
  }

  /** A decoded relative path is "plain" when string concatenation with
    * the qualified root provably equals the general Path/URI route:
    * URI-unreserved ASCII only (nothing `Path.toUri` would percent-
    * encode), no empty/`.`/`..` segments (nothing `Path` would
    * collapse), not absolute, no embedded scheme. */
  private def plainRelPath(d: String): Boolean = {
    if (d.isEmpty || d.charAt(0) == '/') return false
    var i = 0
    var segStart = 0
    while (i <= d.length) {
      if (i == d.length || d.charAt(i) == '/') {
        val seg = d.substring(segStart, i)
        if (seg.isEmpty || seg == "." || seg == "..") return false
        segStart = i + 1
      } else {
        val c = d.charAt(i)
        val ok = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9') || c == '-' || c == '_' || c == '.' ||
          c == '=' || c == '+'
        if (!ok) return false
      }
      i += 1
    }
    true
  }

  /** Memo for [[activeCandNorms]] — same soft-reference posture as the
    * planFiles memo. */
  private val candNormsMemo = new java.util.concurrent.atomic.AtomicReference[
    java.lang.ref.SoftReference[Seq[(AddFile, Seq[String])]]]()

  /** Every active file with its NORMALIZED candidate spellings — the
    * sidecar-coverage / SHOW-INDEXES planning relation. Soft-memoized
    * per snapshot: a maintenance sweep over a multi-index table (the
    * post-commit auto-refresh hook, the inventory) normalizes the
    * 10⁶-file set once and every sidecar shares it. */
  private[graft] def activeCandNorms(): Seq[(AddFile, Seq[String])] =
    Option(candNormsMemo.get()).flatMap(r => Option(r.get())).getOrElse {
      val out = planFiles()
        .map(f => f -> pathCandidates(f).map(Mutations.normalize))
      candNormsMemo.set(new java.lang.ref.SoftReference(out))
      out
    }

  private val candNormIdxMemo = new java.util.concurrent.atomic.AtomicReference[
    java.lang.ref.SoftReference[(Map[String, AddFile], Map[String, AddFile])]]()

  /** (all-active, DV-free) lookup maps from normalized candidate
    * spelling to AddFile — the coverage/inventory join sides, built
    * once per snapshot (a 2·10⁶-entry map build costs seconds at
    * 10⁶ files; every sidecar's refresh and the SHOW INDEXES rows
    * share these). The DV-free map subtracts DV'd files' norms from
    * the all-active map — identical to building from the DV-free
    * subset, since distinct add paths cannot share a normalized
    * candidate spelling. */
  private[graft] def candNormIndexes(): (Map[String, AddFile], Map[String, AddFile]) =
    Option(candNormIdxMemo.get()).flatMap(r => Option(r.get())).getOrElse {
      val all = activeCandNorms()
      val byAll: Map[String, AddFile] =
        all.flatMap { case (f, ns) => ns.map(_ -> f) }.toMap
      val dvdNorms = all.collect {
        case (f, ns) if f.deletionVector.exists(_.cardinality > 0) => ns
      }.flatten
      val out = (byAll, byAll -- dvdNorms)
      candNormIdxMemo.set(new java.lang.ref.SoftReference(out))
      out
    }

  private[graft] def pathCandidates(f: AddFile): Seq[String] = {
    val decoded = DeltaLog.decodePath(f.path)
    if (plainRelPath(decoded)) rootPrefixForms.map(_ + decoded)
    else {
      val q = log.fs.makeQualified(
        new org.apache.hadoop.fs.Path(log.rootPath, decoded))
      val forms = Seq(q.toString, q.toUri.toString)
      (forms ++ forms.map(
        Snapshot.SchemeSingleSlashRe.pattern.matcher(_).replaceFirst("$1:///")))
        .distinct
    }
  }

  /** Scan files that carry deletion vectors and drop their deleted
    * rows: the scan exposes per-row lineage (`_metadata.file_path`,
    * `_metadata.row_index`) and anti-joins the deleted-(file,row) set,
    * which is decoded from the DV bitmaps ON EXECUTORS (one task per
    * descriptor) — the driver never holds a deleted-row list. Spark
    * broadcasts the deleted relation when small (the common case:
    * deletes touch a fraction of rows), so the filter adds no shuffle
    * to the scan side. */
  private def applyDeletionVectors(
      dved: Seq[AddFile],
      extraDataCols: Seq[StructField]): DataFrame = {
    val scanned = scanFiles(dved, withRowLineage = true, extraDataCols)
    val descs: Seq[(Seq[String], DeletionVectorDescriptor)] =
      dved.map(f => (pathCandidates(f), f.deletionVector.get))
    val confEntries: Array[(String, String)] = {
      import scala.jdk.CollectionConverters._
      spark.sessionState.newHadoopConf().asScala
        .map(e => e.getKey -> e.getValue).toArray
    }
    val rootUri = log.fs.makeQualified(log.rootPath).toUri.toString
    val deletedRows = spark.sparkContext
      .parallelize(descs, math.max(1, math.min(descs.size, 32)))
      .flatMap { case (cands, dv) =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confEntries.foreach { case (k, v) => conf.set(k, v) }
        val root = new org.apache.hadoop.fs.Path(new java.net.URI(rootUri))
        val fsx = root.getFileSystem(conf)
        val rows = DeletionVectors.readRows(fsx, root, dv)
        for (c <- cands; r <- rows) yield Row(c, r)
      }
    val deletedDf = spark.createDataFrame(deletedRows, StructType(Seq(
      StructField("__del_path", StringType, nullable = false),
      StructField("__del_row", LongType, nullable = false))))
    scanned
      .join(deletedDf,
        scanned("__dv_path") === deletedDf("__del_path") &&
          scanned("__dv_row") === deletedDf("__del_row"),
        "left_anti")
  }
}

object Snapshot {
  /** `scheme:/` with NO second slash — precompiled once (the previous
    * per-call `String.replaceFirst` recompiled it per candidate, a
    * measurable cost at 10⁶-file planning scale). */
  private[delta] val SchemeSingleSlashRe =
    """^([a-zA-Z][a-zA-Z0-9+.-]*):/(?!/)""".r

  /** Running count of add-file rows materialized to the driver across
    * all snapshots — the observable FileIndexSpec uses to assert that
    * planning stays bounded (a full 10⁵-add collect is visible here). */
  private[graft] val driverFileRowsCollected =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** High-water mark of the LARGEST single planning batch materialized
    * to the driver (see [[Snapshot.planFileBatches]]) — the observable
    * for asserting that batched scan planning is genuinely bounded. */
  private[graft] val driverPlanPeakBatch =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Active-file count (from the `.crc`) above which [[Snapshot.read]]
    * plans in bounded batches instead of one driver collect. */
  private[graft] val AutoBatchFiles: Long = 1000000L

  /** Schema of the `add.stats` JSON document, derived from the table
    * schema: `minValues`/`maxValues` mirror the table's atomic columns
    * (nested structs recursed; array/map/binary carry no stats),
    * `nullCount` has the same shape with long leaves. */
  def statsSchema(table: StructType): StructType = {
    def minMax(dt: DataType): Option[DataType] = dt match {
      case s: StructType =>
        val kept = s.fields.flatMap(f => minMax(f.dataType).map(t => StructField(f.name, t)))
        if (kept.isEmpty) None else Some(StructType(kept))
      case _: ArrayType | _: MapType | BinaryType => None
      case other => Some(other)
    }
    def counts(dt: DataType): DataType = dt match {
      case s: StructType =>
        StructType(s.fields.map(f => StructField(f.name, counts(f.dataType))))
      case _ => LongType
    }
    val mm = minMax(table).getOrElse(StructType(Nil))
    StructType(Seq(
      StructField("numRecords", LongType),
      StructField("minValues", mm),
      StructField("maxValues", mm),
      StructField("nullCount", counts(table))))
  }
}
