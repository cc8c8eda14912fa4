package graft.delta

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata => _, _}
import scala.collection.mutable.ArrayBuffer

/** Transactional Delta writes with Spark primitives (no delta-spark).
  *
  * Overwrite commit shape pinned by the reference corpus
  * (`with_checkpoint/.../00000000000000000003.json`): `add` for each new
  * file (with per-file numRecords/min/max/nullCount stats), `remove` for
  * every previously-active file, plus `commitInfo` — the same effect the
  * reference gets from `write_deltalake(mode="overwrite")`
  * (/root/reference/levi/__init__.py:347-351).
  *
  * Scale posture: data lands via a normal distributed `df.write.parquet`
  * into a staging dir under the table root, files are renamed into place
  * (same filesystem → metadata-only), and stats are read from the
  * written files' parquet footers (a Spark aggregation covers only
  * the files whose footers cannot reproduce them). Only the commit
  * JSON itself is driver-side.
  */
object TransactionWriter {

  /** Output file size the optimized write and auto-compaction aim at. */
  private val TargetFileBytes = 128L * 1024 * 1024

  /** Small files auto-compaction waits for before it folds them. */
  private val AutoCompactMinFiles = 8

  /** Full-table overwrite (also creates the table at version 0). Returns
    * the committed version. */
  def overwrite(
      log: DeltaLog,
      df: DataFrame,
      partitionBy: Option[Seq[String]] = None,
      configuration: Map[String, String] = Map.empty,
      operation: String = "WRITE",
      dataChange: Boolean = true,
      preservedCols: Seq[String] = Nil,
      /** Domain metadata riding INSIDE the overwrite commit (with the
        * `domainMetadata` feature upgrade when needed) — a creator
        * that previously committed the table and then its state domain
        * separately lands both atomically in one commit. */
      domains: Seq[(String, String)] = Nil): Long = {
    val prev: Option[Snapshot] =
      if (log.fs.exists(log.logPath) &&
          { val (c, p) = log.listLog(); c.nonEmpty || p.nonEmpty })
        Some(log.snapshot)
      else None
    val domainActions: Seq[Action] =
      if (domains.isEmpty) Nil
      else {
        // replay keeps the LAST protocol action of a commit, so the
        // upgraded protocol appended here wins over the plain create
        // protocol writeAndCommit emits for a new table — end state
        // identical to the old create-then-SET-DOMAIN two-commit chain
        val upgrade = prev match {
          case Some(s) => Domains.featureUpgrade(s, Set("domainMetadata"))
          case None => Seq(ProtocolAction(Protocol(1, 7,
            writerFeatures = Set("appendOnly", "invariants", "domainMetadata"))))
        }
        upgrade ++ domains.map { case (d, c) =>
          DomainMetadataAction(DomainMetadata(d, c)) }
      }
    writeAndCommit(log, df, prev,
      removes = prev.toSeq.flatMap(_.planFiles()),
      partitionBy = partitionBy, configuration = configuration,
      operation = operation,
      mode = if (prev.isEmpty) "ErrorIfExists" else "Overwrite",
      dataChange = dataChange, preservedCols = preservedCols,
      extraActions = domainActions)
  }

  /** Overwrite/create with an explicitly DECLARED schema — the way to
    * create tables whose fields carry metadata the frame's runtime
    * schema can't express: generated columns
    * ([[GeneratedColumns.field]]), NOT NULL (nullable = false), column
    * invariants. The frame may omit generated columns entirely; they
    * are computed during the write. */
  def overwriteWithSchema(
      log: DeltaLog,
      df: DataFrame,
      declared: StructType,
      partitionBy: Option[Seq[String]] = None,
      configuration: Map[String, String] = Map.empty): Long = {
    val prev: Option[Snapshot] =
      if (log.fs.exists(log.logPath) &&
          { val (c, p) = log.listLog(); c.nonEmpty || p.nonEmpty })
        Some(log.snapshot)
      else None
    writeAndCommit(log, df, prev,
      removes = prev.toSeq.flatMap(_.planFiles()),
      partitionBy = partitionBy, configuration = configuration,
      operation = "WRITE",
      mode = if (prev.isEmpty) "ErrorIfExists" else "Overwrite",
      declaredSchema = Some(declared))
  }

  /** Append commit: add new files (with full per-file stats) without
    * removing any existing ones. */
  def append(
      log: DeltaLog,
      df: DataFrame,
      partitionBy: Option[Seq[String]] = None,
      operation: String = "WRITE"): Long = {
    val prev = Some(log.snapshot)
    writeAndCommit(log, df, prev, removes = Nil,
      partitionBy = partitionBy, configuration = Map.empty,
      operation = operation, mode = "Append")
  }

  /** Schema-evolution append (delta mergeSchema): new columns in `df`
    * are added to the table schema (nullable); existing files read them
    * as null through the schema-driven scan. Overlapping columns must
    * keep their types — widening/retyping still requires an overwrite.
    * The commit carries the merged metaData alongside the adds. */
  def appendMergeSchema(
      log: DeltaLog,
      df: DataFrame,
      partitionBy: Option[Seq[String]] = None): Long = {
    val prev = log.snapshot
    val existing = prev.metadata.schema
    val incoming = df.schema
    val incompatible = incoming.fields.flatMap { f =>
      existing.fields.find(_.name == f.name)
        .filter(e => forceNullable(e.dataType) != forceNullable(f.dataType))
        .map(e => s"${f.name}: table ${e.dataType.simpleString} vs incoming ${f.dataType.simpleString}")
    }
    require(incompatible.isEmpty,
      s"mergeSchema cannot change column types (${incompatible.mkString("; ")}); " +
        "use overwrite to retype")
    val newFields = incoming.fields.filterNot(f => existing.fieldNames.contains(f.name))
      .map(_.copy(nullable = true))
    val merged = StructType(existing.fields ++ newFields)
    val shaped = df.select(merged.fields.map { f =>
      if (incoming.fieldNames.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
    writeAndCommit(log, shaped, Some(prev), removes = Nil,
      partitionBy = partitionBy, configuration = Map.empty,
      operation = "WRITE", mode = "AppendEvolve",
      // the committed metaData must carry the MERGED schema (existing
      // fields keep their declared nullability) — the runtime schema of
      // `shaped` could silently flip a nullable column to non-nullable
      declaredSchema = Some(merged))
  }

  /** Append with optimistic-concurrency retry: a blind append conflicts
    * with NOTHING (it removes no files and reads no prior state), so on
    * a lost commit race the only correction needed is re-resolving the
    * next version — the Delta conflict matrix's always-safe cell.
    * Overwrites/rewrites are NOT auto-retried: they must re-validate
    * that their removed files are still active. */
  def appendWithRetry(
      log: DeltaLog,
      df: DataFrame,
      partitionBy: Option[Seq[String]] = None,
      maxRetries: Int = 3): Long = {
    var attempt = 0
    while (true) {
      try return append(log, df, partitionBy)
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    -1L // unreachable
  }

  /** Idempotent append: rides a `txn` action (appId, version) in the
    * same commit. If the snapshot already records `version` (or later)
    * for `appId`, the batch was committed before — skip. This is the
    * exactly-once contract streaming sinks need across retries
    * (Delta spec: SetTransaction). Returns the committed (or
    * already-committed) table version. */
  def appendWithTxn(
      log: DeltaLog,
      df: DataFrame,
      appId: String,
      txnVersion: Long,
      partitionBy: Option[Seq[String]] = None): Long = {
    val snap = log.snapshot
    val already = snap.setTransactions.get(appId).exists(_.version >= txnVersion)
    if (already) snap.version
    else writeAndCommit(log, df, Some(snap), removes = Nil,
      partitionBy = partitionBy, configuration = Map.empty,
      operation = "STREAMING UPDATE", mode = "Append",
      txn = Some(SetTransaction(appId, txnVersion,
        Some(System.currentTimeMillis()))))
  }

  /** Record an idempotent-writer marker WITHOUT data: a commit carrying
    * only the `txn` action. For sinks whose data commit cannot carry
    * the marker atomically (MERGE-based apply) but whose per-batch
    * application is idempotent — the marker turns restarts into no-ops;
    * a crash between data commit and marker merely re-applies one
    * idempotent batch. Retries past concurrent writers (a txn marker
    * conflicts with nothing). */
  def recordTxn(log: DeltaLog, appId: String, version: Long): Long = {
    val ict = log.snapshot.metadata.configuration
      .get("delta.enableInCommitTimestamps").contains("true")
    var attempt = log.latestVersion() + 1
    var committed = -1L
    while (committed < 0) {
      try {
        log.commit(attempt, Seq(
          CommitInfoAction(CommitInfo(System.currentTimeMillis(), "SET TXN")),
          TxnAction(SetTransaction(appId, version,
            Some(System.currentTimeMillis())))), ictEnabled = ict)
        committed = attempt
      } catch {
        case _: java.util.ConcurrentModificationException => attempt += 1
      }
    }
    committed
  }

  /** MERGE-style targeted rewrite: replace only `touched` files with
    * `replacement` rows; every other active file stays untouched in the
    * log. This is what keeps mutations affordable at scale — a dedup
    * that touches 0.1% of files rewrites 0.1% of the table. */
  def rewriteFiles(
      log: DeltaLog,
      snap: Snapshot,
      touched: Seq[AddFile],
      replacement: DataFrame,
      operation: String,
      dataChange: Boolean = true,
      extraActions: Seq[Action] = Nil,
      preservedCols: Seq[String] = Nil): Long =
    writeAndCommit(log, replacement, Some(snap), removes = touched,
      partitionBy = Some(snap.metadata.partitionColumns),
      configuration = Map.empty, operation = operation, mode = "Rewrite",
      dataChange = dataChange, extraActions = extraActions,
      preservedCols = preservedCols)

  /** Assign fresh column-mapping ids + physical names to every struct
    * field (recursively, depth-first — the Delta assignment order),
    * returning the annotated logical schema and the highest id used
    * (`delta.columnMapping.maxColumnId`). */
  private def assignMapping(schema: StructType): (StructType, Long) = {
    var nextId = 0L
    def walk(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map { f =>
        nextId += 1
        val md = new MetadataBuilder().withMetadata(f.metadata)
          .putLong("delta.columnMapping.id", nextId)
          .putString("delta.columnMapping.physicalName",
            s"col-${java.util.UUID.randomUUID}")
          .build()
        StructField(f.name, walk(f.dataType), f.nullable, md)
      })
      case a: ArrayType => a.copy(elementType = walk(a.elementType))
      case m: MapType =>
        m.copy(keyType = walk(m.keyType), valueType = walk(m.valueType))
      case other => other
    }
    (walk(schema).asInstanceOf[StructType], nextId)
  }

  /** Logical→physical schema rename (mirror of Snapshot.physicalSchema
    * for schemas not yet committed): physical names substituted
    * recursively; in id mode each mapped field carries `parquet.field.id`
    * so the parquet writer stamps the Delta column id into the footer. */
  private def physicalizeSchema(schema: StructType, withIds: Boolean): StructType = {
    def physName(f: StructField): String =
      if (f.metadata.contains("delta.columnMapping.physicalName"))
        f.metadata.getString("delta.columnMapping.physicalName")
      else f.name
    def walk(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map { f =>
        val md =
          if (withIds && f.metadata.contains("delta.columnMapping.id"))
            new MetadataBuilder()
              .putLong("parquet.field.id", f.metadata.getLong("delta.columnMapping.id"))
              .build()
          else org.apache.spark.sql.types.Metadata.empty
        StructField(physName(f), walk(f.dataType), f.nullable, md)
      })
      case a: ArrayType => a.copy(elementType = walk(a.elementType))
      case m: MapType =>
        m.copy(keyType = walk(m.keyType), valueType = walk(m.valueType))
      case other => other
    }
    walk(schema).asInstanceOf[StructType]
  }

  /** Nullability-relaxed variant of a type that KEEPS field metadata —
    * the logical→physical rename is a struct cast, and the analyzer
    * rejects casts to NOT NULL nested fields, while the metadata
    * (nested `parquet.field.id`) must survive into the written footer. */
  private def relaxKeepMeta(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, relaxKeepMeta(f.dataType), nullable = true, f.metadata)))
    case a: ArrayType =>
      a.copy(elementType = relaxKeepMeta(a.elementType), containsNull = true)
    case m: MapType => m.copy(keyType = relaxKeepMeta(m.keyType),
      valueType = relaxKeepMeta(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Structural schema equality ignoring nullability, field order, and
    * metadata — what matters for whether existing + new files can be
    * read under one declared schema. */
  private def forceNullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f =>
        StructField(f.name, forceNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(forceNullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(forceNullable(m.keyType), forceNullable(m.valueType),
        valueContainsNull = true)
    case other => other
  }

  private def normalizedFields(st: StructType): Seq[(String, DataType)] =
    st.fields.toSeq.map(f => (f.name, forceNullable(f.dataType))).sortBy(_._1)

  private[delta] def writeAndCommit(
      log: DeltaLog,
      df: DataFrame,
      prev: Option[Snapshot],
      removes: Seq[AddFile],
      partitionBy: Option[Seq[String]],
      configuration: Map[String, String],
      operation: String,
      mode: String,
      txn: Option[SetTransaction] = None,
      declaredSchema: Option[StructType] = None,
      dataChange: Boolean = true,
      /** Pre-built actions riding the same commit (DV add/remove pairs
        * of a DV update, cdc files, a protocol upgrade). */
      extraActions: Seq[Action] = Nil,
      /** Extra paths the logical-conflict rebase check must treat as
        * read-and-replaced by this transaction. */
      extraTouched: Set[String] = Set.empty,
      /** Columns of `df` that are NOT table schema — written into the
        * parquet files verbatim but excluded from schema enforcement,
        * metaData, and stats. Used for the materialized row-tracking
        * columns a preserving rewrite carries. */
      preservedCols: Seq[String] = Nil): Long = {
    val spark = log.spark
    val fs = log.fs
    require(preservedCols.isEmpty || prev.forall(_.columnMappingMode == "none"),
      "preserved (materialized) columns are not supported on " +
        "column-mapped tables")
    val partCols: Seq[String] =
      partitionBy.orElse(prev.map(_.metadata.partitionColumns)).getOrElse(Nil)
    // The table configuration this commit is written under: an explicit
    // `configuration` (a create or a reconfiguring overwrite) wins over
    // the table's.
    val tableConf: Map[String, String] =
      if (configuration.nonEmpty) configuration
      else prev.map(_.metadata.configuration).getOrElse(Map.empty)
    // Generated columns: omitted ones are COMPUTED from their
    // expressions (a projection — no extra pass); explicitly-provided
    // ones get a null-safe-equality probe that rides the constraint
    // guard below. Declared shape comes from the table (or the
    // creating declaredSchema).
    val genDeclared: StructType = declaredSchema
      .orElse(prev.map(_.metadata.schema)).getOrElse(df.schema)
    val genProbes = GeneratedColumns.probes(df, genDeclared)
    // Identity columns fill AFTER generated ones (a generation
    // expression may not reference an identity value, per the spec's
    // no-identity-in-generation rule, so order is free; declared-order
    // reshaping happens in whichever fill runs last).
    // Rewrite commits AND dataChange=false overwrites (OPTIMIZE/zorder
    // layout rewrites) re-emit EXISTING rows — their identity values
    // ride along and must not trip the GENERATED ALWAYS gate.
    val df1 = IdentityColumns.fill(
      GeneratedColumns.fill(df, genDeclared), genDeclared,
      internalRewrite = mode == "Rewrite" || !dataChange)
    IdentityColumns.of(genDeclared).foreach { s =>
      require(!partCols.contains(s.name),
        s"identity column ${s.name} cannot be a partition column: " +
          "partition columns carry no per-file stats, so the high-water " +
          "mark could not advance and values would silently repeat")
    }
    // the TABLE schema: preserved (materialized) columns ride the
    // parquet files but are invisible to the log's schema contract
    val schema = StructType(
      df1.schema.filterNot(f => preservedCols.contains(f.name)))
    require(partCols.forall(schema.fieldNames.contains),
      s"partition columns $partCols missing from ${schema.fieldNames.toSeq}")

    // Writer protocol gates. Column-mapped tables ARE writable — data
    // files, partition values, and stats are emitted under PHYSICAL
    // names (see `writeDf` below) — but only schema-preserving modes:
    // evolving a mapped schema means assigning fresh column ids, which
    // only the overwrite-with-new-mapping path does.
    prev.foreach { s =>
      require(s.columnMappingMode == "none" || mode != "AppendEvolve",
        s"cannot evolve the schema of ${log.tablePath}: table uses column " +
          s"mapping (mode=${s.columnMappingMode}) and mergeSchema would " +
          "need fresh column ids; overwrite with an explicitly-mapped " +
          "schema instead")
      // minWriterVersion 3..6 tables carry writer-enforced features
      // (CHECK constraints v3, generated columns v4, column mapping v5,
      // identity columns v6), ALL enforced on this path: CHECK/NOT NULL
      // via Constraints.enforced in the write job, generated columns
      // via fill-or-probe, identity columns via fill + same-commit
      // high-water-mark bump (IdentityColumns). Writer v7 lists its
      // features explicitly: all must be ones this writer honors —
      // deletionVectors (reads are DV-aware and rewrites remove the
      // whole (file, DV) pair), appendOnly (enforced via the table
      // property), invariants/checkConstraints (enforced below),
      // columnMapping (physical-name writes below), inCommitTimestamp
      // (every commit path stamps a monotonic ICT — see
      // DeltaLog.commit), v2Checkpoint (checkpoint layout only).
      val supportedWriterFeatures = Set(
        "deletionVectors", "appendOnly", "invariants", "columnMapping",
        "inCommitTimestamp", "v2Checkpoint", "checkConstraints",
        "changeDataFeed", "generatedColumns",
        // domain metadata survives every commit path (checkpoints carry
        // live domains; replay keeps latest-per-domain) and OPTIMIZE
        // honors the delta.clustering domain (Maintenance.compact);
        // rowTracking: fresh ids allocated below from the domain hwm
        "domainMetadata", "clustering", "rowTracking", "identityColumns",
        // vacuum always resolves (and so protocol-checks) a snapshot
        "vacuumProtocolCheck",
        // typeWidening: widening commits go through
        // Maintenance.widenColumnType (which maintains the
        // delta.typeChanges field metadata); data writes under the
        // widened schema need no special handling
        "typeWidening",
        // variantType: written/read via Spark's native variant support
        "variantType")
      val unsupportedW = s.protocol.writerFeatures.diff(supportedWriterFeatures)
      val v = s.protocol.minWriterVersion
      require(v <= 6 || (v == 7 && unsupportedW.isEmpty),
        s"cannot write to ${log.tablePath}: table requires " +
          s"minWriterVersion=$v" +
          (if (unsupportedW.nonEmpty) s" with writer features $unsupportedW" else "") +
          s" (supported: <= 6, or 7 with features within " +
          s"$supportedWriterFeatures); " +
          "refusing to write rather than ignore writer-enforced features")
      require(removes.isEmpty ||
          !s.metadata.configuration.get("delta.appendOnly").contains("true"),
        s"cannot remove files from ${log.tablePath}: table is delta.appendOnly")
    }

    // Schema ENFORCEMENT (Delta writer invariant): appends and targeted
    // rewrites must match the table schema — silently swapping the
    // metaData would re-type every existing file. Only a full overwrite
    // may change the schema (the `with_schema_change` corpus shape /
    // delta-rs overwrite_schema).
    // dataChange=false overwrites are layout rewrites of EXISTING rows —
    // they keep the stored metaData verbatim (see internalRewrite below),
    // so their runtime schema must be compatible too.
    if (mode == "Append" || mode == "Rewrite" || !dataChange) prev.foreach { s =>
      require(normalizedFields(schema) == normalizedFields(s.metadata.schema),
        s"schema mismatch: cannot $mode ${schema.simpleString} into table " +
          s"with schema ${s.metadata.schema.simpleString}; use overwrite to " +
          "change the schema, or appendMergeSchema to add columns")
    }
    // AppendEvolve: df is pre-shaped to the merged schema by
    // appendMergeSchema (existing-compatible, new columns nullable);
    // metaChanged below emits the merged metaData.

    // CHECK constraints + NOT NULL invariants ride the write job
    // itself (Constraints.enforced wraps the plan in an assert_true
    // probe — zero extra passes; the first violating row aborts before
    // the commit). Applied on LOGICAL names, before any column-mapping
    // physical rename. An overwrite that supplies a new configuration
    // is checked against THAT configuration (its constraints are the
    // ones being committed).
    val checkedDf = {
      val declaredNotNull = declaredSchema
        .orElse(prev.map(_.metadata.schema)).getOrElse(schema)
      Constraints.enforced(df1, Constraints.of(tableConf), declaredNotNull, genProbes)
    }

    // Column mapping: data files, partition directories, and stats all
    // live under PHYSICAL names; the logical df is translated here and
    // translated back on read (Snapshot.physicalSchema). Two shapes:
    // writing INTO a mapped table (physical schema from the snapshot),
    // and CREATING one (fresh ids + physical names assigned when the
    // creating overwrite's configuration asks for a mapping mode).
    val prevMapped = prev.exists(_.columnMappingMode != "none")
    val createMode =
      if (prev.isEmpty) configuration.getOrElse("delta.columnMapping.mode", "none")
      else "none"
    val createMapping: Option[(StructType, Long)] =
      if (createMode == "name" || createMode == "id")
        Some(assignMapping(declaredSchema.getOrElse(schema)))
      else None
    if (prevMapped && mode == "Overwrite")
      require(normalizedFields(schema) == normalizedFields(prev.get.metadata.schema),
        s"cannot change the schema of ${log.tablePath}: table uses column " +
          "mapping and a new schema would need fresh column ids; write to a " +
          "new table (or extend the mapping explicitly) instead")
    val (writeDf, writePartCols): (DataFrame, Seq[String]) =
      if (prevMapped) {
        val s = prev.get
        if (s.columnMappingMode == "id")
          spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        val logical = s.metadata.schema
        val phys = s.physicalSchema
        val renamed = checkedDf.select(logical.fields.zip(phys.fields).map {
          case (lf, pf) =>
            col(lf.name).cast(relaxKeepMeta(pf.dataType)).as(pf.name, pf.metadata)
        }.toSeq: _*)
        (renamed, partCols.map(s.physicalNameOf))
      } else createMapping match {
        case Some((mappedSchema, _)) =>
          if (createMode == "id")
            spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
          val phys = physicalizeSchema(mappedSchema, withIds = createMode == "id")
          val renamed = checkedDf.select(mappedSchema.fields.zip(phys.fields).map {
            case (lf, pf) =>
              col(lf.name).cast(relaxKeepMeta(pf.dataType)).as(pf.name, pf.metadata)
          }.toSeq: _*)
          (renamed, partCols.map(pc =>
            mappedSchema(pc).metadata.getString("delta.columnMapping.physicalName")))
        case None => (checkedDf, partCols)
      }

    // Optimized write (delta.autoOptimize.optimizeWrite): right-size
    // the write job's partitioning so output files approach the target
    // size instead of inheriting the input's task count — the at-source
    // answer to small-file pressure (auto-compaction is the after-the-
    // fact one). Size estimate from Catalyst plan stats (clamped:
    // sources without stats report huge defaults). Partitioned tables
    // hash on the partition columns so each partition dir gets at most
    // the chosen task count of files.
    val outDf =
      if (!tableConf.get("delta.autoOptimize.optimizeWrite").contains("true")) writeDf
      else {
        val est = writeDf.queryExecution.optimizedPlan.stats.sizeInBytes
          .min(BigInt(1L << 50)).toLong
        val n = math.max(1L, math.min(est / TargetFileBytes + 1,
          100000L)).toInt
        if (writePartCols.nonEmpty)
          writeDf.repartition(n, writePartCols.map(col): _*)
        else writeDf.repartition(n)
      }

    // 1. Materialize data into a staging dir under the table root.
    val staging = new Path(log.rootPath, s".graft-staging-${java.util.UUID.randomUUID}")
    try {
      val w = outDf.write.mode("overwrite")
      (if (writePartCols.nonEmpty) w.partitionBy(writePartCols: _*) else w)
        .parquet(staging.toString)

      // 2. Rename staged part files into place (keeps partition subdirs).
      // Sorted by path, so the order of `moved` — and with it the row
      // ids an append hands out — is the same on every run.
      val staged = listParquet(fs, staging).sortBy(_.getPath.toString)
      val moved: Seq[MovedFile] = staged.map { st =>
        val rel = relativize(staging, st.getPath)
        val dest = new Path(log.rootPath, rel)
        fs.mkdirs(dest.getParent)
        if (!fs.rename(st.getPath, dest))
          throw new java.io.IOException(s"rename ${st.getPath} -> $dest failed")
        val status = fs.getFileStatus(dest)
        MovedFile(rel, dest, status.getLen, status.getModificationTime,
          partitionValuesOf(rel))
      }

      // 3. Per-file stats in one grouped pass over the written files
      // (under physical names for mapped tables — stats in the log are
      // keyed physically, see Snapshot.addsFlat).
      val dataSchema = StructType(writeDf.schema.filterNot(f =>
        writePartCols.contains(f.name) || preservedCols.contains(f.name)))
      val numIndexed = tableConf.get("delta.dataSkippingNumIndexedCols")
        .flatMap(s => scala.util.Try(s.toInt).toOption)
        .getOrElse(32)
      val stats = computeStats(log, dataSchema, moved, numIndexed)

      // 4. Commit.
      val version = prev.map(_.version + 1).getOrElse(0L)
      val now = System.currentTimeMillis()
      // Append/Rewrite never change table metadata (enforced equal up to
      // order/nullability above — re-emitting the df's variant would
      // churn the declared field order). An overwrite of a MAPPED table
      // keeps the stored schemaString verbatim (it carries the column
      // ids/physical names the data files are written under); only a
      // configuration change re-emits metaData there.
      // dataChange=false overwrites (OPTIMIZE / zorder layout rewrites)
      // re-emit the scan's RUNTIME schema, which has lost declared
      // nullability and field metadata (NOT NULL invariants,
      // generationExpression, identity declarations); committing that
      // would silently drop those contracts. Internal rewrites keep the
      // stored schemaString verbatim — only a configuration change
      // re-emits metaData, same as the column-mapped branch.
      val internalRewrite = !dataChange && prev.isDefined
      val metaChanged =
        if (prevMapped || internalRewrite)
          mode == "Overwrite" && configuration.nonEmpty &&
            prev.get.metadata.configuration != configuration
        else mode != "Append" && mode != "Rewrite" && prev.forall { s =>
          s.metadata.schemaString != schema.json ||
            s.metadata.partitionColumns != partCols ||
            (configuration.nonEmpty && s.metadata.configuration != configuration)
        }
      val actions = ArrayBuffer.empty[Action]
      actions += CommitInfoAction(CommitInfo(now, operation,
        Map("mode" -> mode,
          "partitionBy" -> partCols.mkString("[\"", "\",\"", "\"]"))))
      txn.foreach(t => actions += TxnAction(t))
      val idDeclared = IdentityColumns.of(genDeclared).nonEmpty
      // Variant columns are a TABLE FEATURE (reader+writer): a reader
      // unaware of the encoding must refuse, so the schema containing
      // one forces the r3/w7 feature lists on create and upgrades on
      // first variant write into an existing table.
      def hasVariant(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
        case _: org.apache.spark.sql.types.VariantType => true
        case s: StructType => s.fields.exists(f => hasVariant(f.dataType))
        case a: org.apache.spark.sql.types.ArrayType => hasVariant(a.elementType)
        case m: org.apache.spark.sql.types.MapType =>
          hasVariant(m.keyType) || hasVariant(m.valueType)
        case _ => false
      }
      val variantDeclared =
        hasVariant(declaredSchema.getOrElse(schema)) || hasVariant(schema)
      // Protocol upgrades on an EXISTING table accumulate into ONE
      // ProtocolAction: a write that both licenses identity columns
      // (legacy writers would keep writing without generating values /
      // advancing the mark) and introduces the first variant column
      // must apply the identity upgrade FIRST and derive the variant
      // feature lists from that result — two actions computed from the
      // stale snapshot protocol would drop identityColumns on the
      // log's last-wins replay.
      prev.foreach { s =>
        var p = s.protocol
        var upgraded = false
        if (idDeclared) {
          val licensed = (p.minWriterVersion >= 6 && p.minWriterVersion < 7) ||
            (p.minWriterVersion >= 7 && p.writerFeatures.contains("identityColumns"))
          if (!licensed) {
            p =
              if (p.minWriterVersion >= 7)
                p.copy(writerFeatures = p.writerFeatures + "identityColumns")
              else p.copy(minWriterVersion = 6)
            upgraded = true
          }
        }
        if (variantDeclared &&
            !(p.minReaderVersion >= 3 && p.readerFeatures.contains("variantType"))) {
          p = Protocol(
            minReaderVersion = 3, minWriterVersion = 7,
            readerFeatures = p.readerFeatures + "variantType" ++
              (if (p.minReaderVersion == 2) Set("columnMapping") else Set.empty),
            writerFeatures = p.writerFeatures + "variantType" ++
              (if (p.minWriterVersion >= 7) Set.empty[String]
               else Seq(
                 2 -> Set("appendOnly", "invariants"),
                 3 -> Set("checkConstraints"),
                 4 -> Set("changeDataFeed", "generatedColumns"),
                 5 -> Set("columnMapping"),
                 6 -> Set("identityColumns"))
                 .collect { case (mv, fs) if p.minWriterVersion >= mv => fs }
                 .flatten.toSet))
          upgraded = true
        }
        if (upgraded) actions += ProtocolAction(p)
      }
      if (prev.isEmpty) actions += ProtocolAction(
        // creating a mapped table: column mapping is a legacy
        // reader-2/writer-5 protocol (what delta-spark emits for it);
        // generated columns need writer 4, identity columns writer 6
        // (legacy versions are cumulative); a variant column forces the
        // feature-list protocol
        if (variantDeclared) Protocol(3, 7,
          readerFeatures = Set("variantType") ++
            (if (createMapping.isDefined) Set("columnMapping") else Set.empty),
          writerFeatures = Set("variantType") ++
            (if (createMapping.isDefined) Set("columnMapping") else Set.empty) ++
            (if (idDeclared) Set("identityColumns") else Set.empty) ++
            (if (GeneratedColumns.of(genDeclared).nonEmpty)
               Set("generatedColumns") else Set.empty))
        else if (createMapping.isDefined && idDeclared) Protocol(2, 6)
        else if (createMapping.isDefined) Protocol(2, 5)
        else if (idDeclared) Protocol(1, 6)
        else if (GeneratedColumns.of(genDeclared).nonEmpty) Protocol(1, 4)
        else Protocol())
      if (metaChanged) actions += MetadataAction(Metadata(
        id = prev.map(_.metadata.id)
          .getOrElse(java.util.UUID.randomUUID.toString),
        schemaString =
          if (prevMapped || internalRewrite) prev.get.metadata.schemaString
          else createMapping match {
            case Some((mappedSchema, _)) => mappedSchema.json
            case None => declaredSchema.getOrElse(schema).json
          },
        partitionColumns = partCols,
        configuration = createMapping match {
          case Some((_, maxId)) =>
            tableConf + ("delta.columnMapping.maxColumnId" -> maxId.toString)
          case None => tableConf
        },
        createdTime = Some(prev.flatMap(_.metadata.createdTime).getOrElse(now))))
      // Identity columns: the high-water mark advances in the SAME
      // commit via an updated metaData action — its value is read off
      // the per-file stats already computed (zero extra passes). A
      // concurrent identity writer then loses at the metaData-conflict
      // gate instead of double-allocating.
      if (idDeclared) {
        // Base = the schema this commit's metaData will store (or the
        // table's when none is re-emitted), with identity METADATA
        // grafted back from the previous schema for same-named fields —
        // a plain overwrite passes a runtime frame whose schema lost
        // the declaration metadata, and committing that verbatim would
        // silently drop the identity contract.
        val base: StructType = (prevMapped || internalRewrite, createMapping) match {
          case (true, _) => prev.get.metadata.schema
          case (_, Some((m, _))) => m
          case _ =>
            if (metaChanged) declaredSchema.getOrElse(schema)
            else prev.map(_.metadata.schema).getOrElse(schema)
        }
        val prevIdMeta: Map[String, org.apache.spark.sql.types.Metadata] =
          prev.map(_.metadata.schema).getOrElse(genDeclared).fields
            .filter(_.metadata.contains(IdentityColumns.StartKey))
            .map(f => f.name -> f.metadata).toMap
        val storedSchema = StructType(base.fields.map { f =>
          if (f.metadata.contains(IdentityColumns.StartKey)) f
          else prevIdMeta.get(f.name).map(m => f.copy(metadata = m,
            dataType = LongType, nullable = false)).getOrElse(f)
        })
        val statsNameOf: String => String =
          if (prevMapped) prev.get.physicalNameOf
          else createMapping match {
            case Some((m, _)) => (n: String) =>
              if (m(n).metadata.contains("delta.columnMapping.physicalName"))
                m(n).metadata.getString("delta.columnMapping.physicalName")
              else n
            case None => (n: String) => n
          }
        val toStore = IdentityColumns.bumpHwm(storedSchema,
          moved.flatMap(m => stats.get(m.rel)), statsNameOf)
          .getOrElse(storedSchema)
        val idx = actions.indexWhere(_.isInstanceOf[MetadataAction])
        if (idx >= 0) {
          val m0 = actions(idx).asInstanceOf[MetadataAction].m
          if (m0.schemaString != toStore.json)
            actions(idx) = MetadataAction(m0.copy(schemaString = toStore.json))
        } else if (prev.exists(_.metadata.schemaString != toStore.json)) {
          actions += MetadataAction(
            prev.get.metadata.copy(schemaString = toStore.json))
        }
      }
      // Row tracking: allocate fresh ids for the new files from the
      // domain's high-water mark; the bump rides this commit, so a
      // concurrent allocator conflicts on the domain and aborts
      // (commitWithRebase's same-domain rule) instead of double-
      // allocating.
      val rtOn = prev.exists(s => RowTracking.supported(s.protocol))
      val (rowIdBase: Map[String, Long], newHwm: Long) =
        if (!rtOn) (Map.empty[String, Long], -1L)
        else {
          var next = RowTracking.highWaterMark(prev.get) + 1
          val bases = moved.map { m =>
            val base = next
            next += stats.get(m.rel)
              .map(s => JsonUtil.mapper.readTree(s).path("numRecords").asLong(0L))
              .getOrElse(0L)
            m.rel -> base
          }.toMap
          (bases, next - 1)
        }
      actions ++= moved.map { m =>
        AddAction(AddFile(DeltaLog.encodePath(m.rel), m.partitionValues,
          m.size, m.modificationTime, dataChange = dataChange,
          stats = stats.get(m.rel),
          baseRowId = rowIdBase.get(m.rel),
          defaultRowCommitVersion = if (rtOn) Some(version) else None))
      }
      if (rtOn && moved.nonEmpty) actions += RowTracking.domainAction(newHwm)
      actions ++= removes.map { f =>
        RemoveAction(RemoveFile(f.path, now, dataChange = dataChange,
          partitionValues = f.partitionValues, size = Some(f.size),
          deletionVector = f.deletionVector))
      }
      actions ++= extraActions
      val ict = tableConf.get("delta.enableInCommitTimestamps").contains("true")
      // Appends rebase unconditionally (blind append conflicts with
      // nothing); targeted rewrites rebase after a logical conflict
      // check; overwrites abort (their read set is the whole table).
      val rebasable = mode == "Append" || mode == "AppendEvolve" || mode == "Rewrite"
      val committed =
        if (rebasable)
          commitWithRebase(log, version, actions.toSeq,
            touchedPaths = removes.map(_.path).toSet ++ extraTouched,
            ictEnabled = ict)
        else { log.commit(version, actions.toSeq, ictEnabled = ict); version }
      spark.catalog.clearCache()
      // delta.checkpointInterval: periodic checkpoints keep snapshot
      // resolution O(tail) forever (delta-spark defaults to every 10
      // commits; here opt-in via table property).
      tableConf.get("delta.checkpointInterval")
        .flatMap(s => scala.util.Try(s.toLong).toOption)
        .filter(_ > 0)
        .foreach { n =>
          if (committed > 0 && committed % n == 0) {
            // delta.checkpointPolicy=v2 selects the manifest+sidecar layout
            if (tableConf.get("delta.checkpointPolicy").contains("v2"))
              Maintenance.checkpointV2(log)
            else Maintenance.checkpoint(log)
          }
        }
      // graft.logCompaction.interval=N: every N commits, write a minor
      // log-compaction file covering the last N — keeps replay of a
      // long checkpoint-to-head tail to O(tail/N) file opens.
      tableConf.get("graft.logCompaction.interval")
        .flatMap(s => scala.util.Try(s.toLong).toOption)
        .filter(_ > 0)
        .foreach { n =>
          if ((committed + 1) % n == 0 && committed >= n - 1)
            Maintenance.compactLog(log, committed - n + 1, committed)
        }
      // delta.autoOptimize.autoCompact: after a data commit, fold
      // accumulated small files (streaming sinks and frequent small
      // appends otherwise bury a table in KB-scale files). Rides
      // compactSmall, so it converges: the OPTIMIZE it commits is
      // excluded from re-triggering, and once files fold past the
      // threshold the pass is a planning-only no-op. Thresholds:
      // [[TargetFileBytes]] and [[AutoCompactMinFiles]].
      if (dataChange && operation != "OPTIMIZE" && operation != "REORG" &&
          tableConf.get("delta.autoOptimize.autoCompact").contains("true"))
        Maintenance.compactSmall(log, targetFileBytes = TargetFileBytes,
          minSmallFiles = AutoCompactMinFiles)
      // graft.autoRefresh.indexes: after a data commit, incrementally
      // refresh every descriptor-bearing sidecar index — the index
      // follows the table without orchestration. Each refresh is
      // O(new files) by the sidecar maintenance contract (an
      // up-to-date index no-ops), and sidecar writes never touch the
      // table log, so there is no re-entrancy. NON-FATAL by contract:
      // the data commit has already landed — surfacing a refresh
      // failure as a write failure would make callers retry and
      // double-apply; the index just goes stale (and its probes
      // degrade safely).
      if (dataChange &&
          tableConf.get("graft.autoRefresh.indexes").contains("true"))
        // deferDriftRebuild: a drifted ingest must not make its data
        // commit synchronously pay an O(corpus) quantizer retrain —
        // the gauge logs and the next explicit REFRESH retrains
        try Indexes.refreshAll(log, deferDriftRebuild = true)
        catch { case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"auto index refresh after commit $committed failed " +
              s"(index stays stale, data commit unaffected): $e")
        }
      committed
    } finally fs.delete(staging, true)
  }

  /** Commit with optimistic-concurrency REBASE (the Delta conflict
    * protocol delta-rs and delta-spark implement, restricted to the
    * always-decidable cells of the matrix): when the target version is
    * taken, read the commits that won the race and re-check the logical
    * conflict rules —
    *
    *  - a concurrent metaData or protocol change aborts (our actions
    *    were validated against the old table definition);
    *  - for a targeted rewrite, any winner add/remove touching one of
    *    OUR touched paths aborts (the winner saw — or rewrote — files
    *    this transaction also read and replaced; committing anyway
    *    would resurrect or double-apply rows);
    *  - otherwise the file sets are disjoint and the same actions are
    *    safe at the next version (a blind append always is).
    *
    * Data files are already on disk at this point, so a rebase costs
    * one commit-JSON attempt — no data is rewritten. */
  private[graft] def commitWithRebase(
      log: DeltaLog,
      firstVersion: Long,
      actions: Seq[Action],
      touchedPaths: Set[String],
      // A rebase attempt costs ONE commit-JSON write (data files are
      // already on disk), so the bound exists only to stop livelock —
      // set it above any plausible same-table writer burst: N racing
      // writers make the unluckiest one lose up to N-1 rounds (observed
      // with 8 concurrent merge sinks: 6+ losses, which the old bound
      // of 5 turned into a spurious abort).
      maxRetries: Int = 50,
      ictEnabled: Boolean = false): Long = {
    var version = firstVersion
    var attempts = 0
    // Domains this commit writes: a concurrent write to the SAME domain
    // cannot be rebased blindly (e.g. two row-id allocators reading the
    // same high-water mark would hand out overlapping ids).
    val ourDomains = actions.collect {
      case DomainMetadataAction(d) => d.domain
    }.toSet
    // Idempotent-writer markers this commit advances: a concurrent
    // commit that advanced the SAME appId means another writer already
    // applied (part of) this batch window — rebasing on top would
    // double-apply it (e.g. two MatView.refresh calls folding the same
    // CDF slice), so the loser must abort and re-read.
    val ourTxns = actions.collect {
      case TxnAction(t) => t.appId
    }.toSet
    while (true) {
      try {
        // Row tracking stamps the files' default row commit version with
        // the version actually committed — restamp after a rebase bump.
        val stamped =
          if (version == firstVersion) actions
          else actions.map {
            case AddAction(a) if a.defaultRowCommitVersion.nonEmpty =>
              AddAction(a.copy(defaultRowCommitVersion = Some(version)))
            case other => other
          }
        log.commit(version, stamped, ictEnabled = ictEnabled)
        return version
      } catch {
        case e: java.util.ConcurrentModificationException =>
          attempts += 1
          if (attempts > maxRetries) throw e
          val latest = log.latestVersion()
          val concurrent = (version to latest).flatMap(log.commitActions)
          val defChanged = concurrent.exists {
            case MetadataAction(_) | ProtocolAction(_) => true
            case _ => false
          }
          if (defChanged) throw new java.util.ConcurrentModificationException(
            s"commit $version of ${log.tablePath} lost the race to a " +
              "concurrent metaData/protocol change; cannot rebase — rerun " +
              "the operation against the new table definition")
          if (ourDomains.nonEmpty) {
            val theirDomains = concurrent.collect {
              case DomainMetadataAction(d) => d.domain
            }.toSet
            val dOverlap = ourDomains.intersect(theirDomains)
            if (dOverlap.nonEmpty) throw new java.util.ConcurrentModificationException(
              s"commit $version of ${log.tablePath} conflicts with a " +
                s"concurrent write to domain(s) ${dOverlap.mkString(", ")}; " +
                "rerun the operation against the current snapshot")
          }
          if (ourTxns.nonEmpty) {
            val theirTxns = concurrent.collect {
              case TxnAction(t) => t.appId
            }.toSet
            val tOverlap = ourTxns.intersect(theirTxns)
            if (tOverlap.nonEmpty) throw new java.util.ConcurrentModificationException(
              s"commit $version of ${log.tablePath} conflicts with a " +
                s"concurrent transaction on appId(s) ${tOverlap.mkString(", ")} " +
                "(another writer already applied this idempotent batch " +
                "window); re-read the snapshot and recompute the batch")
          }
          if (touchedPaths.nonEmpty) {
            val winnerPaths = concurrent.collect {
              case AddAction(a) => a.path
              case RemoveAction(r) => r.path
            }.toSet
            val overlap = winnerPaths.intersect(touchedPaths)
            if (overlap.nonEmpty) throw new java.util.ConcurrentModificationException(
              s"commit $version of ${log.tablePath} conflicts with a " +
                s"concurrent commit on ${overlap.size} file(s) (e.g. " +
                s"${overlap.take(3).mkString(", ")}); rerun the operation " +
                "against the current snapshot")
          }
          version = latest + 1
      }
    }
    -1L // unreachable
  }

  /** CONVERT TO DELTA — onboard an existing parquet directory
    * (optionally hive-partitioned) IN PLACE: no data file is read in
    * full, moved, or rewritten; commit 0 simply records every parquet
    * file as an add with footer-derived stats. This is THE migration
    * path at scale — rewriting 100 TB to adopt the log is a
    * non-starter, while this costs one recursive listing plus one
    * metadata-only footer pass (distributed past the driver-side file
    * count, the [[computeStats]] posture).
    *
    * Partition columns and their types come from Spark's own partition
    * discovery over the directory (the hive `k=v` layout); the log
    * stores the usual raw string values and readers cast through the
    * discovered schema — the same attachment path every partitioned
    * table uses. Refuses a directory that already has a `_delta_log`.
    * Returns the created version (always 0). */
  def convertToDelta(spark: org.apache.spark.sql.SparkSession, path: String): Long = {
    val log = DeltaLog.forPath(spark, path)
    val (commits, cps) = if (log.fs.exists(log.logPath)) log.listLog()
      else (Nil, Nil)
    require(commits.isEmpty && cps.isEmpty,
      s"$path is already a Delta table — CONVERT TO DELTA onboards " +
        "plain parquet directories only")
    val base = new Path(log.tablePath)
    val files = listParquet(log.fs, base)
      .filterNot(_.getPath.toString.contains("_delta_log"))
    require(files.nonEmpty, s"no parquet files under $path to convert")
    val moved = files.map { st =>
      val rel = relativize(base, st.getPath)
      MovedFile(rel, st.getPath, st.getLen, st.getModificationTime,
        partitionValuesOf(rel))
    }
    // Spark's partition discovery supplies the full schema (data
    // columns from footers, partition columns typed from the dir
    // values) — exactly what readers will resolve against.
    // mergeSchema=true: the default samples ONE footer, so a directory
    // whose files gained a column partway through would convert with
    // the sampled subset and silently drop the newer columns from
    // every read — delta-spark's CONVERT merges all footers, and so
    // does this (a true cross-file type conflict fails the convert
    // loudly here instead of surfacing later as a read error).
    val schema = spark.read.option("mergeSchema", "true").parquet(path).schema
    // partition-column ORDER comes from the directory nesting
    // (`a=.../b=.../file`), not the value map — multi-level layouts
    // must record the levels in path order
    def levelOrder(rel: String): Seq[String] =
      rel.split('/').dropRight(1).toSeq
        .map(seg => unescapePathName(seg.substring(0, seg.indexOf('='))))
    val partCols = levelOrder(moved.head.rel)
    require(moved.forall(m => levelOrder(m.rel) == partCols),
      "inconsistent partition directory layout under " + path)
    val dataSchema = StructType(
      schema.filterNot(f => partCols.contains(f.name)))
    val stats = computeStats(log, dataSchema, moved)
    val now = System.currentTimeMillis()
    val actions = Seq(
      CommitInfoAction(CommitInfo(now, "CONVERT")),
      ProtocolAction(Protocol()),
      MetadataAction(Metadata(
        id = java.util.UUID.randomUUID.toString,
        schemaString = schema.json,
        partitionColumns = partCols,
        configuration = Map.empty,
        createdTime = Some(now)))) ++
      moved.map { m =>
        AddAction(AddFile(DeltaLog.encodePath(m.rel), m.partitionValues,
          m.size, m.modificationTime, dataChange = true,
          stats = stats.get(m.rel)))
      }
    log.commit(0L, actions, ictEnabled = false)
    0L
  }

  private final case class MovedFile(
      rel: String, abs: Path, size: Long, modificationTime: Long,
      partitionValues: Map[String, String])

  private def listParquet(fs: FileSystem, dir: Path) = {
    val out = ArrayBuffer.empty[org.apache.hadoop.fs.LocatedFileStatus]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) out += st
    }
    out.toSeq
  }

  private def relativize(base: Path, p: Path): String = {
    val b = base.toUri.getPath.stripSuffix("/") + "/"
    val s = p.toUri.getPath
    require(s.startsWith(b), s"$p not under $base")
    s.drop(b.length)
  }

  /** Hive-style partition dir segments (`k=v/...`) → raw partition
    * values (unescape %XX; `__HIVE_DEFAULT_PARTITION__` → null). */
  def partitionValuesOf(rel: String): Map[String, String] = {
    rel.split('/').dropRight(1).iterator.map { seg =>
      val i = seg.indexOf('=')
      require(i > 0, s"unexpected non-partition dir segment '$seg'")
      val k = unescapePathName(seg.substring(0, i))
      val v = unescapePathName(seg.substring(i + 1))
      k -> (if (v == "__HIVE_DEFAULT_PARTITION__") null else v)
    }.toMap
  }

  /** Inverse of Hive's escapePathName: %XX → char. (Hive escapes
    * single ASCII chars only; multi-byte chars are stored raw.) */
  def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          Character.digit(s.charAt(i + 1), 16) >= 0 &&
          Character.digit(s.charAt(i + 2), 16) >= 0) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Per-file stats (numRecords / per-leaf min / max / nullCount,
    * rendered as the `add.stats` JSON string), footer-first: every
    * parquet file the write job just produced already carries
    * per-row-group min/max/null-count statistics in its FOOTER —
    * reading those is a metadata-sized operation, where the previous
    * implementation re-read the whole written data with a second Spark
    * aggregation job (measured at roughly the cost of the write itself
    * on every commit — the single largest fixed per-commit overhead in
    * the matview/mutation lifecycle gates). Files whose footer cannot reproduce the exact
    * Spark-computed values fall back PER FILE to the aggregation pass:
    * unsafe leaf types (INT96 timestamps carry no usable stats;
    * decimals), dropped stats (parquet-mr omits binary min/max past
    * 4 KB), or unset null counts. Values are converted to the same
    * external types a collected Spark Row carries and rendered by the
    * SAME [[renderStats]], so the emitted JSON is bit-identical by
    * construction whichever path produced it (string order is safe:
    * parquet binary stats compare unsigned bytes, which IS Spark's
    * UTF8_BINARY collation).
    *
    * `numIndexedCols` (`delta.dataSkippingNumIndexedCols`, default 32,
    * -1 = all): stats cover only the first N leaf columns in schema
    * order — on a 1000-column table, per-file min/max on every column
    * bloats the log and the write-side aggregation for columns nobody
    * filters on. Identity columns are always included regardless (the
    * same-commit high-water-mark advance reads their max from these
    * stats). */
  private def computeStats(
      log: DeltaLog, dataSchema: StructType, moved: Seq[MovedFile],
      numIndexedCols: Int = -1): Map[String, String] = {
    if (moved.isEmpty) return Map.empty
    val allLeaves = statLeaves(dataSchema)
    val leaves =
      if (numIndexedCols < 0) allLeaves
      else {
        val idCols = dataSchema.fields
          .filter(_.metadata.contains(IdentityColumns.StartKey))
          .map(_.name).toSet
        (allLeaves.take(numIndexedCols) ++
          allLeaves.filter { case (p, _) => idCols.contains(p) }).distinct
      }
    val schema = StructType(
      StructField("__num", org.apache.spark.sql.types.LongType) +:
        leaves.zipWithIndex.flatMap { case ((_, dt), i) => Seq(
          StructField(s"__min_$i", dt), StructField(s"__max_$i", dt),
          StructField(s"__nc_$i", org.apache.spark.sql.types.LongType))
        })
    // footer pass: driver-side for commit-sized file counts, one
    // metadata-only Spark job past that (an OPTIMIZE can move 10⁴
    // files — footers must not serialize through one driver loop)
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      log.spark.sparkContext.hadoopConfiguration)
    val footer: Map[String, Option[Seq[Any]]] =
      if (moved.size == 1)
        Map(moved.head.rel ->
          footerStatsValues(moved.head.abs.toString, leaves, hconf))
      else if (moved.size <= 128) {
        // independent metadata reads — a serial driver loop charged
        // ~10-15 ms per file to every commit; a small bounded pool
        // overlaps them (round-13 optimization round)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(8, moved.size))
        try moved.map { m =>
          m.rel -> pool.submit(
            new java.util.concurrent.Callable[Option[Seq[Any]]] {
              override def call(): Option[Seq[Any]] =
                footerStatsValues(m.abs.toString, leaves, hconf)
            })
        }.map { case (rel, fut) =>
          // surface a task's own (fatal) error, not the pool wrapper —
          // footerStatsValues already swallows NonFatal internally
          rel -> (try fut.get() catch {
            case e: java.util.concurrent.ExecutionException =>
              throw Option(e.getCause).getOrElse(e)
          })
        }.toMap
        finally pool.shutdown()
      } else {
        val paths = moved.map(m => m.rel -> m.abs.toString)
        val lv = leaves
        log.spark.sparkContext.parallelize(paths, math.max(1, paths.size / 64))
          .map { case (rel, abs) =>
            rel -> footerStatsValues(abs, lv, hconf) }
          .collect().toMap
      }
    val fallback = moved.filter(m => footer(m.rel).isEmpty)
    val byRelFallback: Map[String, Row] =
      if (fallback.isEmpty) Map.empty
      else {
        val aggs =
          count(lit(1)).as("__num") +:
            leaves.zipWithIndex.flatMap { case ((p, _), i) =>
              Seq(min(col(p)).as(s"__min_$i"), max(col(p)).as(s"__max_$i"),
                sum(col(p).isNull.cast("long")).as(s"__nc_$i"))
            }
        val rows = log.spark.read.schema(dataSchema)
          .parquet(fallback.map(_.abs.toString): _*)
          .groupBy(input_file_name().as("__file"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
        rows.flatMap { r =>
          val f = DeltaLog.decodePath(r.getAs[String]("__file"))
          fallback.find(m => f.endsWith("/" + m.rel) || f == m.rel)
            .map(_.rel -> r)
        }.toMap
      }
    moved.map { m =>
      val row: Option[Row] = footer(m.rel)
        .map(vs => new org.apache.spark.sql.catalyst.expressions
          .GenericRowWithSchema(vs.toArray, schema): Row)
        .orElse(byRelFallback.get(m.rel))
      m.rel -> row.fold("""{"numRecords":0}""")(renderStats(_, leaves))
    }.toMap
  }

  /** The (__num, min/max/nc per leaf) value vector for one file, from
    * its parquet footer alone — None when ANY leaf cannot be derived
    * exactly (the caller falls back to the aggregation pass for that
    * file). Serializable-closure-safe: runs on executors for
    * many-file commits. */
  private def footerStatsValues(
      path: String, leaves: Seq[(String, DataType)],
      hconf: org.apache.spark.util.SerializableConfiguration): Option[Seq[Any]] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), hconf.value))
    try {
      val footer = reader.getFooter
      import scala.jdk.CollectionConverters._
      val blocks = footer.getBlocks.asScala.toSeq
      val numRecords = blocks.map(_.getRowCount).sum
      // per dotted path, the chunks across all row groups (absent ⇒
      // the file predates the column: Spark reads it as all-null)
      val chunksByPath: Map[String, Seq[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData]] =
        blocks.flatMap(_.getColumns.asScala)
          .groupBy(_.getPath.toDotString)
      val out = scala.collection.mutable.ArrayBuffer[Any](numRecords)
      leaves.foreach { case (p, dt) =>
        chunksByPath.get(p) match {
          case None =>
            out += null; out += null; out += numRecords
          case Some(chunks) =>
            footerLeaf(chunks, dt, numRecords) match {
              case Some((mn, mx, nc)) => out += mn; out += mx; out += nc
              case None => return None
            }
        }
      }
      Some(out.toSeq)
    } catch { case scala.util.control.NonFatal(_) => None }
    finally reader.close()
  }

  /** (min, max, nullCount) of one leaf across a file's chunks, in the
    * external types a collected Spark Row would carry — None when the
    * footer cannot reproduce the Spark aggregate exactly. */
  private def footerLeaf(
      chunks: Seq[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData],
      dt: DataType, numRecords: Long): Option[(Any, Any, Long)] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    var nulls = 0L
    var mn: Any = null
    var mx: Any = null
    for (c <- chunks) {
      val st: org.apache.parquet.column.statistics.Statistics[_] =
        c.getStatistics
      if (st == null || !st.isNumNullsSet) return None
      nulls += st.getNumNulls
      val chunkNonNull = c.getValueCount - st.getNumNulls
      if (chunkNonNull > 0) {
        // a chunk with values but no min/max (stats dropped — e.g.
        // binary past parquet-mr's 4 KB cap, INT96) cannot be summed
        if (!st.hasNonNullValue) return None
        val prim = c.getPrimitiveType
        val logical = prim.getLogicalTypeAnnotation
        def asSpark(v: Any): Option[Any] = (prim.getPrimitiveTypeName, dt) match {
          case (INT32, org.apache.spark.sql.types.IntegerType) => Some(v)
          case (INT32, org.apache.spark.sql.types.ShortType) =>
            Some(v.asInstanceOf[Int].toShort)
          case (INT32, org.apache.spark.sql.types.ByteType) =>
            Some(v.asInstanceOf[Int].toByte)
          case (INT32, org.apache.spark.sql.types.DateType) =>
            Some(java.sql.Date.valueOf(
              java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong)))
          case (INT64, org.apache.spark.sql.types.LongType) => Some(v)
          case (INT64, org.apache.spark.sql.types.TimestampType) =>
            logical match {
              case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                  if ts.isAdjustedToUTC &&
                    ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
                val micros = v.asInstanceOf[Long]
                val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
                t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
                Some(t)
              case _ => None
            }
          case (FLOAT, org.apache.spark.sql.types.FloatType) => Some(v)
          case (DOUBLE, org.apache.spark.sql.types.DoubleType) => Some(v)
          case (BOOLEAN, org.apache.spark.sql.types.BooleanType) => Some(v)
          case (BINARY, org.apache.spark.sql.types.StringType) =>
            Some(v.asInstanceOf[org.apache.parquet.io.api.Binary]
              .toStringUsingUTF8)
          case _ => None // decimals, INT96, NTZ, … → aggregation pass
        }
        // floating NaN poisons ordering both here and in parquet's own
        // stats semantics — route those files to the aggregation pass
        val bad = (st.genericGetMin, st.genericGetMax) match {
          case (a: java.lang.Double, b: java.lang.Double) => a.isNaN || b.isNaN
          case (a: java.lang.Float, b: java.lang.Float) => a.isNaN || b.isNaN
          case _ => false
        }
        if (bad) return None
        (asSpark(st.genericGetMin), asSpark(st.genericGetMax)) match {
          case (Some(cmn), Some(cmx)) =>
            // combine in Spark's ordering; strings via unsigned-byte
            // compare (parquet's order == Spark's UTF8_BINARY collation)
            def lt(a: Any, b: Any): Boolean = (a, b) match {
              case (x: String, y: String) =>
                java.util.Arrays.compareUnsigned(
                  x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
                  y.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
              case (x: java.sql.Date, y: java.sql.Date) => x.before(y)
              case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.before(y)
              case (x: java.lang.Number, y: java.lang.Number) =>
                // same runtime class by construction (one parquet type)
                x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
              case (x: java.lang.Boolean, y: java.lang.Boolean) =>
                !x.booleanValue() && y.booleanValue()
              // unreachable (one parquet type per chunk ⇒ one external
              // class); surfacing as an exception routes the file to
              // the aggregation pass via footerStatsValues' catch
              case _ => throw new IllegalStateException(
                s"mixed footer stat types: ${a.getClass} vs ${b.getClass}")
            }
            if (mn == null || lt(cmn, mn)) mn = cmn
            if (mx == null || lt(mx, cmx)) mx = cmx
          case _ => return None
        }
      }
    }
    Some((mn, mx, nulls))
  }

  /** Atomic leaf columns eligible for min/max stats, as (dotted path,
    * type); arrays/maps/binary carry no stats (see Snapshot.statsSchema). */
  private[delta] def statLeaves(schema: StructType, prefix: String = ""): Seq[(String, DataType)] =
    schema.fields.toSeq.flatMap { f =>
      val p = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
      f.dataType match {
        case s: StructType => statLeaves(s, p)
        case _: ArrayType | _: MapType | BinaryType => Nil
        // variant is not orderable — no min/max stats (delta-spark
        // records nullCount only; we skip the leaf entirely)
        case dt if dt.typeName == "variant" => Nil
        case dt => Seq((p, dt))
      }
    }

  private[delta] def renderStats(r: Row, leaves: Seq[(String, DataType)]): String = {
    val m = JsonUtil.mapper
    val root = m.createObjectNode()
    root.put("numRecords", r.getAs[Long]("__num"))
    def objFor(parent: com.fasterxml.jackson.databind.node.ObjectNode, path: Seq[String]) =
      path.foldLeft(parent) { (o, seg) =>
        if (o.has(seg)) o.get(seg).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        else o.putObject(seg)
      }
    def putVal(o: com.fasterxml.jackson.databind.node.ObjectNode, name: String, v: Any): Unit =
      v match {
        case null => o.putNull(name)
        case x: Long => o.put(name, x)
        case x: Int => o.put(name, x)
        case x: Short => o.put(name, x.toInt)
        case x: Byte => o.put(name, x.toInt)
        case x: Double => o.put(name, x)
        case x: Float => o.put(name, x)
        case x: Boolean => o.put(name, x)
        case x: java.math.BigDecimal => o.put(name, x)
        case x: BigDecimal => o.put(name, x.underlying)
        case x: java.sql.Timestamp => o.put(name, x.toInstant.toString)
        case x: java.sql.Date => o.put(name, x.toString)
        case x: java.time.Instant => o.put(name, x.toString)
        case x: java.time.LocalDate => o.put(name, x.toString)
        case x => o.put(name, x.toString)
      }
    for ((section, sel) <- Seq(
        ("minValues", (i: Int) => r.get(r.fieldIndex(s"__min_$i"))),
        ("maxValues", (i: Int) => r.get(r.fieldIndex(s"__max_$i"))),
        ("nullCount", (i: Int) => r.get(r.fieldIndex(s"__nc_$i"))))) {
      val sec = root.putObject(section)
      leaves.zipWithIndex.foreach { case ((p, _), i) =>
        val segs = p.split('.').toSeq
        putVal(objFor(sec, segs.dropRight(1)), segs.last, sel(i))
      }
    }
    m.writeValueAsString(root)
  }
}
