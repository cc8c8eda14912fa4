package graft.delta

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Targeted (MERGE-style) Delta mutations: instead of rewriting the
  * whole table, identify the files that actually contain affected rows
  * and rewrite ONLY those — the move that keeps a dedup touching 0.1%
  * of a 100 TB table from rewriting 100 TB. The reference gets this
  * from delta-rs MERGE (levi/__init__.py:157-166); here it is two
  * passes:
  *  1. a key-finding pass that attributes affected rows to files via
  *     `input_file_name()`;
  *  2. a re-scan of ONLY the touched files, with the plain dedup
  *     operator applied and the result committed as adds(touched') +
  *     removes(touched).
  *
  * Correctness hinge: every member of a duplicate group lives in a
  * touched file (a file containing any member is touched), so group
  * counts/ranks computed over the touched-file scan equal the global
  * ones, and untouched files hold only singleton groups.
  */
object Mutations {

  /** Normalize a file-path URI string to the qualified-path form. */
  private[graft] def normalize(s: String): String = {
    val fast = normalizeFast(s)
    if (fast != null) fast
    else try new org.apache.hadoop.fs.Path(new java.net.URI(s)).toString
    catch { case _: Exception => s }
  }

  /** Allocation-light normalization for the overwhelmingly common
    * spelling family `scheme:/abs/path` / `scheme:///abs/path` with a
    * plain URI-unreserved path: both render as `scheme:/abs/path`,
    * exactly what the URI → Path route produces. Returns null (→ take
    * the general route) for anything else: an authority (2 slashes —
    * Path keeps it), percent-escapes, non-ASCII, empty/`.`/`..`
    * segments, trailing slash. The general route costs a URI parse +
    * Path build per call, which LogScaleProbe measured as the dominant
    * driver cost of 10⁶-file coverage planning. */
  private def normalizeFast(s: String): String = {
    val colon = s.indexOf(':')
    if (colon <= 0) return null
    var i = 0
    while (i < colon) {
      val c = s.charAt(i)
      val ok = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (i > 0 && ((c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'))
      if (!ok) return null
      i += 1
    }
    var j = colon + 1
    while (j < s.length && s.charAt(j) == '/') j += 1
    val slashes = j - colon - 1
    // 1 = no authority, 3 = empty authority (same canonical form);
    // 2 = a real authority -> general route
    if ((slashes != 1 && slashes != 3) || j >= s.length) return null
    var k = j
    var segStart = j
    while (k <= s.length) {
      if (k == s.length || s.charAt(k) == '/') {
        val seg = s.substring(segStart, k)
        if (seg.isEmpty || seg == "." || seg == "..") return null
        segStart = k + 1
      } else {
        val c = s.charAt(k)
        val ok = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9') || c == '-' || c == '_' || c == '.' ||
          c == '=' || c == '+'
        if (!ok) return null
      }
      k += 1
    }
    if (slashes == 1) s
    else s.substring(0, colon) + ":/" + s.substring(j)
  }

  /** Lookup from every observable `_metadata.file_path` spelling
    * (normalized) back to the AddFile it names. */
  private[delta] def fileIndex(snap: Snapshot, files: Seq[AddFile]): Map[String, AddFile] =
    files.flatMap(f => snap.pathCandidates(f).map(c => normalize(c) -> f)).toMap

  /** Files whose rows (optionally pre-filtered) satisfy a semi-join
    * against `keys` on `cols`. Attribution uses the scan's row-lineage
    * column (a real column, not `input_file_name()`), so it stays
    * correct when the scan contains a deletion-vector anti-join or any
    * other post-scan operator. */
  private[delta] def touchedFiles(
      log: DeltaLog, snap: Snapshot, keys: DataFrame, cols: Seq[String],
      rowFilter: org.apache.spark.sql.Column = lit(true)): Seq[AddFile] = {
    val candidates = snap.planFiles()
    val taggedScan = snap.readFilesLineage(candidates)
      .drop("__row")
      .where(rowFilter)
    val idx = fileIndex(snap, candidates)
    taggedScan.join(keys, cols, "left_semi")
      .select("__file").distinct().collect()
      .map(r => normalize(r.getString(0)))
      .flatMap(idx.get)
      .distinct
      .toSeq
  }

  /** Files containing at least one row matching `predicate`. Candidate
    * files are stats/partition-pruned IN SPARK from the predicate
    * ([[Snapshot.planFilesForPredicate]]) before the row-level scan —
    * a selective DELETE/UPDATE on a huge table plans and scans only
    * the files whose stats interval straddles the predicate. */
  private def filesMatching(
      snap: Snapshot, predicate: org.apache.spark.sql.Column): Seq[AddFile] = {
    val candidates = snap.planFilesForPredicate(predicate)
    if (candidates.isEmpty) return Nil
    val idx = fileIndex(snap, candidates)
    snap.readFilesLineage(candidates)
      .where(predicate)
      .select("__file").distinct().collect()
      .map(r => normalize(r.getString(0)))
      .flatMap(idx.get).distinct.toSeq
  }

  /** DELETE by targeted rewrite: only files containing matching rows
    * are rewritten, keeping their non-matching rows (NULL-predicate
    * rows are kept, SQL DELETE semantics). The right shape for LARGE
    * deletes; selective deletes should prefer [[deleteWithDv]], which
    * rewrites no data at all. Returns the committed version (current
    * version when no row matches). */
  def delete(log: DeltaLog, predicate: org.apache.spark.sql.Column): Long = {
    val snap = log.snapshot
    val touched = filesMatching(snap, predicate)
    if (touched.isEmpty) return snap.version
    // survivors keep their row ids (preservingScan attaches them as
    // materialized columns; the filter passes them through untouched).
    // With CDF on, the scan feeds BOTH the survivors and the deleted
    // change rows — cache it so the touched files are read once.
    val cdfOn = ChangeDataFeed.enabled(snap)
    val (scan0, preserved) = RowTracking.preservingScan(snap, touched)
    val scan = if (cdfOn) scan0.persist() else scan0
    try {
      val replacement = scan.where(!coalesce(predicate, lit(false)))
      val cdc =
        if (cdfOn)
          ChangeDataFeed.writeCdcFiles(log, ChangeDataFeed.deleteChanges(
            scan.where(coalesce(predicate, lit(false)))
              .select(snap.schema.fieldNames.map(col).toSeq: _*)))
        else Nil
      TransactionWriter.rewriteFiles(log, snap, touched, replacement, "DELETE",
        extraActions = cdc, preservedCols = preserved)
    } finally if (cdfOn) scan.unpersist()
  }

  /** Predicate-scoped atomic overwrite — Delta's `replaceWhere` write
    * mode, the idempotent re-processing primitive at scale (re-run a
    * day's pipeline and swap exactly that day's rows in ONE commit,
    * however the files are laid out): every stored row matching
    * `predicate` is replaced by `df`, everything else is untouched.
    *
    * Contract (delta-spark's): every incoming row must satisfy the
    * predicate — otherwise a retry would not be idempotent (rows
    * outside the scope would accumulate) — refused loudly up front.
    *
    * Shape: candidate files are stats/partition-pruned from the
    * predicate ([[filesMatching]] — a partition-aligned replace plans
    * only that partition's files), files with matching rows are
    * removed, their non-matching remainder rides along into the new
    * files, and the whole swap is one conflict-checked commit. CDF on
    * → delete changes for the replaced rows + insert changes for the
    * incoming ones, same commit. Returns the committed version. */
  def replaceWhere(log: DeltaLog, df: DataFrame,
      predicate: org.apache.spark.sql.Column): Long = {
    val snap = log.snapshot
    val pred = coalesce(predicate, lit(false))
    val aligned = df.select(snap.schema.fieldNames.map(col).toSeq: _*)
    require(aligned.where(!pred).limit(1).isEmpty,
      "replaceWhere: every incoming row must satisfy the predicate " +
        "(rows outside the replaced scope would make retries " +
        "non-idempotent)")
    val touched = filesMatching(snap, predicate)
    val cdfOn = ChangeDataFeed.enabled(snap)
    val scan0 =
      if (touched.isEmpty) snap.read().limit(0) else snap.readFiles(touched)
    val scan = if (cdfOn) scan0.persist() else scan0
    try {
      val remainder = scan.where(!pred)
        .select(snap.schema.fieldNames.map(col).toSeq: _*)
      val cdc =
        if (cdfOn)
          ChangeDataFeed.writeCdcFiles(log,
            ChangeDataFeed.deleteChanges(scan.where(pred)
                .select(snap.schema.fieldNames.map(col).toSeq: _*))
              .unionByName(ChangeDataFeed.insertChanges(aligned)))
        else Nil
      TransactionWriter.rewriteFiles(log, snap, touched,
        remainder.unionByName(aligned), "REPLACE WHERE", extraActions = cdc)
    } finally if (cdfOn) scan.unpersist()
  }

  /** Dynamic partition overwrite — replace exactly the partitions the
    * incoming frame touches, in ONE commit, leaving every other
    * partition's files untouched (Spark's
    * `partitionOverwriteMode=dynamic` contract; the daily-partition
    * refresh primitive where [[replaceWhere]]'s predicate would just
    * restate the partition values).
    *
    * The touched-partition set is the incoming frame's distinct
    * partition tuples (partition-cardinality-sized — planner metadata,
    * like range cuts and codebooks elsewhere); stored files match by
    * TYPED, null-safe comparison of their partition values through the
    * same cast path the read planner uses, so escaped/unicode/null
    * partition dirs all match correctly. Untouched partitions are
    * never read. CDF on → delete changes for the replaced partitions'
    * rows + insert changes for the incoming ones, same commit. */
  def overwriteDynamic(log: DeltaLog, df: DataFrame): Long = {
    val spark = log.spark
    val snap = log.snapshot
    val partCols = snap.metadata.partitionColumns
    require(partCols.nonEmpty,
      "dynamic partition overwrite needs a partitioned table " +
        "(use a plain overwrite otherwise)")
    val aligned = df.select(snap.schema.fieldNames.map(col).toSeq: _*)
    import spark.implicits._
    // stored (path, typed partition values); values are the log's raw
    // strings cast through the table types (the planner's attachment
    // path), nulls preserved
    // the log stores partitionValues under PHYSICAL names on
    // column-mapped tables — look up through the same mapping the
    // read planner uses
    val storedRaw = snap.planFiles()
      .map(f => (f.path, partCols.map(c =>
        f.partitionValues.get(snap.physicalNameOf(c)).flatMap(Option(_)))))
    val stored = storedRaw.toDF("__path", "__pv")
      .select(col("__path") +: partCols.zipWithIndex.map { case (c, i) =>
        element_at(col("__pv"), i + 1)
          .cast(snap.schema(c).dataType).as(c)
      }.toSeq: _*)
    val incoming = aligned.select(partCols.map(col).toSeq: _*).distinct()
    val cond = partCols.map(c => stored(c) <=> incoming(c)).reduce(_ && _)
    val removePaths = stored.join(incoming, cond, "left_semi")
      .select("__path").collect().map(_.getString(0)).toSet
    val removes = snap.planFiles().filter(f => removePaths.contains(f.path))
    val cdfOn = ChangeDataFeed.enabled(snap)
    val cdc =
      if (cdfOn) {
        val replaced =
          if (removes.isEmpty) snap.read().limit(0)
          else snap.readFiles(removes)
            .select(snap.schema.fieldNames.map(col).toSeq: _*)
        ChangeDataFeed.writeCdcFiles(log,
          ChangeDataFeed.deleteChanges(replaced)
            .unionByName(ChangeDataFeed.insertChanges(aligned)))
      } else Nil
    TransactionWriter.rewriteFiles(log, snap, removes, aligned,
      "WRITE", extraActions = cdc)
  }

  /** UPDATE by targeted rewrite: SET `set` columns on rows matching
    * `predicate`; only files containing matching rows are rewritten,
    * and their non-matching rows ride along unchanged. Returns the
    * committed version (current version when no row matches). */
  def update(
      log: DeltaLog,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    val snap = log.snapshot
    val schema = snap.schema
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    set.keys.foreach(k => require(schema.fieldNames.contains(k),
      s"SET column '$k' not in table schema ${schema.fieldNames.toSeq}"))
    val touched = filesMatching(snap, predicate)
    if (touched.isEmpty) return snap.version
    // An UPDATE keeps row IDENTITY (the materialized row id rides the
    // projection unchanged) but a MODIFIED row's commit version must
    // advance: nulling its materialized version makes the read fall
    // back to the new file's defaultRowCommitVersion — this commit.
    val cdfOn = ChangeDataFeed.enabled(snap)
    val (scan0, preserved) = RowTracking.preservingScan(snap, touched)
    val scan = if (cdfOn) scan0.persist() else scan0
    try {
      val hit = coalesce(predicate, lit(false))
      val matVer = preserved.drop(1).headOption // (idCol, verCol)
      val replacement = scan.select((schema.fieldNames.toSeq.map { c =>
        set.get(c) match {
          case Some(expr) =>
            when(hit, expr.cast(schema(c).dataType)).otherwise(col(c)).as(c)
          case None => col(c)
        }
      } ++ preserved.map { p =>
        if (matVer.contains(p))
          when(hit, lit(null).cast("long")).otherwise(col(s"`$p`")).as(p)
        else col(s"`$p`")
      }): _*)
      val cdc =
        if (cdfOn) {
          val pre = scan.where(hit)
            .select(schema.fieldNames.map(col).toSeq: _*)
          val post = pre.select(schema.fieldNames.toSeq.map { c =>
            set.get(c) match {
              case Some(expr) => expr.cast(schema(c).dataType).as(c)
              case None => col(c)
            }
          }: _*)
          ChangeDataFeed.writeCdcFiles(log,
            ChangeDataFeed.updateChanges(pre, post))
        } else Nil
      TransactionWriter.rewriteFiles(log, snap, touched, replacement, "UPDATE",
        extraActions = cdc, preservedCols = preserved)
    } finally if (cdfOn) scan.unpersist()
  }

  /** kill_duplicates with targeted rewrite. Returns the committed
    * version (current version when nothing matched). */
  def killDuplicates(log: DeltaLog, duplicationColumns: Seq[String]): Long = {
    val snap = log.snapshot
    Dedup.requireCols(snap.schema, duplicationColumns, "duplication_columns")
    val dupKeys = snap.read()
      .groupBy(duplicationColumns.map(col): _*)
      .agg(count(lit(1)).as("__cnt")).where(col("__cnt") > 1)
      .select(duplicationColumns.map(col): _*)
    val touched = touchedFiles(log, snap, dupKeys, duplicationColumns)
    if (touched.isEmpty) return snap.version
    val scan = snap.readFiles(touched)
    val replacement = Dedup.killDuplicates(scan, duplicationColumns)
    val cdc = ChangeDataFeed.rewriteDeleteCdc(log, snap, scan, replacement)
    TransactionWriter.rewriteFiles(log, snap, touched, replacement, "DELETE",
      extraActions = cdc)
  }

  /** drop_duplicates (ordered survivor) with targeted rewrite.
    * `salts > 1` routes survivor selection through the skew-hardened
    * two-phase plan ([[Dedup.dropDuplicatesOrderedSalted]]) — use when a
    * dup group can be hot; requires `orderBy` to be a total order. */
  def dropDuplicatesOrdered(
      log: DeltaLog, duplicationColumns: Seq[String], orderBy: Seq[String],
      salts: Int = 0): Long =
    dropDuplicatesOrdered(log, log.snapshot, duplicationColumns, orderBy, salts)

  /** [[dropDuplicatesOrdered]] on a snapshot the caller already
    * resolved (and validated against). */
  private def dropDuplicatesOrdered(log: DeltaLog, snap: Snapshot,
      duplicationColumns: Seq[String], orderBy: Seq[String],
      salts: Int): Long = {
    val data = snap.read()
    Dedup.requireCols(snap.schema, duplicationColumns, "duplication_columns")
    require(orderBy.nonEmpty, "orderBy must be non-empty for a deterministic survivor")
    val dupKeys = data.groupBy(duplicationColumns.map(col): _*)
      .agg(count(lit(1)).as("__cnt")).where(col("__cnt") > 1)
      .select(duplicationColumns.map(col): _*)
    val touched = touchedFiles(log, snap, dupKeys, duplicationColumns)
    if (touched.isEmpty) return snap.version
    val scan = snap.readFiles(touched)
    val replacement0 =
      if (salts > 1)
        Dedup.dropDuplicatesOrderedSalted(scan, duplicationColumns,
          orderBy.map(col(_).asc), salts)
      else
        Dedup.dropDuplicatesOrdered(scan, duplicationColumns, orderBy.map(col(_).asc))
    // With CDF on, the survivor set is consumed TWICE (cdc diff + the
    // committed rewrite). Under a non-total orderBy the window's
    // tie-break is plan-nondeterministic, so a re-execution could pick
    // a DIFFERENT (still valid) survivor and the feed would disagree
    // with the table — pin one materialization before both uses.
    val cdfOn = ChangeDataFeed.enabled(snap)
    val replacement =
      if (cdfOn) replacement0.localCheckpoint(true) else replacement0
    val cdc = ChangeDataFeed.rewriteDeleteCdc(log, snap, scan, replacement)
    TransactionWriter.rewriteFiles(log, snap, touched, replacement, "DELETE",
      extraActions = cdc)
  }

  /** drop_duplicates_pkey with targeted rewrite (pkey must be unique —
    * full validation set of the reference, levi/__init__.py:372-397). */
  def dropDuplicatesPkey(
      log: DeltaLog, primaryKey: String, duplicationColumns: Seq[String]): Long = {
    val snap = log.snapshot
    // runs every validation eagerly (incl. the uniqueness count guard),
    // on the same snapshot the rewrite then plans against — a commit
    // landing in between cannot slip past the validation
    Dedup.dropDuplicatesPkey(snap.read(), primaryKey, duplicationColumns)
    dropDuplicatesOrdered(log, snap, duplicationColumns, Seq(primaryKey), salts = 0)
  }

  /** SCD2 upsert with targeted rewrite: only files holding a CURRENT
    * row of a changed key are rewritten; inserts ride the same commit
    * as new files. History files and files of unchanged keys keep their
    * add paths. */
  def type2ScdUpsert(
      log: DeltaLog,
      updates: DataFrame,
      primaryKey: String,
      attrColNames: Seq[String],
      isCurrentColName: String = "is_current",
      effectiveTimeColName: String = "effective_time",
      endTimeColName: String = "end_time"): Long = {
    val snap = log.snapshot
    val base = snap.read()
    val plan = graft.operators.Scd2.plan(base, updates, primaryKey, attrColNames,
      isCurrentColName, effectiveTimeColName, endTimeColName)
    val changedKeys = plan.changedKeys.cache()
    val touched = touchedFiles(log, snap, changedKeys.select(primaryKey),
      Seq(primaryKey), rowFilter = col(isCurrentColName))
    val inserts = plan.inserts
    if (touched.isEmpty && inserts.isEmpty) return snap.version
    val touchedScan = snap.readFiles(touched)
    val closedTouched = graft.operators.Scd2.applyCloses(
      touchedScan, changedKeys, primaryKey,
      isCurrentColName, endTimeColName)
    val replacement = closedTouched.unionByName(inserts)
    val cdc =
      if (ChangeDataFeed.enabled(snap)) {
        // pre = the CURRENT rows being closed; post = their closed
        // versions (exact diff over touched files); inserts as inserts.
        // exceptAll is positional — realign to the scan's column order.
        val closedAligned = closedTouched.select(
          touchedScan.columns.map(col).toSeq: _*)
        val pre = touchedScan.exceptAll(closedAligned)
        val post = closedAligned.exceptAll(touchedScan)
        ChangeDataFeed.writeCdcFiles(log,
          ChangeDataFeed.updateChanges(pre, post)
            .unionByName(ChangeDataFeed.insertChanges(inserts)))
      } else Nil
    TransactionWriter.rewriteFiles(log, snap, touched, replacement, "MERGE",
      extraActions = cdc)
  }

  /** Per-plan outcome of [[dvMarkActions]]: no matching row, a bounded
    * action set, or a refusal because the match set is too large to
    * driver-materialize as bitmaps (caller falls back to the targeted
    * rewrite path, which never holds rows on the driver). */
  private[delta] sealed trait DvPlan
  private[delta] case object DvNoMatch extends DvPlan
  private[delta] final case class DvActions(
      actions: Seq[Action], touched: Seq[AddFile]) extends DvPlan
  private[delta] final case class DvTooBroad(matchedRows: Long) extends DvPlan

  /** Matched-row caps for the DV path (driver bitmap memory guard):
    * absolute rows and fraction of the table's rows (from stats; files
    * without numRecords are ignored by the fraction check). The
    * fraction cap guards against DV-ing most of a LARGE table
    * (write-amplification: better to rewrite); at or below
    * `fractionCheckMinRows` matched rows the bitmaps are KB-scale and
    * either route is fine, so the table-rows stats aggregation — one
    * whole Spark job on the mutation hot path — is skipped. */
  private[delta] final case class DvLimits(
      maxMatchedRows: Long = 10000000L,
      maxMatchedFraction: Double = 0.5,
      fractionCheckMinRows: Long = 65536L)

  /** Actions marking every row matching `predicate` as deleted via
    * per-file deletion vectors (merged into any existing DV), plus the
    * protocol upgrade on first DV use. The matched-row count is
    * computed IN THE SAME aggregation and checked against the caps
    * BEFORE any row list reaches the driver — a broad predicate returns
    * [[DvTooBroad]] instead of OOMing the driver. The lineage scan
    * already excludes previously-deleted rows, so the merge union is
    * disjoint. */
  private def dvMarkActions(
      log: DeltaLog, snap: Snapshot,
      predicate: org.apache.spark.sql.Column, limits: DvLimits): DvPlan = {
    // candidates pruned by stats in Spark; only straddling files
    // scanned. FULL rows when the candidate set is small — the DV
    // re-add needs their stats anyway, and fetching them here saves
    // the per-mutation refetch job.
    val (candidates, haveStats) = snap.planFilesForPredicateFull(predicate)
    if (candidates.isEmpty) return DvNoMatch
    dvPlanFromMatches(log, snap,
      snap.readFilesLineage(candidates).where(predicate)
        .select(col("__file"), col("__row")),
      candidates, candidatesHaveStats = haveStats, limits)
  }

  /** [[dvMarkActions]] generalized to a pre-computed matched
    * `(__file, __row)` frame — the entry point DV-backed MERGE uses
    * (its match set comes from a join against the source, not a
    * standalone predicate). Same cardinality guard, same bitmap merge,
    * same protocol upgrade. */
  private[delta] def dvPlanFromMatches(
      log: DeltaLog, snap: Snapshot,
      matchedRowsDf: org.apache.spark.sql.DataFrame,
      candidates: Seq[AddFile],
      candidatesHaveStats: Boolean = false,
      limits: DvLimits = DvLimits()): DvPlan = {
    val grouped = matchedRowsDf
      .groupBy(col("__file"))
      .agg(count(lit(1)).as("__cnt"),
        sort_array(collect_list(col("__row"))).as("__rows"))
      .persist()
    val perFileSlim: Seq[(AddFile, Array[Long])] = try {
      val matchedRows = grouped.agg(sum(col("__cnt"))).collect()(0) match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
      if (matchedRows == 0L) return DvNoMatch
      lazy val tableRows: Option[Long] = {
        val r = snap.addsFlat.agg(sum(col("num_records"))).collect()(0)
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
      if (matchedRows > limits.maxMatchedRows ||
          (matchedRows > limits.fractionCheckMinRows &&
            tableRows.exists(t => t > 0 &&
              matchedRows > t * limits.maxMatchedFraction)))
        return DvTooBroad(matchedRows)
      val idx = fileIndex(snap, candidates)
      grouped.select(col("__file"), col("__rows"))
        .collect().toSeq.flatMap { r =>
          idx.get(normalize(r.getString(0))).map(f => f -> r.getSeq[Long](1).toArray)
        }
    } finally grouped.unpersist()
    if (perFileSlim.isEmpty) return DvNoMatch
    // the DV commit RE-ADDS the touched entries verbatim — when the
    // planner already collected full rows (stats included) they are
    // reusable as-is; otherwise (slim MERGE planning) fetch the
    // touched files' full entries so skipping keeps working on them
    val fullByPath =
      if (candidatesHaveStats)
        candidates.map(f => f.path -> f).toMap
      else snap.collectAddFiles(
        col("path").isin(perFileSlim.map(_._1.path): _*))
        .map(f => f.path -> f).toMap
    val perFile = perFileSlim.map { case (f, rows) => fullByPath(f.path) -> rows }
    val mergedRows: Seq[(AddFile, Array[Long])] = perFile.map { case (f, rows) =>
      val existing = f.deletionVector.toSeq.flatMap(dv =>
        DeletionVectors.readRows(log.fs, log.rootPath, dv))
      f -> (existing ++ rows).toArray.distinct.sorted
    }
    val descriptors = DeletionVectors.writeFile(
      log.fs, log.rootPath, mergedRows.map(_._2))
    val now = System.currentTimeMillis()
    val actions = scala.collection.mutable.ArrayBuffer.empty[Action]
    // Protocol upgrade on first DV write (Table Features: reader 3 /
    // writer 7 list every active feature explicitly, including the ones
    // the legacy version numbers implied).
    val p = snap.protocol
    if (p.minReaderVersion < 3 || p.minWriterVersion < 7 ||
        !p.readerFeatures.contains("deletionVectors")) {
      val legacyWriter = Set("appendOnly", "invariants")
      val cmFeature =
        if (snap.columnMappingMode != "none") Set("columnMapping") else Set.empty[String]
      actions += ProtocolAction(Protocol(
        minReaderVersion = 3,
        minWriterVersion = 7,
        readerFeatures = p.readerFeatures ++ cmFeature + "deletionVectors",
        writerFeatures = p.writerFeatures ++ legacyWriter ++ cmFeature + "deletionVectors"))
    }
    mergedRows.zip(descriptors).foreach { case ((f, rows), desc) =>
      actions += AddAction(f.copy(
        modificationTime = now,
        dataChange = true,
        deletionVector = Some(desc)))
      actions += RemoveAction(RemoveFile(f.path, now, dataChange = true,
        partitionValues = f.partitionValues, size = Some(f.size),
        deletionVector = f.deletionVector))
    }
    DvActions(actions.toSeq, mergedRows.map(_._1))
  }

  /** DELETE via deletion vectors: mark matching rows deleted in a
    * sidecar bitmap instead of rewriting their files — the modern
    * delta-spark default. Cost is O(matched rows) bitmap bytes + one
    * metadata commit; a predicate touching 0.001% of a 100 TB table
    * writes KBs where the rewrite path writes the touched files.
    * Upgrades the table protocol to reader 3 / writer 7 with the
    * `deletionVectors` feature on first use (as delta-spark does when
    * `delta.enableDeletionVectors` turns on).
    *
    * Sizing note: the matched (file, row) set is aggregated per file and
    * streamed to the driver to build bitmaps — right for SELECTIVE
    * deletes. Deleting most of a table should use the rewrite paths
    * above instead (same guidance delta-spark gives).
    *
    * Returns the committed version (current version when no row
    * matches). */
  def deleteWithDv(log: DeltaLog, predicate: org.apache.spark.sql.Column): Long =
    deleteWithDv(log, predicate, DvLimits())

  /** [[deleteWithDv]] with the DV-path caps as a parameter, so a test
    * can reach the fallback at small scale. */
  private[delta] def deleteWithDv(log: DeltaLog,
      predicate: org.apache.spark.sql.Column, limits: DvLimits): Long = {
    val snap = log.snapshot
    require(!snap.metadata.configuration.get("delta.appendOnly").contains("true"),
      s"cannot delete from ${log.tablePath}: table is delta.appendOnly")
    val (dvActions, touched) = dvMarkActions(log, snap, predicate, limits) match {
      case DvNoMatch => return snap.version
      // too many matched rows to bitmap on the driver — the targeted
      // rewrite deletes the same rows with executor-side state only
      case DvTooBroad(_) => return delete(log, predicate)
      case DvActions(a, t) => (a, t)
    }
    val cdc =
      if (ChangeDataFeed.enabled(snap))
        ChangeDataFeed.writeCdcFiles(log, ChangeDataFeed.deleteChanges(
          snap.readFiles(touched).where(coalesce(predicate, lit(false)))))
      else Nil
    val actions = CommitInfoAction(CommitInfo(System.currentTimeMillis(),
      "DELETE", Map("mode" -> "deletionVectors"))) +: (dvActions ++ cdc)
    val v = TransactionWriter.commitWithRebase(log, snap.version + 1,
      actions, touchedPaths = touched.map(_.path).toSet,
      ictEnabled = snap.metadata.configuration
        .get("delta.enableInCommitTimestamps").contains("true"))
    log.spark.catalog.clearCache()
    v
  }

  /** UPDATE via deletion vectors (the delta-spark DV-update shape):
    * matched rows are marked deleted in their files' DVs — no data
    * rewrite — and their updated versions land as NEW files in the same
    * commit. Cost is O(matched rows), not O(touched files): updating 10
    * rows of a 1 GB file writes a KB bitmap plus a 10-row file where
    * [[update]] rewrites the GB. Returns the committed version (current
    * version when no row matches). */
  def updateWithDv(
      log: DeltaLog,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    val snap = log.snapshot
    require(!snap.metadata.configuration.get("delta.appendOnly").contains("true"),
      s"cannot update ${log.tablePath}: table is delta.appendOnly")
    val schema = snap.schema
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    set.keys.foreach(k => require(schema.fieldNames.contains(k),
      s"SET column '$k' not in table schema ${schema.fieldNames.toSeq}"))
    val (dvActions, touched) = dvMarkActions(log, snap, predicate, DvLimits()) match {
      case DvNoMatch => return snap.version
      case DvTooBroad(_) => return update(log, predicate, set)
      case DvActions(a, t) => (a, t)
    }
    // Updated versions of the matched rows, scanned from ONLY the
    // touched files of the PRE-mutation snapshot.
    val pre = snap.readFiles(touched).where(coalesce(predicate, lit(false)))
    val updated = pre
      .select(schema.fieldNames.toSeq.map { c =>
        set.get(c) match {
          case Some(expr) => expr.cast(schema(c).dataType).as(c)
          case None => col(c)
        }
      }: _*)
    val cdc =
      if (ChangeDataFeed.enabled(snap))
        ChangeDataFeed.writeCdcFiles(log,
          ChangeDataFeed.updateChanges(pre, updated))
      else Nil
    TransactionWriter.writeAndCommit(log, updated, Some(snap),
      removes = Nil, partitionBy = Some(snap.metadata.partitionColumns),
      configuration = Map.empty, operation = "UPDATE", mode = "Rewrite",
      extraActions = dvActions ++ cdc,
      extraTouched = touched.map(_.path).toSet)
  }
}
