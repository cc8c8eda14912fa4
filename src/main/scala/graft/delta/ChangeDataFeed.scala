package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Change Data Feed (Delta protocol "Change Data Files" / the
  * `delta.enableChangeDataFeed` table property, delta-spark's
  * `table_changes`).
  *
  * Write side: mutation commits carry `cdc` actions naming parquet
  * files under `_change_data/` that hold the changed rows (table
  * columns + `_change_type` ∈ insert | delete | update_preimage |
  * update_postimage). Replay ignores cdc actions — they never affect
  * table state — and vacuum never touches `_change_data/` (underscore
  * prefix). Divergence from delta-spark's layout, documented: cdc
  * files inline ALL table columns including partition columns
  * (self-describing; the cdc action's partitionValues is left empty),
  * rather than splitting partition values into directory names.
  *
  * Read side ([[tableChanges]]): per commit, cdc actions win when
  * present; otherwise changes are DERIVED the way delta-spark's
  * CDCReader does — `add(dataChange=true)` rows are inserts,
  * `remove(dataChange=true)` rows are deletes (read from the files as
  * they were visible in the PREVIOUS snapshot, so pre-existing
  * deletion vectors are honored). A rewrite commit without cdc files
  * (e.g. OPTIMIZE carries dataChange=false — skipped entirely; a
  * foreign engine's DELETE without cdc) therefore degrades to
  * file-level insert+delete pairs, same as delta-spark.
  *
  * Scale posture: one distributed scan per commit in the range over
  * only that commit's files, unioned; no data ever lands on the
  * driver.
  */
object ChangeDataFeed {

  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
  val CommitTimestampCol = "_commit_timestamp"

  def enabled(snap: Snapshot): Boolean =
    snap.metadata.configuration.get("delta.enableChangeDataFeed").contains("true")

  /** SET TBLPROPERTIES delta.enableChangeDataFeed=true, with the
    * writer-protocol upgrade (legacy writer 4, or the `changeDataFeed`
    * feature on a v7 table). Returns the committed version. */
  def enable(log: DeltaLog): Long = {
    val snap = log.snapshot
    if (enabled(snap)) return snap.version
    val p = snap.protocol
    val proto =
      if (p.minWriterVersion >= 7)
        p.copy(writerFeatures = p.writerFeatures + "changeDataFeed")
      else if (p.minWriterVersion < 4) p.copy(minWriterVersion = 4)
      else p
    val m = snap.metadata
    val newMeta = m.copy(configuration =
      m.configuration + ("delta.enableChangeDataFeed" -> "true"))
    val v = snap.version + 1
    log.commit(v, Seq(
      CommitInfoAction(CommitInfo(System.currentTimeMillis(),
        "SET TBLPROPERTIES", Map("delta.enableChangeDataFeed" -> "true"))),
      MetadataAction(newMeta)) ++
      (if (proto != p) Seq(ProtocolAction(proto)) else Nil),
      ictEnabled = m.configuration
        .get("delta.enableInCommitTimestamps").contains("true"))
    v
  }

  /** Write `changeDf` (table columns + `_change_type`) as parquet under
    * `_change_data/` and return the cdc actions for the commit. The
    * write is distributed (staging + rename, same shape as data
    * files). Returns Nil for an empty frame without running a job when
    * statically empty is unknowable — callers pass frames they know
    * are non-empty (matched rows). */
  private[delta] def writeCdcFiles(log: DeltaLog, changeDf: DataFrame): Seq[CdcAction] = {
    val fs = log.fs
    val cdcDir = new Path(log.rootPath, "_change_data")
    val staging = new Path(log.rootPath,
      s".graft-cdc-staging-${java.util.UUID.randomUUID}")
    try {
      changeDf.write.mode("overwrite").parquet(staging.toString)
      fs.mkdirs(cdcDir)
      val staged = fs.listStatus(staging).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      staged.map { st =>
        val name = s"cdc-${java.util.UUID.randomUUID}.parquet"
        val dest = new Path(cdcDir, name)
        if (!fs.rename(st.getPath, dest))
          throw new java.io.IOException(s"rename ${st.getPath} -> $dest failed")
        val len = fs.getFileStatus(dest).getLen
        CdcAction(AddCDCFile(s"_change_data/$name", Map.empty, len))
      }
    } finally fs.delete(staging, true)
  }

  /** The change feed of versions [startVersion, endVersion] (endVersion
    * defaults to the latest). Output columns: the CURRENT table schema
    * plus `_change_type`, `_commit_version`, `_commit_timestamp`;
    * commits whose schema lacked later-added columns surface null
    * there. */
  def tableChanges(
      log: DeltaLog,
      startVersion: Long,
      endVersion: Option[Long] = None): DataFrame = {
    val spark = log.spark
    val latest = log.latestVersion()
    val end = endVersion.getOrElse(latest)
    require(startVersion >= 0 && startVersion <= end && end <= latest,
      s"bad change range [$startVersion, $end] for table at version $latest")
    val endSnap = log.snapshotAt(end)
    val logicalSchema = endSnap.schema

    def align(df: DataFrame): DataFrame =
      df.select((logicalSchema.fields.toSeq.map { f =>
        if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      } :+ col(ChangeTypeCol)): _*)

    def tsOf(v: Long): java.sql.Timestamp = new java.sql.Timestamp(
      log.inCommitTimestampOf(v).getOrElse(
        log.fs.getFileStatus(
          new Path(log.logPath, f"$v%020d.json")).getModificationTime))

    val perVersion: Seq[DataFrame] = (startVersion to end).flatMap { v =>
      val actions = log.commitActions(v)
      val cdcs = actions.collect { case CdcAction(c) => c }
      val base: Option[DataFrame] =
        if (cdcs.nonEmpty) {
          val paths = cdcs.map(c =>
            new Path(log.rootPath, DeltaLog.decodePath(c.path)).toString)
          val readSchema = StructType(logicalSchema.fields :+
            StructField(ChangeTypeCol, StringType))
          Some(spark.read.schema(readSchema).parquet(paths: _*))
        } else {
          val adds = actions.collect { case AddAction(a) if a.dataChange => a }
          // FSCK removes entries for files MISSING from storage — their
          // rows are unrecoverable, so deriving deletes would fail on
          // FileNotFound and make every spanning range unreadable. The
          // repair contributes nothing to the feed (documented on
          // Maintenance.fsck).
          val isFsck = actions.collectFirst {
            case CommitInfoAction(ci) => ci.operation
          }.contains("FSCK")
          val removes =
            if (isFsck) Nil
            else actions.collect { case RemoveAction(r) if r.dataChange => r }
          val inserts =
            if (adds.isEmpty) None
            else Some(align(log.snapshotAt(v).readFiles(adds)
              .withColumn(ChangeTypeCol, lit("insert"))))
          val deletes =
            if (removes.isEmpty) None
            else {
              val prior = log.snapshotAt(v - 1)
              // only the REMOVED entries are fetched — pruned in Spark
              val byPath = prior.planFiles(Some(
                col("path").isin(removes.map(_.path): _*)))
                .map(f => f.path -> f).toMap
              val removedAdds = removes.flatMap(r => byPath.get(r.path))
              if (removedAdds.isEmpty) None
              else Some(align(prior.readFiles(removedAdds)
                .withColumn(ChangeTypeCol, lit("delete"))))
            }
          (inserts, deletes) match {
            case (Some(i), Some(d)) => Some(i.unionByName(d))
            case (i, d) => i.orElse(d)
          }
        }
      base.map(_
        .withColumn(CommitVersionCol, lit(v))
        .withColumn(CommitTimestampCol, lit(tsOf(v))))
    }
    perVersion.reduceOption(_.unionByName(_)).getOrElse {
      val empty = StructType(logicalSchema.fields ++ Seq(
        StructField(ChangeTypeCol, StringType),
        StructField(CommitVersionCol, org.apache.spark.sql.types.LongType),
        StructField(CommitTimestampCol, org.apache.spark.sql.types.TimestampType)))
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), empty)
    }
  }

  /** [[tableChanges]] with a TIMESTAMP range (delta-spark's
    * `table_changes(..., startingTimestamp, endingTimestamp)`): the
    * range covers every commit whose timestamp falls in
    * `[startTs, endTs]` (endTs defaults to now). Timestamps resolve the
    * same way time travel does — in-commit timestamps when the feature
    * is on, commit-file modification times otherwise — so the two
    * surfaces can never disagree about what existed when. An empty
    * window yields the typed empty frame. */
  def tableChangesByTimestamp(
      log: DeltaLog,
      startTs: java.time.Instant,
      endTs: Option[java.time.Instant] = None): DataFrame = {
    val latest = log.latestVersion()
    val endMs = endTs.map(_.toEpochMilli).getOrElse(Long.MaxValue)
    val startMs = startTs.toEpochMilli
    require(startMs <= endMs, s"bad timestamp range [$startTs, $endTs]")
    def tsOfVersion(v: Long): Long = log.inCommitTimestampOf(v).getOrElse(
      log.fs.getFileStatus(
        new Path(log.logPath, f"$v%020d.json")).getModificationTime)
    // the replayable range is [earliest commit file, latest]
    val (commits, _) = log.listLog()
    require(commits.nonEmpty, s"${log.tablePath} has no commit files")
    val versions = commits.sorted.map(v => v -> tsOfVersion(v))
    val inWindow = versions.filter { case (_, t) => t >= startMs && t <= endMs }
      .map(_._1)
    if (inWindow.isEmpty)
      return tableChanges(log, latest, Some(latest)).limit(0)
    // mtime-based timestamps need not be monotonic (copied logs, clock
    // skew) — spanning [min, max] would smuggle in out-of-window
    // commits, so union one feed per CONTIGUOUS in-window run instead.
    val runs = inWindow.foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, v) if v == e + 1 => (s, v) :: rest
      case (acc, v) => (v, v) :: acc
    }.reverse
    runs.map { case (s, e) => tableChanges(log, s, Some(e)) }
      .reduce(_.unionByName(_))
  }

  /** Change rows (with `_change_type`) for a DELETE of `matched` rows,
    * ready for [[writeCdcFiles]]. */
  private[delta] def deleteChanges(matched: DataFrame): DataFrame =
    matched.withColumn(ChangeTypeCol, lit("delete"))

  private[delta] def insertChanges(rows: DataFrame): DataFrame =
    rows.withColumn(ChangeTypeCol, lit("insert"))

  /** cdc actions for a delete-only targeted rewrite: the deleted rows
    * are EXACTLY the multiset difference scan − replacement (computed
    * over the touched files only, and only when CDF is on).
    * `replacement` is realigned to `scan`'s column order first —
    * `exceptAll` resolves by POSITION, and e.g. a using-join puts the
    * join columns first, which would silently coerce mismatched
    * columns. */
  private[delta] def rewriteDeleteCdc(
      log: DeltaLog, snap: Snapshot,
      scan: DataFrame, replacement: DataFrame): Seq[CdcAction] =
    if (!enabled(snap)) Nil
    else {
      val aligned = replacement.select(scan.columns.map(col).toSeq: _*)
      writeCdcFiles(log, deleteChanges(scan.exceptAll(aligned)))
    }

  /** Pre/post-image change rows for an UPDATE: `pre` are the matched
    * rows as stored; `post` the same rows with SET applied. */
  private[delta] def updateChanges(pre: DataFrame, post: DataFrame): DataFrame =
    pre.withColumn(ChangeTypeCol, lit("update_preimage"))
      .unionByName(post.withColumn(ChangeTypeCol, lit("update_postimage")))
}
