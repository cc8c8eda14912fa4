package graft.delta

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import scala.collection.mutable.ArrayBuffer

/** Native Delta transaction-log handle (no delta-spark dependency).
  *
  * Replay strategy (SURVEY.md §2b): snapshot state = newest complete
  * checkpoint ≤ v (read with Spark — checkpoints can be arbitrarily
  * large) + the JSON commit tail (cp, v] (parsed driver-side — the tail
  * is bounded by the checkpoint interval and is a handful of KB).
  * Reconciliation of adds vs removes happens in a Spark job so the
  * active-file set never has to fit in driver memory before pruning
  * (see [[Snapshot.adds]]).
  *
  * Behavior mirrors what the reference gets from delta-rs
  * (`DeltaTable(path)`, /root/reference/levi/__init__.py:3) as pinned by
  * the reader corpus under /root/reference/tests/reader_tests/generated/.
  */
class DeltaLog(val spark: SparkSession, val tablePath: String) {
  import DeltaLog._

  val rootPath = new Path(tablePath)
  val logPath = new Path(rootPath, "_delta_log")
  /** Cached per instance: `newHadoopConf()` copies the whole session
    * conf on EVERY call, and the commit/replay paths consult `fs`
    * dozens of times per operation (a round-14 stack sample found it
    * on the matview refresh main thread). FileSystem.get already caches
    * by scheme/authority, so holding the resolved handle changes
    * nothing about which filesystem is used; a DeltaLog instance is
    * short-lived (one `forPath` per operation), so a session hadoop
    * conf change still lands on the next instance. */
  lazy val fs: FileSystem = logPath.getFileSystem(spark.sessionState.newHadoopConf())

  /** (commit versions present, complete checkpoint versions present) */
  def listLog(): (Seq[Long], Seq[Long]) = {
    val names = listLogNames()
    val commits = names.collect { case CommitFileRe(v) => v.toLong }.sorted.toSeq
    (commits, checkpointVersions(names))
  }

  private def listLogNames(): Seq[String] = {
    if (!fs.exists(logPath)) Nil
    else fs.listStatus(logPath).map(_.getPath.getName).toSeq
  }

  private def checkpointVersions(names: Seq[String]): Seq[Long] = {
    val singleCps = names.collect { case CheckpointFileRe(v) => v.toLong }
    val multiParts = names.collect { case MultiPartCheckpointRe(v, _, n) => (v.toLong, n.toInt) }
    val completeMulti = multiParts.groupBy(identity).collect {
      case ((v, n), parts) if parts.length == n => v
    }
    // A v2 checkpoint is complete by existence of its top-level manifest
    // (sidecars are written before it and referenced from it).
    val v2 = names.collect { case V2CheckpointRe(v, _, _) => v.toLong }
    (singleCps ++ completeMulti ++ v2).distinct.sorted.toSeq
  }

  def latestVersion(): Long = {
    val (commits, cps) = listLog()
    val all = commits ++ cps
    require(all.nonEmpty, s"$tablePath is not a Delta table (empty _delta_log)")
    all.max
  }

  /** Latest snapshot. Resolution is seeded from `_last_checkpoint` when
    * present: read the pointer, verify the checkpoint parts exist, then
    * probe the commit tail FORWARD with existence checks — O(tail)
    * instead of O(all commits) listing. At 10⁵+ commits the full
    * `_delta_log` listing is the bottleneck (and on object stores a
    * LIST of the whole prefix); the probe touches only files past the
    * checkpoint. Falls back to the full listing when the pointer is
    * missing, stale, or the checkpoint incomplete.
    *
    * CURRENCY-PROBED CACHE: a resolved snapshot of a fixed (table,
    * version) is immutable, and the read-modify-commit flows (matview
    * refresh, index maintenance, MERGE) resolve the same snapshot
    * several times per operation — previously each call re-listed and
    * re-replayed the log tail, the single largest fixed per-commit
    * cost. The cache revalidates with THREE tiny probes instead: (a)
    * `version+1.json` must not exist (a commit can only land at the
    * standard filename — see [[CommitCoordinator]]); (b) the
    * `_last_checkpoint` pointer must be UNCHANGED since resolution —
    * a new checkpoint (even at the cached version: the resolved
    * snapshot must reflect its bootstrap anchor), a retention cleanup,
    * or a foreign writer's checkpoint all move it; (c) the cached
    * version itself must still be anchored — its commit file present,
    * or the checkpoint pointer AT it (log cleanup deletes only
    * pre-checkpoint commits) — which catches a log deleted and
    * re-created at a recycled path (a fresh history starts at 0, so
    * neither anchor for the stale version exists). Any probe failing →
    * full re-resolution, so staleness is impossible. */
  def snapshot: Snapshot = {
    val key = logPath.toString
    val cached = Option(DeltaLog.snapshotCache.get(key))
      .filter(_._1 eq spark)
    val hint = lastCheckpointHint().map(_._1)
    val current = cached.filter { case (_, s, hintAtResolve, anchor) =>
      !fs.exists(new Path(logPath, f"${s.version + 1}%020d.json")) &&
        hint == hintAtResolve &&
        // identity probe, not just existence: a table deleted and
        // re-created at the same path whose fresh history reaches
        // exactly the cached version (with an identical
        // `_last_checkpoint` value) passes (a)+(b), but its anchor
        // FILE is a different object — (modTime, length) moved
        anchorOf(s.version).contains(anchor)
    }.map(_._2)
    current.getOrElse {
      val t0 = System.currentTimeMillis()
      val s = lastCheckpointBootstrap().getOrElse(snapshotAt(latestVersion()))
      if (DeltaLog.snapshotCache.size > 128) DeltaLog.snapshotCache.clear()
      // cache only when the anchor file PREDATES the resolution start:
      // an anchor written during the resolve window means the history
      // may have been deleted and re-created mid-resolve — pairing the
      // (possibly old-history) snapshot with the new anchor would make
      // the stale result sticky. Skipping the cache costs one
      // re-resolution, never correctness.
      anchorOf(s.version).filter(_._2 <= t0).foreach(a =>
        DeltaLog.snapshotCache.put(key, (spark, s, hint, a)))
      s
    }
  }

  /** Identity of the file PROVING a resolved version: the commit json
    * when present, else the checkpoint's first part — with its
    * (modificationTime, length). A log deleted and re-created at the
    * same path re-creates the anchor as a different file object, so
    * comparing the triple catches recreation that pure existence
    * probes cannot (same-length re-creation within one mtime granule
    * is the theoretical residue — acceptable next to the alternative
    * of a full LIST per call). ONE metadata RPC on the common path:
    * getFileStatus directly, FileNotFound routing to the checkpoint
    * arm instead of a separate exists probe. */
  private def anchorOf(version: Long): Option[(String, Long, Long)] = {
    def statusOf(q: Path): Option[(String, Long, Long)] =
      try {
        val st = fs.getFileStatus(q)
        Some((q.toString, st.getModificationTime, st.getLen))
      } catch { case scala.util.control.NonFatal(_) => None }
    statusOf(new Path(logPath, f"$version%020d.json")).orElse(
      try checkpointFiles(version).headOption
        .map(new Path(_)).flatMap(statusOf)
      catch { case scala.util.control.NonFatal(_) => None })
  }

  /** `_last_checkpoint` content: (version, parts). */
  def lastCheckpointHint(): Option[(Long, Option[Int])] = {
    val p = new Path(logPath, "_last_checkpoint")
    if (!fs.exists(p)) None
    else try {
      val in = new BufferedReader(
        new InputStreamReader(fs.open(p), StandardCharsets.UTF_8))
      val text = try in.readLine() finally in.close()
      val node = JsonUtil.mapper.readTree(text)
      Some((node.get("version").asLong(),
        Option(node.get("parts")).filterNot(_.isNull).map(_.asInt())))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def lastCheckpointBootstrap(): Option[Snapshot] =
    lastCheckpointHint().flatMap { case (v, parts) =>
      val cpFiles = checkpointFiles(v)
      val complete = parts match {
        case Some(n) => cpFiles.length == n
        case None => cpFiles.nonEmpty
      }
      if (!complete) None // stale pointer → full listing fallback
      else {
        var tailVersions = Vector.empty[Long]
        var next = v + 1
        while (fs.exists(new Path(logPath, f"$next%020d.json"))) {
          tailVersions :+= next
          next += 1
        }
        val tail = readTail(tailVersions)
        val snap = new Snapshot(this, tailVersions.lastOption.getOrElse(v),
          Some(v), tail)
        snap.requireReadable()
        Some(snap)
      }
    }

  /** Snapshot of a PINNED version. Cached: a resolved (path, version)
    * snapshot is immutable, and the read-modify-commit lifecycles
    * (matview refresh pins both sources, CDF reads, index maintenance)
    * resolve the same pinned snapshot several times per operation —
    * each previously paying a full `_delta_log` LIST + tail replay,
    * the remaining per-refresh O(log) cost at 10⁵ commits on an object
    * store. Reuse is guarded by ONE metadata RPC ([[anchorOf]] — the
    * version's anchor file identity), which also catches a table
    * deleted and re-created at the same path. */
  def snapshotAt(version: Long): Snapshot = {
    val key = (logPath.toString, version)
    // anchor is captured BEFORE resolution: if the history is deleted
    // and re-created mid-resolve, the stored anchor belongs to the
    // history the resolve STARTED from, so the next call's fresh
    // anchor mismatches and re-resolves — stale state can never stick
    val anchor = anchorOf(version)
    val hit = Option(DeltaLog.versionSnapshotCache.get(key))
      .filter(_._1 eq spark)
      .filter { case (_, _, a) => anchor.contains(a) }
      .flatMap(e => Option(e._2.get()))
    hit.getOrElse {
      val snap = resolveAt(version)
      if (DeltaLog.versionSnapshotCache.size > 128)
        DeltaLog.versionSnapshotCache.clear()
      anchor.foreach(a => DeltaLog.versionSnapshotCache.put(key,
        (spark, new java.lang.ref.SoftReference(snap), a)))
      snap
    }
  }

  private def resolveAt(version: Long): Snapshot = {
    val (commits, cps) = listLog()
    require(commits.contains(version) || cps.contains(version),
      s"version $version not found in $logPath (commits=$commits checkpoints=$cps)")
    val cp = cps.filter(_ <= version).sorted.lastOption
    val tailVersions = commits.filter(v => v <= version && cp.forall(v > _)).sorted
    // Fail loudly on a gapped log (e.g. `no_replay` with v < checkpoint).
    cp match {
      case None =>
        require(tailVersions.headOption.contains(0L),
          s"cannot reconstruct version $version: commit 0 missing and no usable checkpoint")
      case Some(c) =>
        require(tailVersions == ((c + 1) to version),
          s"cannot reconstruct version $version: commits ${(c + 1) to version} incomplete, found $tailVersions")
    }
    val snap = new Snapshot(this, version, cp, readTail(tailVersions))
    // Eager: a table demanding reader features we lack (column mapping,
    // deletion vectors) must fail here, not silently misread later.
    snap.requireReadable()
    snap
  }

  /** Time travel by timestamp (delta-rs `load_with_datetime`): the
    * latest version whose commit happened at or before `ts`. The clock
    * is the commit file's modification time, as the spec prescribes —
    * EXCEPT for versions covered by the in-commit-timestamps feature,
    * whose commitInfo `inCommitTimestamp` is authoritative (file
    * modification times are rewritten by copies/restores; ICT is not).
    * ICT is monotonic by spec, so the post-enablement range resolves
    * with an O(log n) binary search over first-line peeks. */
  def snapshotAsOf(ts: java.time.Instant): Snapshot = {
    val (commits, _) = listLog()
    require(commits.nonEmpty, s"$tablePath has no commit files to time-travel over")
    val tsMs = ts.toEpochMilli
    val conf = snapshot.metadata.configuration
    val ictEnabled = conf.get("delta.enableInCommitTimestamps").contains("true")
    val enableV: Long =
      if (!ictEnabled) Long.MaxValue
      else conf.get("delta.inCommitTimestampEnablementVersion")
        .flatMap(s => scala.util.Try(s.toLong).toOption)
        .getOrElse(commits.min)
    val (pre, post) = commits.sorted.partition(_ < enableV)
    def ictOf(v: Long): Long = inCommitTimestampOf(v).getOrElse(
      fs.getFileStatus(new Path(logPath, f"$v%020d.json")).getModificationTime)
    if (post.nonEmpty && tsMs >= ictOf(post.head)) {
      // binary search: largest post-enablement version with ict <= ts
      var lo = 0
      var hi = post.length - 1
      while (lo < hi) {
        val mid = (lo + hi + 1) / 2
        if (ictOf(post(mid)) <= tsMs) lo = mid else hi = mid - 1
      }
      snapshotAt(post(lo))
    } else {
      val withTimes = pre.map { v =>
        v -> fs.getFileStatus(new Path(logPath, f"$v%020d.json")).getModificationTime
      }
      val eligible = withTimes.filter(_._2 <= tsMs)
      require(eligible.nonEmpty,
        s"no version of $tablePath existed at or before $ts (earliest " +
          s"commit: ${(withTimes.map(_._2) ++ post.headOption.map(ictOf))
            .minOption.map(java.time.Instant.ofEpochMilli)})")
      snapshotAt(eligible.map(_._1).max)
    }
  }

  def checkpointFiles(version: Long): Seq[String] = checkpointFormAt(version) match {
    case Some(ClassicCheckpoint(files)) => files
    case Some(V2Checkpoint(top, _)) => Seq(top)
    case None => Nil
  }

  /** Resolve which checkpoint layout exists at `version`: classic
    * single-file, classic multi-part, or a v2 manifest
    * (`v.checkpoint.<uuid>.{json|parquet}` + sidecars). When several
    * forms coexist (writers may produce both during migration) classic
    * wins — it is self-contained — and among multiple v2 manifests the
    * lexicographically last name is picked deterministically. */
  def checkpointFormAt(version: Long): Option[CheckpointForm] = {
    val single = new Path(logPath, f"$version%020d.checkpoint.parquet")
    if (fs.exists(single)) return Some(ClassicCheckpoint(Seq(single.toString)))
    val glob = fs.globStatus(new Path(logPath, f"$version%020d.checkpoint.*"))
      .map(_.getPath.getName).sorted
    val multi = glob.collect { case n @ MultiPartCheckpointRe(_, _, _) => n }
    if (multi.nonEmpty)
      return Some(ClassicCheckpoint(multi.map(new Path(logPath, _).toString).toSeq))
    glob.collect { case n @ V2CheckpointRe(_, _, _) => n }.lastOption.map { n =>
      V2Checkpoint(new Path(logPath, n).toString, isJson = n.endsWith(".json"))
    }
  }

  /** Resolve a v2-checkpoint sidecar reference: bare names live under
    * `_delta_log/_sidecars/`; anything else is taken as a full path/URI
    * (the spec allows absolute sidecar paths). */
  def sidecarPath(s: SidecarFile): Path = {
    val decoded = DeltaLog.decodePath(s.path)
    if (decoded.contains("/")) new Path(decoded)
    else new Path(new Path(logPath, "_sidecars"), decoded)
  }

  /** Parsed actions of one commit file (used by the streaming source to
    * read a commit range incrementally). */
  def commitActions(version: Long): Seq[Action] =
    readCommitLines(version).flatMap(JsonUtil.parseAction)

  /** Incremental batch read: the rows APPENDED in the commit range
    * `(fromVersionExclusive, toVersionInclusive]` — the batch
    * counterpart of the streaming source, for backfills and
    * incremental ETL ("give me everything since the version I last
    * processed"). Cost is O(files added in the range), never a full
    * snapshot scan.
    *
    * Append-only contract (same as the streaming source): a dataChange
    * remove in the range fails the read — those commits rewrote or
    * deleted rows, so "what changed" is no longer just additions.
    * dataChange=false adds/removes (OPTIMIZE/compaction layout
    * rewrites) pass through without re-emission. */
  def readChanges(
      fromVersionExclusive: Long,
      toVersionInclusive: Long = -1L): org.apache.spark.sql.DataFrame = {
    val endV = if (toVersionInclusive < 0) latestVersion() else toVersionInclusive
    require(fromVersionExclusive <= endV,
      s"empty/invalid change range ($fromVersionExclusive, $endV]")
    val snap = snapshotAt(endV) // also enforces protocol readability
    val actions = ((fromVersionExclusive + 1) to endV).flatMap(commitActions)
    actions.collect {
      case RemoveAction(r) if r.dataChange =>
        throw new IllegalStateException(
          s"readChanges($fromVersionExclusive, $endV] of $tablePath: commit " +
            s"range contains a dataChange remove (${r.path}) — not an " +
            "append-only range; read a full snapshot instead")
    }
    snap.readFiles(actions.collect { case AddAction(a) if a.dataChange => a })
  }

  /** Commit ranges `[start, end]` covered by minor log-compaction files
    * (`<x>.<y>.compacted.json`, Delta protocol "Log Compaction Files"). */
  def compactedRanges(): Seq[(Long, Long)] =
    listLogNames().collect { case CompactedFileRe(a, b) => (a.toLong, b.toLong) }
      .sorted.toSeq

  /** Reconciled actions of a compacted file, read driver-side like a
    * commit tail (compaction ranges are bounded by the compaction
    * interval, same scale as the tail itself). */
  def compactedActions(start: Long, end: Long): Seq[Action] = {
    val p = new Path(logPath, f"$start%020d.$end%020d.compacted.json")
    val in = new BufferedReader(
      new InputStreamReader(fs.open(p), StandardCharsets.UTF_8))
    try Iterator.continually(in.readLine()).takeWhile(_ != null)
      .filter(_.trim.nonEmpty).flatMap(JsonUtil.parseAction).toVector
    finally in.close()
  }

  /** Materialize the commit tail, substituting a log-compaction file
    * for each commit sub-range one covers: replay cost drops from
    * O(commits since checkpoint) file opens to O(tail / compaction
    * interval). Compacted actions are tagged with the range's END
    * version — within the range they are already reconciled (at most
    * one file action per path), and relative to commits outside the
    * range the end version orders them correctly. Commits the selected
    * ranges cover are not opened at all. */
  private def readTail(tailVersions: Seq[Long]): Seq[(Long, Action)] = {
    if (tailVersions.isEmpty) return Nil
    val last = tailVersions.last
    // usable = fully inside the tail; at each start keep the longest
    val usable: Map[Long, Long] = compactedRanges()
      .filter { case (a, b) => a >= tailVersions.head && b <= last }
      .groupBy(_._1).map { case (a, rs) => a -> rs.map(_._2).max }
    val buf = Vector.newBuilder[(Long, Action)]
    var v = tailVersions.head
    while (v <= last) {
      usable.get(v) match {
        case Some(b) =>
          buf ++= compactedActions(v, b).map(b -> _)
          v = b + 1
        case None =>
          buf ++= readCommitLines(v).flatMap(JsonUtil.parseAction).map(v -> _)
          v += 1
      }
    }
    buf.result()
  }

  private def readCommitLines(version: Long): Seq[String] = {
    val p = new Path(logPath, f"$version%020d.json")
    val in = new BufferedReader(
      new InputStreamReader(fs.open(p), StandardCharsets.UTF_8))
    try {
      val buf = ArrayBuffer.empty[String]
      var line = in.readLine()
      while (line != null) {
        if (line.trim.nonEmpty) buf += line
        line = in.readLine()
      }
      buf.toSeq
    } finally in.close()
  }

  /** First action line of a commit, parsed — a cheap peek used for
    * in-commit timestamps (which the spec requires to be carried by the
    * FIRST action, a commitInfo). */
  def firstAction(version: Long): Option[Action] = {
    val p = new Path(logPath, f"$version%020d.json")
    if (!fs.exists(p)) None
    else {
      val in = new BufferedReader(
        new InputStreamReader(fs.open(p), StandardCharsets.UTF_8))
      try {
        var line = in.readLine()
        while (line != null && line.trim.isEmpty) line = in.readLine()
        Option(line).flatMap(JsonUtil.parseAction)
      } finally in.close()
    }
  }

  /** The in-commit timestamp a commit advertises, when it has one. */
  def inCommitTimestampOf(version: Long): Option[Long] =
    firstAction(version).collect {
      case CommitInfoAction(c) => c.inCommitTimestamp
    }.flatten

  /** Atomically create commit file `version`. Throws if it already
    * exists (single-writer optimistic concurrency; the loser must
    * re-resolve and retry).
    *
    * `ictEnabled`: the table carries the in-commit-timestamps writer
    * feature (callers read it off the snapshot they resolved). The
    * commitInfo is then (re)stamped with a monotonic
    * `inCommitTimestamp` — `max(now, previous ICT + 1)` — and moved to
    * the FIRST line as the spec requires. Stamping lives HERE so a
    * rebase retry at a new version restamps against the commit that
    * actually precedes it. A commit whose own metaData turns the
    * feature on is stamped too, without the flag.
    *
    * Uses FileContext rename WITHOUT Rename.OVERWRITE: on HDFS-like
    * stores this is an atomic no-clobber rename, so two racing writers
    * cannot both win (plain FileSystem.rename on POSIX/local silently
    * overwrites, making exists()-then-rename check-then-act). On the
    * local FS the guard is as strong as java.nio Files.move without
    * REPLACE_EXISTING — best-effort but far narrower than before. */
  def commit(version: Long, actions: Seq[Action], ictEnabled: Boolean = false,
      recomputeChecksum: Boolean = false): Unit = {
    val stamped = stampIct(version, actions, ictEnabled)
    writeCommitFile(version) { w =>
      stamped.foreach { a => w.write(JsonUtil.renderAction(a)); w.write("\n") }
    }
    // the commit is durable — record its table checksum (best-effort;
    // never fails a successful commit). Re-add-style commits (RESTORE,
    // row-tracking backfill) recompute from replayed state because
    // their action delta double-counts superseded-in-place paths.
    if (recomputeChecksum) Checksum.recompute(this, version)
    else Checksum.write(this, version, stamped)
  }

  /** Commit variant for O(table-files) re-add commits (CLONE, RESTORE,
    * row-tracking backfill): `head` carries the commitInfo / protocol /
    * metaData actions; `files` streams the add/remove entries straight
    * into the commit file, so the driver never materializes the file
    * list. ICT stamping consults `head` only (file actions cannot
    * enable the feature). The checksum is always recomputed from the
    * committed snapshot — one Spark agg — because the action stream is
    * consumed by the write (and these commits re-add superseded paths,
    * which the incremental delta would double-count anyway). */
  def commitStreamed(version: Long, head: Seq[Action],
      files: Iterator[Action], ictEnabled: Boolean = false): Unit = {
    val stamped = stampIct(version, head, ictEnabled)
    writeCommitFile(version) { w =>
      (stamped.iterator ++ files).foreach { a =>
        w.write(JsonUtil.renderAction(a)); w.write("\n")
      }
    }
    Checksum.recompute(this, version)
  }

  private def stampIct(version: Long, actions: Seq[Action],
      ictEnabled: Boolean): Seq[Action] = {
    val enabledHere = actions.exists {
      case MetadataAction(m) =>
        m.configuration.get("delta.enableInCommitTimestamps").contains("true")
      case _ => false
    }
    if (!ictEnabled && !enabledHere) actions
    else {
      val prevIct = if (version == 0) None else inCommitTimestampOf(version - 1)
      val ci = actions.collectFirst { case CommitInfoAction(c) => c }
      val floor = prevIct.map(_ + 1).getOrElse(0L)
      // keep a caller-chosen ICT when it is already monotone (the
      // enablement commit pins its ICT into the table properties)
      val ict = ci.flatMap(_.inCommitTimestamp).filter(_ >= floor)
        .getOrElse(math.max(System.currentTimeMillis(), floor))
      CommitInfoAction(
        ci.getOrElse(CommitInfo(ict, "UNKNOWN")).copy(inCommitTimestamp = Some(ict))) +:
        actions.filterNot(_.isInstanceOf[CommitInfoAction])
    }
  }

  /** Write the commit body to a hidden tmp file, then PUBLISH it
    * through the session's [[CommitCoordinator]] (default: atomic
    * no-clobber rename — see [[commit]] for the race rules; stores
    * without that primitive plug in a locking/external coordinator
    * via `spark.graft.commitCoordinator`). */
  private def writeCommitFile(version: Long)(body: java.io.Writer => Unit): Unit = {
    if (!fs.exists(logPath)) fs.mkdirs(logPath)
    val target = new Path(logPath, f"$version%020d.json")
    val tmp = new Path(logPath, f".$version%020d.json.${java.util.UUID.randomUUID}.tmp")
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(tmp, false), StandardCharsets.UTF_8), 1 << 20)
    try body(w) finally w.close()
    CommitCoordinator.forLog(this).publish(this, version, tmp, target)
  }
}

/** Which files make up the checkpoint at one version. */
sealed trait CheckpointForm
final case class ClassicCheckpoint(files: Seq[String]) extends CheckpointForm
final case class V2Checkpoint(topFile: String, isJson: Boolean) extends CheckpointForm

object DeltaLog {
  private val CommitFileRe = """(\d{20})\.json""".r
  private val CompactedFileRe = """(\d{20})\.(\d{20})\.compacted\.json""".r
  private val CheckpointFileRe = """(\d{20})\.checkpoint\.parquet""".r
  private val MultiPartCheckpointRe = """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r
  /** V2 manifest: `v.checkpoint.<uuid>.{json|parquet}` — the single
    * `[^.]+` segment cannot match a multi-part name (two dot-separated
    * numeric segments), so the patterns are disjoint. */
  private val V2CheckpointRe = """(\d{20})\.checkpoint\.([^.]+)\.(json|parquet)""".r

  def forPath(spark: SparkSession, path: String): DeltaLog = new DeltaLog(spark, path)

  /** Currency-probed latest-snapshot cache (see [[DeltaLog.snapshot]]):
    * keyed by log path, validated against the owning session, the
    * `_last_checkpoint` pointer observed at resolution, and the
    * resolved version's anchor-file identity, bounded by wholesale
    * clear. Snapshots are immutable once resolved. */
  private[delta] val snapshotCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (SparkSession, Snapshot, Option[Long], (String, Long, Long))]()

  /** Pinned-version snapshot cache (see [[DeltaLog.snapshotAt]]):
    * (log path, version) → resolved snapshot, guarded only by the
    * anchor-file identity (a pinned snapshot cannot go stale — only
    * its whole history can be deleted/re-created). Values are SOFT
    * references: a Snapshot lazily materializes O(table-files) driver
    * state once touched, so pinning up to 128 of them hard would work
    * against the slim-planning memory posture — under heap pressure
    * the GC reclaims them and the entry degrades to a re-resolve. */
  private[delta] val versionSnapshotCache =
    new java.util.concurrent.ConcurrentHashMap[
      (String, Long),
      (SparkSession, java.lang.ref.SoftReference[Snapshot],
        (String, Long, Long))]()

  /** Probe/test hook: drop both snapshot caches so the NEXT resolution
    * measures a genuinely cold path (list + pointer read + replay)
    * instead of a cache probe. */
  private[graft] def clearSnapshotCaches(): Unit = {
    snapshotCache.clear()
    versionSnapshotCache.clear()
  }

  /** Decode a percent-encoded Delta log path (spec: `add.path` is
    * URI-encoded). */
  def decodePath(p: String): String =
    try {
      val u = new java.net.URI(p)
      // an absolute-URI path (scheme-qualified, e.g. a shallow clone's
      // s3a://bucket/... entry) keeps scheme + authority — stripping to
      // the bare path would re-root it on the READER's filesystem;
      // Path(parent, child) resolution then honors the child's scheme
      if (u.getScheme != null) new org.apache.hadoop.fs.Path(u).toString
      else u.getPath
    } catch { case _: java.net.URISyntaxException => p }

  /** Percent-encode a relative file path for use in `add.path`. */
  def encodePath(p: String): String =
    new java.net.URI(null, null, p, null).toASCIIString
}
