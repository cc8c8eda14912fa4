package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.delta.{AddAction, DeltaLog, RemoveAction, Snapshot}

/** Table layout as seen on disk, from outside graft. */
object Layout {
  /** Every regular file under `root` (data and `_delta_log`), with its size. */
  def files(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  def bytesOnDisk(root: Path): Long = files(root).values.sum
}

object LogPlane {
  /** The first snapshot after a commit: resolution plus the log replay.
    * `Snapshot.adds` is lazy and cached, so without `numFiles` the replay
    * would run inside the first call that reads the snapshot instead of
    * inside this span. */
  def freshSnapshot(rec: Recorder, log: DeltaLog): Snapshot =
    rec.span("DeltaLog.snapshot_fresh") { val s = log.snapshot; s.numFiles; s }
}

/** Commit anatomy of write calls, measured in traced rounds only: how
  * many versions a write added, how many active files it removed, and
  * how many bytes appeared or changed under the table root (the
  * `_delta_log` included). The bookkeeping runs outside the op's timing. */
final class Anatomy(spark: SparkSession, rec: Recorder, tablePath: String) {
  private val root = Path.of(tablePath)
  private var active: Set[String] = Set.empty

  /** The active file set the measurement starts from. */
  def reset(paths: Set[String]): Unit = active = paths

  def write[T](body: => Option[T]): Option[T] =
    if (!rec.tracing) body
    else {
      val (v0, before) = rec.untimed((DeltaLog.forPath(spark, tablePath).latestVersion(), Layout.files(root)))
      val activeBefore = active.size
      val res = body
      rec.untimed {
        val log = DeltaLog.forPath(spark, tablePath)
        val v1 = log.latestVersion()
        val actions = (v0 + 1 to v1).flatMap(log.commitActions)
        val removed = actions.collect { case RemoveAction(r) => r.path }
        active = active -- removed ++ actions.collect { case AddAction(a) => a.path }
        val written = Layout.files(root).collect { case (p, n) if !before.get(p).contains(n) => n }.sum
        rec.sample("commit.versions_per_write", (v1 - v0).toDouble)
        rec.sample("commit.removed", removed.size.toDouble)
        rec.sample("commit.active_before", activeBefore.toDouble)
        rec.sample("commit.bytes_written", written.toDouble)
      }
      res
    }
}
