package perfbench

import java.nio.file.Path
import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.Levi
import graft.delta._

/** `levi_log`: the levi log analytics and stats pruning over a log-only
  * Delta table (no data files exist; every call reads the log alone).
  *
  * The table is synthesized from the seed: 11k active add actions with
  * min/max stats over 20 partitions, written as 110 commits with some
  * removes, and checkpointed at version 100, so that snapshot resolution
  * takes the checkpoint-backed path with a commit tail. The
  * benchmark keeps its own model of the active files and checks every
  * result against the answer computed from that model.
  *
  * A round is eight metadata-only commits, then `rowCountFromLog` (the
  * first read after a commit, which re-resolves the snapshot), then 7
  * reads of the six analytics in a seeded order: one of each, and a
  * second `updatedPartitions`. Commits take ~20 ms and their latency
  * moves with the host more than the reads' do; eight per round steady
  * each round's mean commit latency at little cost in run time. */
final class LogWorkload(spark: SparkSession, rec: Recorder, seed: Long) extends Workload {
  import LogWorkload._

  private val rnd = new java.util.SplittableRandom(seed)
  private var tablePath: String = _
  private var version = -1L
  private var active = Vector.empty[FileRec]
  /** Set by a commit; the next snapshot resolution is a fresh one. */
  private var dirty = false
  private var anatomy: Anatomy = _

  def setup(dir: Path): Unit = {
    tablePath = dir.resolve("log_table").toString
    val g = new java.util.SplittableRandom(seed)
    val log = DeltaLog.forPath(spark, tablePath)
    val schema = StructType(Seq(StructField("k", LongType), StructField("x", DoubleType),
      StructField("part", StringType)))
    val meta = Metadata(s"perfbench-$seed", schema.json, Seq("part"), Map.empty, Some(T0))
    var files = Vector.empty[FileRec]
    var next = 0
    for (v <- 0 to Commits) {
      val ts = commitTime(v)
      val head: Seq[Action] = if (v == 0) Seq(ProtocolAction(Protocol(1, 2)), MetadataAction(meta)) else Nil
      val adds = if (v == 0) Vector.empty else {
        val parts = g.ints(0, Parts).distinct().limit(PartsPerCommit).toArray.toSeq
        Vector.tabulate(FilesPerCommit) { i =>
          val part = f"p${parts(i % parts.size)}%02d"
          val kMin = next * 1000L + g.nextLong(500)
          val xMin = g.nextInt(3600) * 0.25
          next += 1
          FileRec(f"part=$part/f-$next%06d.parquet", part,
            sizeOf(g), ts - g.nextLong(60000), 1 + g.nextLong(100000),
            kMin, kMin + 50 + g.nextLong(5000), xMin, xMin + g.nextInt(400) * 0.25)
        }
      }
      val removes = if (v % 4 == 3) {
        val idx = g.ints(0, files.size).distinct().limit(RemovesPerCommit).toArray.toSet
        files.zipWithIndex.collect { case (f, i) if idx(i) => f }
      } else Vector.empty
      val removed = removes.map(_.path).toSet
      files = files.filterNot(f => removed(f.path)) ++ adds
      log.commit(v, head ++
        adds.map(f => AddAction(addFile(f))) ++
        removes.map(f => RemoveAction(RemoveFile(f.path, ts, true, Map("part" -> f.part), Some(f.size)))) :+
        CommitInfoAction(CommitInfo(ts, "WRITE")))
      if (v == CheckpointAt) Maintenance.checkpoint(DeltaLog.forPath(spark, tablePath))
    }
    version = Commits
    active = files
    dirty = true
    anatomy = new Anatomy(spark, rec, tablePath)
    anatomy.reset(files.map(_.path).toSet)
  }

  private def addFile(f: FileRec): AddFile = AddFile(f.path, Map("part" -> f.part), f.size, f.mtime,
    stats = Some(s"""{"numRecords":${f.n},"minValues":{"k":${f.kMin},"x":${f.xMin}},""" +
      s""""maxValues":{"k":${f.kMax},"x":${f.xMax}},"nullCount":{"k":0,"x":0}}"""))

  /** The read parameters of the run, drawn once from the seed: `Pool`
    * per read kind. Spark compiles a plan's literals into its generated
    * code, so every new literal costs a Janino compile and keeps the JIT
    * busy; a fixed pool, all visited by the warm-up, lets the measured
    * rounds reuse compiled plans, as a dashboard's repeated queries do. */
  private lazy val pool: Map[String, Vector[Params]] = {
    val maxK = active.map(_.kMax).max
    def stats(): Seq[(String, String, Any)] = statsFilters(maxK)
    Map(
      SkippedStats -> Vector.fill(Pool)(Params(filters = stats())),
      FileSizes -> Boundaries.indices.toVector.map(i => Params(boundaries = i)),
      UpdatedPartitions -> Vector.fill(Pool) {
        val v0 = 1 + rnd.nextInt(Commits)
        Params(window = (v0, v0 + 1 + rnd.nextInt(6)))
      },
      PrunedFiles -> Vector.fill(Pool)(Params(
        filters = ("part", "=", f"p${rnd.nextInt(Parts)}%02d") +: stats())),
      LatestVersion -> Vector(Params()),
      RowCount -> Vector(Params()))
  }

  /** A round that reads every pooled parameter set once, then
    * `WarmupRounds` regular rounds: the rounds after the input build are
    * JIT-cold, and without these a run that fits fewer rounds is also a
    * colder one. */
  def warmup(): Unit = {
    for (_ <- 0 until CommitsPerRound) commit()
    read(RowCount, pool(RowCount).head)
    shuffle(pool.toVector.flatMap { case (kind, ps) => ps.map(kind -> _) })
      .foreach { case (kind, ps) => read(kind, ps) }
    for (_ <- 0 until WarmupRounds) round()
  }

  def round(): Unit = {
    for (_ <- 0 until CommitsPerRound) commit()
    read(RowCount, pool(RowCount).head)
    shuffle(Kinds :+ UpdatedPartitions).foreach { kind =>
      val ps = pool(kind)
      read(kind, ps(rnd.nextInt(ps.size)))
    }
  }

  /** A metadata-only commit: commitInfo plus an idempotent-writer txn. */
  private def commit(): Unit =
    anatomy.write(rec.op("DeltaLog.commit", "write") {
      val log = DeltaLog.forPath(spark, tablePath)
      val ts = commitTime(version + 1)
      rec.span("DeltaLog.commit")(log.commit(version + 1, Seq(
        CommitInfoAction(CommitInfo(ts, "SET TBLPROPERTIES")),
        TxnAction(SetTransaction("perfbench", version + 1, Some(ts))))))
    }).foreach { _ => version += 1; dirty = true }

  private def shuffle[T](xs: Vector[T]): Vector[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toVector.asInstanceOf[Vector[T]]
  }

  private def snapshot(log: DeltaLog): Snapshot = {
    val fresh = dirty
    dirty = false
    if (fresh) LogPlane.freshSnapshot(rec, log) else rec.span("DeltaLog.snapshot")(log.snapshot)
  }

  /** One read call: time it, check its answer. */
  private def read(kind: String, ps: Params): Unit = {
    val fresh = dirty && kind != LatestVersion
    kind match {
      case LatestVersion =>
        val got = rec.op(kind, "read") {
          rec.span("Levi.latestVersion")(Levi.latestVersion(DeltaLog.forPath(spark, tablePath)))
        }
        got.foreach(v => rec.check(v == version, s"latestVersion $v != $version"))
      case RowCount =>
        val got = rec.op(kind, "read", fresh) {
          val snap = snapshot(DeltaLog.forPath(spark, tablePath))
          rec.span("Levi.rowCountFromLog")(Levi.rowCountFromLog(snap))
        }
        got.foreach(v => rec.check(v.contains(active.map(_.n).sum), s"rowCountFromLog $v"))
      case SkippedStats =>
        val filters = ps.filters
        val got = rec.op(kind, "read", fresh) {
          val snap = snapshot(DeltaLog.forPath(spark, tablePath))
          rec.span("Levi.skippedStats")(Levi.skippedStats(snap, filters))
        }
        got.foreach { m =>
          val kept = active.filter(f => filters.forall(mayMatch(f, _)))
          val want = Map("num_files" -> active.size.toLong,
            "num_files_skipped" -> (active.size - kept.size).toLong,
            "num_bytes_skipped" -> (active.map(_.size).sum - kept.map(_.size).sum))
          rec.check(m == want, s"skippedStats $filters: $m != $want")
        }
      case FileSizes =>
        val spec = Boundaries(ps.boundaries)
        val got = rec.op(kind, "read", fresh) {
          val snap = snapshot(DeltaLog.forPath(spark, tablePath))
          rec.span("Levi.deltaFileSizes")(Levi.deltaFileSizes(snap, spec.map(_._1)))
        }
        got.foreach { m =>
          val want = spec.map { case (b, lo, hi) =>
            s"num_files_$b" -> active.count(f => f.size >= lo && f.size <= hi).toLong }.toMap
          rec.check(m == want, s"deltaFileSizes: $m != $want")
        }
      case UpdatedPartitions =>
        val (v0, v1) = ps.window
        val (start, end) = (Instant.ofEpochMilli(commitTime(v0) - 60000), Instant.ofEpochMilli(commitTime(v1)))
        val got = rec.op(kind, "read", fresh) {
          val snap = snapshot(DeltaLog.forPath(spark, tablePath))
          rec.span("Levi.updatedPartitions")(Levi.updatedPartitions(snap, Some(start), Some(end)))
        }
        got.foreach { parts =>
          val want = active.filter(f => f.mtime >= start.toEpochMilli && f.mtime < end.toEpochMilli)
            .map(f => Map("part" -> f.part)).toSet
          rec.check(parts.toSet == want && parts.size == want.size, s"updatedPartitions [$v0,$v1)")
        }
      case PrunedFiles =>
        val filters = ps.filters
        val part = filters.head._3
        val got = rec.op(kind, "read", fresh) {
          val snap = snapshot(DeltaLog.forPath(spark, tablePath))
          rec.span("Skipping.prunedFiles")(Skipping.prunedFiles(snap, filters))
        }
        got.foreach { files =>
          val want = active.filter(f => f.part == part && filters.tail.forall(mayMatch(f, _)))
            .map(_.path).sorted
          rec.check(files.map(_.path).sorted == want, s"prunedFiles $filters")
          if (rec.tracing) rec.sample("Skipping.kept_ratio", files.size.toDouble / active.size)
        }
    }
  }

  /** One or two min/max conjuncts over the stats columns `k` and `x`. */
  private def statsFilters(maxK: Long): Seq[(String, String, Any)] = {
    def k(): Long = rnd.nextLong(maxK)
    rnd.nextInt(4) match {
      case 0 => Seq(("k", ">=", k()))
      case 1 => val a = k(); Seq(("k", ">=", a), ("k", "<", a + 1 + rnd.nextLong(maxK / 4)))
      case 2 => Seq(("x", if (rnd.nextBoolean()) "<" else ">", rnd.nextInt(4000) * 0.25))
      case _ => Seq(("k", "=", k()), ("x", "<=", rnd.nextInt(4000) * 0.25))
    }
  }

  /** Min/max semantics of one filter on one file (files keep stats). */
  private def mayMatch(f: FileRec, filter: (String, String, Any)): Boolean = filter match {
    case ("k", op, v: Long) => cmp(op, f.kMin.toDouble, f.kMax.toDouble, v.toDouble)
    case ("x", op, v: Double) => cmp(op, f.xMin, f.xMax, v)
    case other => throw new IllegalArgumentException(s"filter $other")
  }
  private def cmp(op: String, lo: Double, hi: Double, v: Double): Boolean = op match {
    case "=" => lo <= v && hi >= v
    case "<" => lo < v
    case "<=" => lo <= v
    case ">" => hi > v
    case ">=" => hi >= v
  }

  def finish(): Unit = {
    rec.values("table.active_files") = active.size.toDouble
    rec.values("table.bytes_on_disk") = Layout.bytesOnDisk(Path.of(tablePath)).toDouble
  }
}

object LogWorkload {

  /** One data file of the synthesized log, as the benchmark models it. */
  final case class FileRec(path: String, part: String, size: Long, mtime: Long,
      n: Long, kMin: Long, kMax: Long, xMin: Double, xMax: Double)

  val Parts = 20
  val PartsPerCommit = 3
  val Commits = 110
  val FilesPerCommit = 110
  val RemovesPerCommit = 40
  val CheckpointAt = 100
  val CommitsPerRound = 8
  /** Regular rounds in the warm-up: the JIT compiler threads' CPU per
    * round levels off after about three. */
  val WarmupRounds = 3
  /** Parameter sets per read kind (see `pool`). */
  val Pool = 4

  /** The parameters of one read: stats filters, a `Boundaries` index, or
    * an `updatedPartitions` window of commit versions. */
  final case class Params(filters: Seq[(String, String, Any)] = Nil, boundaries: Int = 0,
      window: (Int, Int) = (0, 0))
  /** Commit `v` happens one minute after commit `v - 1`. */
  val T0 = 1700000000000L
  def commitTime(v: Long): Long = T0 + v * 60000L

  val LatestVersion = "latestVersion"
  val RowCount = "rowCountFromLog"
  val SkippedStats = "skippedStats"
  val FileSizes = "deltaFileSizes"
  val UpdatedPartitions = "updatedPartitions"
  val PrunedFiles = "prunedFiles"
  val Kinds = Vector(LatestVersion, RowCount, SkippedStats, FileSizes, UpdatedPartitions, PrunedFiles)

  /** Size buckets with their inclusive byte ranges, written out here so
    * that the expected answer does not come from graft's own parser. */
  val Boundaries: Vector[Seq[(String, Long, Long)]] = Vector(
    Seq(("<1mb", 0L, 999999L), ("1mb-500mb", 1000000L, 500000000L),
      ("500mb-1gb", 500000000L, 1000000000L), ("1gb-2gb", 1000000000L, 2000000000L),
      (">2gb", 2000000001L, 10000000000000L)),
    Seq(("<=10mb", 0L, 10000000L), ("10mb-1gb", 10000000L, 1000000000L), (">=1gb", 1000000000L, 10000000000000L)),
    Seq(("<100kb", 0L, 99999L), (">100kb", 100001L, 10000000000000L)))

  /** File sizes spread log-uniformly from 1 KB to about 4 GB. */
  def sizeOf(g: java.util.SplittableRandom): Long = math.exp(math.log(1e3) + g.nextDouble() * math.log(4e6)).toLong
}
