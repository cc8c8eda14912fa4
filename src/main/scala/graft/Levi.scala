package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.delta.{DeltaLog, Mutations, Skipping, Snapshot}

/** The reference's 10-function public API
  * (/root/reference/levi/__init__.py), Spark-native, over graft's own
  * Delta log reader/writer.
  *
  * Log-plane analytics run off the cached add-actions relation — one
  * row per file, no data-file IO. Mutations read the snapshot,
  * transform with DataFrame algebra, and write back as an overwrite
  * commit.
  */
object Levi {

  // ---- transaction-log analytics ------------------------------------------

  /** Simulated min/max file skipping for a conjunctive predicate
    * (reference levi/__init__.py:13-24): how many files/bytes a scan
    * with this predicate would NOT have to read. */
  def skippedStats(snap: Snapshot, filters: Seq[(String, String, Any)]): Map[String, Long] = {
    val adds = snap.addsFlat
    val total = adds.agg(
      count(lit(1)).as("files"),
      coalesce(sum("size_bytes"), lit(0L)).as("bytes")).collect()(0)
    val kept = adds.where(Skipping.filtersToColumn(filters)).agg(
      count(lit(1)).as("files"),
      coalesce(sum("size_bytes"), lit(0L)).as("bytes")).collect()(0)
    Map(
      "num_files" -> total.getLong(0),
      "num_files_skipped" -> (total.getLong(0) - kept.getLong(0)),
      "num_bytes_skipped" -> (total.getLong(1) - kept.getLong(1)))
  }

  /** Current table version (reference :50-51). */
  def latestVersion(log: DeltaLog): Long = log.latestVersion()

  /** EXACT row count from the transaction log alone — Σ per-file
    * `numRecords` stats minus Σ live deletion-vector cardinalities; no
    * data file is opened. `None` when any active file lacks the
    * numRecords stat (the count would be a lie — caller falls back to
    * a data scan). The aggregate runs IN SPARK over the log relation,
    * so it stays one small job at 10⁷ files; at 100 TB this answers
    * `COUNT(*)` in log-read time instead of a table scan (the same
    * stats shortcut engines implement as aggregate pushdown). */
  def rowCountFromLog(snap: graft.delta.Snapshot): Option[Long] = {
    val r = snap.adds
      .withColumn("__nr",
        get_json_object(col("stats"), "$.numRecords").cast("long"))
      .agg(
        count(lit(1)).as("nf"),
        count(col("__nr")).as("nstats"),
        coalesce(sum(col("__nr")), lit(0L)).as("nr"),
        coalesce(sum(col("deletion_vector.cardinality")), lit(0L)).as("dv"))
      .collect()(0)
    if (r.getLong(0) != r.getLong(1)) None
    else Some(r.getLong(2) - r.getLong(3))
  }

  val DefaultBoundaries: Seq[String] =
    Seq("<1mb", "1mb-500mb", "500mb-1gb", "1gb-2gb", ">2gb")

  /** File-size histogram over boundary specs (reference :54-63) —
    * single aggregation pass instead of the reference's one scan per
    * bucket. */
  def deltaFileSizes(
      snap: Snapshot,
      boundaries: Seq[String] = DefaultBoundaries): Map[String, Long] = {
    val aggs = boundaries.map { b =>
      val (lo, hi) = boundaryParser(b)
      coalesce(sum(when(col("size_bytes").between(lo, hi), 1L).otherwise(0L)), lit(0L))
        .as(s"num_files_$b")
    }
    val row = snap.adds.agg(aggs.head, aggs.tail: _*).collect()(0)
    boundaries.zipWithIndex.map { case (b, i) =>
      s"num_files_$b" -> row.getLong(i)
    }.toMap
  }

  private val SizeRe = """(?i)\s*(\d+)\s*(b|kb|mb|gb|tb)\s*""".r

  /** `"4gb"` → 4_000_000_000 (decimal units, reference :66-86). */
  def strToBytes(s: String): Long = s match {
    case SizeRe(num, unit) =>
      val mult = unit.toLowerCase match {
        case "b" => 1L
        case "kb" => 1000L
        case "mb" => 1000000L
        case "gb" => 1000000000L
        case "tb" => 1000000000000L
      }
      num.toLong * mult
    case other =>
      throw new IllegalArgumentException(
        s"Could not parse '$other' as a size (expected e.g. '4gb', units b/kb/mb/gb/tb)")
  }

  /** 10 TB upper sentinel, as in the reference (:91). */
  val MaxFileSize: Long = 10000000000000L

  /** Boundary spec → inclusive [lo, hi] byte range (reference :89-106).
    * `<=x`→(0,x); `<x`→(0,x−1); `>=x`→(x,10TB); `>x`→(x+1,10TB);
    * `a-b`→(a,b). */
  def boundaryParser(boundary: String): (Long, Long) = {
    val b = boundary.trim
    def size(part: String): Long = strToBytes(part.dropWhile(c => c == '<' || c == '>' || c == '='))
    if (b.startsWith("<=")) (0L, size(b))
    else if (b.startsWith("<")) (0L, size(b) - 1)
    else if (b.startsWith(">=")) (size(b), MaxFileSize)
    else if (b.startsWith(">")) (size(b) + 1, MaxFileSize)
    else b.split('-') match {
      case Array(lo, hi) => (strToBytes(lo), strToBytes(hi))
      case _ => throw new IllegalArgumentException(
        s"Could not parse boundary '$boundary' (expected '<x', '<=x', '>x', '>=x' or 'a-b')")
    }
  }

  /** Distinct partition tuples touched by add-actions within an optional
    * half-open `[start, end)` window on file modification time.
    *
    * Comparison happens at MICROSECOND precision like the reference
    * (`pandas Timestamp >= start_time`, levi/__init__.py:112-114): the
    * protocol's `modificationTime` is epoch-millis, so it's scaled ×1000
    * and compared against the boundary's µs value — a boundary of
    * 10:00:00.000500 excludes a file modified at 10:00:00.000, where a
    * millis-floor compare would wrongly include it. */
  def updatedPartitions(
      snap: Snapshot,
      startTime: Option[java.time.Instant] = None,
      endTime: Option[java.time.Instant] = None): Seq[Map[String, String]] = {
    def micros(t: java.time.Instant): Long =
      Math.addExact(Math.multiplyExact(t.getEpochSecond, 1000000L), t.getNano / 1000L)
    var df = snap.adds
    startTime.foreach(t => df = df.where(col("modification_time") * 1000L >= micros(t)))
    endTime.foreach(t => df = df.where(col("modification_time") * 1000L < micros(t)))
    // maps don't support set operations — dedup on the sorted entry list
    val raw = df.select(col("partition_values"))
      .withColumn("__key", array_sort(map_entries(col("partition_values"))))
      .dropDuplicates("__key")
      .select("partition_values").collect().toSeq
      .map(_.getAs[scala.collection.Map[String, String]](0).toMap)
    // the log keys partition values by PHYSICAL column name (column
    // mapping); surface logical names to the caller
    val physToLogical = snap.metadata.partitionColumns
      .map(pc => snap.physicalNameOf(pc) -> pc).toMap
    raw.map(_.map { case (k, v) => physToLogical.getOrElse(k, k) -> v })
  }

  // ---- data-quality mutations ----------------------------------------------

  /** Delete every member of every duplicate group (reference :119-166).
    * Targeted rewrite: only files containing dup-group rows are
    * rewritten ([[graft.delta.Mutations]]). */
  def killDuplicates(log: DeltaLog, duplicationColumns: Seq[String]): Long =
    Mutations.killDuplicates(log, duplicationColumns)

  /** Dedup keeping one deterministic survivor per group, ordered by
    * `orderBy` (the reference keeps the first physical row — see
    * [[graft.operators.Dedup.dropDuplicatesOrdered]] for the documented
    * divergence). Targeted rewrite. */
  def dropDuplicates(
      log: DeltaLog, duplicationColumns: Seq[String], orderBy: Seq[String]): Long =
    Mutations.dropDuplicatesOrdered(log, duplicationColumns, orderBy)

  /** Dedup keeping the smallest-pkey row per group; pkey must be unique
    * (reference :354-426). Targeted rewrite. */
  def dropDuplicatesPkey(
      log: DeltaLog, primaryKey: String, duplicationColumns: Seq[String]): Long =
    Mutations.dropDuplicatesPkey(log, primaryKey, duplicationColumns)

  /** SCD2 upsert (reference :169-295). */
  def type2ScdUpsert(
      log: DeltaLog,
      updates: DataFrame,
      primaryKey: String,
      attrColNames: Seq[String],
      isCurrentColName: String = "is_current",
      effectiveTimeColName: String = "effective_time",
      endTimeColName: String = "end_time"): Long =
    // Targeted rewrite: only files holding a current row of a changed
    // key are rewritten; the reference's pushed-down is_current scan
    // (levi/__init__.py:205-209) corresponds to the rowFilter used for
    // touched-file detection.
    Mutations.type2ScdUpsert(log, updates, primaryKey, attrColNames,
      isCurrentColName, effectiveTimeColName, endTimeColName)
}
