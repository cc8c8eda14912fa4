package graft.delta

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshims.SqlShims

/** Per-file Bloom filter index: point-lookup file skipping for
  * high-cardinality columns where min/max stats prune nothing.
  *
  * Stats-interval skipping ([[Skipping]]) kills range predicates, but
  * an equality probe on a column whose values scatter across files
  * (ids, fingerprints, request keys) straddles every [min, max]
  * interval — a needle lookup scans the whole table. A per-file Bloom
  * filter answers "can this file contain v?" with no false negatives,
  * so a point SELECT on an unclustered 100 TB table reads the handful
  * of files whose filter fires instead of every file. (Commercial
  * Delta offers the same concept as a bloom-filter index; this is an
  * independent sidecar design over public Spark primitives —
  * `BloomFilterAggregate` + xxhash64.)
  *
  * Layout: `<table>/_graft_index/bloom_<column>/` holds the parquet
  * relation (file_path, n_rows, bloom, version) as generation-swapped
  * immutable directories behind a pointer file ([[Sidecar]] — probes
  * racing a refresh always see one complete generation). The
  * underscore prefix keeps it invisible to data scans, and it lives
  * OUTSIDE the Delta log: the index is advisory, the log stays the
  * source of truth.
  *
  * Staleness is handled by construction: lookups prune only files the
  * sidecar covers with a NEGATIVE filter. Files added after the build
  * (or rewritten by OPTIMIZE — new path, same rows) are absent from
  * the sidecar and conservatively scanned, so a stale index can cost
  * IO but never correctness. Rebuild after large ingests to restore
  * selectivity.
  *
  * The build hashes the files' PHYSICAL rows (raw parquet, including
  * rows currently masked by a deletion vector): the filter describes
  * the FILE, like delta's min/max stats, so it stays a superset under
  * every log-plane operation — in particular RESTORE re-adding a file
  * without its DV resurfaces rows that are already in the filter
  * (false positives only, never a lost row).
  *
  * Scale shape: the build is ONE distributed scan with map-side
  * partial Bloom merge per file. The sidecar is file-count-sized; the
  * probe evaluates DISTRIBUTED over that relation (a per-filter
  * deserialize + test — an index-plane UDF over file-count rows, not
  * a data-plane one) and only the pruned path strings come back to
  * the driver.
  */
object BloomIndex {

  /** Not row-keyed: a filter describes a file's PHYSICAL rows, so it
    * stays a superset under a deletion vector and DV'd files are
    * covered; one filter row per file, no entry-count invariant. */
  private[delta] val kind = IncrementalSidecar.Kind("bloom",
    rowKeyed = false)({ case (log, Seq(c), _) => buildIncremental(log, c) })

  def indexDir(log: DeltaLog, column: String): String =
    kind.indexDir(log, Seq(column))

  private def validate(snap: Snapshot, column: String): Unit =
    IncrementalSidecar.validate(snap, Seq(column), "partition pruning " +
      "already answers equality on it; a Bloom index adds nothing")

  /** Build (or rebuild) the index for `column` at the current
    * snapshot. `expectedItemsPerFile` sizes each filter (Spark's
    * BloomFilterAggregate default false-positive rate ≈ 3% at the
    * expected count); 0 = derive from the log's max recorded per-file
    * numRecords (falls back to 1M when stats are absent).
    * Returns the indexed snapshot version. */
  def build(log: DeltaLog, column: String,
      expectedItemsPerFile: Long = 0L): Long =
    IncrementalSidecar.build(log, kind, Seq(column), validate(_, column),
      layout = identity) { (snap, files) =>
      scanEntries(log, snap, files, column,
        perFileItems(snap, expectedItemsPerFile))
    }

  /** The live sidecar relation (file_path, n_rows, bloom, version),
    * None when no index is built — the read path every consumer
    * (probe, incremental refresh, gate assertions) shares, resolved
    * through the generation pointer ([[Sidecar.read]]). */
  def entries(log: DeltaLog, column: String): Option[DataFrame] =
    kind.entries(log, Seq(column))

  private def perFileItems(snap: Snapshot, expected: Long): Long =
    if (expected > 0) expected
    else Option(snap.addsFlat.agg(max(col("num_records"))).head().get(0))
      .map(_.asInstanceOf[Long]).filter(_ > 0).getOrElse(1L << 20)

  /** ONE distributed scan of `files` → (file_path, n_rows, bloom,
    * version) entries — the build primitive the full AND incremental
    * paths share, so both hash bit-identically by construction.
    * PHYSICAL rows ([[IncrementalSidecar.physicalRead]]), so DV-masked
    * rows stay in the filter and RESTORE can never resurface a row the
    * filter doesn't know. */
  private def scanEntries(log: DeltaLog, snap: Snapshot,
      files: Seq[AddFile], column: String, perFile: Long): DataFrame =
    IncrementalSidecar.physicalRead(log, snap, files, Seq(column))
      .groupBy(col("file_path"))
      .agg(count(lit(1)).as("n_rows"),
        SqlShims.bloomFilterAgg(xxhash64(col(column)), perFile).as("bloom"))
      .withColumn("version", lit(snap.version))

  /** Incrementally extend the index to the current snapshot
    * ([[IncrementalSidecar.refresh]]): scan ONLY the active files the
    * sidecar does not cover yet, keep every still-active existing entry
    * VERBATIM (its filter bytes and build version untouched — the
    * observable that proves covered files were not rescanned), drop
    * entries whose file left the active set, and atomically swap the
    * merged relation in. The same economics as incremental clustering,
    * with the sidecar itself as the watermark (coverage is per-file):
    * refreshing after a 1% ingest scans 1%, not the table. No sidecar
    * yet → full [[build]]; an idle refresh publishes nothing.
    *
    * A file rewritten by a dataChange=false commit gets the MERGE of
    * its source files' filters (row-set superset ⇒ false positives
    * only, never a lost value — the same superset contract the
    * physical-row build has) and its n_rows from the add's own log
    * stats; no data bytes read.
    *
    * Swap discipline: the merged relation writes as a COMPLETE new
    * generation behind an atomically re-pointed pointer file
    * ([[Sidecar.swapIn]]), so a probe racing the refresh reads either
    * the old or the new complete generation — never a partial
    * directory — and the worst race outcome is the conservative full
    * candidate set, never wrong rows (the index is advisory by design).
    * Returns the indexed snapshot version. */
  def buildIncremental(log: DeltaLog, column: String,
      expectedItemsPerFile: Long = 0L): Long =
    IncrementalSidecar.refresh(log, kind, Seq(column),
      validate = validate(_, column),
      build = () => build(log, column, expectedItemsPerFile),
      scan = (snap, _, files) => scanEntries(log, snap, files, column,
        perFileItems(snap, expectedItemsPerFile)),
      remap = (snap, entries, groups, _) =>
        remapEntries(log, snap, entries, groups,
          Sidecar.readCoverage(log.spark, indexDir(log, column))
            .getOrElse(Map.empty)),
      layout = identity)

  /** Bloom remap executor: per group, ONE distributed merge of the
    * source entries' filters (executor-side pairwise `mergeInPlace`
    * over the file-count-sized relation — filter bytes never gather on
    * the driver beyond the final result) shared by every new file the
    * commit added; n_rows comes from the add's `numRecords` stat. A
    * group whose adds lack stats, or whose filters refuse to merge
    * (sizing changed between builds), falls back to the scan. Merged
    * entries keep the MAX of their sources' scan versions
    * (`storedVersions`) — the same no-rescan observable the row-keyed
    * sidecars expose. */
  private def remapEntries(log: DeltaLog, snap: Snapshot,
      entries: DataFrame, groups: Seq[IncrementalSidecar.RemapGroup],
      storedVersions: Map[String, Long])
      : (Option[DataFrame], Seq[AddFile]) = {
    if (groups.isEmpty) return (None, Nil)
    val spark = log.spark
    import spark.implicits._
    var out: Option[DataFrame] = None
    val fallback = scala.collection.mutable.ArrayBuffer.empty[AddFile]
    groups.foreach { g =>
      // numRecords via the slim-planning 8-byte column — g.newFiles
      // come from planFiles (stats JSON nulled for driver memory), so
      // parsing f.stats here would ALWAYS miss and silently demote
      // every remap to a rescan
      val nRows: Seq[Option[Long]] =
        g.newFiles.map(IncrementalSidecar.numRecordsOf)
      val mergedBytes: Array[Byte] =
        if (nRows.exists(_.isEmpty)) null
        else
          try IncrementalSidecar
            .keepStored(spark, entries, g.sourcePaths)
            .select("bloom").as[Array[Byte]]
            .reduce(BloomIndex.mergeBloomBytes _)
          catch { case scala.util.control.NonFatal(_) => null }
      if (mergedBytes == null) fallback ++= g.newFiles
      else {
        // the merged filter derives ENTIRELY from the sources' scans,
        // so it keeps their max scan version — the observable that no
        // table bytes were read (a rescan would stamp snap.version)
        val srcVersion = g.sourcePaths.flatMap(storedVersions.get)
          .maxOption.getOrElse(snap.version)
        val rows = g.newFiles.zip(nRows).map { case (f, n) =>
          (log.fs.makeQualified(new org.apache.hadoop.fs.Path(
            log.rootPath, DeltaLog.decodePath(f.path))).toString,
            n.get, mergedBytes, srcVersion)
        }
        val df = rows.toDF("file_path", "n_rows", "bloom", "version")
        out = Some(out.map(_.unionByName(df)).getOrElse(df))
      }
    }
    (out, fallback.toSeq)
  }

  /** Executor-side pairwise filter merge (serialized form in, out). */
  private def mergeBloomBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val fa = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(a))
    val fb = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(b))
    fa.mergeInPlace(fb)
    val os = new java.io.ByteArrayOutputStream()
    fa.writeTo(os)
    os.toByteArray
  }

  /** The active files that may contain ANY of `values` in `column`:
    * sidecar-covered files whose filter rejects every probe are
    * pruned; files the sidecar does not cover are kept. Returns
    * (candidates, nPruned). */
  def candidateFiles(log: DeltaLog, column: String,
      values: Seq[Any]): (Seq[AddFile], Long) = {
    require(values.nonEmpty, "need at least one probe value")
    val snap = log.snapshot
    val all = snap.planFiles()
    val sidecar: DataFrame = entries(log, column) match {
      case Some(df) => df.select("file_path", "bloom")
      case None => return (all, 0L) // no index built: full candidate set
    }
    // hash the probes EXACTLY as the build did: Spark's xxhash64 over
    // the column's OWN type (an untyped literal would hash through a
    // different width and wrongly prune files that contain the value).
    // Two routes by probe count: small sets keep the original
    // lit(v).cast(dt) projection — full literal-coercion flexibility
    // (Int vs DECIMAL key, String vs DATE) in one tiny plan; large
    // sets (semiJoinRead collects them from a typed column, so their
    // external classes already match) go through a local-relation
    // DataFrame — ONE row per value, one xxhash64 expression — never a
    // |values|-wide projection, which at the 100k-key cap would blow
    // past Catalyst/codegen constant-pool limits.
    val dt = snap.schema(column).dataType
    val probes = values.filter(_ != null)
    if (probes.isEmpty) return (all, 0L)
    val hashed =
      if (probes.size <= 256)
        log.spark.range(1)
          .select(probes.map(v => xxhash64(lit(v).cast(dt))): _*)
          .head().toSeq.map(_.asInstanceOf[Long]).distinct
      else {
        // Same coercion semantics as the small path's lit(v).cast(dt),
        // just through a local relation: numeric widening for the
        // common externals (HALF_UP for decimal scale narrowing —
        // Cast's own decimal rounding), and any remaining mismatch
        // (String probe against a DATE/TIMESTAMP/numeric column, an
        // exotic external class) routed through a STRING-typed column
        // cast to dt — string→T Cast is the same coercion lit().cast()
        // applies, so crossing the 256-probe threshold can't change a
        // working call into a createDataFrame external-type error.
        def matches(v: Any): Boolean = (v, dt) match {
          case (_: java.lang.Long, org.apache.spark.sql.types.LongType) => true
          case (_: java.lang.Integer, org.apache.spark.sql.types.IntegerType) => true
          case (_: java.lang.Short, org.apache.spark.sql.types.ShortType) => true
          case (_: java.lang.Double, org.apache.spark.sql.types.DoubleType) => true
          case (_: java.lang.Float, org.apache.spark.sql.types.FloatType) => true
          case (_: String, org.apache.spark.sql.types.StringType) => true
          case (_: java.sql.Date, org.apache.spark.sql.types.DateType) => true
          case (_: java.sql.Timestamp, org.apache.spark.sql.types.TimestampType) => true
          case (_: java.math.BigDecimal, _: org.apache.spark.sql.types.DecimalType) => true
          case (_: Array[Byte], org.apache.spark.sql.types.BinaryType) => true
          case (_: java.lang.Boolean, org.apache.spark.sql.types.BooleanType) => true
          case _ => false
        }
        val coerced = probes.map {
          case v if matches(v) => v
          case n: java.lang.Number => dt match {
            case org.apache.spark.sql.types.LongType =>
              java.lang.Long.valueOf(n.longValue())
            case org.apache.spark.sql.types.IntegerType =>
              java.lang.Integer.valueOf(n.intValue())
            case org.apache.spark.sql.types.ShortType =>
              java.lang.Short.valueOf(n.shortValue())
            case org.apache.spark.sql.types.DoubleType =>
              java.lang.Double.valueOf(n.doubleValue())
            case org.apache.spark.sql.types.FloatType =>
              java.lang.Float.valueOf(n.floatValue())
            case d: org.apache.spark.sql.types.DecimalType =>
              new java.math.BigDecimal(n.toString)
                .setScale(d.scale, java.math.RoundingMode.HALF_UP)
            case _ => n.toString // string-route below
          }
          case v => v.toString // string-route below
        }
        import scala.jdk.CollectionConverters._
        // split typed-matching probes from string-routed ones; each
        // side is one local relation, hashed through the column's type
        val (typed, viaString) = coerced.partition(matches)
        def hashRelation(vals: Seq[Any],
            t: org.apache.spark.sql.types.DataType): Seq[Long] =
          if (vals.isEmpty) Nil
          else log.spark.createDataFrame(
            vals.map(v => org.apache.spark.sql.Row(v)).asJava,
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("v", t))))
            .where(col("v").cast(dt).isNotNull)
            .select(xxhash64(col("v").cast(dt)))
            .collect().map(_.getLong(0)).toSeq
        (hashRelation(typed, dt) ++
          hashRelation(viaString, org.apache.spark.sql.types.StringType))
          .distinct
      }
    // evaluate the filters DISTRIBUTED over the file-count-sized
    // sidecar (per-row blooms can't feed BloomFilterMightContain — its
    // bloom side must be foldable — so this is a deliberate
    // index-plane UDF); only pruned paths return to the driver
    val probe = udf { bytes: Array[Byte] =>
      bytes != null && {
        val bf = org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(bytes))
        !hashed.exists(bf.mightContainLong)
      }
    }
    // Terminal guard: the generation this frame reads is immutable,
    // but if TWO refreshes complete between pointer resolution and
    // this collect, the GC may have removed it — degrade to the full
    // candidate set (slower scan, correct rows) instead of failing
    // the user's query with an execution-time missing-file error.
    val negative =
      try sidecar.where(probe(col("bloom")))
        .select("file_path").collect()
        .map(r => Mutations.normalize(r.getString(0))).toSet
      catch {
        case e: Exception
            if Iterator.iterate(e: Throwable)(_.getCause)
              .takeWhile(_ != null).take(8)
              .exists(_.isInstanceOf[java.io.FileNotFoundException]) =>
          return (all, 0L)
      }
    val kept = all.filterNot(f =>
      snap.pathCandidates(f).map(Mutations.normalize).exists(negative))
    (kept, (all.size - kept.size).toLong)
  }

  /** Index-pruned point lookup: `SELECT * WHERE column IN (values)`
    * scanning only Bloom-positive (or uncovered) files. */
  def readIn(log: DeltaLog, column: String, values: Seq[Any]): DataFrame = {
    val (files, _) = candidateFiles(log, column, values)
    log.snapshot.readFiles(files)
      .where(col(column).isin(values: _*))
  }

  /** Index-powered equi-join read — dynamic FILE pruning from the
    * build side: collect the (broadcast-sized) distinct join keys of
    * `dim`, Bloom-prune the indexed fact's files with them, and join
    * only the surviving scan. The delta-native analogue of dynamic
    * partition pruning, one level finer: a selective dim against a
    * 100 TB unclustered fact reads the files that can match instead of
    * all of them. `dim` must be broadcast-small — the same contract as
    * the broadcast join this feeds; the key collect is explicitly
    * capped so a mis-sized build side fails loudly, not by OOM. */
  def semiJoinRead(log: DeltaLog, column: String, dim: DataFrame,
      dimKeyCol: String, maxKeys: Int = 100000): DataFrame = {
    val keys = dim.select(col(dimKeyCol)).distinct()
      .limit(maxKeys + 1).collect().map(_.get(0)).toSeq
    require(keys.size <= maxKeys,
      s"dim side exceeds $maxKeys distinct keys — too large for " +
        "index-probe pruning; use a plain join (the index can't help " +
        "when most files contain some probed key anyway)")
    if (keys.isEmpty)
      return log.snapshot.readFiles(Seq.empty)
        .join(dim, col(column) === col(dimKeyCol))
    val (files, _) = candidateFiles(log, column, keys)
    log.snapshot.readFiles(files)
      .join(org.apache.spark.sql.functions.broadcast(dim),
        col(column) === col(dimKeyCol))
  }
}
