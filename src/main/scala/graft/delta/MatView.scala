package graft.delta

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted incremental MATERIALIZED VIEWS: a rollup Delta table that
  * knows its source, definition, and refresh watermark, and refreshes
  * for the cost of the source's CHANGES (the productized form of
  * [[graft.operators.IncrementalAgg]] — what DLT calls a materialized
  * view and delta-spark leaves to the orchestrator).
  *
  * Aggregates: any mix of SUM / MIN / MAX / AVG over source columns,
  * plus an implicit row count (`n_rows`), optionally over a row-level
  * WHERE filter of the source. Refresh picks the cheapest sound
  * maintenance strategy per definition:
  *  - a single SUM (with its count) is invertible → signed fold of the
  *    CDF slice MERGEd per key, O(changes) and never touches the
  *    source ([[graft.operators.IncrementalAgg.mergeDelta]]);
  *  - anything non-invertible (MIN/MAX — a delete cannot be retracted
  *    from a running extreme) or multi-aggregate → the keys the CDF
  *    slice touches are re-aggregated FROM the source (semi-join-
  *    pruned, still O(rows of changed keys), never a rescan) and
  *    swapped in ([[graft.operators.IncrementalAgg.rederiveMerge]]).
  *
  * Where state lives — all of it in the VIEW table, so definition,
  * data, and watermark travel together and survive any session:
  *  - definition: `graft.matview.*` keys in the view's metadata
  *    configuration (source path, key columns, aggregate spec), which
  *    ride INSIDE the create's overwrite commit — including the
  *    create-time source version, so a crash before the watermark
  *    domain lands leaves a view `refresh` can still bootstrap;
  *  - watermark: the `graft.matview.state` metadata domain holds the
  *    last folded source version;
  *  - replay protection: each refresh MERGE carries a
  *    (`graft.matview|<instance>`, sourceVersion) txn marker INSIDE
  *    the merge commit, so a refresh that crashed between its merge
  *    and its watermark commit re-runs as a no-op instead of
  *    double-counting (the watermark is then repaired). The same
  *    marker makes CONCURRENT refreshes safe: the commit path rejects
  *    a rebase over a concurrent commit that advanced the same txn
  *    appId ([[TransactionWriter.commitWithRebase]]), so of two
  *    refreshes folding the same window exactly one commits.
  *
  * Scale shape per refresh: one CDF read bounded by the change window,
  * one signed per-key aggregation of that slice (or one changed-key-
  * pruned source pass), one MERGE keyed on the rollup keys —
  * O(changes + changed keys), never a source rescan.
  */
object MatView {

  private[delta] val StateDomain = "graft.matview.state"
  private val TxnApp = "graft.matview"

  /** One aggregate clause: (fn ∈ sum|min|max|avg, source column). The
    * view column is named `<fn>_<col>`. AVG is stored as the ratio of
    * an exact aggregate pair (sum ÷ count, one double division) so the
    * maintained value is deterministic for integral source columns —
    * the same arithmetic an engine recomputing `CAST(SUM(c) AS
    * DOUBLE)/COUNT(c)` from scratch produces, independent of summation
    * order. NULL-EXCLUDING, like SQL AVG: both sum(c) and count(c)
    * skip null values of c (n_rows, by contrast, counts every row),
    * so `avg_c` is the mean of the non-null values — q_matview_avg
    * pins this with a null-bearing update. AVG always routes through
    * the rederive strategy (it is not invertible as stored), which
    * recomputes changed keys from the source — sound for deletes and
    * updates alike. */
  private def aggColumn(fn: String, c: String): Column = fn match {
    case "sum" => sum(col(c)).as(s"sum_$c")
    case "min" => min(col(c)).as(s"min_$c")
    case "max" => max(col(c)).as(s"max_$c")
    case "avg" =>
      (sum(col(c)).cast("double") / count(col(c))).as(s"avg_$c")
    case other => throw new IllegalArgumentException(
      s"unsupported matview aggregate '$other' (have sum, min, max, avg)")
  }

  private val AggSpec = """(?i)(sum|min|max|avg)\((\w+)\)""".r

  private def parseAggs(conf: Map[String, String]): Seq[(String, String)] =
    conf.get("graft.matview.aggs") match {
      case Some(spec) => AggSpec.findAllMatchIn(spec)
        .map(m => (m.group(1).toLowerCase, m.group(2))).toSeq
      case None => throw new IllegalStateException(
        "matview has no graft.matview.aggs definition" +
          conf.get("graft.matview.valueCol").fold("")(v =>
            s" (created by an older release with valueCol=$v and a " +
              "sum_value column — re-create it with GRAFT CREATE MATVIEW)"))
    }

  /** Create the view: full initial rollup of the source at its current
    * version, definition + watermark persisted on the view table.
    * The source must have CDF enabled (refresh reads its change feed).
    * Returns the source version the view is consistent with. */
  def create(spark: SparkSession, viewPath: String, sourcePath: String,
      keyCols: Seq[String], aggs: Seq[(String, String)]): Long =
    create(spark, viewPath, sourcePath, keyCols, aggs, None)

  /** Full form with an optional row-level WHERE predicate (SQL text
    * over the source's columns). The predicate applies row-wise BEFORE
    * aggregation — to the initial rollup here and to every CDF slice
    * (and rederive source pass) at refresh — which is exactly what
    * makes filtered views maintainable: a CDF preimage that matched
    * the filter contributes its retraction, a postimage that stops
    * matching simply drops out, and a key whose rows all leave the
    * filter vanishes through the rederive delete clause. */
  def create(spark: SparkSession, viewPath: String, sourcePath: String,
      keyCols: Seq[String], aggs: Seq[(String, String)],
      where: Option[String]): Long =
    create(spark, viewPath, sourcePath, keyCols, aggs, where, Nil)

  /** Full form with EXPRESSION keys: each `(name, sparkSqlExpr)` in
    * `keyExprs` materializes as a computed column named `name` on the
    * source BEFORE grouping — and, critically, on every CDF slice and
    * rederive pass at refresh, so the view can key on derived buckets
    * (a day from a timestamp, a modulo shard, a prefix) without the
    * source carrying the column. Names must be \w+ (they round-trip
    * through the stored definition); the expressions themselves are
    * stored as JSON, so arbitrary SQL is safe. `keyCols` may mix
    * expression-key NAMES and plain source columns. */
  def create(spark: SparkSession, viewPath: String, sourcePath: String,
      keyCols: Seq[String], aggs: Seq[(String, String)],
      where: Option[String], keyExprs: Seq[(String, String)]): Long = {
    require(keyCols.nonEmpty, "matview needs at least one key column")
    require(aggs.nonEmpty, "matview needs at least one aggregate")
    require(aggs.distinct.size == aggs.size,
      s"duplicate aggregate clause(s): ${aggs.diff(aggs.distinct)
        .map { case (f, c) => s"$f($c)" }.mkString(", ")}")
    // The definition round-trips through the regex-parsed
    // `graft.matview.aggs` spec string: a column name outside \w+
    // (space, hyphen, dot) would create fine here but silently drop
    // out of parseAggs at refresh time, leaving its view column stale.
    // Refuse it at the only gate where the user can still react.
    aggs.foreach { case (fn, c) =>
      require(c.matches("""\w+"""),
        s"matview aggregate column '$c' must match \\w+ (letters, " +
          "digits, underscore): the stored definition is parsed back " +
          "by that grammar at refresh — rename the source column or " +
          "alias it before creating the view")
      require(Set("sum", "min", "max", "avg").contains(fn.toLowerCase),
        s"unsupported matview aggregate '$fn' (have sum, min, max, avg)")
    }
    val src = DeltaLog.forPath(spark, sourcePath)
    val srcSnap = src.snapshot
    require(ChangeDataFeed.enabled(srcSnap),
      s"source $sourcePath must have change data feed enabled")
    keyExprs.foreach { case (n, _) => require(n.matches("""\w+"""),
      s"expression-key name '$n' must match \\w+ (it becomes the view's " +
        "key column and round-trips through the stored definition)") }
    val v = srcSnap.version
    val filtered = where.fold(srcSnap.read())(w => srcSnap.read().where(expr(w)))
    val keyed = keyExprs.foldLeft(filtered) { case (d, (n, e)) =>
      d.withColumn(n, expr(e)) }
    // the single-SUM (signed-fold) strategy maintains a hidden per-key
    // non-null-value count beside the sum, so retracting a group's last
    // non-null row folds the sum back to NULL exactly like a direct
    // recompute (multi-aggregate views rederive from the source and
    // need no helper); hidden columns are stripped by [[read]]
    val sumNnHelper: Seq[Column] =
      aggs.map { case (fn, c) => (fn.toLowerCase, c) } match {
        case Seq(("sum", c)) =>
          Seq(count(col(c)).cast("long").as(s"__sc_$c"))
        case _ => Nil
      }
    val base = keyed
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        aggs.map { case (fn, c) => aggColumn(fn, c) } ++ sumNnHelper: _*)
    val viewLog = DeltaLog.forPath(spark, viewPath)
    // the txn appId is scoped to THIS incarnation of the view: Delta
    // replay preserves SetTransaction markers across an overwrite, so
    // a re-created view at the same path would otherwise inherit the
    // old incarnation's marker and skip folding real changes.
    // The watermark domain rides INSIDE the create commit (round-14:
    // the separate SET DOMAIN commit doubled every create's commit
    // cost; the `createVersion` config remains the crash-repair anchor
    // for views created before the fold)
    TransactionWriter.overwrite(viewLog, base,
      configuration = Map(
        "graft.matview.source" -> sourcePath,
        "graft.matview.keyCols" -> keyCols.mkString(","),
        "graft.matview.aggs" ->
          aggs.map { case (fn, c) => s"$fn($c)" }.mkString(","),
        // crash repair: refresh/describe bootstrap the watermark from
        // here when the state domain is missing (legacy incarnations)
        "graft.matview.createVersion" -> v.toString,
        "graft.matview.instance" -> java.util.UUID.randomUUID().toString)
        ++ where.map(w => "graft.matview.where" -> w)
        ++ (if (keyExprs.isEmpty) Map.empty[String, String] else Map(
          "graft.matview.keyExprs" -> {
            val root = JsonUtil.mapper.createArrayNode()
            keyExprs.foreach { case (n, e) =>
              val o = root.addObject(); o.put("n", n); o.put("e", e) }
            JsonUtil.mapper.writeValueAsString(root)
          })),
      domains = Seq(StateDomain -> s"""{"sourceVersion":$v}"""))
    v
  }

  /** Single-SUM convenience form (the original surface). */
  def create(spark: SparkSession, viewPath: String, sourcePath: String,
      keyCols: Seq[String], valueCol: String): Long =
    create(spark, viewPath, sourcePath, keyCols, Seq("sum" -> valueCol))

  /** Create a materialized JOIN view — `view = fact ⨝ dim` (inner
    * equi-join on `fk = dimPk`, keyed by the fact primary key, carrying
    * `dimCols` dim attributes) — maintained from BOTH tables' change
    * feeds by [[refresh]] via [[graft.operators.IncrementalJoin]]:
    * fact changes cost O(change slice), dim changes one fact pass
    * pruned to the changed dim keys, the apply is one MERGE on the
    * fact PK — never a view rebuild. Both sources must have CDF
    * enabled. Unlike the aggregate views, the join apply writes
    * ABSOLUTE rows, so replaying a crashed window is naturally
    * idempotent — no txn marker is needed; a concurrent refresher
    * either rebases cleanly (identical content) or is rejected by the
    * file-level conflict check. Returns the fact version the view is
    * consistent with. */
  def createJoin(spark: SparkSession, viewPath: String,
      factPath: String, dimPath: String,
      factPk: Seq[String], fk: String, dimPk: String,
      dimCols: Seq[String]): Long = {
    require(factPk.nonEmpty && dimCols.nonEmpty,
      "join matview needs a fact primary key and at least one dim column")
    (factPk ++ Seq(fk, dimPk) ++ dimCols).foreach(c => require(
      c.matches("""\w+"""),
      s"join matview column '$c' must match \\w+ (the stored definition " +
        "round-trips through the spec grammar)"))
    val fact = DeltaLog.forPath(spark, factPath)
    val dim = DeltaLog.forPath(spark, dimPath)
    val (fs, ds) = (fact.snapshot, dim.snapshot)
    require(ChangeDataFeed.enabled(fs),
      s"fact $factPath must have change data feed enabled")
    require(ChangeDataFeed.enabled(ds),
      s"dim $dimPath must have change data feed enabled")
    // Schema sanity at the only gate where the user can still react:
    // a dim column colliding with a fact column would materialize
    // duplicate/ambiguous columns in the persisted view, and refresh's
    // MERGE (keyed on the fact PK) breaks if the dim key duplicates
    // fact PKs (multiple source rows per target row).
    val factFields = fs.schema.fieldNames.toSet
    val dimFields = ds.schema.fieldNames.toSet
    (factPk :+ fk).foreach(c => require(factFields.contains(c),
      s"fact $factPath has no column '$c'"))
    (dimCols :+ dimPk).foreach(c => require(dimFields.contains(c),
      s"dim $dimPath has no column '$c'"))
    dimCols.foreach(c => require(!factFields.contains(c),
      s"dim column '$c' collides with a fact column of the same name — " +
        "the view would carry duplicate columns; alias it on the dim side"))
    val (vf, vd) = (fs.version, ds.version)
    // Enforce the dim-PK-uniqueness contract the refresh MERGE rests
    // on (duplicate dim keys would fan every referencing fact PK out
    // to several source rows and fail — or corrupt — the merge). One
    // aggregate over the dim: the SMALL side of this join by contract,
    // so the check costs a fraction of the initial rollup below.
    // Later-appearing duplicates surface at refresh time through the
    // MERGE's own multi-source-row failure, never as silent corruption.
    val dup = ds.read().groupBy(col(dimPk)).count()
      .where(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"dim $dimPath key '$dimPk' is not unique (e.g. ${dup.head.get(0)}): " +
        "a join matview re-derives rows by dim key — dedupe the dim first")
    val base = fs.read().join(
      ds.read().select(col(dimPk).as(fk) +: dimCols.map(col): _*), Seq(fk))
    val viewLog = DeltaLog.forPath(spark, viewPath)
    // watermark domain rides the create commit (see create's note)
    TransactionWriter.overwrite(viewLog, base,
      configuration = Map(
        "graft.matview.kind" -> "join",
        "graft.matview.factSource" -> factPath,
        "graft.matview.dimSource" -> dimPath,
        "graft.matview.factPk" -> factPk.mkString(","),
        "graft.matview.fk" -> fk,
        "graft.matview.dimPk" -> dimPk,
        "graft.matview.dimCols" -> dimCols.mkString(","),
        "graft.matview.createFactVersion" -> vf.toString,
        "graft.matview.createDimVersion" -> vd.toString,
        "graft.matview.instance" -> java.util.UUID.randomUUID().toString),
      domains = Seq(StateDomain ->
        s"""{"factVersion":$vf,"dimVersion":$vd}"""))
    vf
  }

  /** Create a materialized AGGREGATE-OVER-JOIN view — `view = SELECT
    * keys, count(*), sums FROM fact ⨝ dim GROUP BY keys` in ONE
    * maintained table, where keys and summed columns may come from
    * EITHER side. The rollup-over-a-join previously took two chained
    * views (join view + rollup view — double storage, two refresh
    * hops; kept as the composition baseline, q_matview_cascade); here
    * one refresh folds the SIGNED JOIN DELTA
    * ([[graft.operators.IncrementalJoin.signedJoinDelta]] — exact
    * multiset algebra incl. the ΔF⨝ΔD cross term) per group key into
    * the rollup with one MERGE. O(changes + changed dim keys' fact
    * rows); neither the join nor the rollup ever materializes.
    *
    * Aggregate support mirrors the single-table views: SUM and AVG are
    * INVERTIBLE under signing (AVG through a hidden per-column
    * `(__as_c, __ac_c)` sum/non-null-count pair the fold maintains —
    * nulls excluded exactly like a direct AVG), so views of only
    * sums/avgs fold the signed delta with no source pass at all.
    * MIN/MAX have no inverse — a deleted row cannot be retracted from
    * a running MIN — so a view containing any MIN/MAX re-derives the
    * CHANGED keys from the pinned join (the single-table
    * `rederiveMerge` technique, keys from the signed delta): still
    * O(changed keys' join rows), never a view rebuild.
    *
    * Atomicity: each refresh rides the watermark domain INSIDE the
    * merge commit ([[Merge.withDomain]]) — fold and watermark land
    * together, so there is no crash window to repair and no txn
    * marker; concurrent refreshes of one view are exactly-once via the
    * same-domain rebase conflict rule. */
  def createJoinAgg(spark: SparkSession, viewPath: String,
      factPath: String, dimPath: String, fk: String, dimPk: String,
      keyCols: Seq[String], aggs: Seq[(String, String)]): Long = {
    require(keyCols.nonEmpty, "join-rollup matview needs group keys")
    require(aggs.nonEmpty, "join-rollup matview needs at least one aggregate")
    aggs.foreach { case (fn, c) => require(
      Set("sum", "min", "max", "avg").contains(fn.toLowerCase),
      s"unsupported join-rollup aggregate '$fn($c)' (have sum, min, max, avg)") }
    require(aggs.distinct.size == aggs.size, "duplicate aggregate clause")
    (keyCols ++ aggs.map(_._2) ++ Seq(fk, dimPk)).foreach(c => require(
      c.matches("""\w+"""),
      s"join-rollup matview column '$c' must match \\w+ (the stored " +
        "definition round-trips through the spec grammar)"))
    val fact = DeltaLog.forPath(spark, factPath)
    val dim = DeltaLog.forPath(spark, dimPath)
    val (fs, ds) = (fact.snapshot, dim.snapshot)
    require(ChangeDataFeed.enabled(fs),
      s"fact $factPath must have change data feed enabled")
    require(ChangeDataFeed.enabled(ds),
      s"dim $dimPath must have change data feed enabled")
    val factFields = fs.schema.fieldNames.toSet
    val dimFields = ds.schema.fieldNames.toSet
    require(factFields.contains(fk), s"fact $factPath has no column '$fk'")
    require(dimFields.contains(dimPk), s"dim $dimPath has no column '$dimPk'")
    (keyCols ++ aggs.map(_._2)).foreach(c => require(
      factFields.contains(c) || dimFields.contains(c),
      s"column '$c' is in neither $factPath nor $dimPath"))
    // dim-side columns the joined rows must carry; they must not
    // shadow fact columns (ambiguous join output)
    val dimSide = (keyCols ++ aggs.map(_._2))
      .filterNot(factFields.contains).distinct
    dimSide.foreach(c => require(!factFields.contains(c),
      s"dim column '$c' collides with a fact column"))
    val (vf, vd) = (fs.version, ds.version)
    val fns = aggs.map { case (fn, c) => (fn.toLowerCase, c) }
    // invertible views (only sums/avgs) fold the signed delta; an AVG
    // column then needs its hidden (sum, non-null count) pair in the
    // view so the fold can maintain it without a source pass
    val invertible = fns.forall(a => a._1 == "sum" || a._1 == "avg")
    val helperCols: Seq[Column] =
      if (!invertible) Nil
      else fns.collect {
        case ("avg", c) => Seq(
          sum(col(c)).as(s"__as_$c"),
          count(col(c)).cast("long").as(s"__ac_$c"))
        // hidden non-null count per visible SUM: the fold derives the
        // sum from it (NULL at zero — exact full-retraction semantics)
        case ("sum", c) => Seq(
          count(col(c)).cast("long").as(s"__sc_$c"))
      }.flatten
    val base = fs.read()
      .join(ds.read().select(col(dimPk).as(fk) +: dimSide.map(col): _*),
        Seq(fk))
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        fns.map { case (fn, c) => aggColumn(fn, c) } ++ helperCols: _*)
    val viewLog = DeltaLog.forPath(spark, viewPath)
    // watermark domain rides the create commit (see create's note)
    TransactionWriter.overwrite(viewLog, base,
      configuration = Map(
        "graft.matview.kind" -> "joinagg",
        "graft.matview.factSource" -> factPath,
        "graft.matview.dimSource" -> dimPath,
        "graft.matview.fk" -> fk,
        "graft.matview.dimPk" -> dimPk,
        "graft.matview.keyCols" -> keyCols.mkString(","),
        "graft.matview.aggs" ->
          fns.map { case (fn, c) => s"$fn($c)" }.mkString(","),
        "graft.matview.createFactVersion" -> vf.toString,
        "graft.matview.createDimVersion" -> vd.toString,
        "graft.matview.instance" -> java.util.UUID.randomUUID().toString),
      domains = Seq(StateDomain ->
        s"""{"factVersion":$vf,"dimVersion":$vd}"""))
    vf
  }

  /** Refresh a join-rollup view: both CDF windows → signed join delta
    * → per-key (count, sum) deltas → ONE MERGE that also carries the
    * advanced watermark domain. Returns the new fact watermark. */
  private def refreshJoinAgg(spark: SparkSession, viewPath: String,
      viewLog: DeltaLog, conf: Map[String, String]): Long = {
    val fact = DeltaLog.forPath(spark, conf("graft.matview.factSource"))
    val dim = DeltaLog.forPath(spark, conf("graft.matview.dimSource"))
    val fk = conf("graft.matview.fk")
    val dimPk = conf("graft.matview.dimPk")
    val keyCols = conf("graft.matview.keyCols").split(",").toSeq
    val aggs = parseAggs(conf)
    val (wf, wd) = joinWatermarks(viewLog.snapshot)
    val (cf, cd) = (fact.latestVersion(), dim.latestVersion())
    if (cf <= wf && cd <= wd) return wf
    val factNew = fact.snapshotAt(cf).read()
    val dimNew = dim.snapshotAt(cd).read()
    def emptyChanges(of: org.apache.spark.sql.DataFrame) =
      of.limit(0).withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(0L))
    val factChanges = if (cf > wf)
      ChangeDataFeed.tableChanges(fact, wf + 1, Some(cf))
    else emptyChanges(factNew)
    val dimChanges = if (cd > wd)
      ChangeDataFeed.tableChanges(dim, wd + 1, Some(cd))
    else emptyChanges(dimNew)
    val factFields = factNew.columns.toSet
    val dimSide = (keyCols ++ aggs.map(_._2))
      .filterNot(factFields.contains).distinct
    val delta = graft.operators.IncrementalJoin.signedJoinDelta(
      factChanges, dimChanges, factNew, dimNew, fk, dimPk, dimSide)
    val wmDomain = Seq(StateDomain ->
      s"""{"factVersion":${math.max(cf, wf)},"dimVersion":${math.max(cd, wd)}}""")
    val invertible = aggs.forall(a => a._1 == "sum" || a._1 == "avg")
    if (invertible) {
      val sums = aggs.collect { case ("sum", c) => c }
      val avgs = aggs.collect { case ("avg", c) => c }
      // sums whose hidden non-null count exists in the view (created
      // post-r13) fold exactly; a legacy incarnation keeps the
      // NULL-as-identity fold rather than referencing a missing column
      val viewFields = viewLog.snapshot.schema.fieldNames.toSet
      val exactSums = sums.filter(c => viewFields.contains(s"__sc_$c"))
      val keyed = delta.groupBy(keyCols.map(col): _*)
        .agg(sum(col("__sign")).as("__d_n"),
          sums.map(c =>
            sum(col("__sign") * col(c)).as(s"__d_sum_$c")) ++
          exactSums.map(c =>
            sum(col("__sign") *
              when(col(c).isNotNull, lit(1L)).otherwise(lit(0L)))
              .as(s"__d_sc_$c")) ++
          avgs.flatMap(c => Seq(
            sum(col("__sign") * col(c)).as(s"__d_as_$c"),
            sum(col("__sign") *
              when(col(c).isNotNull, lit(1L)).otherwise(lit(0L)))
              .as(s"__d_ac_$c"))): _*)
      // fold + watermark in ONE commit — crash-atomic, conflict-checked
      graft.operators.IncrementalAgg.mergeDeltaMulti(
        viewLog, keyed, keyCols, "n_rows",
        sums.map(c => s"sum_$c" -> s"__d_sum_$c") ++
          exactSums.map(c => s"__sc_$c" -> s"__d_sc_$c") ++
          avgs.flatMap(c => Seq(s"__as_$c" -> s"__d_as_$c",
            s"__ac_$c" -> s"__d_ac_$c")),
        avgCols = avgs.map(c => (s"avg_$c", s"__as_$c", s"__ac_$c")),
        domains = wmDomain,
        sumNnCols = exactSums.map(c => s"sum_$c" -> s"__sc_$c"))
    } else {
      // MIN/MAX present: re-derive the CHANGED keys from the join
      // pinned at the window's end versions — the signed delta supplies
      // exactly the touched key set (retractions carry old keys,
      // additions new), and the semi-join prunes the source pass to
      // them (Catalyst pushes it through the equi-join to whichever
      // side carries the keys). Idempotent by construction.
      val source = factNew.join(
        dimNew.select(col(dimPk).as(fk) +: dimSide.map(col): _*), Seq(fk))
      graft.operators.IncrementalAgg.rederiveMerge(
        viewLog, source, delta, keyCols, "n_rows",
        aggs.map { case (fn, c) => aggColumn(fn, c) },
        domains = wmDomain)
    }
    math.max(cf, wf)
  }

  /** The join view's (fact, dim) watermarks — domain first, falling
    * back to the create-time versions (same crash-repair posture as
    * the aggregate views' [[watermark]]). */
  private def joinWatermarks(snap: Snapshot): (Long, Long) = {
    val conf = snap.metadata.configuration
    val created = (conf("graft.matview.createFactVersion").toLong,
      conf("graft.matview.createDimVersion").toLong)
    Domains.get(snap, StateDomain).map { s =>
      val n = JsonUtil.mapper.readTree(s)
      // MAX with createVersions: the domain survives a view re-create
      // whose own domain commit never landed (see [[watermark]])
      (math.max(n.path("factVersion").asLong(), created._1),
        math.max(n.path("dimVersion").asLong(), created._2))
    }.getOrElse(created)
  }

  /** Refresh a JOIN view: both CDF windows → [[graft.operators
    * .IncrementalJoin.viewDelta]] → one MERGE keyed on the fact PK
    * (matched+dead → delete, matched+live → update, new+live →
    * insert), then advance both watermarks. Replay-idempotent: the
    * delta carries ABSOLUTE re-derived rows, so re-applying a crashed
    * window (or a wider one) converges to the same view. */
  private def refreshJoin(spark: SparkSession, viewPath: String,
      viewLog: DeltaLog, conf: Map[String, String]): Long = {
    val fact = DeltaLog.forPath(spark, conf("graft.matview.factSource"))
    val dim = DeltaLog.forPath(spark, conf("graft.matview.dimSource"))
    val factPk = conf("graft.matview.factPk").split(",").toSeq
    val fk = conf("graft.matview.fk")
    val dimPk = conf("graft.matview.dimPk")
    val dimCols = conf("graft.matview.dimCols").split(",").toSeq
    val (wf, wd) = joinWatermarks(viewLog.snapshot)
    val (cf, cd) = (fact.latestVersion(), dim.latestVersion())
    val (nf, nd) = (math.max(cf, wf), math.max(cd, wd))
    if (cf > wf || cd > wd) {
      val factNew = fact.snapshotAt(cf).read()
      val dimNew = dim.snapshotAt(cd).read()
      def emptyChanges(of: org.apache.spark.sql.DataFrame) =
        of.limit(0).withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(0L))
      val factChanges = if (cf > wf)
        ChangeDataFeed.tableChanges(fact, wf + 1, Some(cf))
      else emptyChanges(factNew)
      val dimChanges = if (cd > wd)
        ChangeDataFeed.tableChanges(dim, wd + 1, Some(cd))
      else emptyChanges(dimNew)
      val (touched, upserts) = graft.operators.IncrementalJoin.viewDelta(
        factChanges, dimChanges, factNew, dimNew,
        factPk, fk, dimPk, dimCols)
      val viewCols = viewLog.snapshot.schema.fieldNames.toSeq
      // O(changed keys)-sized by construction; materialize it — the
      // MERGE references its source in several sub-joins, and the
      // delta chain above it (CDF window ranks + two fact/dim joins)
      // would otherwise recompute per reference
      val src = touched.join(
        upserts.withColumn("__live", lit(1)),
        factPk, "left").localCheckpoint()
      val cond = factPk.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
      // both advanced watermarks ride INSIDE the merge commit — the
      // refresh is ONE commit and watermark/data are atomic (the
      // absolute-row apply was already replay-idempotent; this removes
      // the separate domain commit and its cost)
      // src is one row per fact PK by construction (touched is
      // distinct, upserts dropDuplicates the PK) — guard skipped
      Merge.into(viewLog, src, cond).withUniqueSource()
        .withDomain(StateDomain,
          s"""{"factVersion":$nf,"dimVersion":$nd}""")
        .whenMatchedDelete(Some(col(s"s.__live").isNull))
        .whenMatchedUpdate(
          viewCols.map(c => c -> col(s"s.$c")).toMap,
          Some(col(s"s.__live").isNotNull))
        .whenNotMatchedInsert(
          viewCols.map(c => c -> col(s"s.$c")).toMap,
          Some(col(s"s.__live").isNotNull))
        .execute()
    }
    nf
  }

  private def watermark(snap: Snapshot): Long = {
    val domain = Domains.get(snap, StateDomain)
      .map(s => JsonUtil.mapper.readTree(s).path("sourceVersion").asLong())
    val created = snap.metadata.configuration
      .get("graft.matview.createVersion").map(_.toLong)
    // MAX of the two, not domain-first: domain metadata survives an
    // overwrite, so a RE-created view whose create crashed before its
    // own domain commit still sees the PREVIOUS incarnation's (stale,
    // possibly lower) watermark — and with a fresh instance UUID the
    // txn marker cannot catch the replay. The base was built at
    // createVersion, so anything below it is stale by construction.
    (domain, created) match {
      case (Some(d), Some(c)) => math.max(d, c)
      case (Some(d), None) => d
      case (None, Some(c)) => c
      case (None, None) => throw new IllegalStateException(
        s"matview has neither a $StateDomain domain nor a createVersion")
    }
  }

  /** The view's VISIBLE relation: the stored rollup minus maintenance
    * helper columns (`__`-prefixed — AVG's hidden (sum, non-null count)
    * pair, SUM's hidden non-null count). The helpers are implementation
    * state of the signed fold; a consumer comparing the view against a
    * direct recompute reads this surface. */
  def read(spark: SparkSession, viewPath: String): org.apache.spark.sql.DataFrame = {
    val df = DeltaLog.forPath(spark, viewPath).snapshot.read()
    df.drop(df.columns.filter(_.startsWith("__")).toIndexedSeq: _*)
  }

  /** The view's definition + watermark: (source path, key columns,
    * aggregate spec, last folded source version). */
  def describe(spark: SparkSession,
      viewPath: String): (String, Seq[String], String, Long) = {
    val snap = DeltaLog.forPath(spark, viewPath).snapshot
    val conf = snap.metadata.configuration
    if (conf.get("graft.matview.kind").contains("join")) {
      // join view: source spells the join, "aggs" slot carries the
      // maintained dim columns, watermark is the fact watermark
      val (wf, _) = joinWatermarks(snap)
      return (s"${conf("graft.matview.factSource")} JOIN " +
          s"${conf("graft.matview.dimSource")} ON " +
          s"(${conf("graft.matview.fk")} = ${conf("graft.matview.dimPk")})",
        conf("graft.matview.factPk").split(",").toSeq,
        s"cols(${conf("graft.matview.dimCols")})", wf)
    }
    if (conf.get("graft.matview.kind").contains("joinagg")) {
      val (wf, _) = joinWatermarks(snap)
      return (s"${conf("graft.matview.factSource")} JOIN " +
          s"${conf("graft.matview.dimSource")} ON " +
          s"(${conf("graft.matview.fk")} = ${conf("graft.matview.dimPk")})",
        conf("graft.matview.keyCols").split(",").toSeq,
        conf("graft.matview.aggs"), wf)
    }
    val src = conf.getOrElse("graft.matview.source",
      throw new IllegalArgumentException(s"$viewPath is not a matview"))
    (src, conf("graft.matview.keyCols").split(",").toSeq,
      parseAggs(conf).map { case (f, c) => s"$f($c)" }.mkString(","),
      watermark(snap))
  }

  /** How stale the view is, in SOURCE COMMITS the watermark has not
    * folded (summed over both sources for join/joinagg views). The
    * "how fresh am I" surface a scheduler polls: lag 0 ⇔ a refresh
    * would be a pure no-op. One log-tail listing per source — no CDF
    * read, no data touched; commits in the lag may of course be
    * metadata-only (an upper bound on real data staleness, free to
    * compute). */
  def lag(spark: SparkSession, viewPath: String): Long = {
    val snap = DeltaLog.forPath(spark, viewPath).snapshot
    val conf = snap.metadata.configuration
    val kind = conf.getOrElse("graft.matview.kind", "agg")
    if (kind == "join" || kind == "joinagg") {
      val (wf, wd) = joinWatermarks(snap)
      val cf = DeltaLog.forPath(spark,
        conf("graft.matview.factSource")).latestVersion()
      val cd = DeltaLog.forPath(spark,
        conf("graft.matview.dimSource")).latestVersion()
      math.max(0L, cf - wf) + math.max(0L, cd - wd)
    } else {
      val src = conf.getOrElse("graft.matview.source",
        throw new IllegalArgumentException(s"$viewPath is not a matview"))
      math.max(0L,
        DeltaLog.forPath(spark, src).latestVersion() - watermark(snap))
    }
  }

  /** Refresh only when stale: lag 0 returns the current watermark
    * without planning a CDF read (refresh itself already commits
    * nothing when current — this form also skips the change-feed
    * window resolution, making a tight polling loop free). */
  def refreshIfStale(spark: SparkSession, viewPath: String): Long =
    if (lag(spark, viewPath) == 0L) {
      val snap = DeltaLog.forPath(spark, viewPath).snapshot
      val conf = snap.metadata.configuration
      val kind = conf.getOrElse("graft.matview.kind", "agg")
      if (kind == "join" || kind == "joinagg") joinWatermarks(snap)._1
      else watermark(snap)
    } else refresh(spark, viewPath)

  /** Incremental refresh: fold the source's change feed since the
    * watermark into the view (signed fold or changed-key rederive —
    * see the object doc), then advance the watermark. Idempotent under
    * replay; safe under concurrent callers (exactly one wins per
    * window). Returns the new watermark (source version). */
  def refresh(spark: SparkSession, viewPath: String): Long = {
    val viewLog = DeltaLog.forPath(spark, viewPath)
    val snap = viewLog.snapshot
    val conf = snap.metadata.configuration
    if (conf.get("graft.matview.kind").contains("join"))
      return refreshJoin(spark, viewPath, viewLog, conf)
    if (conf.get("graft.matview.kind").contains("joinagg"))
      return refreshJoinAgg(spark, viewPath, viewLog, conf)
    val sourcePath = conf.getOrElse("graft.matview.source",
      throw new IllegalArgumentException(s"$viewPath is not a matview"))
    val keyCols = conf("graft.matview.keyCols").split(",").toSeq
    val aggs = parseAggs(conf)
    val txnApp = conf.get("graft.matview.instance")
      .map(i => s"$TxnApp|$i").getOrElse(TxnApp)
    val last = watermark(snap)
    val src = DeltaLog.forPath(spark, sourcePath)
    val cur = src.latestVersion()
    // Crash repair: the view's txn marker records the last MERGED
    // source version, riding INSIDE the merge commit — the watermark
    // domain is committed after. A refresh that died in between leaves
    // marker > watermark; folding from the stale watermark would
    // double-count the already-merged window, so the fold always
    // starts from max(watermark, marker), and the merge is skipped
    // entirely when even that is current (pure watermark repair).
    val merged = snap.setTransactions
      .get(txnApp).map(_.version).getOrElse(Long.MinValue)
    val effLast = math.max(last, merged)
    if (cur > effLast) {
      // a WHERE-filtered view filters the CDF slice (and the rederive
      // source pass) row-wise BEFORE aggregation — preimages retract
      // only if they matched, postimages contribute only if they match;
      // expression keys then materialize on the same slice, so derived
      // buckets group exactly as they did at create
      val pred = conf.get("graft.matview.where")
      val keyExprs: Seq[(String, String)] =
        conf.get("graft.matview.keyExprs").map { j =>
          import scala.jdk.CollectionConverters._
          JsonUtil.mapper.readTree(j).elements().asScala
            .map(o => (o.path("n").asText(), o.path("e").asText())).toSeq
        }.getOrElse(Nil)
      def filtered(df: org.apache.spark.sql.DataFrame) =
        keyExprs.foldLeft(
          pred.fold(df)(w => df.where(expr(w)))) { case (d, (n, e)) =>
          d.withColumn(n, expr(e)) }
      val changes = filtered(
        ChangeDataFeed.tableChanges(src, effLast + 1, Some(cur)))
      // the advanced watermark rides INSIDE the merge commit
      // ([[Merge.withDomain]]): fold and watermark are atomic, so each
      // refresh is ONE commit (previously merge + domain commit — a
      // crash window the txn marker had to repair; the marker still
      // rides along as a harmless second witness)
      val wmDomain = Seq(StateDomain ->
        s"""{"sourceVersion":${math.max(cur, effLast)}}""")
      aggs match {
        case Seq(("sum", valueCol))
            if snap.schema.fieldNames.contains(s"__sc_$valueCol") =>
          // exact signed fold: the hidden non-null count folds with the
          // sum, and the visible sum derives from it (NULL when a
          // group's last non-null row is retracted — recompute
          // semantics, no residue)
          graft.operators.IncrementalAgg.mergeDeltaMulti(
            viewLog,
            graft.operators.IncrementalAgg.aggDeltaExact(
              changes, keyCols, valueCol),
            keyCols, "n_rows",
            Seq(s"sum_$valueCol" -> "__d_sum", s"__sc_$valueCol" -> "__d_sc"),
            txn = Some((txnApp, cur)), domains = wmDomain,
            sumNnCols = Seq(s"sum_$valueCol" -> s"__sc_$valueCol"))
        case Seq(("sum", valueCol)) =>
          // legacy incarnation (created before the hidden count):
          // NULL-as-identity fold, documented full-retraction residue
          graft.operators.IncrementalAgg.mergeDelta(
            viewLog,
            graft.operators.IncrementalAgg.aggDelta(changes, keyCols, valueCol),
            keyCols, "n_rows", s"sum_$valueCol",
            txn = Some((txnApp, cur)), domains = wmDomain)
        case _ =>
          // pin the source pass to the window's end version so the
          // refresh is deterministic (and replay-idempotent) even when
          // the source advances mid-refresh
          graft.operators.IncrementalAgg.rederiveMerge(
            viewLog, filtered(src.snapshotAt(cur).read()), changes,
            keyCols, "n_rows",
            aggs.map { case (fn, c) => aggColumn(fn, c) },
            txn = Some((txnApp, cur)), domains = wmDomain)
      }
      return math.max(cur, effLast)
    }
    val wm = math.max(cur, effLast)
    // repair-only path (no merge ran: marker ahead of watermark after
    // an old-style crash): one domain commit restores consistency
    if (wm != last)
      Domains.set(viewLog, StateDomain, s"""{"sourceVersion":$wm}""")
    wm
  }
}
