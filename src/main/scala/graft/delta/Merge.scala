package graft.delta

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** General MERGE INTO executor over graft's Delta layer — the surface
  * the reference drives through delta-rs
  * (`dt.merge(...).when_matched_delete/when_matched_update/
  * when_not_matched_insert.execute()`, levi/__init__.py:157-166,
  * :274-295), generalized beyond the three hard-wired call sites in
  * [[Mutations]].
  *
  * Semantics (Delta MERGE):
  *  - a target row matching a source row gets the first applicable
  *    matched clause: DELETE (with optional condition) is evaluated
  *    before UPDATE;
  *  - source rows matching no target row are inserted (optional
  *    condition);
  *  - a target row matching MORE THAN ONE source row is an error
  *    (delta-rs raises the same — nondeterministic merge otherwise);
  *  - untouched rows and untouched FILES pass through — execution is a
  *    targeted rewrite: only files containing matched rows are
  *    rewritten, inserts ride the same commit as new files.
  *
  * Conditions and set/values expressions reference the target as `t`
  * and the source as `s` (e.g. `col("t.id") === col("s.id")`).
  *
  * Scale shape: one semi-join-ish pass to find touched files (shuffle on
  * the join keys; the 100 TB side never moves beyond that join), one
  * re-scan of ONLY touched files joined against the (typically small,
  * broadcastable) source, one anti-join for inserts.
  */
final case class Merge(
    log: DeltaLog,
    source: DataFrame,
    condition: Column,
    matchedDelete: Option[Option[Column]] = None,
    matchedUpdate: Option[(Option[Column], Map[String, Column])] = None,
    notMatchedInsert: Option[(Option[Column], Map[String, Column])] = None,
    notMatchedBySourceDelete: Option[Option[Column]] = None,
    notMatchedBySourceUpdate: Option[(Option[Column], Map[String, Column])] = None,
    schemaEvolution: Boolean = false,
    txn: Option[(String, Long)] = None,
    domains: Seq[(String, String)] = Nil,
    uniqueSource: Boolean = false) {

  /** Ride an idempotent-writer `txn` marker (appId, version) INSIDE the
    * merge's own commit. Required when the per-batch application is NOT
    * idempotent (e.g. folding a signed aggregate delta): a separate
    * marker commit would leave a crash window in which a restart
    * re-applies the already-committed batch. No-op merges (nothing
    * matched, nothing inserted) still record the marker, as their
    * replay is trivially idempotent. */
  def withTxn(appId: String, version: Long): Merge =
    copy(txn = Some((appId, version)))

  /** Ride a domain-metadata write INSIDE the merge's own commit — the
    * ATOMIC form of merge-then-`Domains.set`. A separate domain commit
    * leaves a crash window between the data and its watermark (the
    * matview refresh posture that previously needed the txn marker as
    * repair); carried inside, data and watermark land or vanish
    * together, and the rebase path's same-domain conflict rule makes
    * concurrent refreshes of one view exactly-once (of two folds of
    * the same window, the loser aborts instead of rebasing into a
    * double-count). No-op merges still commit the domain when one is
    * set — a watermark must advance past a changeless window or the
    * CDF read window grows without bound. */
  def withDomain(domain: String, configuration: String): Merge =
    copy(domains = domains :+ (domain -> configuration))

  /** Caller-asserted: the source has AT MOST ONE row per target match —
    * skip the multi-match guard (one full target⨝source aggregation
    * pass, a fixed cost every merge otherwise pays). ONLY for sources
    * that are unique per join key BY CONSTRUCTION — a `groupBy(keys)`
    * aggregate, a `distinct()`/`dropDuplicates(keys)` output (the
    * matview refresh deltas are all three). A violated assertion makes
    * the merge nondeterministic (the guard exists because delta-rs and
    * delta-spark both refuse that), so never set it for user-supplied
    * sources. */
  def withUniqueSource(): Merge = copy(uniqueSource = true)

  /** The SetTransaction action(s) to ride along in the data commit. */
  private def txnActions: Seq[Action] = txn.toSeq.map { case (a, v) =>
    TxnAction(SetTransaction(a, v, Some(System.currentTimeMillis())))
  }

  /** Domain actions (plus any protocol upgrade they need) to ride in
    * the data commit. */
  private def domainActions(snap: Snapshot): Seq[Action] =
    if (domains.isEmpty) Nil
    else Domains.featureUpgrade(snap, Set("domainMetadata")) ++
      domains.map { case (d, c) => DomainMetadataAction(DomainMetadata(d, c)) }

  /** Marker/domain-only commit for merges with no data change. Domain
    * carriers go through the rebase path so the same-domain conflict
    * rule still applies; marker-only keeps [[TransactionWriter
    * .recordTxn]]'s retry-past-anything behavior (markers conflict
    * with nothing). */
  private def noopCommit(snap: Snapshot): Long =
    if (domains.isEmpty)
      txn.map { case (a, v) => TransactionWriter.recordTxn(log, a, v) }
        .getOrElse(snap.version)
    else TransactionWriter.commitWithRebase(log, snap.version + 1,
      CommitInfoAction(CommitInfo(System.currentTimeMillis(), "MERGE",
        Map("mode" -> "noop"))) +: (txnActions ++ domainActions(snap)),
      touchedPaths = Set.empty,
      ictEnabled = snap.metadata.configuration
        .get("delta.enableInCommitTimestamps").contains("true"))

  /** Enable automatic schema evolution (delta-spark's
    * `withSchemaEvolution`): UPDATE-set / INSERT-values keys naming
    * columns the target lacks ADD those columns (nullable, type
    * resolved against the source) in a metadata commit immediately
    * before the merge commit — existing files read NULL for them.
    * New-column expressions must resolve against the source alone. */
  def withSchemaEvolution(): Merge = copy(schemaEvolution = true)

  def whenMatchedDelete(condition: Option[Column] = None): Merge =
    copy(matchedDelete = Some(condition))

  def whenMatchedUpdate(set: Map[String, Column], condition: Option[Column] = None): Merge =
    copy(matchedUpdate = Some((condition, set)))

  def whenNotMatchedInsert(values: Map[String, Column], condition: Option[Column] = None): Merge =
    copy(notMatchedInsert = Some((condition, values)))

  /** Sync-style clause: delete target rows with NO matching source row.
    * Forces a full-table rewrite (every file may hold unmatched rows). */
  def whenNotMatchedBySourceDelete(condition: Option[Column] = None): Merge =
    copy(notMatchedBySourceDelete = Some(condition))

  /** Sync-style clause: update target rows with NO matching source row
    * (set expressions may reference `t` only). Full-table rewrite. */
  def whenNotMatchedBySourceUpdate(
      set: Map[String, Column], condition: Option[Column] = None): Merge =
    copy(notMatchedBySourceUpdate = Some((condition, set)))

  /** Run the merge; returns the committed version (the current version
    * when the merge is a no-op). */
  def execute(): Long = {
    require(matchedDelete.nonEmpty || matchedUpdate.nonEmpty ||
        notMatchedInsert.nonEmpty || notMatchedBySourceDelete.nonEmpty ||
        notMatchedBySourceUpdate.nonEmpty,
      "merge needs at least one WHEN clause")
    val hasBySource = notMatchedBySourceDelete.nonEmpty || notMatchedBySourceUpdate.nonEmpty
    if (schemaEvolution) {
      val existing = log.snapshot.schema.fieldNames.toSet
      val srcAliased = source.alias("s")
      val candidates =
        matchedUpdate.map(_._2).getOrElse(Map.empty) ++
          notMatchedInsert.map(_._2).getOrElse(Map.empty)
      // ALL new columns land in ONE metadata commit (not one per
      // column): a failed/aborted merge leaves at most one extra log
      // version, and the evolution is never partially visible.
      // Divergence vs delta-spark (which folds evolution into the
      // merge commit itself): here the schema commit precedes the
      // merge commit, so an aborted merge retains the added columns —
      // harmless (nullable, unreferenced) but visible in history.
      val added = candidates.filterNot { case (k, _) => existing(k) }
        .toSeq.sortBy(_._1)
        .map { case (name, e) =>
          name -> srcAliased.select(e).schema.head.dataType
        }
      if (added.nonEmpty) SchemaEvolution.addColumns(log, added)
    }
    val snap = log.snapshot
    val targetSchema = snap.schema
    val targetCols = targetSchema.fieldNames.toSeq
    notMatchedBySourceUpdate.foreach { case (_, set) =>
      val unknown = set.keySet -- targetCols
      require(unknown.isEmpty, s"by-source update sets unknown columns: $unknown")
    }
    matchedUpdate.foreach { case (_, set) =>
      val unknown = set.keySet -- targetCols
      require(unknown.isEmpty, s"update sets unknown columns: $unknown")
    }
    notMatchedInsert.foreach { case (_, values) =>
      val unknown = values.keySet -- targetCols
      require(unknown.isEmpty, s"insert provides unknown columns: $unknown")
    }

    val src = source.alias("s")

    // -- guard: a target row may match at most one source row ---------------
    // Attribution uses the scan's materialized row-lineage columns
    // (`__file`/`__row` from readFilesLineage), NOT input_file_name():
    // when the table carries deletion vectors the scan contains a DV
    // anti-join, and input_file_name() returns empty past that shuffle —
    // touched files would be silently missed. (__file,__row) doubles as
    // the stable per-row id for the multi-match guard.
    val planned = snap.planFiles()
    val tagged = snap.readFilesLineage(planned).alias("t")
    // clause conditions evaluated ON THE JOIN (they may reference s.*),
    // ridden along so one cached pass feeds the guard, the touched-file
    // set, and the DV fast path's affected-row set
    val delCondJ = matchedDelete.map { c =>
      coalesce(c.getOrElse(lit(true)), lit(false))
    }.getOrElse(lit(false))
    val updCondJ = matchedUpdate.map { case (c, _) =>
      !delCondJ && coalesce(c.getOrElse(lit(true)), lit(false))
    }.getOrElse(lit(false))
    val insertOnly = matchedDelete.isEmpty && matchedUpdate.isEmpty
    val dvCandidate = !hasBySource && !insertOnly && Merge.dvEnabled(snap)
    // Small-table shortcut: touched-file DISCOVERY exists to avoid
    // rewriting untouched files, and its cost is one full target⨝source
    // pass. On a target of a handful of files there is nothing worth
    // saving — rewriting them all is cheaper than scanning them all to
    // find out which to rewrite (the matview rollups this matters for
    // are 1-3 files; a fixed discovery pass per refresh was measured at
    // ~30% of the merge). Only when neither the guard (uniqueSource
    // skips it) nor the DV planner needs per-row matches.
    val needMatches = !uniqueSource || dvCandidate ||
      (!hasBySource && !insertOnly && planned.size > Merge.DiscoveryMinFiles)
    val matchesOpt: Option[DataFrame] =
      if (!needMatches) None
      else Some(tagged.join(src, condition)
        .select(col("t.__file"), col("t.__row"),
          delCondJ.as("__del"), updCondJ.as("__upd")).persist())
    def unpersistMatches(): Unit = matchesOpt.foreach(_.unpersist())
    try {
      matchesOpt.foreach { matches =>
        if (!uniqueSource) {
          val multi = matches.groupBy(col("__file"), col("__row"))
            .agg(count(lit(1)).as("__c"))
            .where(col("__c") > 1).limit(1).count()
          require(multi == 0L,
            "merge aborted: at least one target row matches multiple source " +
              "rows — the result would be nondeterministic (same error as " +
              "delta-rs)")
        }

        // -- DV fast path ----------------------------------------------------
        // Matched DELETE/UPDATE on a deletion-vector-enabled table marks
        // the affected rows in per-file bitmaps and writes ONLY the
        // updated/inserted rows as new files — no touched-file rewrite
        // (the delta-spark low-shuffle merge shape). The cardinality
        // guard inside the DV planner falls back to the rewrite path for
        // broad matches.
        if (dvCandidate) {
          executeDvPath(snap, planned, matches) match {
            case Some(v) => matches.unpersist(); return v
            case None => () // too broad — continue into the rewrite path
          }
        }
      }
    } catch { case e: Throwable => unpersistMatches(); throw e }

    // -- touched files -------------------------------------------------------
    val idx: Map[String, AddFile] = Mutations.fileIndex(snap, planned)
    val touched: Seq[AddFile] =
      if (hasBySource) planned // every file may hold unmatched rows
      else if (insertOnly) Nil
      else matchesOpt match {
        case Some(matches) =>
          matches.select(col("__file")).distinct().collect()
            .map(r => Mutations.normalize(r.getString(0)))
            .flatMap(idx.get).toSeq
        case None =>
          // shortcut path: rewrite every (few) file — UNLESS the source
          // is empty, where the rewrite must not churn the log (a
          // replayed empty batch must stay a marker-only no-op); the
          // emptiness probe is one limit(1) job on the (typically
          // already-materialized) source, far below a discovery pass
          if (source.isEmpty) Nil else planned
      }
    unpersistMatches()

    // -- rewrite touched files ----------------------------------------------
    val cdfOn = ChangeDataFeed.enabled(snap)
    var joinedCache: Option[DataFrame] = None
    var changeRows: Option[DataFrame] = None // excl. inserts; added below
    val survivorsOpt: Option[DataFrame] =
      if (touched.isEmpty) None
      else {
        val scan = snap.readFiles(touched).alias("t")
        val joined0 = scan.join(src.withColumn("__smatch", lit(true)), condition, "left")
        // CDC derives three more frames from the same join — cache it so
        // the touched-file scan + join runs once, not four times.
        val joined = if (cdfOn) { val j = joined0.persist(); joinedCache = Some(j); j }
                     else joined0
        val isMatched = col("__smatch").isNotNull
        // Delta MERGE clause conditions apply only when TRUE — a NULL
        // condition must behave as false, so coalesce before negating
        // (NOT(NULL) is NULL and WHERE would silently drop the row).
        val delCond = matchedDelete.map { c =>
          isMatched && coalesce(c.getOrElse(lit(true)), lit(false))
        }.getOrElse(lit(false))
        val updCond = matchedUpdate.map { case (c, _) =>
          isMatched && !delCond && coalesce(c.getOrElse(lit(true)), lit(false))
        }.getOrElse(lit(false))
        val bsDelCond = notMatchedBySourceDelete.map { c =>
          !isMatched && coalesce(c.getOrElse(lit(true)), lit(false))
        }.getOrElse(lit(false))
        val bsUpdCond = notMatchedBySourceUpdate.map { case (c, _) =>
          !isMatched && !bsDelCond && coalesce(c.getOrElse(lit(true)), lit(false))
        }.getOrElse(lit(false))
        val sets: Map[String, Column] = matchedUpdate.map(_._2).getOrElse(Map.empty)
        val bsSets: Map[String, Column] =
          notMatchedBySourceUpdate.map(_._2).getOrElse(Map.empty)
        // post-image projection: target columns with UPDATE sets applied
        val postProjection: Seq[Column] = targetCols.map { c =>
          val dt = targetSchema(c).dataType
          val base = col(s"t.$c")
          val afterMatched = sets.get(c) match {
            case Some(e) => when(updCond, e.cast(dt)).otherwise(base)
            case None => base
          }
          (bsSets.get(c) match {
            case Some(e) => when(bsUpdCond, e.cast(dt)).otherwise(afterMatched)
            case None => afterMatched
          }).as(c)
        }
        if (cdfOn) {
          val preProjection = targetCols.map(c => col(s"t.$c").as(c))
          val ct = ChangeDataFeed.ChangeTypeCol
          val deletes = joined.where(delCond || bsDelCond)
            .select(preProjection: _*).withColumn(ct, lit("delete"))
          val pre = joined.where(updCond || bsUpdCond)
            .select(preProjection: _*).withColumn(ct, lit("update_preimage"))
          val post = joined.where(updCond || bsUpdCond)
            .select(postProjection: _*).withColumn(ct, lit("update_postimage"))
          changeRows = Some(deletes.unionByName(pre).unionByName(post))
        }
        Some(joined.where(!delCond && !bsDelCond).select(postProjection: _*))
      }

    // -- inserts (source rows matching NO target row, globally) -------------
    val insertsOpt: Option[DataFrame] = insertRows(snap)

    val replacement = (survivorsOpt, insertsOpt) match {
      case (Some(s), Some(i)) => Some(s.unionByName(i))
      case (Some(s), None) => Some(s)
      case (None, Some(i)) => Some(i)
      case (None, None) => None
    }
    try replacement match {
      // no-op merges: no data commit to ride in, so a marker-only commit
      // is safe (replaying a no-op batch is trivially idempotent)
      case None =>
        noopCommit(snap)
      case Some(df) if touched.isEmpty && df.isEmpty =>
        noopCommit(snap)
      case Some(df) =>
        // Change Data Feed: rewrite commits carry exact row-level cdc
        // (deletes + update pre/post pairs + inserts). Insert-ONLY
        // merges skip cdc files — the commit's adds derive as inserts,
        // same rows for free (delta-spark does the same).
        val cdc: Seq[CdcAction] =
          if (!cdfOn || touched.isEmpty) Nil
          else {
            val ct = ChangeDataFeed.ChangeTypeCol
            val insertRows = insertsOpt.map(_.withColumn(ct, lit("insert")))
            val all = (changeRows, insertRows) match {
              case (Some(a), Some(b)) => a.unionByName(b)
              case (a, b) => a.orElse(b).get
            }
            ChangeDataFeed.writeCdcFiles(log, all)
          }
        TransactionWriter.rewriteFiles(log, snap, touched, df, "MERGE",
          extraActions = cdc ++ txnActions ++ domainActions(snap))
    } finally joinedCache.foreach(_.unpersist())
  }

  /** Rows to INSERT: source rows matching no target row, projected to
    * the table schema with identity values generated and omitted
    * generated columns computed. None when the merge has no
    * not-matched-insert clause. */
  private def insertRows(snap: Snapshot): Option[DataFrame] = {
    val targetSchema = snap.schema
    val targetCols = targetSchema.fieldNames.toSeq
    val src = source.alias("s")
    notMatchedInsert.map { case (cOpt, values) =>
      // Identity columns: omitted ones are GENERATED here (the writer's
      // fill cannot — the projection below would otherwise materialize
      // them as NULL, tripping the NOT NULL invariant); explicitly
      // provided ones follow the allowExplicitInsert gate.
      val idSpecs = IdentityColumns.of(targetSchema).map(s => s.name -> s).toMap
      idSpecs.values.foreach { s =>
        require(!values.contains(s.name) || s.allowExplicitInsert,
          s"cannot insert values for identity column ${s.name}: it is " +
            "GENERATED ALWAYS (declare allowExplicitInsert to override)")
      }
      val unmatched = src.join(snap.read().alias("t"), condition, "left_anti")
      val filtered = cOpt.map(unmatched.where).getOrElse(unmatched)
      val projected = filtered.select(targetCols.map { c =>
        val dt = targetSchema(c).dataType
        values.get(c).map(_.cast(dt))
          .orElse(idSpecs.get(c).map { s =>
            val base = s.highWaterMark.getOrElse(s.start - s.step)
            (lit(base) + (monotonically_increasing_id() + 1L) * s.step).cast(dt)
          })
          .getOrElse(lit(null).cast(dt)).as(c)
      }: _*)
      // Generated columns omitted from `values` are COMPUTED from their
      // expressions over the projected row (a NULL would both violate
      // the generation probe and fabricate wrong data).
      GeneratedColumns.of(targetSchema)
        .filterNot { case (n, _) => values.contains(n) }
        .foldLeft(projected) { case (acc, (n, gen)) =>
          acc.withColumn(n, expr(gen).cast(targetSchema(n).dataType))
        }
        .select(targetCols.map(col): _*)
    }
  }

  /** DV fast path for matched clauses: mark affected rows in per-file
    * deletion vectors and write ONLY the updated/inserted rows as new
    * files — the touched data files are never rewritten. Returns
    * Some(committedVersion) when handled; None when the affected-row
    * set exceeds the DV cardinality caps (caller falls back to the
    * targeted rewrite, which holds no row state on the driver). */
  private def executeDvPath(
      snap: Snapshot, planned: Seq[AddFile], matches: DataFrame): Option[Long] = {
    val targetSchema = snap.schema
    val targetCols = targetSchema.fieldNames.toSeq
    val src = source.alias("s")
    val affected = matches.where(col("__del") || col("__upd"))
      .select(col("__file"), col("__row"))
    Mutations.dvPlanFromMatches(log, snap, affected, planned) match {
      case Mutations.DvTooBroad(_) => None
      case Mutations.DvNoMatch =>
        // no matched row passes a clause condition — only inserts remain.
        // The txn marker must still ride/record here: an insert-only
        // micro-batch of a rollup sink is exactly as replayable as any
        // other, and dropping the marker on this branch alone would
        // double-apply it on restart.
        insertRows(snap) match {
          case Some(ins) if !ins.isEmpty =>
            // insert-only commits skip cdc files: the feed derives the
            // same rows from the commit's adds (delta-spark behavior)
            Some(TransactionWriter.rewriteFiles(log, snap, Nil, ins, "MERGE",
              extraActions = txnActions ++ domainActions(snap)))
          case _ =>
            Some(noopCommit(snap))
        }
      case Mutations.DvActions(dvActions, dvTouched) =>
        val cdfOn = ChangeDataFeed.enabled(snap)
        // re-scan ONLY the DV-touched files joined against the source
        // for updated post-images and cdc pre-images (inner join: every
        // row here is matched, so no __smatch bookkeeping is needed)
        val joinedT = snap.readFiles(dvTouched).alias("t").join(src, condition)
        val delC = matchedDelete.map { c =>
          coalesce(c.getOrElse(lit(true)), lit(false))
        }.getOrElse(lit(false))
        val updC = matchedUpdate.map { case (c, _) =>
          !delC && coalesce(c.getOrElse(lit(true)), lit(false))
        }.getOrElse(lit(false))
        val sets: Map[String, Column] = matchedUpdate.map(_._2).getOrElse(Map.empty)
        val preProj = targetCols.map(c => col(s"t.$c").as(c))
        val postProj = targetCols.map { c =>
          val dt = targetSchema(c).dataType
          sets.get(c).map(_.cast(dt)).getOrElse(col(s"t.$c")).as(c)
        }
        val updated: Option[DataFrame] =
          if (matchedUpdate.isEmpty) None
          else Some(joinedT.where(updC).select(postProj: _*))
        val inserts = insertRows(snap)
        val cdc: Seq[CdcAction] =
          if (!cdfOn) Nil
          else {
            val ct = ChangeDataFeed.ChangeTypeCol
            val deletes = joinedT.where(delC).select(preProj: _*)
              .withColumn(ct, lit("delete"))
            val pre = joinedT.where(updC).select(preProj: _*)
              .withColumn(ct, lit("update_preimage"))
            val post = joinedT.where(updC).select(postProj: _*)
              .withColumn(ct, lit("update_postimage"))
            val all = (Seq(deletes, pre, post) ++
              inserts.map(_.withColumn(ct, lit("insert"))).toSeq)
              .reduce(_.unionByName(_))
            ChangeDataFeed.writeCdcFiles(log, all)
          }
        val newData: Option[DataFrame] = (updated, inserts) match {
          case (Some(u), Some(i)) => Some(u.unionByName(i))
          case (u, i) => u.orElse(i)
        }
        newData match {
          case Some(df) =>
            Some(TransactionWriter.writeAndCommit(log, df, Some(snap),
              removes = Nil, partitionBy = Some(snap.metadata.partitionColumns),
              configuration = Map.empty, operation = "MERGE", mode = "Rewrite",
              extraActions = dvActions ++ cdc ++ txnActions ++ domainActions(snap),
              extraTouched = dvTouched.map(_.path).toSet))
          case None =>
            val actions = CommitInfoAction(CommitInfo(
              System.currentTimeMillis(), "MERGE",
              Map("mode" -> "deletionVectors"))) +: (dvActions ++ cdc ++
              txnActions ++ domainActions(snap))
            val v = TransactionWriter.commitWithRebase(log, snap.version + 1,
              actions, touchedPaths = dvTouched.map(_.path).toSet,
              ictEnabled = snap.metadata.configuration
                .get("delta.enableInCommitTimestamps").contains("true"))
            log.spark.catalog.clearCache()
            Some(v)
        }
    }
  }
}

object Merge {
  /** Target-file count at or below which a unique-source merge
    * rewrites every planned file instead of running a discovery pass. */
  private val DiscoveryMinFiles = 8

  /** Start building a merge of `source` into the table at `log` on
    * `condition` (target alias `t`, source alias `s`). */
  def into(log: DeltaLog, source: DataFrame, condition: Column): Merge =
    Merge(log, source, condition)

  /** Deletion vectors are used by MERGE only when the table already
    * carries the feature or has opted in via table property — a merge
    * must not silently upgrade a plain table's protocol (delta-spark
    * gates DV writes on `delta.enableDeletionVectors` the same way). */
  private[delta] def dvEnabled(snap: Snapshot): Boolean =
    snap.protocol.readerFeatures.contains("deletionVectors") ||
      snap.metadata.configuration
        .get("delta.enableDeletionVectors").contains("true")
}
