package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.delta.{Clone, Constraints, DeltaLog, Maintenance, Mutations}

/** SQL surface for table maintenance and mutations, injected through
  * `SparkSessionExtensions.injectParser` (the same extension point
  * delta-spark uses for VACUUM/OPTIMIZE). Recognized statements —
  * everything else delegates verbatim to Spark's parser:
  *
  * {{{
  * GRAFT VACUUM '<path>' [RETAIN <n> HOURS] [USING INVENTORY '<parquet>']
  * GRAFT OPTIMIZE '<path>' [ZORDER BY (c1, c2)] [INCREMENTAL] [WHERE <partition predicate>]
  * GRAFT OPTIMIZE '<path>' HILBERT BY (c1, c2) [INCREMENTAL] [WHERE <partition predicate>]
  * GRAFT CHECKPOINT '<path>'
  * GRAFT REORG '<path>' APPLY PURGE                    -- drop DV debt
  * GRAFT FSCK '<path>' [DRY RUN]                       -- repair missing files
  * GRAFT HISTORY '<path>'
  * GRAFT DESCRIBE DETAIL '<path>'
  * GRAFT SHOW PARTITIONS '<path>'
  * GRAFT RESTORE '<path>' TO VERSION <v> | TO TIMESTAMP '<ts>'
  * GRAFT DELETE FROM '<path>' WHERE <predicate>        -- targeted rewrite
  * GRAFT DELETE FROM '<path>' USING DV WHERE <pred>    -- deletion vectors
  * GRAFT UPDATE '<path>' SET c1 = <expr>[, ...] WHERE <predicate>
  * GRAFT CLONE '<src>' TO '<dst>'                      -- shallow
  * GRAFT ALTER '<path>' ADD CONSTRAINT <name> CHECK (<expr>)
  * GRAFT ALTER '<path>' DROP CONSTRAINT <name>
  * GRAFT ALTER '<path>' CLUSTER BY (c1, c2) | CLUSTER BY NONE
  * GRAFT ALTER '<path>' ENABLE CHANGE DATA FEED | ROW TRACKING |
  *                             IN COMMIT TIMESTAMPS | COLUMN MAPPING
  * GRAFT ALTER '<path>' DROP FEATURE <name> [TRUNCATE HISTORY]
  * GRAFT ALTER '<path>' ALTER COLUMN <col> TYPE <widerType>
  * GRAFT ALTER '<path>' SET TBLPROPERTIES ('k' = 'v', ...)
  * GRAFT ALTER '<path>' UNSET TBLPROPERTIES ('k', ...)
  * GRAFT ANALYZE '<path>'                          -- backfill missing file stats
  * GRAFT CREATE MATVIEW '<view>' FROM '<src>' KEYS (k | name = expr, ...) SUM (c) [MIN|MAX|AVG (c)] ... [WHERE <row predicate>]
  * GRAFT CREATE MATVIEW '<view>' FROM '<fact>' JOIN '<dim>' ON (fk = dimPk) KEYS (factPk, ...) COLS (dimCol, ...)
  * GRAFT CREATE MATVIEW '<view>' FROM '<fact>' JOIN '<dim>' ON (fk = dimPk) KEYS (gk, ...) SUM|MIN|MAX|AVG (c) ...  -- rollup over the join, one view
  *   -- any mix of SUM/MIN/MAX/AVG clauses (both forms); refresh
  *   -- signed-folds invertible specs (sums/avgs — AVG through a
  *   -- hidden sum/count pair), re-derives changed keys when any
  *   -- MIN/MAX is present
  * GRAFT REFRESH MATVIEW '<view>' [IF STALE]       -- fold the source CDF since the watermark; IF STALE first checks lag (free no-op when current)
  * GRAFT DESCRIBE MATVIEW '<view>'                 -- definition + watermark + lag (source commits behind)
  * GRAFT CREATE BLOOM INDEX ON '<path>' (<col>)    -- per-file point-lookup index
  * GRAFT DROP BLOOM INDEX ON '<path>' (<col>)
  * GRAFT CREATE LSH INDEX ON '<path>' (<idCol>, <textCol>)  -- persisted MinHash signatures
  * GRAFT REFRESH LSH INDEX ON '<path>' (<idCol>, <textCol>) -- scan only uncovered files
  * GRAFT DROP LSH INDEX ON '<path>' (<idCol>, <textCol>)
  * GRAFT CREATE IVF INDEX ON '<path>' (<idCol>, <vecCol>) [K <k>]  -- persisted ANN inverted lists
  * GRAFT REFRESH IVF INDEX ON '<path>' (<idCol>, <vecCol>)         -- assign only uncovered files
  * GRAFT DROP IVF INDEX ON '<path>' (<idCol>, <vecCol>)
  * GRAFT CREATE IVFPQ INDEX ON '<path>' (<idCol>, <vecCol>) [CELLS <kc>] [M <m>] [K <k>] [ROTATE]  -- PQ-coded inverted lists (ROTATE: OPQ-surrogate permutation)
  * GRAFT REFRESH IVFPQ INDEX ON '<path>' (<idCol>, <vecCol>)       -- encode only uncovered files
  * GRAFT DROP IVFPQ INDEX ON '<path>' (<idCol>, <vecCol>)
  * GRAFT SHOW INDEXES ON '<path>'                  -- sidecar inventory + coverage vs the active file set
  * GRAFT REFRESH INDEXES ON '<path>'               -- incremental refresh of every sidecar index
  * GRAFT REGISTER TABLE <name> LOCATION '<path>'   -- persisted across sessions
  * GRAFT UNREGISTER TABLE <name>
  * GRAFT RESTORE TABLES                            -- re-register persisted names
  * GRAFT CONVERT TO DELTA '<path>'                 -- onboard a parquet dir in place (no rewrite)
  * }}}
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  private val Vacuum =
    """(?is)\s*GRAFT\s+VACUUM\s+'([^']+)'(?:\s+RETAIN\s+(\d+)\s+HOURS)?(?:\s+USING\s+INVENTORY\s+'([^']+)')?\s*""".r
  private val Optimize =
    """(?is)\s*GRAFT\s+OPTIMIZE\s+'([^']+)'(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?(\s+INCREMENTAL)?(?:\s+WHERE\s+(.+?))?\s*""".r
  private val OptimizeHilbert =
    """(?is)\s*GRAFT\s+OPTIMIZE\s+'([^']+)'\s+HILBERT\s+BY\s*\(([^)]+)\)(\s+INCREMENTAL)?(?:\s+WHERE\s+(.+?))?\s*""".r
  private val Checkpoint = """(?is)\s*GRAFT\s+CHECKPOINT\s+'([^']+)'\s*""".r
  private val Reorg =
    """(?is)\s*GRAFT\s+REORG\s+'([^']+)'\s+APPLY\s+PURGE\s*""".r
  private val Fsck =
    """(?is)\s*GRAFT\s+FSCK\s+'([^']+)'(\s+DRY\s+RUN)?\s*""".r
  private val History = """(?is)\s*GRAFT\s+HISTORY\s+'([^']+)'\s*""".r
  private val DescribeDetail =
    """(?is)\s*GRAFT\s+DESCRIBE\s+DETAIL\s+'([^']+)'\s*""".r
  private val ShowPartitions =
    """(?is)\s*GRAFT\s+SHOW\s+PARTITIONS\s+'([^']+)'\s*""".r
  private val Restore =
    """(?is)\s*GRAFT\s+RESTORE\s+'([^']+)'\s+TO\s+VERSION\s+(\d+)\s*""".r
  private val RestoreTs =
    """(?is)\s*GRAFT\s+RESTORE\s+'([^']+)'\s+TO\s+TIMESTAMP\s+'([^']+)'\s*""".r
  private val Delete =
    """(?is)\s*GRAFT\s+DELETE\s+FROM\s+'([^']+)'(\s+USING\s+DV)?\s+WHERE\s+(.+?)\s*""".r
  private val Update =
    """(?is)\s*GRAFT\s+UPDATE\s+'([^']+)'\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s*""".r
  private val CloneStmt =
    """(?is)\s*GRAFT\s+CLONE\s+'([^']+)'\s+TO\s+'([^']+)'\s*""".r
  private val AddConstraint =
    """(?is)\s*GRAFT\s+ALTER\s+'([^']+)'\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*""".r
  private val DropConstraint =
    """(?is)\s*GRAFT\s+ALTER\s+'([^']+)'\s+DROP\s+CONSTRAINT\s+(\w+)\s*""".r
  private val ClusterBy =
    """(?is)\s*GRAFT\s+ALTER\s+'([^']+)'\s+CLUSTER\s+BY\s*\(([^)]+)\)\s*""".r
  private val ClusterByNone =
    """(?is)\s*GRAFT\s+ALTER\s+'([^']+)'\s+CLUSTER\s+BY\s+NONE\s*""".r
  private val AlterEnable =
    """(?is)\s*GRAFT\s+ALTER\s+'([^']+)'\s+ENABLE\s+(CHANGE\s+DATA\s+FEED|ROW\s+TRACKING|IN\s+COMMIT\s+TIMESTAMPS|COLUMN\s+MAPPING)\s*""".r
  private val DropFeature =
    """(?is)\s*GRAFT\s+ALTER\s+'([^']+)'\s+DROP\s+FEATURE\s+(\w+)(\s+TRUNCATE\s+HISTORY)?\s*""".r
  private val AlterColumnType =
    """(?is)\s*GRAFT\s+ALTER\s+'([^']+)'\s+ALTER\s+COLUMN\s+(\w+)\s+TYPE\s+(\w+)\s*""".r
  private val SetProps =
    """(?is)\s*GRAFT\s+ALTER\s+'([^']+)'\s+SET\s+TBLPROPERTIES\s*\(([^)]+)\)\s*""".r
  private val UnsetProps =
    """(?is)\s*GRAFT\s+ALTER\s+'([^']+)'\s+UNSET\s+TBLPROPERTIES\s*\(([^)]+)\)\s*""".r
  private val RegisterTable =
    """(?is)\s*GRAFT\s+REGISTER\s+TABLE\s+([\w.]+)\s+LOCATION\s+'([^']+)'\s*""".r
  private val UnregisterTable =
    """(?is)\s*GRAFT\s+UNREGISTER\s+TABLE\s+([\w.]+)\s*""".r
  private val RestoreTables =
    """(?is)\s*GRAFT\s+RESTORE\s+TABLES\s*""".r
  private val ConvertToDelta =
    """(?is)\s*GRAFT\s+CONVERT\s+TO\s+DELTA\s+'([^']+)'\s*""".r
  private val Analyze =
    """(?is)\s*GRAFT\s+ANALYZE\s+'([^']+)'\s*""".r
  private val CreateMatViewJoin =
    """(?is)\s*GRAFT\s+CREATE\s+MATVIEW\s+'([^']+)'\s+FROM\s+'([^']+)'\s+JOIN\s+'([^']+)'\s+ON\s*\((\w+)\s*=\s*(\w+)\)\s+KEYS\s*\(([^)]+)\)\s+COLS\s*\(([^)]+)\)\s*""".r
  private val CreateMatViewJoinAgg =
    """(?is)\s*GRAFT\s+CREATE\s+MATVIEW\s+'([^']+)'\s+FROM\s+'([^']+)'\s+JOIN\s+'([^']+)'\s+ON\s*\((\w+)\s*=\s*(\w+)\)\s+KEYS\s*\(([^)]+)\)\s+((?:(?:SUM|MIN|MAX|AVG)\s*\(\w+\)\s*)+)\s*""".r
  private val CreateMatView =
    """(?is)\s*GRAFT\s+CREATE\s+MATVIEW\s+'([^']+)'\s+FROM\s+'([^']+)'\s+KEYS\s*\(([^)]+)\)\s+((?:(?:SUM|MIN|MAX|AVG)\s*\(\w+\)\s*)+?)(?:\s*WHERE\s+(.+?))?\s*""".r
  private val MatViewAgg = """(?i)(SUM|MIN|MAX|AVG)\s*\((\w+)\)""".r
  private val RefreshMatView =
    """(?is)\s*GRAFT\s+REFRESH\s+MATVIEW\s+'([^']+)'(\s+IF\s+STALE)?\s*""".r
  private val DescribeMatView =
    """(?is)\s*GRAFT\s+DESCRIBE\s+MATVIEW\s+'([^']+)'\s*""".r
  private val CreateBloomIndex =
    """(?is)\s*GRAFT\s+CREATE\s+BLOOM\s+INDEX\s+ON\s+'([^']+)'\s*\((\w+)\)\s*""".r
  private val RefreshBloomIndex =
    """(?is)\s*GRAFT\s+REFRESH\s+BLOOM\s+INDEX\s+ON\s+'([^']+)'\s*\((\w+)\)\s*""".r
  private val DropBloomIndex =
    """(?is)\s*GRAFT\s+DROP\s+BLOOM\s+INDEX\s+ON\s+'([^']+)'\s*\((\w+)\)\s*""".r
  private val CreateLshIndex =
    """(?is)\s*GRAFT\s+CREATE\s+LSH\s+INDEX\s+ON\s+'([^']+)'\s*\((\w+)\s*,\s*(\w+)\)\s*""".r
  private val RefreshLshIndex =
    """(?is)\s*GRAFT\s+REFRESH\s+LSH\s+INDEX\s+ON\s+'([^']+)'\s*\((\w+)\s*,\s*(\w+)\)\s*""".r
  private val DropLshIndex =
    """(?is)\s*GRAFT\s+DROP\s+LSH\s+INDEX\s+ON\s+'([^']+)'\s*\((\w+)\s*,\s*(\w+)\)\s*""".r
  private val CreateIvfIndex =
    """(?is)\s*GRAFT\s+CREATE\s+IVF\s+INDEX\s+ON\s+'([^']+)'\s*\((\w+)\s*,\s*(\w+)\)(?:\s+K\s+(\d+))?\s*""".r
  private val RefreshIvfIndex =
    """(?is)\s*GRAFT\s+REFRESH\s+IVF\s+INDEX\s+ON\s+'([^']+)'\s*\((\w+)\s*,\s*(\w+)\)\s*""".r
  private val DropIvfIndex =
    """(?is)\s*GRAFT\s+DROP\s+IVF\s+INDEX\s+ON\s+'([^']+)'\s*\((\w+)\s*,\s*(\w+)\)\s*""".r
  private val CreateIvfPqIndex =
    ("""(?is)\s*GRAFT\s+CREATE\s+IVFPQ\s+INDEX\s+ON\s+'([^']+)'\s*""" +
      """\((\w+)\s*,\s*(\w+)\)(?:\s+CELLS\s+(\d+))?(?:\s+M\s+(\d+))?""" +
      """(?:\s+K\s+(\d+))?(\s+ROTATE)?\s*""").r
  private val RefreshIvfPqIndex =
    """(?is)\s*GRAFT\s+REFRESH\s+IVFPQ\s+INDEX\s+ON\s+'([^']+)'\s*\((\w+)\s*,\s*(\w+)\)\s*""".r
  private val DropIvfPqIndex =
    """(?is)\s*GRAFT\s+DROP\s+IVFPQ\s+INDEX\s+ON\s+'([^']+)'\s*\((\w+)\s*,\s*(\w+)\)\s*""".r
  private val ShowIndexes =
    """(?is)\s*GRAFT\s+SHOW\s+INDEXES\s+ON\s+'([^']+)'\s*""".r
  private val RefreshIndexes =
    """(?is)\s*GRAFT\s+REFRESH\s+INDEXES\s+ON\s+'([^']+)'\s*""".r

  /** Split a SET list on top-level commas only (commas inside
    * parentheses — function calls — don't separate assignments). */
  private def splitAssignments(s: String): Seq[(String, String)] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var start = 0
    s.zipWithIndex.foreach {
      case ('(', _) => depth += 1
      case (')', _) => depth -= 1
      case (',', i) if depth == 0 => parts += s.substring(start, i); start = i + 1
      case _ =>
    }
    parts += s.substring(start)
    parts.toSeq.map { a =>
      val eq = a.indexOf('=')
      require(eq > 0, s"bad SET assignment '$a' (expected col = expr)")
      (a.take(eq).trim, a.drop(eq + 1).trim)
    }
  }

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case Vacuum(path, hours, invPath) =>
      val retention = Option(hours).map(_.toLong * 3600 * 1000L)
        .getOrElse(Maintenance.DefaultVacuumRetentionMs)
      // An EXPLICIT `RETAIN 0 HOURS` is the user's confirmation — the
      // programmatic API still demands allowZeroRetention, but typing
      // the zero into SQL is the same deliberate act.
      val zeroOk = hours != null && hours.toLong == 0L
      GraftMaintenanceCommand(path, "vacuum",
        Seq("deleted_files"), s => {
          // USING INVENTORY '<parquet path>': candidate files from a
          // pre-built inventory relation instead of a recursive listing
          val inv = Option(invPath).map(p => s.read.parquet(p))
          val n = Maintenance.vacuum(DeltaLog.forPath(s, path), retention,
            allowZeroRetention = zeroOk, inventory = inv).size
          Seq(Row(n.toLong))
        })
    case OptimizeHilbert(path, cs, incr, whereSql) =>
      GraftMaintenanceCommand(path, "optimize_hilbert",
        Seq("version"), s => {
          val cols = cs.split(",").map(_.trim).toSeq
          val log = DeltaLog.forPath(s, path)
          val v = if (incr != null) {
            require(whereSql == null,
              "OPTIMIZE ... INCREMENTAL takes no WHERE: it is scoped to " +
                "the files added since the clustering watermark")
            Maintenance.clusterIncremental(log, cols, "hilbert")
          } else Maintenance.hilbertCluster(log, cols,
            where = Option(whereSql).map(org.apache.spark.sql.functions.expr))
          Seq(Row(v))
        })
    case Optimize(path, zcols, incr, whereSql) =>
      GraftMaintenanceCommand(path, "optimize",
        Seq("version"), s => {
          val log = DeltaLog.forPath(s, path)
          val v = (Option(zcols), Option(incr), Option(whereSql)) match {
            case (Some(cs), Some(_), w) =>
              require(w.isEmpty,
                "OPTIMIZE ... INCREMENTAL takes no WHERE: it is scoped to " +
                  "the files added since the clustering watermark")
              Maintenance.clusterIncremental(log,
                cs.split(",").map(_.trim).toSeq, "zorder")
            case (Some(cs), None, w) =>
              // WHERE scopes the z-order pass to matching partitions
              // (round-6 advice: it was silently dropped here)
              Maintenance.zorder(log, cs.split(",").map(_.trim).toSeq,
                where = w.map(org.apache.spark.sql.functions.expr))
            case (None, Some(_), _) => throw new IllegalArgumentException(
              "OPTIMIZE ... INCREMENTAL needs a ZORDER BY / HILBERT BY " +
                "column list (it maintains a curve clustering)")
            case (None, None, Some(w)) =>
              // partition-scoped small-file pass (delta's OPTIMIZE WHERE)
              Maintenance.compactSmall(log,
                where = Some(org.apache.spark.sql.functions.expr(w)))
            case (None, None, None) => Maintenance.compact(log)
          }
          Seq(Row(v))
        })
    case Checkpoint(path) =>
      GraftMaintenanceCommand(path, "checkpoint",
        Seq("version"), s => Seq(Row(Maintenance.checkpoint(DeltaLog.forPath(s, path)))))
    case CreateMatViewJoin(viewPath, factPath, dimPath, fk, dimPk, keys, cols) =>
      GraftMaintenanceCommand(viewPath, "create_matview_join",
        Seq("fact_version"), s => Seq(Row(
          graft.delta.MatView.createJoin(s, viewPath, factPath, dimPath,
            keys.split(",").map(_.trim).toSeq, fk, dimPk,
            cols.split(",").map(_.trim).toSeq))))
    case CreateMatViewJoinAgg(viewPath, factPath, dimPath, fk, dimPk,
        keys, aggClauses) =>
      val aggs = MatViewAgg.findAllMatchIn(aggClauses)
        .map(m => (m.group(1).toLowerCase, m.group(2))).toSeq
      GraftMaintenanceCommand(viewPath, "create_matview_joinagg",
        Seq("fact_version"), s => Seq(Row(
          graft.delta.MatView.createJoinAgg(s, viewPath, factPath, dimPath,
            fk, dimPk, keys.split(",").map(_.trim).toSeq, aggs))))
    case CreateMatView(viewPath, srcPath, keys, aggClauses, whereSql) =>
      val aggs = MatViewAgg.findAllMatchIn(aggClauses)
        .map(m => (m.group(1).toLowerCase, m.group(2))).toSeq
      // a key item may be `name = expr` (an EXPRESSION key — the
      // KEYS(...) capture admits no parentheses, so exprs needing them
      // go through the programmatic API) or a plain column name
      val items = keys.split(",").map(_.trim).toSeq
      val keyNames = items.map(i =>
        if (i.contains("=")) i.takeWhile(_ != '=').trim else i)
      val keyExprs = items.collect {
        case i if i.contains("=") =>
          (i.takeWhile(_ != '=').trim, i.dropWhile(_ != '=').drop(1).trim)
      }
      GraftMaintenanceCommand(viewPath, "create_matview",
        Seq("source_version"), s => Seq(Row(
          graft.delta.MatView.create(s, viewPath, srcPath,
            keyNames, aggs, Option(whereSql).map(_.trim), keyExprs))))
    case RefreshMatView(viewPath, ifStale) =>
      GraftMaintenanceCommand(viewPath, "refresh_matview",
        Seq("source_version"), s => Seq(Row(
          if (ifStale == null) graft.delta.MatView.refresh(s, viewPath)
          else graft.delta.MatView.refreshIfStale(s, viewPath))))
    case DescribeMatView(viewPath) =>
      GraftMaintenanceCommand(viewPath, "describe_matview",
        Seq("source", "key_cols", "aggs", "source_version", "lag"), s => {
          val (src, keys, aggs, wm) = graft.delta.MatView.describe(s, viewPath)
          Seq(Row(src, keys.mkString(","), aggs, wm,
            graft.delta.MatView.lag(s, viewPath)))
        })
    case Analyze(path) =>
      GraftMaintenanceCommand(path, "analyze",
        Seq("version"), s => Seq(Row(
          Maintenance.analyze(DeltaLog.forPath(s, path)))))
    case CreateBloomIndex(path, column) =>
      GraftMaintenanceCommand(path, "create_bloom_index",
        Seq("version"), s => Seq(Row(
          graft.delta.BloomIndex.build(DeltaLog.forPath(s, path), column))))
    case RefreshBloomIndex(path, column) =>
      GraftMaintenanceCommand(path, "refresh_bloom_index",
        Seq("version"), s => Seq(Row(
          graft.delta.BloomIndex.buildIncremental(DeltaLog.forPath(s, path), column))))
    case DropBloomIndex(path, column) =>
      GraftMaintenanceCommand(path, "drop_bloom_index",
        Seq("dropped"), s => {
          val log = DeltaLog.forPath(s, path)
          val dir = new org.apache.hadoop.fs.Path(
            graft.delta.BloomIndex.indexDir(log, column))
          val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
          Seq(Row(if (fs.delete(dir, true)) 1L else 0L))
        })
    case CreateLshIndex(path, idCol, textCol) =>
      GraftMaintenanceCommand(path, "create_lsh_index",
        Seq("version"), s => Seq(Row(
          graft.delta.LshIndex.build(DeltaLog.forPath(s, path), idCol, textCol))))
    case RefreshLshIndex(path, idCol, textCol) =>
      GraftMaintenanceCommand(path, "refresh_lsh_index",
        Seq("version"), s => Seq(Row(
          graft.delta.LshIndex.refresh(DeltaLog.forPath(s, path), idCol, textCol))))
    case DropLshIndex(path, idCol, textCol) =>
      GraftMaintenanceCommand(path, "drop_lsh_index",
        Seq("dropped"), s => {
          val log = DeltaLog.forPath(s, path)
          val dir = new org.apache.hadoop.fs.Path(
            graft.delta.LshIndex.indexDir(log, idCol, textCol))
          val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
          Seq(Row(if (fs.delete(dir, true)) 1L else 0L))
        })
    case CreateIvfIndex(path, idCol, vecCol, kOpt) =>
      GraftMaintenanceCommand(path, "create_ivf_index",
        Seq("version"), s => Seq(Row(
          graft.delta.IvfIndex.build(DeltaLog.forPath(s, path), idCol, vecCol,
            k = Option(kOpt).map(_.toInt).getOrElse(16)))))
    case RefreshIvfIndex(path, idCol, vecCol) =>
      GraftMaintenanceCommand(path, "refresh_ivf_index",
        Seq("version"), s => Seq(Row(
          graft.delta.IvfIndex.refresh(DeltaLog.forPath(s, path), idCol, vecCol))))
    case DropIvfIndex(path, idCol, vecCol) =>
      GraftMaintenanceCommand(path, "drop_ivf_index",
        Seq("dropped"), s => {
          val log = DeltaLog.forPath(s, path)
          val dir = new org.apache.hadoop.fs.Path(
            graft.delta.IvfIndex.indexDir(log, idCol, vecCol))
          val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
          Seq(Row(if (fs.delete(dir, true)) 1L else 0L))
        })
    case ShowIndexes(path) =>
      // log-plane + sidecar-plane inventory: which indexes exist and
      // how stale each is vs the active file set — no data scan
      GraftMaintenanceCommand(path, "show_indexes",
        Seq("kind", "columns", "covered_files", "active_files",
          "stale_files", "invalid_files"), s =>
          graft.delta.Indexes.describe(DeltaLog.forPath(s, path)).map {
            case (k, c, cov, act, stale, inv) =>
              Row(k, c, cov, act, stale, inv)
          })
    case RefreshIndexes(path) =>
      GraftMaintenanceCommand(path, "refresh_indexes",
        Seq("refreshed"), s => Seq(Row(
          graft.delta.Indexes.refreshAll(DeltaLog.forPath(s, path)).toLong)))
    case CreateIvfPqIndex(path, idCol, vecCol, cellsOpt, mOpt, kOpt, rotOpt) =>
      GraftMaintenanceCommand(path, "create_ivfpq_index",
        Seq("version"), s => Seq(Row(
          graft.delta.PqIndex.build(DeltaLog.forPath(s, path), idCol, vecCol,
            kCoarse = Option(cellsOpt).map(_.toInt).getOrElse(8),
            m = Option(mOpt).map(_.toInt).getOrElse(4),
            k = Option(kOpt).map(_.toInt).getOrElse(16),
            rotate = rotOpt != null))))
    case RefreshIvfPqIndex(path, idCol, vecCol) =>
      GraftMaintenanceCommand(path, "refresh_ivfpq_index",
        Seq("version"), s => Seq(Row(
          graft.delta.PqIndex.refresh(DeltaLog.forPath(s, path), idCol, vecCol))))
    case DropIvfPqIndex(path, idCol, vecCol) =>
      GraftMaintenanceCommand(path, "drop_ivfpq_index",
        Seq("dropped"), s => {
          val log = DeltaLog.forPath(s, path)
          val dir = new org.apache.hadoop.fs.Path(
            graft.delta.PqIndex.indexDir(log, idCol, vecCol))
          val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
          Seq(Row(if (fs.delete(dir, true)) 1L else 0L))
        })
    case Reorg(path) =>
      GraftMaintenanceCommand(path, "reorg",
        Seq("version"), s =>
          Seq(Row(Maintenance.purgeDeletionVectors(DeltaLog.forPath(s, path)))))
    case Fsck(path, dry) =>
      GraftMaintenanceCommand(path, "fsck",
        Seq("repaired_path"), s =>
          Maintenance.fsck(DeltaLog.forPath(s, path), dryRun = dry != null)
            .map(Row(_)))
    case ShowPartitions(path) =>
      // log-plane partition inventory: values + file/byte/row counts
      // from the adds relation, no data scan; one small agg collect
      GraftMaintenanceCommand(path, "show_partitions",
        Seq("partition", "numFiles", "sizeInBytes", "numRecords"), s => {
          val snap = DeltaLog.forPath(s, path).snapshot
          require(snap.metadata.partitionColumns.nonEmpty,
            s"table $path is not partitioned")
          import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum, map_entries, concat_ws, transform => tf}
          snap.addsFlat
            .withColumn("__p", concat_ws("/",
              tf(map_entries(col("partition_values")),
                e => concat_ws("=", e.getField("key"), e.getField("value")))))
            .groupBy("__p")
            .agg(count(lit(1)).as("nf"),
              coalesce(sum("size_bytes"), lit(0L)).as("sb"),
              coalesce(sum("num_records"), lit(0L)).as("nr"))
            .orderBy("__p")
            .collect().toSeq
            .map(r => Row(r.getString(0), r.getLong(1), r.getLong(2),
              r.getLong(3)))
        })
    case DescribeDetail(path) =>
      GraftMaintenanceCommand(path, "describe_detail",
        Seq("format", "id", "location", "partitionColumns",
          "clusteringColumns", "numFiles", "sizeInBytes",
          "minReaderVersion", "minWriterVersion", "tableFeatures",
          "properties"), s => {
          val log = DeltaLog.forPath(s, path)
          val snap = log.snapshot
          import org.apache.spark.sql.functions.{count, lit, sum, coalesce}
          val agg = snap.addsFlat
            .agg(count(lit(1)), coalesce(sum("size_bytes"), lit(0L)))
            .collect()(0)
          val p = snap.protocol
          Seq(Row("delta", snap.metadata.id, log.tablePath,
            snap.metadata.partitionColumns.mkString(","),
            graft.delta.Clustering.clusteringColumns(snap).mkString(","),
            agg.getLong(0), agg.getLong(1),
            p.minReaderVersion.toLong, p.minWriterVersion.toLong,
            (p.readerFeatures ++ p.writerFeatures).toSeq.sorted.mkString(","),
            snap.metadata.configuration.toSeq.sorted
              .map { case (k, v) => s"$k=$v" }.mkString(";")))
        })
    case History(path) =>
      GraftMaintenanceCommand(path, "history",
        Seq("version", "operation"), s => {
          Maintenance.history(DeltaLog.forPath(s, path))
            .select("version", "operation")
            .collect().toSeq
        })
    case Restore(path, v) =>
      GraftMaintenanceCommand(path, "restore",
        Seq("version"), s => Seq(Row(Maintenance.restore(DeltaLog.forPath(s, path), v.toLong))))
    case ConvertToDelta(path) =>
      GraftMaintenanceCommand(path, "convert_to_delta",
        Seq("version"), s => Seq(Row(
          graft.delta.TransactionWriter.convertToDelta(s, path))))
    case RestoreTs(path, ts) =>
      // timestamp resolves through the same clock as read-side time
      // travel (commit mtimes; in-commit timestamps when enabled)
      GraftMaintenanceCommand(path, "restore",
        Seq("version"), s => {
          val log = DeltaLog.forPath(s, path)
          // ISO instant, or a zone-less date/datetime ('T' or space
          // separated) resolved in the SESSION timezone
          // (spark.sql.session.timeZone) — delta-spark's RESTORE
          // resolves zone-less timestamps that way, so a statement
          // ported verbatim restores the same version regardless of
          // the session zone (a hardwired-UTC reading silently picked
          // a different version when the zone was not UTC)
          val t = if (ts.contains(" ")) ts.replace(" ", "T") else ts
          val withTime = if (t.contains("T")) t else t + "T00:00:00"
          val instant =
            if (withTime.endsWith("Z"))
              java.time.Instant.parse(withTime)
            else if (withTime.matches(".*[+-]\\d\\d:\\d\\d$"))
              java.time.OffsetDateTime.parse(withTime).toInstant
            else java.time.LocalDateTime.parse(withTime)
              .atZone(java.time.ZoneId.of(
                s.conf.get("spark.sql.session.timeZone")))
              .toInstant
          val target = log.snapshotAsOf(instant).version
          Seq(Row(Maintenance.restore(log, target)))
        })
    case Delete(path, dv, pred) =>
      GraftMaintenanceCommand(path, "delete",
        Seq("version"), s => {
          val log = DeltaLog.forPath(s, path)
          val p = org.apache.spark.sql.functions.expr(pred)
          Seq(Row(if (dv != null) Mutations.deleteWithDv(log, p)
                  else Mutations.delete(log, p)))
        })
    case Update(path, setList, pred) =>
      val assigns = splitAssignments(setList)
      GraftMaintenanceCommand(path, "update",
        Seq("version"), s => {
          val log = DeltaLog.forPath(s, path)
          val set = assigns.map { case (c, e) =>
            c -> org.apache.spark.sql.functions.expr(e)
          }.toMap
          Seq(Row(Mutations.update(log,
            org.apache.spark.sql.functions.expr(pred), set)))
        })
    case CloneStmt(src, dst) =>
      GraftMaintenanceCommand(src, "clone",
        Seq("version"), s => Seq(Row(Clone.shallow(DeltaLog.forPath(s, src), dst))))
    case AddConstraint(path, name, check) =>
      GraftMaintenanceCommand(path, "add_constraint",
        Seq("version"), s =>
          Seq(Row(Constraints.addCheckConstraint(DeltaLog.forPath(s, path), name, check))))
    case DropConstraint(path, name) =>
      GraftMaintenanceCommand(path, "drop_constraint",
        Seq("version"), s =>
          Seq(Row(Constraints.dropCheckConstraint(DeltaLog.forPath(s, path), name))))
    case AlterEnable(path, what) =>
      GraftMaintenanceCommand(path, "alter_enable",
        Seq("version"), s => {
          val log = DeltaLog.forPath(s, path)
          val v = what.toUpperCase.replaceAll("\\s+", " ") match {
            case "CHANGE DATA FEED" => graft.delta.ChangeDataFeed.enable(log)
            case "ROW TRACKING" => graft.delta.RowTracking.enable(log)
            case "IN COMMIT TIMESTAMPS" => Maintenance.enableInCommitTimestamps(log)
            case "COLUMN MAPPING" =>
              graft.delta.SchemaEvolution.enableColumnMapping(log)
          }
          Seq(Row(v))
        })
    case DropFeature(path, feature, truncate) =>
      GraftMaintenanceCommand(path, "drop_feature",
        Seq("version"), s =>
          Seq(Row(Maintenance.dropFeature(DeltaLog.forPath(s, path), feature,
            truncateHistory = truncate != null))))
    case AlterColumnType(path, column, newType) =>
      GraftMaintenanceCommand(path, "alter_column_type",
        Seq("version"), s =>
          Seq(Row(Maintenance.widenColumnType(
            DeltaLog.forPath(s, path), column, newType))))
    case SetProps(path, kvs) =>
      GraftMaintenanceCommand(path, "set_tblproperties",
        Seq("version"), s => {
          val set = kvs.split(",").map(_.trim).map { kv =>
            kv.split("=", 2).map(_.trim.stripPrefix("'").stripSuffix("'")) match {
              case Array(k, v) => k -> v
              case other => throw new IllegalArgumentException(
                s"bad TBLPROPERTIES entry '$kv' (expected 'k' = 'v')")
            }
          }.toMap
          Seq(Row(Maintenance.setTableProperties(DeltaLog.forPath(s, path), set)))
        })
    case UnsetProps(path, ks) =>
      GraftMaintenanceCommand(path, "unset_tblproperties",
        Seq("version"), s => {
          val unset = ks.split(",").map(_.trim.stripPrefix("'").stripSuffix("'")).toSeq
          Seq(Row(Maintenance.setTableProperties(DeltaLog.forPath(s, path),
            Map.empty, unset)))
        })
    // persistent name → location registry (GraftCatalog): survives the
    // session; RESTORE TABLES re-registers in a fresh one
    case RegisterTable(name, path) =>
      GraftMaintenanceCommand(path, "register_table",
        Seq("registered"), s => {
          graft.delta.GraftCatalog.register(s, name, path); Seq(Row(1L))
        })
    case UnregisterTable(name) =>
      GraftMaintenanceCommand(name, "unregister_table",
        Seq("unregistered"), s => {
          graft.delta.GraftCatalog.unregister(s, name); Seq(Row(1L))
        })
    case RestoreTables() =>
      GraftMaintenanceCommand("", "restore_tables",
        Seq("restored"), s => Seq(Row(graft.delta.GraftCatalog.restore(s))))
    case ClusterByNone(path) =>
      GraftMaintenanceCommand(path, "cluster_by_none",
        Seq("version"), s =>
          Seq(Row(graft.delta.Clustering.removeClustering(DeltaLog.forPath(s, path)))))
    case ClusterBy(path, cols) =>
      GraftMaintenanceCommand(path, "cluster_by",
        Seq("version"), s =>
          Seq(Row(graft.delta.Clustering.clusterBy(DeltaLog.forPath(s, path),
            cols.split(",").map(_.trim).toSeq))))
    case _ => delegate.parsePlan(sqlText)
  }

  private val GraftPrefix = """(?is)\s*GRAFT\s.*""".r

  override def parsePlanWithParameters(
      sqlText: String,
      parameterContext: org.apache.spark.sql.catalyst.parser.ParameterContext): LogicalPlan =
    // cheap prefix check first — matching through parsePlan would parse
    // every ordinary parameterized statement twice
    if (GraftPrefix.matches(sqlText)) parsePlan(sqlText)
    else delegate.parsePlanWithParameters(sqlText, parameterContext)

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {
  /** Parse and run ONE GRAFT statement against a session that does
    * not have the extension installed (e.g. a driver Verify session
    * built without `withExtensions`) — the exact regex and command
    * body the injected parser path executes, returned as a DataFrame.
    * Non-GRAFT statements are refused rather than delegated: use
    * `spark.sql` for those. */
  def run(spark: SparkSession, sqlText: String): org.apache.spark.sql.DataFrame =
    new GraftSqlParser(spark.sessionState.sqlParser).parsePlan(sqlText) match {
      case c: GraftMaintenanceCommand =>
        val schema = StructType(c.output.map(a =>
          org.apache.spark.sql.types.StructField(a.name, a.dataType, a.nullable)))
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(c.run(spark).asJava, schema)
      case other =>
        throw new IllegalArgumentException(
          s"not a GRAFT statement (got ${other.getClass.getSimpleName}): $sqlText")
    }
}

/** Leaf command executed through Spark's own RunnableCommand machinery
  * (ExecutedCommandExec — the same path built-in DDL takes); `body`
  * runs the maintenance operation and returns the result rows. */
case class GraftMaintenanceCommand(
    path: String, op: String, outCols: Seq[String],
    body: SparkSession => Seq[Row])
    extends org.apache.spark.sql.execution.command.RunnableCommand {
  override def output: Seq[Attribute] = outCols.map { c =>
    val stringCols = Set("operation", "repaired_path", "format", "id",
      "location", "partitionColumns", "clusteringColumns",
      "tableFeatures", "properties", "partition",
      "source", "key_cols", "value_col", "aggs", "kind", "columns")
    val dt = if (stringCols(c)) StringType else LongType
    AttributeReference(c, dt, nullable = true)()
  }
  override def run(sparkSession: SparkSession): Seq[Row] = body(sparkSession)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan = this
}
