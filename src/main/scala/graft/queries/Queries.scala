package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Scd2}

/** The driver-facing query inventory (SparkEntry.queries/oracleSql):
  * every operator family from SURVEY.md §2 plus the training-data
  * pipeline operators, each expressed over the driver's parquet testdata
  * with a DuckDB-equivalent oracle.
  *
  * Cross-engine determinism rules used throughout:
  *  - money aggregates go through DECIMAL(18,2) (exact, order-free) and
  *    are cast to DOUBLE only at the end;
  *  - float constants are written `0.4e0` so both parsers read DOUBLE;
  *  - every hash is derived from md5 hex (identical in both engines),
  *    mapped to int via the leading 7 hex chars (28 bits — products with
  *    the 28-bit minhash multipliers stay < 2^63);
  *  - float comparisons/rankings happen on ROUND(x, 4..6) with an id
  *    tie-break.
  */
object Queries {

  val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Session -> last-registered dir: registering the same tables again
  // costs ~1 s/query (10 parquet footer reads + 10 view replacements)
  // across the bench run for no behavior change. Weak keys: identity of
  // the LIVE session object (no hash-collision risk across sessions),
  // entries vanish with the session.
  private val lastRegistered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  def registerViews(spark: SparkSession, dir: String): Unit = {
    // Older testdata generations wrote events.ts as parquet
    // TIMESTAMP(NANOS); keep the nanos-as-long read path available so
    // those files still load (it is a no-op for µs-timestamp files).
    // The actual `ts` physical type is INSPECTED, not assumed — see
    // [[eventEpochUsSql]].
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The event-time queries compare epoch-µs values against a DuckDB
    // oracle that reads the same column naively; pin UTC so a
    // TIMESTAMP_NTZ → TIMESTAMP cast is the identity on the epoch.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // Drop any stage caches left by a previous query. Keeping them was
    // measured SLOWER suite-wide (41.5s -> 71.5s at sf0.1): CacheManager
    // compares every new plan against every cached entry, and the huge
    // canonicalized minhash stage trees make each comparison expensive —
    // every query pays the walk, not just the minhash family.
    spark.catalog.clearCache()
    org.apache.spark.sql.graftshims.SqlShims.registerVectorFunctions(spark)
    org.apache.spark.sql.graftshims.SqlShims.registerBloomFunctions(spark)
    org.apache.spark.sql.graftshims.SqlShims.registerMinHash(
      spark, "minhash16", MinhashA, MinhashB, MinhashP)
    if (lastRegistered.get(spark) != dir) {
      tables.foreach { t =>
        spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
      }
      lastRegistered.put(spark, dir)
    }
  }

  private def sqlQuery(text: String): (SparkSession, String) => DataFrame =
    (spark, dir) => { registerViews(spark, dir); spark.sql(text) }

  /** Multiset equality of two same-schema frames in ONE job — the
    * boolean the equivalence-probe gates previously spelled
    * `a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty` (two full
    * anti-aggregations, four jobs). Signed per-row counts over the
    * union cancel exactly when the multisets agree — identical truth
    * value on every input, computed with one aggregate + limit(1). */
  private def multisetEqual(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.toSeq
    a.withColumn("__s", lit(1L))
      .unionByName(b.select(cols.map(col): _*).withColumn("__s", lit(-1L)))
      .groupBy(cols.map(col): _*)
      .agg(sum(col("__s")).as("__n"))
      .where(col("__n") =!= 0)
      .isEmpty
  }

  // ---- schema-adaptive event-time accessors --------------------------------
  //
  // The driver has regenerated events.parquet with different physical
  // types for `ts` across rounds (TIMESTAMP(NANOS) read as BIGINT nanos
  // under nanosAsLong; later timestamp[us] read as TIMESTAMP_NTZ). Every
  // event-time query works in epoch MICROSECONDS internally, so the only
  // schema-dependent piece is the accessor expression — inspect the read
  // schema ONCE per dir and emit the right SQL. Cached by dir: the
  // footer read costs ~10 ms and the type is stable for a given dataset.
  private val eventEpochUsCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** SQL expression yielding `ts` as epoch microseconds (BIGINT),
    * chosen from the actual read schema of `events.parquet`. Integer
    * arithmetic throughout — a double division at epoch magnitude has
    * ulp ≈ 256 µs and silently corrupts timestamps. */
  private[graft] def eventEpochUsSql(spark: SparkSession, dir: String): String =
    eventEpochUsCache.computeIfAbsent(dir, d => {
      import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
      val tsType = spark.read.parquet(s"$d/events.parquet").schema("ts").dataType
      tsType match {
        case LongType => "ts DIV 1000" // TIMESTAMP(NANOS) under nanosAsLong
        case TimestampType => "unix_micros(ts)"
        // NTZ: cast interprets the wall-clock in the session zone; the
        // session is pinned UTC (registerViews), so the cast is exact
        // and agrees with DuckDB's naive epoch_us(ts).
        case TimestampNTZType => "unix_micros(CAST(ts AS TIMESTAMP))"
        case other => throw new IllegalStateException(
          s"events.ts has unsupported type $other (expected LONG/TIMESTAMP/TIMESTAMP_NTZ)")
      }
    })

  /** SQL expression yielding `ts` as a session-zone TIMESTAMP (what the
    * streaming watermark/window operators want), derived from the same
    * schema branch as [[eventEpochUsSql]]. */
  private[graft] def eventTsSql(spark: SparkSession, dir: String): String =
    s"timestamp_micros(${eventEpochUsSql(spark, dir)})"

  /** sqlQuery variant whose text depends on the events `ts` accessor. */
  private def eventSqlQuery(build: String => String): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      registerViews(spark, dir)
      spark.sql(build(eventEpochUsSql(spark, dir)))
    }

  /** Spark inlines CTEs, so a CTE referenced k times is computed k
    * times. For the minhash pipeline (hash shingles -> 16 signatures ->
    * 4 band buckets) that multiplies the expensive md5/array stages up
    * to 6x. This variant materializes the shared stages via
    * `localCheckpoint()` temp views instead — each stage computes
    * exactly once per run and every downstream reference reads the
    * materialized blocks.
    *
    * Why a checkpoint and not `persist()`: the round-8 kernel study
    * found the shingle/minhash kernel
    * itself costs ~0.25 s at sf0.1 while the "cached"-stage dedup cost
    * ~4.7 s — CacheManager plan substitution silently MISSED the stage
    * subtrees inside the final query (0 InMemoryRelations in its
    * optimized plan, 34 inlined copies of the minhash kernel), so the
    * persist was paying its cost without ever being hit. A local
    * checkpoint cuts lineage unconditionally — the view's stored plan
    * IS the materialized RDD, so no optimizer rule or cache-matching
    * fragility can ever re-expand the kernel. Measured: q_minhash_dedup
    * 4.7 s -> 1.0 s warm at sf0.1.
    *
    * Block hygiene: checkpoint blocks are reclaimed by the
    * ContextCleaner when the stage frames (and any result built on
    * them) become unreachable — NOT eagerly on the next invocation: a
    * checkpointed RDD has truncated lineage, so an explicit unpersist
    * would make a previously returned result DataFrame unreadable
    * instead of merely slower. A caller can therefore keep and re-read
    * any number of pipeline results; the blocks of dropped results are
    * GC-collected (a few MB per invocation at sf0.1). */
  /** Shared matview-gate lifecycle over a scratch documents slice: v0
    * overwrite (doc_id % 4 =!= 3), enable CDF, CREATE via `createSql`,
    * v2 append the remaining quarter, v3 delete (doc_id % 11),
    * REFRESH, the gate-specific `v4` mutation, REFRESH, read the view.
    * ONE definition for the avg / filtered / exprkey gates, so a
    * lifecycle change cannot silently diverge from any gate's oracle
    * (each oracle recomputes THIS exact sequence from parquet). */
  private def matviewDocsLifecycle(
      s: SparkSession, dir: String, prefix: String,
      createSql: (String, String) => String,
      v4: graft.delta.DeltaLog => Unit): DataFrame = {
    registerViews(s, dir)
    val base = java.nio.file.Files.createTempDirectory(prefix)
    val srcPath = base.resolve("src").toString
    val viewPath = base.resolve("view").toString
    val src = graft.delta.DeltaLog.forPath(s, srcPath)
    val docs = s.table("documents").select("doc_id", "source", "n_chars")
    graft.delta.TransactionWriter.overwrite(src,
      docs.where(col("doc_id") % 4 =!= 3))                             // v0
    graft.delta.ChangeDataFeed.enable(src)                             // v1
    graft.plans.GraftSqlParser.run(s, createSql(viewPath, srcPath)).collect()
    graft.delta.TransactionWriter.append(src,
      docs.where(col("doc_id") % 4 === 3))                             // v2
    graft.delta.Mutations.delete(src, col("doc_id") % 11 === 0)        // v3
    graft.plans.GraftSqlParser.run(s,
      s"GRAFT REFRESH MATVIEW '$viewPath'").collect()
    v4(src)                                                            // v4
    graft.plans.GraftSqlParser.run(s,
      s"GRAFT REFRESH MATVIEW '$viewPath'").collect()
    graft.delta.MatView.read(s, viewPath)
  }

  private def cachedStagesQuery(
      stages: Seq[(String, String)], finalSql: String): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      registerViews(spark, dir)
      stages.foreach { case (view, sql) =>
        spark.sql(sql).localCheckpoint().createOrReplaceTempView(view)
      }
      spark.sql(finalSql)
    }

  // ---- group A: core relational / levi-semantics queries -------------------

  /** TPC-H Q1-style aggregate; also the flagship `entry` query. */
  val qAggLineitemSpark: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  private val qJoinRevenue: String =
    """SELECT n.n_name,
      |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_orders
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY n.n_name""".stripMargin

  /** ROLLUP grouping-sets aggregate (identical SQL in both dialects;
    * the subtotal rows carry NULL group keys in both engines). */
  private val qRollupRevenue: String =
    """SELECT n.n_name, c.c_mktsegment,
      |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_orders
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY ROLLUP(n.n_name, c.c_mktsegment)""".stripMargin

  /** Moving-window average (ROWS frame). The sum goes through exact
    * DECIMAL then one double division — both engines do the identical
    * IEEE division, so ROUND(.,4) agrees. */
  private val qMovingAvg: String =
    """SELECT o_custkey, o_orderkey,
      |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
      |    / COUNT(*) OVER w, 4) AS avg_3
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
      |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Set operation (EXCEPT distinct) — customers who never placed an
    * 'F'-status order. Shared-dialect SQL. */
  private val qExceptCustomers: String =
    """SELECT c_custkey FROM customer
      |EXCEPT
      |SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin

  /** Fixed-width histogram of order totals (deterministic bucketing —
    * no engine-defined quantile algorithms). */
  private val qHistogram: String =
    """SELECT CAST(FLOOR(o_totalprice / 50000.0e0) AS BIGINT) AS bucket,
      |  COUNT(*) AS n,
      |  CAST(MIN(o_orderkey) AS BIGINT) AS min_key
      |FROM orders GROUP BY 1""".stripMargin

  /** Correlated EXISTS (decorrelates to a left-semi join) — customers
    * with at least one high-value order. Shared-dialect SQL. */
  private val qExistsBigOrder: String =
    """SELECT c_custkey, c_mktsegment FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)""".stripMargin

  /** Exact median (avg of the two middle values) per brand, spelled
    * with windows so both engines compute the identical value — no
    * engine-defined interpolation. The DECIMAL sum of <= 2 exact
    * values divided once in double is IEEE-identical cross-engine. */
  private val qMedianPrice: String =
    """WITH r AS (SELECT p_brand, CAST(p_retailprice AS DECIMAL(18,2)) AS price,
      |    ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey) AS rn,
      |    COUNT(*) OVER (PARTITION BY p_brand) AS n
      |  FROM part),
      |m AS (SELECT p_brand, price,
      |    CAST(FLOOR((n + 1) / 2.0e0) AS BIGINT) AS lo,
      |    CAST(FLOOR((n + 2) / 2.0e0) AS BIGINT) AS hi, rn
      |  FROM r)
      |SELECT p_brand,
      |  ROUND(CAST(SUM(CASE WHEN rn = lo OR rn = hi THEN price END) AS DOUBLE)
      |    / COUNT(CASE WHEN rn = lo OR rn = hi THEN 1 END), 4) AS median_price
      |FROM m GROUP BY p_brand""".stripMargin

  /** Referential-integrity audit over the star schema: orphan counts
    * for every foreign key, the data-quality gate an ingest pipeline
    * runs before publishing. Shared-dialect SQL; each branch is a
    * left join + IS NULL that Spark rewrites to an anti-join —
    * broadcast for the dimension-sized parents, a single key shuffle
    * for the fact-to-fact edge (lineitem→orders), which is the minimum
    * an exact audit can pay; distinct-ing the fact key first would
    * only add a shuffle. */
  private val qFkViolations: String =
    """SELECT 'orders.o_custkey->customer' AS fk,
      |  CAST(COUNT(*) AS BIGINT) AS n_orphans
      |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE c.c_custkey IS NULL
      |UNION ALL
      |SELECT 'lineitem.l_orderkey->orders', CAST(COUNT(*) AS BIGINT)
      |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderkey IS NULL
      |UNION ALL
      |SELECT 'lineitem.l_partkey->part', CAST(COUNT(*) AS BIGINT)
      |FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE p.p_partkey IS NULL
      |UNION ALL
      |SELECT 'lineitem.l_suppkey->supplier', CAST(COUNT(*) AS BIGINT)
      |FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |WHERE s.s_suppkey IS NULL
      |UNION ALL
      |SELECT 'customer.c_nationkey->nation', CAST(COUNT(*) AS BIGINT)
      |FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      |WHERE n.n_nationkey IS NULL
      |UNION ALL
      |SELECT 'supplier.s_nationkey->nation', CAST(COUNT(*) AS BIGINT)
      |FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
      |WHERE n.n_nationkey IS NULL
      |UNION ALL
      |SELECT 'nation.n_regionkey->region', CAST(COUNT(*) AS BIGINT)
      |FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE r.r_regionkey IS NULL""".stripMargin

  /** Robust length-outlier detection per language: median/MAD in 2×/4×
    * integer scale so the whole statistic is exact int64 — med2 =
    * lo+hi middle values (2·median), dev2 = |2x − med2| (2·deviation),
    * mad4 = middle-sum of dev2 (4·MAD); outlier ⇔ 2·dev2 > 3·mad4 ⇔
    * |x − med| > 3·MAD. No float quantile interpolation anywhere, so
    * both engines agree bit-for-bit. Group-local window sorts only. */
  private val qMadOutliers: String =
    """WITH r AS (SELECT lang, doc_id, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM documents),
      |m AS (SELECT lang,
      |    CAST(SUM(CASE WHEN rn = CAST(FLOOR((n + 1) / 2.0e0) AS BIGINT)
      |      THEN n_chars END) +
      |    SUM(CASE WHEN rn = CAST(FLOOR((n + 2) / 2.0e0) AS BIGINT)
      |      THEN n_chars END) AS BIGINT) AS med2
      |  FROM r GROUP BY lang),
      |d AS (SELECT r.lang, r.doc_id,
      |    ABS(2 * r.n_chars - m.med2) AS dev2
      |  FROM r JOIN m ON r.lang = m.lang),
      |dr AS (SELECT lang, dev2,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY dev2, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM d),
      |mad AS (SELECT lang,
      |    CAST(SUM(CASE WHEN rn = CAST(FLOOR((n + 1) / 2.0e0) AS BIGINT)
      |      THEN dev2 END) +
      |    SUM(CASE WHEN rn = CAST(FLOOR((n + 2) / 2.0e0) AS BIGINT)
      |      THEN dev2 END) AS BIGINT) AS mad4
      |  FROM dr GROUP BY lang)
      |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(MAX(m.med2) AS BIGINT) AS med2, CAST(MAX(mad.mad4) AS BIGINT) AS mad4,
      |  CAST(SUM(CASE WHEN 2 * d.dev2 > 3 * mad.mad4 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_outliers
      |FROM d JOIN m ON d.lang = m.lang JOIN mad ON d.lang = mad.lang
      |GROUP BY d.lang""".stripMargin

  private val qTopkBrand: String =
    """SELECT p_brand, p_partkey, p_retailprice, rank_in_brand FROM (
      |  SELECT p_brand, p_partkey, p_retailprice,
      |    ROW_NUMBER() OVER (PARTITION BY p_brand
      |      ORDER BY p_retailprice DESC, p_partkey) AS rank_in_brand
      |  FROM part) t
      |WHERE rank_in_brand <= 3""".stripMargin

  private val qKillDuplicatesOracle: String =
    """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber FROM (
      |  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
      |    COUNT(*) OVER (PARTITION BY l_orderkey) AS c
      |  FROM lineitem) t
      |WHERE c = 1""".stripMargin

  private val qDropDuplicatesOracle: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderstatus
      |      ORDER BY o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn = 1""".stripMargin

  private val qDropDuplicatesPkeyOracle: String =
    """SELECT p_partkey, p_brand, p_type, p_retailprice FROM (
      |  SELECT p_partkey, p_brand, p_type, p_retailprice,
      |    ROW_NUMBER() OVER (PARTITION BY p_brand, p_type
      |      ORDER BY p_partkey) AS rn
      |  FROM part) t
      |WHERE rn = 1""".stripMargin

  /** SCD2 over a deterministic base/updates derived from customer:
    * updates = every 7th key; changed attr for every 21st. */
  private val scd2Base =
    """SELECT c_custkey AS pkey, c_mktsegment AS attr,
      |  true AS is_current, CAST(0 AS BIGINT) AS effective_ver,
      |  CAST(NULL AS BIGINT) AS end_ver FROM customer""".stripMargin
  private val scd2Updates =
    """SELECT c_custkey AS pkey,
      |  CASE WHEN c_custkey % 3 = 0 THEN concat(c_mktsegment, '_V2')
      |       ELSE c_mktsegment END AS attr,
      |  CAST(1 AS BIGINT) AS effective_ver
      |FROM customer WHERE c_custkey % 7 = 0""".stripMargin

  private val qScd2Oracle: String =
    s"""WITH base AS ($scd2Base),
       |upd AS ($scd2Updates),
       |cur AS (SELECT * FROM base WHERE is_current),
       |j AS (SELECT u.pkey, u.attr, u.effective_ver, c.attr AS attr_base,
       |        c.pkey IS NOT NULL AS matched
       |      FROM upd u LEFT JOIN cur c ON u.pkey = c.pkey),
       |changed AS (SELECT * FROM j WHERE matched AND attr <> attr_base),
       |closed AS (SELECT c.pkey, c.attr, false AS is_current,
       |    c.effective_ver, ch.effective_ver AS end_ver
       |  FROM cur c JOIN changed ch ON c.pkey = ch.pkey),
       |untouched AS (SELECT c.* FROM cur c
       |  WHERE c.pkey NOT IN (SELECT pkey FROM changed)),
       |ins AS (SELECT pkey, attr, true AS is_current, effective_ver,
       |    CAST(NULL AS BIGINT) AS end_ver FROM changed
       |  UNION ALL
       |  SELECT pkey, attr, true, effective_ver, CAST(NULL AS BIGINT)
       |  FROM j WHERE NOT matched)
       |SELECT * FROM untouched UNION ALL
       |SELECT * FROM closed UNION ALL
       |SELECT * FROM ins""".stripMargin

  /** delta_file_sizes semantics over o_totalprice with
    * Levi.boundaryParser-derived [lo,hi] ranges
    * (<100kb | 100kb-200kb | 200kb-300kb | >300kb). */
  private val qFileSizesText: String =
    """SELECT
      |  CAST(SUM(CASE WHEN o_totalprice BETWEEN 0 AND 99999 THEN 1 ELSE 0 END) AS BIGINT) AS num_lt_100k,
      |  CAST(SUM(CASE WHEN o_totalprice BETWEEN 100000 AND 200000 THEN 1 ELSE 0 END) AS BIGINT) AS num_100k_200k,
      |  CAST(SUM(CASE WHEN o_totalprice BETWEEN 200000 AND 300000 THEN 1 ELSE 0 END) AS BIGINT) AS num_200k_300k,
      |  CAST(SUM(CASE WHEN o_totalprice BETWEEN 300001 AND 10000000000000 THEN 1 ELSE 0 END) AS BIGINT) AS num_gt_300k
      |FROM orders""".stripMargin

  /** skipped_stats semantics over pseudo-files (l_orderkey % 97 groups
    * with min/max l_extendedprice as their stats). */
  private val qSkippedStats: String =
    """WITH files AS (
      |  SELECT l_orderkey % 97 AS file_id,
      |    MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx,
      |    COUNT(*) AS rows_in_file
      |  FROM lineitem GROUP BY l_orderkey % 97)
      |SELECT COUNT(*) AS num_files,
      |  CAST(SUM(CASE WHEN NOT (mn <= 30000 AND mx >= 30000) THEN 1 ELSE 0 END) AS BIGINT) AS num_files_skipped,
      |  CAST(SUM(CASE WHEN NOT (mn <= 30000 AND mx >= 30000) THEN rows_in_file ELSE 0 END) AS BIGINT) AS num_rows_skipped
      |FROM files""".stripMargin

  // Spark side filters/derives through the schema-adaptive epoch-µs
  // accessor (events.ts has changed physical type across testdata
  // generations); DuckDB reads it as a TIMESTAMP either way.
  private def qUpdatedPartitionsSpark(epochUs: String): String =
    s"""SELECT DISTINCT event_type,
       |  CAST(timestamp_micros($epochUs) AS DATE) AS event_day
       |FROM events
       |WHERE $epochUs >= 1704844800000000 AND $epochUs < 1705708800000000""".stripMargin

  private val qUpdatedPartitionsDuck: String =
    """SELECT DISTINCT event_type, CAST(ts AS DATE) AS event_day
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND ts < TIMESTAMP '2024-01-20 00:00:00'""".stripMargin

  private def qSessionize(epochUs: String): String =
    s"""WITH e AS (SELECT user_id, $epochUs AS us FROM events),
       |m AS (SELECT user_id, us,
       |    CASE WHEN LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
       |           OR us - LAG(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
       |         THEN 1 ELSE 0 END AS new_s
       |  FROM e),
       |s AS (SELECT user_id,
       |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
       |  FROM m)
       |SELECT user_id, CAST(MAX(sess) AS BIGINT) AS n_sessions,
       |  COUNT(*) AS n_events
       |FROM s GROUP BY user_id""".stripMargin

  /** JSON scalar extraction over the events props column. */
  private val qJsonExtractSpark: String =
    """SELECT event_type,
      |  SUM(CAST(get_json_object(props, '$.k') AS BIGINT)) AS sum_k,
      |  COUNT(*) AS n
      |FROM events GROUP BY event_type""".stripMargin

  private val qJsonExtractDuck: String =
    """SELECT event_type,
      |  CAST(SUM(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
      |  COUNT(*) AS n
      |FROM events GROUP BY event_type""".stripMargin

  /** Same aggregate through Spark 4's VARIANT path (parse once, typed
    * extraction) — the semi-structured shape a metadata/props column
    * takes at scale, where per-access JSON string re-parsing
    * (q_json_extract) loses to the binary variant encoding. */
  private val qVariantExtractSpark: String =
    """SELECT event_type,
      |  SUM(variant_get(parse_json(props), '$.k', 'long')) AS sum_k,
      |  COUNT(*) AS n
      |FROM events GROUP BY event_type""".stripMargin

  // ---- group B: training-data pipeline over documents/embeddings -----------

  /** Tokenization / 3-gram shingling / hashing building blocks, written
    * once per dialect. `h28` = 28-bit int from the md5 hex prefix —
    * identical across engines, and small enough that minhash products
    * stay in int64. */
  private def toks(dialect: String, textCol: String = "text"): String =
    if (dialect == "spark") s"split($textCol, ' ')"
    else s"string_split($textCol, ' ')"

  private def ngrams3(dialect: String): String =
    if (dialect == "spark")
      """CASE WHEN size(toks) < 3 THEN array()
        |  ELSE transform(sequence(1, size(toks)-2),
        |    i -> concat_ws(' ', element_at(toks, i), element_at(toks, i+1), element_at(toks, i+2))) END"""
        .stripMargin.replace("\n", " ")
    else
      """CASE WHEN len(toks) < 3 THEN []
        |  ELSE list_transform(range(1, len(toks)-1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END"""
        .stripMargin.replace("\n", " ")

  /** DuckDB replay of the bottom-k quantile sketch (per-group count →
    * integer hash threshold → bottom-64-by-md5 → integer quantile
    * ranks) — shared by the sketch gate and the merge-algebra gate,
    * whose merged result is in-gate-asserted equal to this whole-corpus
    * path. 137438953472 = oversample(8) · k(64) · 2^28. */
  private def quantileSketchDuck(extraCols: String = ""): String =
    s"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
       |hh AS (SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS v,
       |    ('0x' || substr(md5('qs|' || doc_id::VARCHAR), 1, 7))::BIGINT AS h
       |  FROM documents),
       |s AS (SELECT hh.lang, hh.doc_id, hh.v, hh.h FROM hh JOIN c USING (lang)
       |  WHERE hh.h < LEAST(268435456, (137438953472 + c.n - 1) // c.n)),
       |k AS (SELECT lang, doc_id, v FROM (
       |    SELECT lang, doc_id, v,
       |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id, v) AS rn
       |    FROM s) t WHERE rn <= 64),
       |m AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sample FROM k GROUP BY lang),
       |o AS (SELECT lang, v, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY v, doc_id) AS vr FROM k)
       |SELECT o.lang, p.p_e2, o.v AS value, m.n_sample$extraCols
       |FROM o JOIN m USING (lang)
       |JOIN (SELECT CAST(q AS INT) AS p_e2 FROM (VALUES (25), (50), (90)) t(q)) p
       |  ON o.vr = (p.p_e2 * m.n_sample + 99) // 100""".stripMargin

  private def h28(dialect: String, e: String): String =
    if (dialect == "spark") s"CAST(conv(substring(md5($e), 1, 7), 16, 10) AS BIGINT)"
    else s"('0x' || substr(md5($e), 1, 7))::BIGINT"

  /** 16 fixed (a, b) minhash parameter pairs (a < 2^28). */
  val MinhashA: Seq[Long] = Seq(1299721L, 7919L, 104729L, 15485863L,
    32452843L, 49979687L, 67867967L, 86028121L, 104395301L, 122949823L,
    141650939L, 160481183L, 179424673L, 198491317L, 217645177L, 236887691L)
  val MinhashB: Seq[Long] = Seq(104395303L, 122949829L, 15485867L,
    32452867L, 49979693L, 67867979L, 86028157L, 1299827L, 7927L, 104729L,
    179424691L, 198491329L, 217645199L, 236887699L, 160481219L, 141650963L)
  val MinhashP: Long = 2147483647L

  private def minhashExpr(dialect: String, j: Int): String = {
    val (a, b) = (MinhashA(j), MinhashB(j))
    if (dialect == "spark")
      s"array_min(transform(hs, h -> ($a * h + $b) % $MinhashP))"
    else
      s"list_min(list_transform(hs, h -> ($a * h + $b) % $MinhashP))"
  }

  private def hashedShinglesCte(
      dialect: String, from: String = "documents"): String = {
    val tks = toks(dialect)
    val ng = ngrams3(dialect)
    val dedup = if (dialect == "spark") "array_distinct" else "list_distinct"
    // spark: the WHOLE front-end (tokenize → 3-grams → distinct →
    // md5-prefix hash) as the ONE fused codegen'd kernel the operators
    // use (round 14 — the ngrams3 transform walk was CodegenFallback
    // and kept these projections interpreted; MinHashShingleSpec pins
    // kernel ≡ composed). duck: the composed arithmetic, the
    // engine-independent replay.
    if (dialect == "spark")
      s"""t AS (SELECT /*+ REPARTITION(32) */ doc_id, lang, $tks AS toks FROM $from),
         |n AS (SELECT doc_id, lang, $dedup($ng) AS ng FROM t),
         |hsh AS (SELECT /*+ REPARTITION(32) */ doc_id, lang,
         |  hashed_shingles(text, 3) AS hs FROM $from)"""
        .stripMargin
    else
      s"""t AS (SELECT doc_id, lang, $tks AS toks FROM $from),
         |n AS (SELECT doc_id, lang, $dedup($ng) AS ng FROM t),
         |hsh AS (SELECT doc_id, lang,
         |  list_transform(ng, s -> ${h28(dialect, "s")}) AS hs FROM n)"""
        .stripMargin
  }

  private def qMinhashSignature(dialect: String): String =
    s"""WITH ${hashedShinglesCte(dialect)}
       |SELECT doc_id,
       |  ${minhashExpr(dialect, 0)} AS mh0,
       |  ${minhashExpr(dialect, 1)} AS mh1,
       |  ${minhashExpr(dialect, 2)} AS mh2,
       |  ${minhashExpr(dialect, 3)} AS mh3
       |FROM hsh""".stripMargin

  /** Full MinHash-LSH dedup: 16 hashes → 4 bands of 4 → band-bucket
    * join → a doc survives iff it is the minimum doc_id in every bucket
    * it lands in. */
  private def qMinhashDedup(dialect: String): String = {
    val cw = "concat_ws(','" // same name in both dialects
    def band(b: Int): String =
      s"$cw, CAST(mh${4 * b} AS STRING), CAST(mh${4 * b + 1} AS STRING), CAST(mh${4 * b + 2} AS STRING), CAST(mh${4 * b + 3} AS STRING))"
    def bandDuck(b: Int): String =
      s"$cw, mh${4 * b}::VARCHAR, mh${4 * b + 1}::VARCHAR, mh${4 * b + 2}::VARCHAR, mh${4 * b + 3}::VARCHAR)"
    val bandExpr: Int => String = if (dialect == "spark") band else bandDuck
    val mhs = (0 until 16).map(j => s"  ${minhashExpr(dialect, j)} AS mh$j").mkString(",\n")
    val buckets = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, ${bandExpr(b)} AS k FROM sig").mkString("\n  UNION ALL ")
    s"""WITH ${hashedShinglesCte(dialect)},
       |sig AS (SELECT doc_id,
       |$mhs
       |FROM hsh),
       |buckets AS ($buckets),
       |mins AS (SELECT band, k, MIN(doc_id) AS m FROM buckets GROUP BY band, k),
       |keep AS (SELECT b.doc_id, MIN(m.m) AS mm FROM buckets b
       |  JOIN mins m ON b.band = m.band AND b.k = m.k GROUP BY b.doc_id)
       |SELECT doc_id FROM keep WHERE doc_id = mm""".stripMargin
  }

  /** Capped-LSH near-dup oracle (DuckDB): the same
    * signature/banding/verify pipeline as [[qNgramJaccard]], over
    * documents UNION a deliberately degenerate block of 40 IDENTICAL
    * boilerplate docs (every band bucket of the block has 40 members),
    * with candidate generation dropping buckets above the cap (16) —
    * the replayable SQL form of `candidatePairs(maxBucketSize = 16)`.
    * The degenerate block must contribute ZERO pairs (all four of its
    * bands are the same over-cap bucket — the standard LSH-at-scale
    * skew mitigation); ordinary near-dup pairs survive through their
    * under-cap buckets. */
  private def qMinhashDedupCapped: String = {
    val boiler = "lorem ipsum dolor boilerplate footer text"
    val src = s"""(SELECT doc_id, lang, text FROM documents
       | UNION ALL
       | SELECT 1000000 + range AS doc_id, 'xx' AS lang,
       |   '$boiler' AS text
       | FROM range(40)) u""".stripMargin
    def bandKey(b: Int): String =
      s"concat_ws(',', mh${4 * b}::VARCHAR, mh${4 * b + 1}::VARCHAR, mh${4 * b + 2}::VARCHAR, mh${4 * b + 3}::VARCHAR)"
    val mhs = (0 until 16).map(j => s"  ${minhashExpr("duck", j)} AS mh$j").mkString(",\n")
    val buckets = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, ${bandKey(b)} AS k FROM sig").mkString("\n  UNION ALL ")
    s"""WITH ${hashedShinglesCte("duck", src)},
       |sig AS (SELECT doc_id,
       |$mhs
       |FROM hsh),
       |buckets AS ($buckets),
       |ok AS (SELECT band, k FROM buckets GROUP BY band, k HAVING COUNT(*) <= 16),
       |fb AS (SELECT b.doc_id, b.band, b.k FROM buckets b
       |  JOIN ok o ON b.band = o.band AND b.k = o.k),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM fb x JOIN fb y
       |    ON x.band = y.band AND x.k = y.k AND x.doc_id < y.doc_id),
       |p AS (SELECT c.doc_a, c.doc_b,
       |    ROUND(CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE) /
       |      CAST(len(list_distinct(list_concat(ha.hs, hb.hs))) AS DOUBLE), 6) AS jaccard
       |  FROM cand c
       |  JOIN hsh ha ON ha.doc_id = c.doc_a
       |  JOIN hsh hb ON hb.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= 0.5e0""".stripMargin
  }

  /** Documents UNION the two deterministic prefix-derivation arms
    * (80% of tokens at modulus 97 / +2e6 — moderate skew; 5% floored
    * at 4 tokens at modulus 89 / +3e6 — extreme skew) — the ONE
    * source definition both containment oracles build on, mirrored by
    * [[containmentPrefixArm]] on the Spark side; a tweak to the arm
    * parameters cannot desynchronize one gate's oracle from the
    * other's. `//` is DuckDB integer division — the Spark twin floors
    * explicitly. */
  private val containmentSrcDuck: String =
    """(SELECT doc_id, lang, text FROM documents
      | UNION ALL
      | SELECT doc_id + 2000000 AS doc_id, lang,
      |   array_to_string(toks[1 : GREATEST(1, len(toks)*4//5)], ' ') AS text
      | FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks
      |       FROM documents WHERE doc_id % 97 = 0) d
      | UNION ALL
      | SELECT doc_id + 3000000 AS doc_id, lang,
      |   array_to_string(toks[1 : GREATEST(4, len(toks)*5//100)], ' ') AS text
      | FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks
      |       FROM documents WHERE doc_id % 89 = 0) d) u""".stripMargin

  /** The Spark twin of one [[containmentSrcDuck]] derivation arm:
    * doc_id % `modulus` docs, first `num/den` of their tokens (floored
    * explicitly — Spark `/` is DOUBLE division — and floored at
    * `minToks`), id offset by `offset`. */
  private def containmentPrefixArm(docs: DataFrame, modulus: Int,
      offset: Long, num: Int, den: Int, minToks: Int): DataFrame =
    docs.where(col("doc_id") % modulus === 0)
      .select((col("doc_id") + lit(offset)).as("doc_id"),
        array_join(slice(split(col("text"), " "), lit(1),
          greatest(lit(minToks),
            floor((size(split(col("text"), " ")) * num)
              / lit(den)).cast("int"))),
          " ").as("text"))

  /** Containment dedup oracle (DuckDB): the same shingle / minhash /
    * banding pipeline over documents UNION the deterministic prefix
    * derivations (80% — moderate skew; 5% — extreme skew), candidates
    * from banded buckets UNION bottom-8 shingle anchors, verified with
    * Broder containment |∩| / min(|a|, |b|) instead of Jaccard — the
    * replayable SQL form of
    * `MinHashLsh.containmentPairs(threshold = 0.9)`. */
  private def qContainmentDedup: String = {
    val src = containmentSrcDuck
    def bandKey(b: Int): String =
      s"concat_ws(',', mh${4 * b}::VARCHAR, mh${4 * b + 1}::VARCHAR, mh${4 * b + 2}::VARCHAR, mh${4 * b + 3}::VARCHAR)"
    val mhs = (0 until 16).map(j => s"  ${minhashExpr("duck", j)} AS mh$j").mkString(",\n")
    val buckets = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, ${bandKey(b)} AS k FROM sig").mkString("\n  UNION ALL ")
    s"""WITH ${hashedShinglesCte("duck", src)},
       |sig AS (SELECT doc_id,
       |$mhs
       |FROM hsh),
       |buckets AS ($buckets),
       |anch AS (SELECT doc_id, unnest(list_sort(hs)[1:8]) AS h
       |  FROM hsh WHERE len(hs) > 0),
       |post AS (SELECT doc_id, unnest(hs) AS h FROM hsh),
       |cand AS (SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.k = y.k AND x.doc_id < y.doc_id
       |  UNION ALL
       |  SELECT LEAST(a.doc_id, p.doc_id) AS doc_a,
       |    GREATEST(a.doc_id, p.doc_id) AS doc_b
       |  FROM anch a JOIN post p
       |    ON a.h = p.h AND a.doc_id <> p.doc_id) c),
       |p AS (SELECT c.doc_a, c.doc_b,
       |    ROUND(CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE) /
       |      CAST(LEAST(len(ha.hs), len(hb.hs)) AS DOUBLE), 6) AS containment
       |  FROM cand c
       |  JOIN hsh ha ON ha.doc_id = c.doc_a
       |  JOIN hsh hb ON hb.doc_id = c.doc_b
       |  WHERE len(ha.hs) > 0 AND len(hb.hs) > 0)
       |SELECT doc_a, doc_b, containment FROM p WHERE containment >= 0.9e0""".stripMargin
  }

  /** Indexed containment oracle (DuckDB): CROSS pairs (batch × prior
    * corpus) at Broder containment ≥ 0.9, candidates from bottom-8
    * shingle anchors in BOTH directions — the replayable SQL form of
    * `LshIndex.containmentBatch` ≡
    * `MinHashLsh.containmentAgainstCorpus`. Prior = documents with
    * doc_id % 5 <> 0; batch = documents with doc_id % 5 = 0 plus the
    * two deterministic prefix arms (flag columns replay the gate's
    * in-gate assertions as constants). */
  private def qContainmentIndexed: String = {
    val src = containmentSrcDuck
    s"""WITH ${hashedShinglesCte("duck", src)},
       |nh AS (SELECT doc_id, hs FROM hsh
       |  WHERE doc_id % 5 = 0 OR doc_id >= 2000000),
       |ph AS (SELECT doc_id, hs FROM hsh
       |  WHERE doc_id % 5 <> 0 AND doc_id < 2000000),
       |anchn AS (SELECT doc_id, unnest(list_sort(hs)[1:8]) AS h
       |  FROM nh WHERE len(hs) > 0),
       |anchp AS (SELECT doc_id, unnest(list_sort(hs)[1:8]) AS h
       |  FROM ph WHERE len(hs) > 0),
       |postn AS (SELECT doc_id, unnest(hs) AS h FROM nh),
       |postp AS (SELECT doc_id, unnest(hs) AS h FROM ph),
       |cand AS (SELECT DISTINCT n_id, p_id FROM (
       |  SELECT a.doc_id AS n_id, p.doc_id AS p_id
       |  FROM anchn a JOIN postp p ON a.h = p.h
       |  UNION ALL
       |  SELECT n.doc_id AS n_id, a.doc_id AS p_id
       |  FROM anchp a JOIN postn n ON a.h = n.h) c),
       |p AS (SELECT c.n_id, c.p_id,
       |    ROUND(CAST(len(list_intersect(hn.hs, hp.hs)) AS DOUBLE) /
       |      CAST(LEAST(len(hn.hs), len(hp.hs)) AS DOUBLE), 6) AS containment
       |  FROM cand c
       |  JOIN nh hn ON hn.doc_id = c.n_id
       |  JOIN ph hp ON hp.doc_id = c.p_id
       |  WHERE len(hn.hs) > 0 AND len(hp.hs) > 0)
       |SELECT n_id AS doc_new, p_id AS doc_prior, containment,
       |  CAST(1 AS BIGINT) AS old_entries_kept,
       |  CAST(1 AS BIGINT) AS matches_direct
       |FROM p WHERE containment >= 0.9e0""".stripMargin
  }

  /** Fuzzy incremental dedup oracle: batch docs (doc_id % 5 = 0) that
    * near-duplicate (Jaccard ≥ 0.5) NO prior-corpus doc, via the same
    * signature/banding pipeline as [[qNgramJaccard]] restricted to
    * CROSS (batch × prior) candidate pairs. `priorFilter` (an extra
    * `AND ...` clause on the prior side) lets a gate that DELETES a
    * deterministic slice of the prior corpus keep an exact oracle:
    * a batch doc whose only near-dup was deleted must SURVIVE. */
  private def qDedupIncrementalFuzzy(
      dialect: String, extraCols: String = "",
      priorFilter: String = ""): String = {
    val size_ = if (dialect == "spark") "size" else "len"
    val inter = if (dialect == "spark") "array_intersect(ha.hs, hb.hs)"
    else "list_intersect(ha.hs, hb.hs)"
    val uni = if (dialect == "spark") "array_union(ha.hs, hb.hs)"
    else "list_distinct(list_concat(ha.hs, hb.hs))"
    def bandKey(b: Int): String =
      if (dialect == "spark")
        s"concat_ws(',', CAST(mh${4 * b} AS STRING), CAST(mh${4 * b + 1} AS STRING), CAST(mh${4 * b + 2} AS STRING), CAST(mh${4 * b + 3} AS STRING))"
      else
        s"concat_ws(',', mh${4 * b}::VARCHAR, mh${4 * b + 1}::VARCHAR, mh${4 * b + 2}::VARCHAR, mh${4 * b + 3}::VARCHAR)"
    val mhs = (0 until 16).map(j => s"  ${minhashExpr(dialect, j)} AS mh$j").mkString(",\n")
    val buckets = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, ${bandKey(b)} AS k FROM sig").mkString("\n  UNION ALL ")
    s"""WITH ${hashedShinglesCte(dialect)},
       |sig AS (SELECT doc_id,
       |$mhs
       |FROM hsh),
       |buckets AS ($buckets),
       |cand AS (SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS prior_id
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.k = y.k
       |  WHERE x.doc_id % 5 = 0 AND y.doc_id % 5 <> 0$priorFilter),
       |dup AS (SELECT DISTINCT c.new_id FROM cand c
       |  JOIN hsh ha ON ha.doc_id = c.new_id
       |  JOIN hsh hb ON hb.doc_id = c.prior_id
       |  WHERE CAST($size_($inter) AS DOUBLE) / CAST($size_($uni) AS DOUBLE) >= 0.5e0)
       |SELECT d.doc_id, d.lang, d.source$extraCols FROM documents d
       |WHERE d.doc_id % 5 = 0
       |  AND NOT EXISTS (SELECT 1 FROM dup WHERE dup.new_id = d.doc_id)""".stripMargin
  }

  /** 16-bit SimHash over distinct tokens. */
  private def qSimhash(dialect: String): String = {
    val tks = toks(dialect)
    if (dialect == "spark")
      // codegen'd kernels (round 14): vec_hash28 replaces the per-token
      // md5 transform and vec_simhash16 the 16-pass aggregate/filter
      // majority — value-identical by Round14KernelSpec, and the duck
      // branch below stays the engine-independent composed replay
      s"""WITH t AS (SELECT /*+ REPARTITION(32) */ doc_id, array_distinct($tks) AS toks FROM documents),
         |h AS (SELECT doc_id, vec_hash28(toks) AS hs FROM t)
         |SELECT doc_id, vec_simhash16(hs) AS simhash
         |FROM h""".stripMargin
    else
      s"""WITH t AS (SELECT doc_id, list_distinct($tks) AS toks FROM documents),
         |h AS (SELECT doc_id, list_transform(toks, tk -> ${h28(dialect, "tk")}) AS hs FROM t)
         |SELECT doc_id,
         |  CAST(list_sum(list_transform(range(0, 16), j ->
         |      CASE WHEN 2 * len(list_filter(hs, v -> CAST(FLOOR(v / POW(2, j)) AS BIGINT) % 2 = 1)) > len(hs)
         |           THEN CAST(POW(2, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
         |FROM h""".stripMargin
  }

  /** Corpus report card: doc/token/char totals per language, per
    * source, and overall in ONE pass (GROUPING SETS — the profile a
    * mixture designer reads before setting rates). Map-side-combined
    * aggregate; subtotal rows carry NULL keys in both engines. */
  private def qCorpusProfile(dialect: String): String = {
    val ntok =
      if (dialect == "spark") "size(split(text, ' '))"
      else "len(string_split(text, ' '))"
    s"""SELECT lang, source,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM($ntok) AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
       |FROM documents
       |GROUP BY GROUPING SETS ((lang), (source), ())""".stripMargin
  }

  /** SimHash near-dup pairs over a 64-bit fingerprint banded into
    * 4×16-bit bands. Each band's per-token hash is a distinct
    * 4-hex-char slice of ONE md5 per token (bands stay independent;
    * one digest amortized across all four), and each band value is
    * the 16-bit per-bit-majority vector of those hashes. Pairs
    * sharing a (band, value) bucket are candidates — pigeonhole:
    * hamming ≤ 3 over 4 bands forces ≥ 1 identical band, so
    * candidate generation is COMPLETE for the verify threshold —
    * and the exact verify is four xor+popcounts. 100 TB shape: each
    * band key has 65,536 possible values, so bucket population
    * tracks DATA similarity, not corpus size (the earlier 16-bit
    * variant's 4-bit nibble bands had 16 values each, making
    * candidates O(n²/64)); shuffle is on (band, value) only, and
    * each surviving pair is emitted exactly once — from its first
    * matching band — so no distinct exchange is needed. */
  private def qSimhashNearDup(dialect: String): String = {
    val tks = toks(dialect)
    if (dialect == "spark") {
      // vec_simhash_bands fuses the md5 transform, the four 16-bit
      // digest slices, and the four per-band majorities into ONE
      // codegen'd pass (round 14; the five interpreted HOF walks it
      // replaces are the duck branch below and Round14KernelSpec's
      // cross-check)
      s"""WITH t AS (SELECT /*+ REPARTITION(32) */ doc_id, array_distinct($tks) AS toks FROM documents),
         |sh AS (SELECT doc_id, vec_simhash_bands(toks) AS bs FROM t),
         |bands AS (SELECT doc_id, bs, j, element_at(bs, j + 1) AS k
         |  FROM sh LATERAL VIEW explode(sequence(0, 3)) bt AS j),
         |cand AS (SELECT a.bs AS ba, b.bs AS bb, a.j AS j
         |  FROM bands a JOIN bands b ON a.j = b.j AND a.k = b.k
         |    AND a.doc_id < b.doc_id),
         |-- each pair surfaces once: only from its FIRST matching band
         |-- (earlier bands must differ) -- no distinct exchange needed
         |firsts AS (SELECT ba, bb FROM cand
         |  WHERE j = 0 OR forall(sequence(0, j - 1), jj ->
         |    element_at(ba, jj + 1) != element_at(bb, jj + 1))),
         |hd AS (SELECT aggregate(zip_with(ba, bb, (x, y) -> CAST(bit_count(x ^ y) AS BIGINT)),
         |    CAST(0 AS BIGINT), (acc, x) -> acc + x) AS hamming FROM firsts)
         |SELECT hamming, COUNT(*) AS n_pairs
         |FROM hd WHERE hamming <= 3
         |GROUP BY hamming""".stripMargin
    } else {
      val hbCols = (0 until 4).map { b =>
        s"    list_transform(ms, m -> ('0x' || substr(m, ${1 + 4 * b}, 4))::BIGINT) AS h$b"
      }.mkString(",\n")
      def bandVal(b: Int): String =
        s"""CAST(list_sum(list_transform(range(0, 16), j ->
           |      CASE WHEN 2 * len(list_filter(h$b, v -> CAST(FLOOR(v / POW(2, j)) AS BIGINT) % 2 = 1)) > len(h$b)
           |           THEN CAST(POW(2, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)""".stripMargin
      val bandCols = (0 until 4).map(b => s"  ${bandVal(b)} AS b$b").mkString(",\n")
      s"""WITH t AS (SELECT doc_id, list_distinct($tks) AS toks FROM documents),
         |h AS (SELECT doc_id, list_transform(toks, tk -> md5(tk)) AS ms FROM t),
         |hb AS (SELECT doc_id,
         |$hbCols
         |  FROM h),
         |f AS (SELECT doc_id,
         |$bandCols
         |  FROM hb),
         |cand AS (SELECT a.b0 AS a0, a.b1 AS a1, a.b2 AS a2, a.b3 AS a3,
         |    b.b0 AS c0, b.b1 AS c1, b.b2 AS c2, b.b3 AS c3
         |  FROM f a JOIN f b ON a.doc_id < b.doc_id),
         |hd AS (SELECT CAST(bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
         |    + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3)) AS BIGINT) AS hamming
         |  FROM cand)
         |SELECT hamming, COUNT(*) AS n_pairs
         |FROM hd WHERE hamming <= 3
         |GROUP BY hamming""".stripMargin
    }
  }

  /** Near-dup pairs: MinHash-LSH candidate generation (16 hashes, 4
    * bands — same signature pipeline as q_minhash_dedup) followed by
    * EXACT jaccard verification on the hashed shingle sets of the
    * candidates only. This is the 100TB-shaped plan: the all-pairs
    * O(n²) join never happens; pair count ≈ true near-dup count. */
  private def qNgramJaccard(dialect: String): String = {
    val size_ = if (dialect == "spark") "size" else "len"
    val inter = if (dialect == "spark") "array_intersect(ha.hs, hb.hs)"
    else "list_intersect(ha.hs, hb.hs)"
    val uni = if (dialect == "spark") "array_union(ha.hs, hb.hs)"
    else "list_distinct(list_concat(ha.hs, hb.hs))"
    def bandKey(b: Int): String =
      if (dialect == "spark")
        s"concat_ws(',', CAST(mh${4 * b} AS STRING), CAST(mh${4 * b + 1} AS STRING), CAST(mh${4 * b + 2} AS STRING), CAST(mh${4 * b + 3} AS STRING))"
      else
        s"concat_ws(',', mh${4 * b}::VARCHAR, mh${4 * b + 1}::VARCHAR, mh${4 * b + 2}::VARCHAR, mh${4 * b + 3}::VARCHAR)"
    val mhs = (0 until 16).map(j => s"  ${minhashExpr(dialect, j)} AS mh$j").mkString(",\n")
    val buckets = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, ${bandKey(b)} AS k FROM sig").mkString("\n  UNION ALL ")
    s"""WITH ${hashedShinglesCte(dialect)},
       |sig AS (SELECT doc_id,
       |$mhs
       |FROM hsh),
       |buckets AS ($buckets),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.k = y.k AND x.doc_id < y.doc_id),
       |p AS (SELECT c.doc_a, c.doc_b,
       |    ROUND(CAST($size_($inter) AS DOUBLE) / CAST($size_($uni) AS DOUBLE), 6) AS jaccard
       |  FROM cand c
       |  JOIN hsh ha ON ha.doc_id = c.doc_a
       |  JOIN hsh hb ON hb.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= 0.5e0""".stripMargin
  }

  /** DuckDB oracle for q_minhash_cc: the SAME candidate + jaccard
    * pipeline as [[qNgramJaccard]], then the transitive closure via a
    * recursive CTE (min reachable id per node) — the brute-force
    * counterpart of the Spark side's large-star/small-star components. */
  private def qMinhashCcDuck: String = {
    def bandKey(b: Int): String =
      s"concat_ws(',', mh${4 * b}::VARCHAR, mh${4 * b + 1}::VARCHAR, mh${4 * b + 2}::VARCHAR, mh${4 * b + 3}::VARCHAR)"
    val mhs = (0 until 16).map(j => s"  ${minhashExpr("duck", j)} AS mh$j").mkString(",\n")
    val buckets = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, ${bandKey(b)} AS k FROM sig").mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE ${hashedShinglesCte("duck")},
       |sig AS (SELECT doc_id,
       |$mhs
       |FROM hsh),
       |buckets AS ($buckets),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.k = y.k AND x.doc_id < y.doc_id),
       |p AS (SELECT c.doc_a, c.doc_b,
       |    ROUND(CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
       |      / CAST(len(list_distinct(list_concat(ha.hs, hb.hs))) AS DOUBLE), 6) AS jaccard
       |  FROM cand c
       |  JOIN hsh ha ON ha.doc_id = c.doc_a
       |  JOIN hsh hb ON hb.doc_id = c.doc_b),
       |bi AS (SELECT doc_a AS u, doc_b AS v FROM p WHERE jaccard >= 0.5e0
       |  UNION SELECT doc_b, doc_a FROM p WHERE jaccard >= 0.5e0),
       |reach(u, v) AS (SELECT u, v FROM bi
       |  UNION SELECT r.u, b.v FROM reach r JOIN bi b ON r.v = b.u WHERE b.v <> r.u),
       |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u)
       |SELECT d.doc_id, CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS component
       |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin
  }

  /** Training-mixture recipe for q_mix_sources: keep src0 whole,
    * sample the rest at falling rates, drop everything else. */
  val MixWeights: Map[String, Double] =
    Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.2, "src3" -> 0.04)

  private val qMixSourcesDuck: String = {
    val vals = MixWeights.toSeq.sortBy(_._1)
      .map { case (s, w) => s"('$s', ${w}e0)" }.mkString(", ")
    s"""WITH wts(source, w) AS (VALUES $vals),
       |n AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
       |q AS (SELECT source, CAST(CEIL(w * n) AS BIGINT) AS quota
       |  FROM n JOIN wts USING (source)),
       |r AS (SELECT d.doc_id, d.source,
       |    ROW_NUMBER() OVER (PARTITION BY d.source
       |      ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
       |  FROM documents d JOIN q USING (source))
       |SELECT doc_id, source FROM r JOIN q USING (source)
       |WHERE rn <= quota""".stripMargin
  }

  private def qDedupExactOracle: String =
    """SELECT doc_id, lang, source FROM (
      |  SELECT doc_id, lang, source,
      |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |  FROM documents) t
      |WHERE rn = 1""".stripMargin

  /** C4/Dolma paragraph-level exact dedup, paragraph = 15-word chunk
    * (this corpus has no newline structure): first corpus-wide
    * occurrence of a chunk survives, docs reassemble in order. The
    * oracle recomputes the whole election + reassembly in DuckDB. */
  private def qParagraphDedupOracle: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |),
      |chunks AS (
      |  SELECT doc_id, ck, array_to_string(w[ck*15+1 : ck*15+15], ' ') AS para
      |  FROM words, unnest(range(0, ((len(w)-1)//15)+1)) AS t(ck)
      |),
      |kept AS (
      |  SELECT doc_id, ck, para,
      |    ROW_NUMBER() OVER (PARTITION BY md5(para) ORDER BY doc_id, ck) AS rn
      |  FROM chunks)
      |SELECT doc_id, count(*) AS kept_chunks,
      |  string_agg(para, ' ' ORDER BY ck) AS text
      |FROM kept WHERE rn = 1 GROUP BY doc_id""".stripMargin

  /** Boilerplate removal oracle: same chunk unit as paragraph dedup,
    * but chunks occurring in >= 2 distinct docs are dropped from ALL
    * docs (no survivor). */
  private def qRemoveBoilerplateOracle: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |),
      |chunks AS (
      |  SELECT doc_id, ck, array_to_string(w[ck*15+1 : ck*15+15], ' ') AS para
      |  FROM words, unnest(range(0, ((len(w)-1)//15)+1)) AS t(ck)
      |),
      |freq AS (
      |  SELECT md5(para) AS h FROM chunks
      |  GROUP BY md5(para) HAVING count(DISTINCT doc_id) >= 2)
      |SELECT doc_id, count(*) AS kept_chunks,
      |  string_agg(para, ' ' ORDER BY ck) AS text
      |FROM chunks
      |WHERE md5(para) NOT IN (SELECT h FROM freq)
      |GROUP BY doc_id""".stripMargin

  /** TF-IDF top keywords per document: tf from a (doc, word) aggregate,
    * df from the vocabulary-sized roll-up of that aggregate, score as a
    * floor-scaled integer (engines with different double-formatting
    * agree), deterministic word tie-break. Scale shape: the (doc, word)
    * aggregate map-side combines the explosion; the df relation is
    * vocabulary-sized (broadcastable) and joins back on word. */
  private def qTfidf(dialect: String): String = {
    val wordsRel =
      if (dialect == "spark")
        "SELECT doc_id, explode(split(text, ' ')) AS word FROM documents"
      else
        "SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents"
    s"""WITH tf AS (
       |  SELECT doc_id, word, count(*) AS tf
       |  FROM ($wordsRel)
       |  GROUP BY doc_id, word
       |),
       |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
       |n AS (SELECT count(*) AS n FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.word,
       |    CAST(floor(1000000.0 * tf.tf * ln(CAST(n.n AS DOUBLE) / df.df)) AS BIGINT) AS score_e6
       |  FROM tf JOIN df USING (word) CROSS JOIN n
       |)
       |SELECT doc_id, word, score_e6, rnk FROM (
       |  SELECT doc_id, word, score_e6,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_e6 DESC, word) AS rnk
       |  FROM scored) t
       |WHERE rnk <= 3""".stripMargin
  }

  private def qFingerprint(dialect: String): String =
    if (dialect == "spark")
      """SELECT doc_id,
        |  md5(array_join(array_sort(array_distinct(split(text, ' '))), ' ')) AS fingerprint
        |FROM documents""".stripMargin
    else
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
        |FROM documents""".stripMargin

  private def qTokenCount(dialect: String): String = {
    val size_ = if (dialect == "spark") "size" else "len"
    s"""SELECT doc_id,
       |  CAST($size_(${toks(dialect)}) AS BIGINT) AS n_tokens,
       |  CAST(length(text) AS BIGINT) AS n_chars_measured
       |FROM documents""".stripMargin
  }

  private def qQualityScore(dialect: String): String = {
    val size_ = if (dialect == "spark") "size" else "len"
    val dedup = if (dialect == "spark") "array_distinct" else "list_distinct"
    s"""WITH t AS (SELECT doc_id,
       |    CAST($size_(${toks(dialect)}) AS DOUBLE) AS nt,
       |    CAST($size_($dedup(${toks(dialect)})) AS DOUBLE) AS nd,
       |    CAST(length(text) AS DOUBLE) AS nc
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(FLOOR((0.4e0 * LEAST(nt / 100.0e0, 1.0e0)
       |      + 0.3e0 * (nd / nt)
       |      + 0.3e0 * LEAST(((nc - nt + 1.0e0) / nt) / 8.0e0, 1.0e0)) * 1000000.0e0) AS BIGINT) AS quality_e6
       |FROM t""".stripMargin
  }

  /** Within-language percentile rank of the quality score, in integer
    * millionths — the normalization mixture re-weighting needs before
    * comparing quality across languages (raw scores aren't comparable
    * when language length/punctuation priors differ). rank·10⁶ DIV n
    * is pure integer, tie-broken on doc_id; group-local window sorts
    * only. Dual-dialect generator (Spark `DIV` / DuckDB `//`). */
  private def qQualityPercentile(dialect: String): String = {
    val size_ = if (dialect == "spark") "size" else "len"
    val dedup = if (dialect == "spark") "array_distinct" else "list_distinct"
    val intdiv = if (dialect == "spark") "DIV" else "//"
    s"""WITH t AS (SELECT doc_id, lang,
       |    CAST($size_(${toks(dialect)}) AS DOUBLE) AS nt,
       |    CAST($size_($dedup(${toks(dialect)})) AS DOUBLE) AS nd,
       |    CAST(length(text) AS DOUBLE) AS nc
       |  FROM documents),
       |q AS (SELECT doc_id, lang,
       |  CAST(FLOOR((0.4e0 * LEAST(nt / 100.0e0, 1.0e0)
       |      + 0.3e0 * (nd / nt)
       |      + 0.3e0 * LEAST(((nc - nt + 1.0e0) / nt) / 8.0e0, 1.0e0)) * 1000000.0e0) AS BIGINT) AS quality_e6
       |  FROM t),
       |r AS (SELECT doc_id, lang, quality_e6,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY quality_e6, doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY lang) AS n
       |  FROM q)
       |SELECT doc_id, lang, quality_e6,
       |  CAST((CAST(rn AS BIGINT) * 1000000) $intdiv n AS BIGINT) AS pct_e6
       |FROM r""".stripMargin
  }

  /** Inline DuckDB scalar for `TextFunctions.qualityScoreE6` over a
    * row of `table` (same FP evaluation order as the Spark Column and
    * the qQualityScore CTE form — engines agree bit-for-bit). */
  private def qualityE6Duck(table: String): String = {
    val nt = "CAST(len(string_split(text, ' ')) AS DOUBLE)"
    val nd = "CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)"
    val nc = "CAST(length(text) AS DOUBLE)"
    s"CAST(FLOOR((0.4e0 * LEAST($nt / 100.0e0, 1.0e0) " +
      s"+ 0.3e0 * ($nd / $nt) " +
      s"+ 0.3e0 * LEAST((($nc - $nt + 1.0e0) / $nt) / 8.0e0, 1.0e0)) " +
      s"* 1000000.0e0) AS BIGINT)"
  }

  /** BPE-ish regex tokenization (letters run | digit run | punct run):
    * the pattern uses only character classes so Java regex (Spark) and
    * RE2 (DuckDB) agree byte-for-byte. */
  private def qTokenBpe(dialect: String): String = {
    val pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"
    if (dialect == "spark")
      s"""SELECT doc_id,
         |  CAST(size(regexp_extract_all(text, '$pat', 0)) AS BIGINT) AS n_bpe_tokens,
         |  CAST(size(array_distinct(regexp_extract_all(text, '$pat', 0))) AS BIGINT) AS n_distinct_bpe
         |FROM documents""".stripMargin
    else
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_bpe_tokens,
         |  CAST(len(list_distinct(regexp_extract_all(text, '$pat'))) AS BIGINT) AS n_distinct_bpe
         |FROM documents""".stripMargin
  }

  /** Rolling-hash document fingerprint: min 28-bit hash over all 8-char
    * grams (Rabin-Karp-style content signature — shift-tolerant, unlike
    * the sorted-token-bag fingerprint). */
  private def qRollingFingerprint(dialect: String): String =
    if (dialect == "spark")
      """SELECT /*+ REPARTITION(32) */ doc_id,
        |  array_min(transform(sequence(1, GREATEST(length(text) - 7, 1)),
        |    i -> CAST(conv(substring(md5(substring(text, i, 8)), 1, 7), 16, 10) AS BIGINT))) AS rh_fingerprint
        |FROM documents""".stripMargin
    else
      """SELECT doc_id,
        |  list_min(list_transform(range(1, GREATEST(len(text) - 7, 1) + 1),
        |    i -> ('0x' || substr(md5(substr(text, i, 8)), 1, 7))::BIGINT)) AS rh_fingerprint
        |FROM documents""".stripMargin

  /** Deterministic train/val/test split assignment (80/10/10) from the
    * md5-prefix of the doc id — the standard reproducible-split move for
    * training pipelines (no RNG state, stable under reshuffles and
    * incremental reruns; any engine computes the same assignment). */
  private def qSplitAssign(dialect: String): String = {
    val h =
      if (dialect == "spark") h28("spark", "CAST(doc_id AS STRING)")
      else h28("duck", "doc_id::VARCHAR")
    s"""SELECT doc_id,
       |  CASE WHEN $h % 100 < 80 THEN 'train'
       |       WHEN $h % 100 < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents""".stripMargin
  }

  private def qLangId(dialect: String): String = {
    val size_ = if (dialect == "spark") "size" else "len"
    val filt = if (dialect == "spark") "filter" else "list_filter"
    s"""WITH t AS (SELECT doc_id, ${toks(dialect)} AS toks FROM documents),
       |f AS (SELECT doc_id,
       |    CAST($size_($filt(toks, x -> x IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
       |      / CAST($size_(toks) AS DOUBLE) AS stop_ratio
       |  FROM t)
       |SELECT doc_id,
       |  CASE WHEN stop_ratio >= 0.08e0 THEN 'en'
       |       WHEN stop_ratio >= 0.03e0 THEN 'en_like'
       |       ELSE 'unknown' END AS lang_pred,
       |  ROUND(stop_ratio, 6) AS stop_ratio
       |FROM f""".stripMargin
  }

  // embeddings: cosine via explicit index-ordered sums so both engines
  // accumulate in the same sequence; compare/rank only on ROUND(.,4).
  private def qKnn(dialect: String): String =
    if (dialect == "spark")
      """WITH e AS (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, vec_l2norm(v) AS nrm FROM e),
        |q AS (SELECT * FROM n WHERE vec_id % 25 = 0),
        |p AS (SELECT /*+ BROADCAST(q) */ q.vec_id AS query_id, x.vec_id AS neighbor_id,
        |    ROUND(vec_dot(q.v, x.v) / (q.nrm * x.nrm), 4) AS sim
        |  FROM n x JOIN q ON q.vec_id <> x.vec_id),
        |r AS (SELECT query_id, neighbor_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM p)
        |SELECT query_id, neighbor_id, sim, rnk FROM r WHERE rnk <= 3""".stripMargin
    else
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |    SQRT(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e),
        |p AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
        |    ROUND(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * x.v[i]))
        |      / (q.nrm * x.nrm), 4) AS sim
        |  FROM n q JOIN n x ON q.vec_id % 25 = 0 AND q.vec_id <> x.vec_id),
        |r AS (SELECT query_id, neighbor_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM p)
        |SELECT query_id, neighbor_id, sim, rnk FROM r WHERE rnk <= 3""".stripMargin

  private def qEmbeddingNeardup(dialect: String): String =
    if (dialect == "spark")
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v, vec_l2norm(v) AS nrm FROM e),
        |p AS (SELECT /*+ BROADCAST(b) */ a.vec_id AS id_a, b.vec_id AS id_b,
        |    ROUND(vec_dot(a.v, b.v) / (a.nrm * b.nrm), 4) AS sim
        |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, sim FROM p WHERE sim >= 0.4e0""".stripMargin
    else
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |    SQRT(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    ROUND(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
        |      / (a.nrm * b.nrm), 4) AS sim
        |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, sim FROM p WHERE sim >= 0.4e0""".stripMargin

  // ---- banded-LSH embedding queries (the 100TB-shaped ANN path) ------------
  //
  // Spark side runs graft.operators.Similarity.bandedNearDupPairs /
  // bandedTopK with a driver-precomputed constant plane matrix; the
  // DuckDB oracle derives the identical planes inline from the same md5
  // arithmetic (plane(q)[i] = md5("q_i")-prefix / 2^27 - 1). Projections
  // are sign-tested after ROUND(.,6) so both engines agree near zero.

  val LshBands = 16
  val LshPlanesPerBand = 8

  private def lshProjDuck(q: Int): String =
    s"ROUND(list_sum(list_transform(range(1, len(v)+1), i -> v[i] * ((('0x' || substr(md5('${q}_' || i::VARCHAR), 1, 7))::BIGINT / 134217728.0) - 1.0))), 6)"

  private def lshBucketsDuck(src: String): String =
    (0 until LshBands).map { b =>
      val bits = (0 until LshPlanesPerBand).map { p =>
        s"(CASE WHEN ${lshProjDuck(b * LshPlanesPerBand + p)} >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $b AS band, ($bits) AS k FROM $src"
    }.mkString("\n  UNION ALL ")

  private val qLshNeardupDuck: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, SQRT(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |buckets AS (${lshBucketsDuck("n")}),
       |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.k = y.k AND x.vec_id < y.vec_id),
       |p AS (SELECT c.id_a, c.id_b,
       |    ROUND(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i] * b.v[i]))
       |      / (a.nrm * b.nrm), 4) AS sim
       |  FROM cand c
       |  JOIN n a ON a.vec_id = c.id_a
       |  JOIN n b ON b.vec_id = c.id_b)
       |SELECT id_a, id_b, sim FROM p WHERE sim >= 0.4e0""".stripMargin

  private val qKnnLshDuck: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, SQRT(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |qv AS (SELECT * FROM n WHERE vec_id % 25 = 0),
       |cb AS (${lshBucketsDuck("n")}),
       |qb AS (${lshBucketsDuck("qv")}),
       |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM qb q JOIN cb c
       |    ON q.band = c.band AND q.k = c.k AND q.vec_id <> c.vec_id),
       |p AS (SELECT cd.query_id, cd.neighbor_id,
       |    ROUND(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i] * b.v[i]))
       |      / (a.nrm * b.nrm), 4) AS sim
       |  FROM cand cd
       |  JOIN n a ON a.vec_id = cd.query_id
       |  JOIN n b ON b.vec_id = cd.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
       |  FROM p)
       |SELECT query_id, neighbor_id, sim, rnk FROM r WHERE rnk <= 3""".stripMargin

  // ---- IVF-flavored ANN (second scale path besides banded LSH) -------------
  //
  // Deterministic "IVF-Flat": centroids are the vectors with
  // vec_id % 25 = 13 (a fixed, data-derived coarse quantizer — a real
  // deployment would train k-means; the partition/probe mechanics are
  // identical). Every vector is assigned to its nearest centroid;
  // queries probe their 2 nearest cells and rerank exactly within them.
  // Spark assigns via broadcast-join + max_by (partial-aggregable — the
  // n×C expansion collapses map-side, no shuffle of the expansion);
  // candidates shuffle only on the cell id.

  /** Cached stages (Spark inlines CTEs — g_ivf_sims is read by both the
    * assignment and the probe, g_ivf_n three more times by the rerank).
    * Dot products / norms run on the registered native `vec_dot` /
    * `vec_l2norm` kernels (same index-ordered left-fold arithmetic as
    * the oracle's list_sum; see SqlShims.registerVectorFunctions) — the
    * earlier 130-node element_at unroll cost more in analysis + janino
    * than in execution. */
  private val ivfStages: Seq[(String, String)] = Seq(
    "g_ivf_n" ->
      """SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v, vec_l2norm(CAST(embedding AS ARRAY<DOUBLE>)) AS nrm
        |FROM embeddings""".stripMargin,
    "g_ivf_sims" ->
      s"""SELECT /*+ BROADCAST(cent) */ n.vec_id, cent.cid,
         |  ROUND(vec_dot(n.v, cent.cv) / (n.nrm * cent.cnrm), 4) AS sim
         |FROM g_ivf_n n CROSS JOIN (
         |  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM g_ivf_n
         |  WHERE vec_id % 25 = 13) cent""".stripMargin)

  /** The IVF assign/probe/candidate/rerank CTE block over the cached
    * g_ivf_* stages — shared VERBATIM by the serving query
    * (qIvfKnnSparkFinal) and the recall evaluation (qAnnRecallSparkFinal)
    * so the evaluation can never silently measure a different index than
    * the one served. */
  private val ivfCoreCtesSpark: String =
    """assign AS (SELECT vec_id, max_by(cid, struct(sim, -cid)) AS cid
      |  FROM g_ivf_sims GROUP BY vec_id),
      |probe AS (SELECT query_id, cid FROM (
      |    SELECT vec_id AS query_id, cid,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS cr
      |    FROM g_ivf_sims WHERE vec_id % 25 = 0) t WHERE cr <= 2),
      |cand AS (SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
      |  FROM probe p JOIN assign a ON p.cid = a.cid
      |  WHERE p.query_id <> a.vec_id),
      |px AS (SELECT c.query_id, c.neighbor_id,
      |    ROUND(vec_dot(a.v, b.v) / (a.nrm * b.nrm), 4) AS sim
      |  FROM cand c
      |  JOIN g_ivf_n a ON a.vec_id = c.query_id
      |  JOIN g_ivf_n b ON b.vec_id = c.neighbor_id)""".stripMargin

  private val qIvfKnnSparkFinal: String =
    s"""WITH $ivfCoreCtesSpark,
       |r AS (SELECT query_id, neighbor_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
       |  FROM px)
       |SELECT query_id, neighbor_id, sim, rnk FROM r WHERE rnk <= 3""".stripMargin

  /** ANN index-quality evaluation — recall@3 of the IVF pipeline vs
    * the exact brute ranking for the same query set: the measurement a
    * pipeline runs before trusting an index at scale. The IVF half is
    * the q_embedding_ivf_knn pipeline verbatim; the brute half ranks
    * queries×corpus (bounded by the query subset — at 100 TB you
    * evaluate on a sampled query set exactly like this). Integer
    * hit-counts per query, so the result is engine-exact. */
  private val qAnnRecallSparkFinal: String =
    s"""WITH $ivfCoreCtesSpark,
      |ivf AS (SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
      |    FROM px) t WHERE rnk <= 3),
      |bp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    ROUND(vec_dot(a.v, b.v) / (a.nrm * b.nrm), 4) AS sim
      |  FROM g_ivf_n a JOIN g_ivf_n b
      |    ON a.vec_id % 25 = 0 AND b.vec_id <> a.vec_id),
      |brute AS (SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
      |    FROM bp) t WHERE rnk <= 3),
      |hits AS (SELECT query_id, COUNT(*) AS n
      |  FROM brute JOIN ivf USING (query_id, neighbor_id) GROUP BY query_id),
      |qs AS (SELECT DISTINCT vec_id AS query_id FROM g_ivf_n WHERE vec_id % 25 = 0)
      |SELECT q.query_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
      |  CAST(3 AS BIGINT) AS k
      |FROM qs q LEFT JOIN hits h ON q.query_id = h.query_id""".stripMargin

  /** DuckDB twin of [[ivfCoreCtesSpark]] — the full replayed IVF
    * pipeline (norms → centroid sims → assign → probe → candidates →
    * rerank sims), shared verbatim by the serving oracle and the
    * recall-evaluation oracle. */
  private val ivfCoreCtesDuck: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v,
      |    SQRT(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
      |cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n WHERE vec_id % 25 = 13),
      |sims_all AS (SELECT n.vec_id, cent.cid,
      |    ROUND(list_sum(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * cent.cv[i]))
      |      / (n.nrm * cent.cnrm), 4) AS sim
      |  FROM n CROSS JOIN cent),
      |assign AS (SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
      |    FROM sims_all) t WHERE rn = 1),
      |qsims AS (SELECT vec_id AS query_id, cid, sim FROM sims_all WHERE vec_id % 25 = 0),
      |probe AS (SELECT query_id, cid FROM (
      |    SELECT query_id, cid,
      |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, cid) AS cr
      |    FROM qsims) t WHERE cr <= 2),
      |cand AS (SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
      |  FROM probe p JOIN assign a ON p.cid = a.cid
      |  WHERE p.query_id <> a.vec_id),
      |px AS (SELECT c.query_id, c.neighbor_id,
      |    ROUND(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
      |      / (a.nrm * b.nrm), 4) AS sim
      |  FROM cand c
      |  JOIN n a ON a.vec_id = c.query_id
      |  JOIN n b ON b.vec_id = c.neighbor_id)""".stripMargin

  private val qAnnRecallDuck: String =
    s"""WITH $ivfCoreCtesDuck,
      |ivf AS (SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
      |    FROM px) t WHERE rnk <= 3),
      |bp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    ROUND(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
      |      / (a.nrm * b.nrm), 4) AS sim
      |  FROM n a JOIN n b ON a.vec_id % 25 = 0 AND b.vec_id <> a.vec_id),
      |brute AS (SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
      |    FROM bp) t WHERE rnk <= 3),
      |hits AS (SELECT query_id, COUNT(*) AS n
      |  FROM brute JOIN ivf USING (query_id, neighbor_id) GROUP BY query_id),
      |qs AS (SELECT DISTINCT vec_id AS query_id FROM n WHERE vec_id % 25 = 0)
      |SELECT q.query_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
      |  CAST(3 AS BIGINT) AS k
      |FROM qs q LEFT JOIN hits h ON q.query_id = h.query_id""".stripMargin

  private val qIvfKnnDuck: String =
    s"""WITH $ivfCoreCtesDuck,
      |r AS (SELECT query_id, neighbor_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
      |  FROM px)
      |SELECT query_id, neighbor_id, sim, rnk FROM r WHERE rnk <= 3""".stripMargin

  /** Trained-quantizer IVF: deterministic k-means centroids are trained
    * Spark-side, EXPORTED to a fixed parquet path, and read back by both
    * engines — the DuckDB oracle replays the identical assign/probe/
    * rerank pipeline over the identical centroid values (the driver
    * always runs the Spark side before the oracle, so the export
    * exists). This closes the round-3 gap where the only verified IVF
    * query used a caller-provided `vec_id % 25 = 13` quantizer. */
  // Per-process export path: the oracle SQL embeds this literal (the
  // driver's DuckDB replays the SQL dumped by THIS process, so the
  // spelling matches), while two CONCURRENT verify/bench runs — separate
  // JVMs — get distinct paths and cannot clobber each other's quantizer
  // mid-oracle. Override via GRAFT_IVF_CENTROIDS_PATH if needed.
  private val ivfCentroidsPath = sys.env.getOrElse("GRAFT_IVF_CENTROIDS_PATH",
    s"${System.getProperty("java.io.tmpdir")}/graft_ivf_trained_centroids_" +
      s"${ProcessHandle.current().pid()}.parquet")

  /** SemDeDup centroids get their own per-process export (never shared
    * with the IVF query's path — same content today, but an overwrite
    * race on one file would couple two oracles). */
  private val semDedupCentroidsPath = sys.env.getOrElse(
    "GRAFT_SEMDEDUP_CENTROIDS_PATH",
    s"${System.getProperty("java.io.tmpdir")}/graft_semdedup_centroids_" +
      s"${ProcessHandle.current().pid()}.parquet")

  private def qSemDedupSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val emb = s.table("embeddings")
      val trained = graft.operators.Similarity.trainKMeans(
        emb, "vec_id", "embedding", k = 16, iterations = 3)
      import s.implicits._
      trained.map { case (cid, cv) => (cid, cv.toSeq) }
        .toDF("vec_id", "embedding")
        .coalesce(1)
        .write.mode("overwrite").parquet(semDedupCentroidsPath)
      val cents = s.read.parquet(semDedupCentroidsPath)
      graft.operators.Similarity.semDedup(
        emb, cents, "vec_id", "embedding", threshold = 0.4)
        .withColumnRenamed("id", "vec_id")
    }

  private def qSemDedupDuck: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v,
       |    SQRT(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |cent AS (SELECT vec_id AS cid, embedding AS cv,
       |    SQRT(list_sum(list_transform(embedding, x -> x * x))) AS cnrm
       |  FROM read_parquet('$semDedupCentroidsPath/*.parquet')),
       |sims AS (SELECT n.vec_id, cent.cid,
       |    ROUND(list_sum(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * cent.cv[i]))
       |      / (n.nrm * cent.cnrm), 4) AS csim
       |  FROM n CROSS JOIN cent),
       |assign AS (SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
       |    FROM sims) t WHERE rn = 1),
       |av AS (SELECT a.vec_id, a.cid, n.v, n.nrm
       |  FROM assign a JOIN n ON a.vec_id = n.vec_id),
       |dropped AS (SELECT DISTINCT y.vec_id
       |  FROM av x JOIN av y ON x.cid = y.cid AND x.vec_id < y.vec_id
       |  WHERE ROUND(list_sum(list_transform(range(1, len(x.v) + 1), i -> x.v[i] * y.v[i]))
       |      / (x.nrm * y.nrm), 4) >= 0.4)
       |SELECT vec_id, cid FROM av
       |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin

  /** PQ codebooks get their own per-process export (same isolation
    * reasoning as the IVF/SemDeDup centroid paths). */
  private val pqBooksPath = sys.env.getOrElse(
    "GRAFT_PQ_BOOKS_PATH",
    s"${System.getProperty("java.io.tmpdir")}/graft_pq_books_" +
      s"${ProcessHandle.current().pid()}.parquet")

  /** Product-quantized ANN: codebooks trained Spark-side and EXPORTED,
    * corpus encoded to 4 one-byte-scale codes (64× smaller than the
    * raw 64-dim floats), queries ranked by asymmetric distance against
    * the coded centroids. The DuckDB oracle replays encode + ADC from
    * the exported books. */
  private def qPqKnnSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val emb = s.table("embeddings")
      val books = graft.operators.Pq.trainCodebooks(
        emb, "vec_id", "embedding", m = 4, k = 16, iterations = 2)
      import s.implicits._
      books.map { case (j, cid, cv) => (j, cid, cv.toSeq) }
        .toDF("subspace", "cid", "cv")
        .coalesce(1)
        .write.mode("overwrite").parquet(pqBooksPath)
      val codes = graft.operators.Pq.encode(emb, "vec_id", "embedding", books)
      graft.operators.Pq.adcTopK(
        codes, emb.where(col("vec_id") % 25 === 0),
        "vec_id", "embedding", books, kNeighbors = 3)
    }

  private def qPqKnnDuck: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |bk AS (SELECT subspace, cid, cv
       |  FROM read_parquet('$pqBooksPath/*.parquet')),
       |cd AS (SELECT e.vec_id, bk.subspace, bk.cid,
       |    ROUND(list_sum(list_transform(range(1, 17),
       |      i -> (e.v[bk.subspace*16 + i] - bk.cv[i]) * (e.v[bk.subspace*16 + i] - bk.cv[i]))), 4) AS d
       |  FROM e CROSS JOIN bk),
       |codes AS (SELECT vec_id, subspace, cid FROM (
       |    SELECT vec_id, subspace, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, subspace ORDER BY d, cid) AS rn
       |    FROM cd) t WHERE rn = 1),
       |recon AS (
       |  SELECT c.vec_id, flatten(list(bk.cv ORDER BY c.subspace)) AS rv
       |  FROM codes c JOIN bk ON bk.subspace = c.subspace AND bk.cid = c.cid
       |  GROUP BY c.vec_id),
       |rn AS (SELECT vec_id, rv,
       |    list_sum(list_transform(rv, x -> x * x)) AS rn2 FROM recon),
       |qn AS (SELECT vec_id, v,
       |    list_sum(list_transform(v, x -> x * x)) AS qn2
       |  FROM e WHERE vec_id % 25 = 0),
       |pairs AS (SELECT qn.vec_id AS query_id, rn.vec_id AS neighbor_id,
       |    ROUND(qn.qn2 - 2 * list_sum(list_transform(range(1, 65),
       |      i -> qn.v[i] * rn.rv[i])) + rn.rn2, 4) AS adist
       |  FROM qn JOIN rn ON rn.vec_id <> qn.vec_id),
       |r AS (SELECT query_id, neighbor_id, adist,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk
       |  FROM pairs)
       |SELECT query_id, neighbor_id, adist, rnk FROM r WHERE rnk <= 3""".stripMargin

  /** The OPQ gate's export: PQ books ('p' rows) plus the trained
    * coordinate permutation ('x' rows: subspace = new position,
    * cid = old dim, cv = NULL) — one parquet, per-process path. */
  private val opqBooksPath = sys.env.getOrElse(
    "GRAFT_OPQ_BOOKS_PATH",
    s"${System.getProperty("java.io.tmpdir")}/graft_opq_books_" +
      s"${ProcessHandle.current().pid()}.parquet")

  /** OPQ-surrogate PQ: a variance-balancing coordinate permutation
    * ([[graft.operators.Pq.trainPermutation]]) is trained before the
    * codebooks, so a corpus whose variance concentrates in one
    * contiguous slice (here: dims 0–15 scaled ×4, the rest ×0.25 —
    * both exact binary scalings, so the skew replays FP-exactly)
    * spreads its energy across all m subspaces instead of saturating
    * one. The permutation + books export together; DuckDB replays
    * skew → permute → encode → ADC bit-for-bit. PqSpec pins the point
    * of the exercise: recall@3 vs exact STRICTLY IMPROVES over
    * unrotated PQ at equal (m, k) on this corpus. */
  private def qOpqKnnSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      // codegen'd scale kernel: the indexed-lambda `transform(embedding,
      // (x, i) -> x * CASE WHEN i < 16 THEN 4.0D ELSE 0.25D END)` HOF
      // (kept as the VecScaleSpec cross-check) forced the permutation
      // projection interpreted, where its 64 element_at references
      // re-ran the whole lambda walk per reference
      val skew = s.table("embeddings").select(col("vec_id"),
        graft.functions.VectorExpressions.vecScale(
          col("embedding"), Seq.fill(16)(4.0), 0.25).as("embedding"))
      val perm = graft.operators.Pq.trainPermutation(skew, "embedding", m = 4)
      val permuted = skew.select(col("vec_id"),
        graft.operators.Pq.permute(col("embedding"), perm).as("embedding"))
      val books = graft.operators.Pq.trainCodebooks(
        permuted, "vec_id", "embedding", m = 4, k = 16, iterations = 2)
      import s.implicits._
      (books.map { case (j, cid, cv) => ("p", j, cid, Some(cv.toSeq)) } ++
        perm.zipWithIndex.map { case (oldDim, newPos) =>
          ("x", newPos, oldDim.toLong, Option.empty[Seq[Double]]) })
        .toDF("book", "subspace", "cid", "cv")
        .coalesce(1)
        .write.mode("overwrite").parquet(opqBooksPath)
      val codes = graft.operators.Pq.encode(
        permuted, "vec_id", "embedding", books)
      graft.operators.Pq.adcTopK(
        codes, permuted.where(col("vec_id") % 25 === 0),
        "vec_id", "embedding", books, kNeighbors = 3)
    }

  private def qOpqKnnDuck: String =
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
       |es AS (SELECT vec_id, list_transform(range(1, 65),
       |    i -> v0[i] * (CASE WHEN i <= 16 THEN 4.0 ELSE 0.25 END)) AS vs
       |  FROM e0),
       |pm AS (SELECT subspace AS newpos, cid AS olddim
       |  FROM read_parquet('$opqBooksPath/*.parquet') WHERE book = 'x'),
       |e AS (SELECT es.vec_id,
       |    list(es.vs[pm.olddim + 1] ORDER BY pm.newpos) AS v
       |  FROM es CROSS JOIN pm GROUP BY es.vec_id),
       |bk AS (SELECT subspace, cid, cv
       |  FROM read_parquet('$opqBooksPath/*.parquet') WHERE book = 'p'),
       |cd AS (SELECT e.vec_id, bk.subspace, bk.cid,
       |    ROUND(list_sum(list_transform(range(1, 17),
       |      i -> (e.v[bk.subspace*16 + i] - bk.cv[i]) * (e.v[bk.subspace*16 + i] - bk.cv[i]))), 4) AS d
       |  FROM e CROSS JOIN bk),
       |codes AS (SELECT vec_id, subspace, cid FROM (
       |    SELECT vec_id, subspace, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, subspace ORDER BY d, cid) AS rn
       |    FROM cd) t WHERE rn = 1),
       |recon AS (
       |  SELECT c.vec_id, flatten(list(bk.cv ORDER BY c.subspace)) AS rv
       |  FROM codes c JOIN bk ON bk.subspace = c.subspace AND bk.cid = c.cid
       |  GROUP BY c.vec_id),
       |rn AS (SELECT vec_id, rv,
       |    list_sum(list_transform(rv, x -> x * x)) AS rn2 FROM recon),
       |qn AS (SELECT vec_id, v,
       |    list_sum(list_transform(v, x -> x * x)) AS qn2
       |  FROM e WHERE vec_id % 25 = 0),
       |pairs AS (SELECT qn.vec_id AS query_id, rn.vec_id AS neighbor_id,
       |    ROUND(qn.qn2 - 2 * list_sum(list_transform(range(1, 65),
       |      i -> qn.v[i] * rn.rv[i])) + rn.rn2, 4) AS adist
       |  FROM qn JOIN rn ON rn.vec_id <> qn.vec_id),
       |r AS (SELECT query_id, neighbor_id, adist,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk
       |  FROM pairs)
       |SELECT query_id, neighbor_id, adist, rnk FROM r WHERE rnk <= 3""".stripMargin

  private val ivfPqBooksPath = sys.env.getOrElse(
    "GRAFT_IVFPQ_BOOKS_PATH",
    s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_books_" +
      s"${ProcessHandle.current().pid()}.parquet")

  /** The hybrid-ANN gate exports its own quantizers (same per-process
    * isolation reasoning as the other centroid/codebook paths). */
  private val hybridAnnBooksPath = sys.env.getOrElse(
    "GRAFT_HYBRID_ANN_BOOKS_PATH",
    s"${System.getProperty("java.io.tmpdir")}/graft_hybrid_ann_books_" +
      s"${ProcessHandle.current().pid()}.parquet")

  /** IVF-PQ: coarse cells bound candidates (nprobe=2 of 8), ADC over
    * PQ codes ranks them — the composition that holds at 100 TB
    * (cells cut the pair expansion, codes cut the bytes per pair).
    * Both quantizers exported; DuckDB replays cell assignment, probe,
    * code assignment, and ADC bit-for-bit. */
  private def qIvfPqKnnSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val emb = s.table("embeddings")
      val Seq(coarse, books) = graft.operators.Pq.trainCodebooksMulti(
        emb, "vec_id", "embedding", Seq((1, 8), (4, 16)), iterations = 2)
      import s.implicits._
      (coarse.map { case (j, cid, cv) => ("c", j, cid, cv.toSeq) } ++
        books.map { case (j, cid, cv) => ("p", j, cid, cv.toSeq) })
        .toDF("book", "subspace", "cid", "cv")
        .coalesce(1)
        .write.mode("overwrite").parquet(ivfPqBooksPath)
      graft.operators.Pq.ivfPqTopK(
        emb, emb.where(col("vec_id") % 25 === 0),
        "vec_id", "embedding", coarse, books,
        kNeighbors = 3, nprobe = 2)
    }

  private def qIvfPqKnnDuck: String = ivfPqReplayDuck(ivfPqBooksPath)

  /** The persisted-IVF-PQ-index gate's quantizer export (per-process
    * path for the same concurrency reasons as [[ivfPqBooksPath]]). */
  private val ivfPqIndexBooksPath = sys.env.getOrElse(
    "GRAFT_IVFPQ_INDEX_BOOKS_PATH",
    s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_index_books_" +
      s"${ProcessHandle.current().pid()}.parquet")

  /** The rerank gate's coarse-book export (its own path: the rerank
    * gate trains on the FULL table, the indexed gate on a subset). */
  private val ivfPqRerankCoarsePath = sys.env.getOrElse(
    "GRAFT_IVFPQ_RERANK_COARSE_PATH",
    s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_rerank_coarse_" +
      s"${ProcessHandle.current().pid()}.parquet")

  /** DuckDB oracle for the exact-re-rank search: coarse assignment and
    * probe replayed against the exported book (the same CTEs as the
    * ADC replay), then TRUE squared-L2 distances over raw vectors —
    * the exact brute-force top-k restricted to the probed cells. */
  private def ivfPqRerankDuck: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cb AS (SELECT cid, cv
       |  FROM read_parquet('$ivfPqRerankCoarsePath/*.parquet')),
       |celld AS (SELECT e.vec_id, cb.cid,
       |    ROUND(list_sum(list_transform(range(1, 65),
       |      i -> (e.v[i] - cb.cv[i]) * (e.v[i] - cb.cv[i]))), 4) AS d
       |  FROM e CROSS JOIN cb),
       |cells AS (SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |    FROM celld) t WHERE rn = 1),
       |probe AS (SELECT vec_id AS query_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |    FROM celld WHERE vec_id % 25 = 0) t WHERE rn <= 2),
       |qv AS (SELECT p.query_id, p.cell, e.v
       |  FROM probe p JOIN e ON e.vec_id = p.query_id),
       |nv AS (SELECT c.vec_id, c.cell, e.v
       |  FROM cells c JOIN e ON e.vec_id = c.vec_id),
       |pairs AS (SELECT qv.query_id, nv.vec_id AS neighbor_id,
       |    ROUND(list_sum(list_transform(range(1, 65),
       |      i -> (qv.v[i] - nv.v[i]) * (qv.v[i] - nv.v[i]))), 4) AS dist
       |  FROM qv JOIN nv ON nv.cell = qv.cell AND nv.vec_id <> qv.query_id),
       |r AS (SELECT query_id, neighbor_id, dist,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rnk
       |  FROM pairs)
       |SELECT query_id, neighbor_id, dist, rnk FROM r WHERE rnk <= 3""".stripMargin

  /** DuckDB replay of the IVF-PQ pipeline (cell assignment → probe →
    * PQ encode → ADC) against exported quantizers — shared by the
    * trained-quantizer gate and the persisted-index gate, which differ
    * only in where the books came from (fresh training vs the index
    * sidecar) and in the indexed gate's extra constant observables. */
  private def ivfPqReplayDuck(
      booksPath: String, extraCols: String = ""): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cb AS (SELECT cid, cv FROM read_parquet('$booksPath/*.parquet')
       |  WHERE book = 'c'),
       |pb AS (SELECT subspace, cid, cv
       |  FROM read_parquet('$booksPath/*.parquet') WHERE book = 'p'),
       |celld AS (SELECT e.vec_id, cb.cid,
       |    ROUND(list_sum(list_transform(range(1, 65),
       |      i -> (e.v[i] - cb.cv[i]) * (e.v[i] - cb.cv[i]))), 4) AS d
       |  FROM e CROSS JOIN cb),
       |cells AS (SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |    FROM celld) t WHERE rn = 1),
       |probe AS (SELECT vec_id AS query_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |    FROM celld WHERE vec_id % 25 = 0) t WHERE rn <= 2),
       |cd AS (SELECT e.vec_id, pb.subspace, pb.cid,
       |    ROUND(list_sum(list_transform(range(1, 17),
       |      i -> (e.v[pb.subspace*16 + i] - pb.cv[i]) * (e.v[pb.subspace*16 + i] - pb.cv[i]))), 4) AS d
       |  FROM e CROSS JOIN pb),
       |codes AS (SELECT vec_id, subspace, cid FROM (
       |    SELECT vec_id, subspace, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, subspace ORDER BY d, cid) AS rn
       |    FROM cd) t WHERE rn = 1),
       |recon AS (
       |  SELECT c.vec_id, flatten(list(pb.cv ORDER BY c.subspace)) AS rv
       |  FROM codes c JOIN pb ON pb.subspace = c.subspace AND pb.cid = c.cid
       |  GROUP BY c.vec_id),
       |rn AS (SELECT r.vec_id, r.rv,
       |    list_sum(list_transform(r.rv, x -> x * x)) AS rn2,
       |    cells.cell
       |  FROM recon r JOIN cells ON cells.vec_id = r.vec_id),
       |qn AS (SELECT p.query_id, e.v, p.cell,
       |    list_sum(list_transform(e.v, x -> x * x)) AS qn2
       |  FROM probe p JOIN e ON e.vec_id = p.query_id),
       |pairs AS (SELECT qn.query_id, rn.vec_id AS neighbor_id,
       |    ROUND(qn.qn2 - 2 * list_sum(list_transform(range(1, 65),
       |      i -> qn.v[i] * rn.rv[i])) + rn.rn2, 4) AS adist
       |  FROM qn JOIN rn ON rn.cell = qn.cell AND rn.vec_id <> qn.query_id),
       |r AS (SELECT query_id, neighbor_id, adist,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk
       |  FROM pairs)
       |SELECT query_id, neighbor_id, adist, rnk$extraCols FROM r WHERE rnk <= 3""".stripMargin

  /** SQ coarse centroids get their own per-process export (same
    * isolation reasoning as the IVF/PQ paths). Only the COARSE
    * quantizer needs exporting — the scalar-quantization bounds are
    * order-free per-dimension MIN/MAX that the oracle recomputes from
    * the data itself. */
  private val sqCoarsePath = sys.env.getOrElse(
    "GRAFT_SQ_COARSE_PATH",
    s"${System.getProperty("java.io.tmpdir")}/graft_sq_coarse_" +
      s"${ProcessHandle.current().pid()}.parquet")

  /** IVF-SQ: coarse cells bound candidates (nprobe=2 of 8), scalar-
    * quantized int8 codes rank them in PURE INTEGER arithmetic —
    * 4× smaller at rest than raw float32 and, unlike the PQ/float
    * siblings, no ROUND reconciliation anywhere in the distance
    * (Σ (qcᵢ−ccᵢ)² is exact int64 in both engines). */
  private def qSqKnnSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val emb = s.table("embeddings")
      val coarse = graft.operators.Pq.trainCodebooks(
        emb, "vec_id", "embedding", m = 1, k = 8, iterations = 2)
      import s.implicits._
      coarse.map { case (_, cid, cv) => (cid, cv.toSeq) }
        .toDF("cid", "cv")
        .coalesce(1)
        .write.mode("overwrite").parquet(sqCoarsePath)
      val (mns, mxs) = graft.operators.Sq.trainBounds(emb, "embedding")
      graft.operators.Sq.ivfSqTopK(
        emb, emb.where(col("vec_id") % 25 === 0),
        "vec_id", "embedding", coarse, mns, mxs,
        kNeighbors = 3, nprobe = 2)
    }

  private def qSqKnnDuck: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cb AS (SELECT cid, cv FROM read_parquet('$sqCoarsePath/*.parquet')),
       |b AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
       |  FROM (SELECT i, MIN(v[i]) AS mn, MAX(v[i]) AS mx
       |        FROM e CROSS JOIN range(1, 65) t(i) GROUP BY i) bb),
       |enc AS (SELECT vec_id,
       |    list_transform(range(1, 65), i -> GREATEST(0, LEAST(255,
       |      CASE WHEN b.mxs[i] = b.mns[i] THEN 0
       |           ELSE CAST(FLOOR((v[i] - b.mns[i]) * 255 / (b.mxs[i] - b.mns[i])) AS BIGINT)
       |      END))) AS c
       |  FROM e CROSS JOIN b),
       |celld AS (SELECT e.vec_id, cb.cid,
       |    ROUND(list_sum(list_transform(range(1, 65),
       |      i -> (e.v[i] - cb.cv[i]) * (e.v[i] - cb.cv[i]))), 4) AS d
       |  FROM e CROSS JOIN cb),
       |cells AS (SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |    FROM celld) t WHERE rn = 1),
       |probe AS (SELECT vec_id AS query_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |    FROM celld WHERE vec_id % 25 = 0) t WHERE rn <= 2),
       |pairs AS (SELECT p.query_id, ce.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> (qe.c[i] - ne.c[i]) * (qe.c[i] - ne.c[i]))) AS BIGINT) AS idist
       |  FROM probe p
       |  JOIN cells ce ON ce.cell = p.cell AND ce.vec_id <> p.query_id
       |  JOIN enc qe ON qe.vec_id = p.query_id
       |  JOIN enc ne ON ne.vec_id = ce.vec_id),
       |r AS (SELECT query_id, neighbor_id, idist,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY idist, neighbor_id) AS rnk
       |  FROM pairs)
       |SELECT query_id, neighbor_id, idist, rnk FROM r WHERE rnk <= 3""".stripMargin

  /** Interpolated Kneser–Ney bigram LM in fixed point (see
    * Curation.knBigram): every discount/backoff/continuation term is
    * integer DIV arithmetic, so the smoothed probabilities are
    * engine-exact with NO rounding reconciliation. */
  private def qKnBigramSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      graft.operators.Curation.knBigram(
        graft.operators.Adaptive.widen(s.table("documents")), "text")
        .where(col("c12") >= 5)
    }

  private val qKnBigramDuck: String =
    """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
      |b AS (SELECT unnest(list_transform(range(1, len(toks)),
      |    i -> [toks[i], toks[i + 1]])) AS pr
      |  FROM t WHERE len(toks) >= 2),
      |p AS (SELECT pr[1] AS w1, pr[2] AS w2 FROM b),
      |c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM p GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
      |    CAST(COUNT(*) AS BIGINT) AS n1f FROM c12 GROUP BY 1),
      |n1b AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b FROM c12 GROUP BY 1),
      |n1tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1tot FROM c12)
      |SELECT c12.w1, c12.w2, c12.c12, c1.c1,
      |  CAST((1000000 * (4 * c12.c12 - 3)) // (4 * c1.c1)
      |    + ((750000 * c1.n1f) // c1.c1) * ((1000000 * n1b.n1b) // n1tot.n1tot) // 1000000
      |    AS BIGINT) AS p_kn_q6
      |FROM c12 JOIN c1 USING (w1) JOIN n1b USING (w2) CROSS JOIN n1tot
      |WHERE c12.c12 >= 5""".stripMargin

  /** Per-dimension embedding moments in FIXED POINT: each float
    * quantizes to floor(x·10⁶) once (identical IEEE multiply+floor in
    * both engines), then count/sum/sum-of-squares are pure int64 —
    * order-free, so the whitening/normalization statistics a feature
    * pipeline derives from them (mean, variance) are exactly
    * reproducible at any parallelism. One posexplode + one agg pass.
    * sumsq ceiling: unit-range components quantize to |xq| ≤ 10⁶, so
    * xq² ≤ 10¹² and int64 (9.2·10¹⁸) holds ~9·10⁶ rows per dim; past
    * that, shard the corpus and ADD the per-shard moment rows (they
    * are additive by construction) — Spark's non-ANSI int64 SUM wraps
    * silently while DuckDB widens to HUGEINT, so exceeding the
    * ceiling is a cross-engine divergence, not just precision loss. */
  private def qEmbeddingStatsSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val q = s.table("embeddings")
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("dim").cast("long").as("dim"),
          floor(col("x").cast("double") * lit(1000000.0)).as("xq"))
      q.groupBy("dim").agg(
        count(lit(1)).as("n"),
        sum("xq").as("sum_q6"),
        sum(col("xq") * col("xq")).as("sumsq_q6"),
        min("xq").as("min_q6"),
        max("xq").as("max_q6"))
    }

  private val qEmbeddingStatsDuck: String =
    """WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
      |x AS (SELECT i - 1 AS dim, CAST(FLOOR(v[i] * 1000000.0) AS BIGINT) AS xq
      |  FROM e CROSS JOIN range(1, 65) t(i))
      |SELECT CAST(dim AS BIGINT) AS dim, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(xq) AS BIGINT) AS sum_q6,
      |  CAST(SUM(xq * xq) AS BIGINT) AS sumsq_q6,
      |  CAST(MIN(xq) AS BIGINT) AS min_q6,
      |  CAST(MAX(xq) AS BIGINT) AS max_q6
      |FROM x GROUP BY dim""".stripMargin

  /** Fixed-point PageRank over the customer–supplier trade graph
    * (undirected: who-buys-from-whom, both directions). Node ids are
    * made disjoint by parity (customer 2k, supplier 2k+1); 3 exact
    * integer iterations — the oracle unrolls the identical recurrence
    * as CTEs, and because every step is int64 the two engines must
    * agree bit-for-bit with NO rounding anywhere. */
  private def qPageRankSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val ed0 = s.table("orders")
        .join(s.table("lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      // symmetrize in ONE pass (explode of both directions) instead of
      // a self-union that would re-derive the join twice
      val edges = ed0.select(explode(array(
          struct(col("a").as("src"), col("b").as("dst")),
          struct(col("b").as("src"), col("a").as("dst")))).as("e"))
        .select(col("e.src").as("a"), col("e.dst").as("b"))
      graft.operators.PageRank.pageRank(edges, "a", "b", iterations = 3)
    }

  private def qPageRankDuck: String = {
    def iter(i: Int): String =
      s"""c$i AS (SELECT e.dst AS node, SUM(s${i - 1}.score // deg.d) AS m
         |  FROM edges e JOIN s${i - 1} ON s${i - 1}.node = e.src
         |  JOIN deg ON deg.src = e.src GROUP BY e.dst),
         |s$i AS (SELECT n.node,
         |    CAST(150000 + (85 * COALESCE(c$i.m, 0)) // 100 AS BIGINT) AS score
         |  FROM nodes n LEFT JOIN c$i ON c$i.node = n.node)""".stripMargin
    s"""WITH ed0 AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |edges AS (SELECT a AS src, b AS dst FROM ed0
       |  UNION ALL SELECT b, a FROM ed0),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
       |s0 AS (SELECT node, CAST(1000000 AS BIGINT) AS score FROM nodes),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT node, score FROM s3""".stripMargin
  }

  private def qIvfTrainedSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val emb = s.table("embeddings")
      val trained = graft.operators.Similarity.trainKMeans(
        emb, "vec_id", "embedding", k = 16, iterations = 3)
      import s.implicits._
      trained.map { case (cid, cv) => (cid, cv.toSeq) }
        .toDF("vec_id", "embedding")
        .coalesce(1)
        .write.mode("overwrite").parquet(ivfCentroidsPath)
      // both engines read the centroids back from the export, so they
      // rerank against bit-identical quantizer values
      val cents = s.read.parquet(ivfCentroidsPath)
      graft.operators.Similarity.ivfTopK(
        emb, emb.where(col("vec_id") % 25 === 0), cents,
        "vec_id", "embedding", k = 3, nprobe = 2)
    }

  private val qIvfTrainedDuck: String = ivfReplayDuck(ivfCentroidsPath)

  /** The persisted-IVF-index gate's quantizer export (per-process path
    * for the same concurrency reasons as [[ivfCentroidsPath]]). */
  private val ivfIndexCentroidsPath =
    sys.env.getOrElse("GRAFT_IVF_INDEX_CENTROIDS_PATH",
      s"${System.getProperty("java.io.tmpdir")}/graft_ivf_index_centroids_" +
        s"${ProcessHandle.current().pid()}.parquet")

  /** DuckDB replay of the IVF pipeline (assignment → probe → rerank)
    * against exported centroids — shared by the trained-quantizer gate
    * and the persisted-index gate, which differ only in where the
    * centroids came from (fresh training vs the index sidecar) and in
    * the indexed gate's extra constant observables. */
  private def ivfReplayDuck(
      centroidsPath: String, extraCols: String = ""): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v,
       |    SQRT(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |cent AS (SELECT vec_id AS cid, embedding AS cv,
       |    SQRT(list_sum(list_transform(embedding, x -> x * x))) AS cnrm
       |  FROM read_parquet('$centroidsPath/*.parquet')),
       |sims_all AS (SELECT n.vec_id, cent.cid,
       |    ROUND(list_sum(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * cent.cv[i]))
       |      / (n.nrm * cent.cnrm), 4) AS sim
       |  FROM n CROSS JOIN cent),
       |assign AS (SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
       |    FROM sims_all) t WHERE rn = 1),
       |qsims AS (SELECT vec_id AS query_id, cid, sim FROM sims_all WHERE vec_id % 25 = 0),
       |probe AS (SELECT query_id, cid FROM (
       |    SELECT query_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, cid) AS cr
       |    FROM qsims) t WHERE cr <= 2),
       |cand AS (SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
       |  FROM probe p JOIN assign a ON p.cid = a.cid
       |  WHERE p.query_id <> a.vec_id),
       |px AS (SELECT c.query_id, c.neighbor_id,
       |    ROUND(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
       |      / (a.nrm * b.nrm), 4) AS sim
       |  FROM cand c
       |  JOIN n a ON a.vec_id = c.query_id
       |  JOIN n b ON b.vec_id = c.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
       |  FROM px)
       |SELECT query_id, neighbor_id, sim, rnk$extraCols FROM r WHERE rnk <= 3""".stripMargin

  // ---- as-of join (events point-in-time enrichment) ------------------------
  //
  // Spark side runs graft.operators.AsOfJoin.asOf (union + one window
  // per key — single shuffle, no range-join expansion); the DuckDB
  // oracle is the engine's NATIVE `ASOF JOIN`, an independently
  // implemented semantics check. The right side is pre-deduplicated to
  // one row per (user_id, us) — max event_id wins — because as-of
  // behavior on duplicate timestamps is engine-defined.

  private val qAsofJoinDuck: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type, value FROM events),
      |l AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase'),
      |r AS (SELECT user_id, us AS view_us, MAX(event_id) AS view_event_id,
      |        arg_max(value, event_id) AS view_value
      |      FROM e WHERE event_type = 'view' GROUP BY user_id, us)
      |SELECT l.event_id, l.user_id, l.us,
      |  r.view_us AS asof_view_us, r.view_event_id AS asof_view_event_id,
      |  r.view_value AS asof_view_value
      |FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.us >= r.view_us""".stripMargin

  /** events with `ts` as epoch-µs, via the schema-adaptive accessor
    * ([[eventEpochUsSql]] — integer arithmetic end to end). */
  private def eventsUs(s: SparkSession, dir: String): DataFrame =
    s.table("events").select(col("event_id"), col("user_id"),
      expr(eventEpochUsSql(s, dir)).as("us"), col("event_type"), col("value"))

  private val qAsofJoinSpark: (SparkSession, String) => DataFrame = (s, dir) => {
    registerViews(s, dir)
    val e = eventsUs(s, dir)
    val left = e.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "us")
    val right = e.where(col("event_type") === "view")
      .groupBy(col("user_id"), col("us").as("view_us"))
      .agg(max(col("event_id")).as("view_event_id"),
        max_by(col("value"), col("event_id")).as("view_value"))
    graft.operators.AsOfJoin.asOf(left, right, Seq("user_id"), "us", "view_us",
      Seq("view_event_id", "view_value"))
  }

  // Forward as-of with tolerance: each purchase joined to the EARLIEST
  // view at-or-after it within 1 hour (pandas merge_asof
  // direction='forward' semantics). DuckDB has no forward ASOF, so the
  // oracle spells the window explicitly.
  private val qAsofForwardDuck: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type, value FROM events),
      |l AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase'),
      |r AS (SELECT user_id, us AS view_us, MAX(event_id) AS view_event_id
      |      FROM e WHERE event_type = 'view' GROUP BY user_id, us),
      |cand AS (SELECT l.event_id, l.user_id, l.us, r.view_us, r.view_event_id,
      |    ROW_NUMBER() OVER (PARTITION BY l.event_id ORDER BY r.view_us) AS rn
      |  FROM l JOIN r ON l.user_id = r.user_id AND r.view_us >= l.us)
      |SELECT event_id, user_id, us,
      |  view_us AS asof_view_us, view_event_id AS asof_view_event_id
      |FROM cand WHERE rn = 1 AND view_us - us <= 3600000000""".stripMargin

  private val qAsofForwardSpark: (SparkSession, String) => DataFrame = (s, dir) => {
    registerViews(s, dir)
    val e = eventsUs(s, dir)
    val left = e.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "us")
    val right = e.where(col("event_type") === "view")
      .groupBy(col("user_id"), col("us").as("view_us"))
      .agg(max(col("event_id")).as("view_event_id"))
    graft.operators.AsOfJoin.asOf(left, right, Seq("user_id"), "us", "view_us",
      Seq("view_event_id"), direction = "forward",
      tolerance = Some(lit(3600000000L)))
  }

  // ---- top terms per language (vocabulary building) ------------------------

  private val qTopTermsDuck: String =
    """WITH u AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT lang, tok, COUNT(*) AS n FROM u WHERE tok <> '' GROUP BY lang, tok),
      |r AS (SELECT lang, tok, n,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rnk
      |  FROM c)
      |SELECT lang, tok, n, rnk FROM r WHERE rnk <= 10""".stripMargin

  private val qTopTermsSpark: (SparkSession, String) => DataFrame = (s, dir) => {
    registerViews(s, dir)
    graft.operators.Curation.topTerms(
      s.table("documents"), Seq("lang"), "text", 10)
      .select("lang", "tok", "n", "rnk")
  }

  // ---- range join (errors inside post-purchase windows) --------------------
  //
  // Spark side runs graft.operators.RangeJoin.pointInInterval (bin-join:
  // intervals explode to covered fixed-width bins, points equi-join
  // their single bin — no quadratic per-key point×interval blow-up);
  // the DuckDB oracle is the plain inequality join.

  private val RangeWindowUs = 7200000000L // 2 hours

  private val qRangeJoinDuck: String =
    s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type FROM events),
       |p AS (SELECT event_id AS purchase_id, user_id, us AS start_us,
       |    us + $RangeWindowUs AS end_us FROM e WHERE event_type = 'purchase'),
       |x AS (SELECT event_id AS error_id, user_id, us AS error_us FROM e WHERE event_type = 'error')
       |SELECT x.user_id, p.purchase_id, x.error_id, x.error_us, p.start_us
       |FROM p JOIN x ON p.user_id = x.user_id
       |  AND x.error_us BETWEEN p.start_us AND p.end_us""".stripMargin

  private val qRangeJoinSpark: (SparkSession, String) => DataFrame = (s, dir) => {
    registerViews(s, dir)
    val e = eventsUs(s, dir)
    val intervals = e.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("us").as("start_us"), (col("us") + RangeWindowUs).as("end_us"))
    val points = e.where(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"), col("us").as("error_us"))
    graft.operators.RangeJoin.pointInInterval(points, intervals, Seq("user_id"),
      "error_us", "start_us", "end_us", binWidth = RangeWindowUs)
      .select("user_id", "purchase_id", "error_id", "error_us", "start_us")
  }

  // ---- sequence packing (token-budget bins for training batches) -----------

  val PackBudget = 2048L

  private val qPackSequencesDuck: String =
    s"""WITH t AS (SELECT doc_id, lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
       |p AS (SELECT doc_id, lang, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS bf
       |  FROM t)
       |SELECT doc_id, lang, n_tokens,
       |  bf // $PackBudget AS bin_id, bf % $PackBudget AS bin_offset
       |FROM p""".stripMargin

  private val qPackSequencesSpark: (SparkSession, String) => DataFrame = (s, dir) => {
    registerViews(s, dir)
    val docs = s.table("documents").select(col("doc_id"), col("lang"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    graft.operators.Packing.packSequences(docs, "doc_id", "n_tokens",
      PackBudget, Seq("lang"))
  }

  // ---- multimodal queries (documents text bytes as stand-in media) ---------
  //
  // The Spark side exercises the REAL plumbing — binary content column,
  // Dataset[MediaAsset] encoder, mapPartitions decode (Multimodal
  // .extractMeta / extractFeatures). FakeCodec derives properties from
  // the md5-prefix of the bytes, so the oracle reproduces them from
  // md5(text) (content = UTF-8 bytes of text).

  private val mediaAssetsSparkSql: String =
    """SELECT doc_id AS asset_id,
      |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |  CAST(text AS BINARY) AS content
      |FROM documents""".stripMargin

  private val qMediaMetaDuck: String =
    """WITH a AS (SELECT doc_id AS asset_id,
      |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |    text FROM documents),
      |h AS (SELECT asset_id, media_type,
      |    ('0x' || substr(md5(text), 1, 7))::BIGINT AS h,
      |    octet_length(encode(text)) AS bs FROM a)
      |SELECT asset_id, media_type, CAST(bs AS BIGINT) AS byte_size,
      |  CAST(64 + h % 1024 AS INTEGER) AS width,
      |  CAST(64 + (h // 1024) % 1024 AS INTEGER) AS height,
      |  CAST(CASE WHEN media_type = 'image' THEN 0 ELSE 1000 + h % 600000 END AS BIGINT) AS duration_ms,
      |  CASE media_type WHEN 'image' THEN (CASE WHEN h % 2 = 0 THEN 'png' ELSE 'jpeg' END)
      |       WHEN 'audio' THEN 'wav' ELSE 'mp4' END AS format
      |FROM h""".stripMargin

  private val qMediaFeaturesDuck: String =
    """WITH h AS (SELECT doc_id AS asset_id,
      |    ('0x' || substr(md5(text), 1, 7))::BIGINT AS h FROM documents)
      |SELECT asset_id,
      |  CAST((h * 31) % 1000 AS BIGINT) AS f0,
      |  CAST((h * 32) % 1000 AS BIGINT) AS f1,
      |  CAST((h * 33) % 1000 AS BIGINT) AS f2,
      |  CAST((h * 34) % 1000 AS BIGINT) AS f3
      |FROM h""".stripMargin

  // ---- streaming query with a batch oracle ---------------------------------
  //
  // A REAL Structured Streaming job, driver-verified: the events table
  // is consumed through the file stream source with Trigger.AvailableNow
  // into a windowed aggregation; once the bounded stream drains, the
  // final state must equal the batch (DuckDB) group-by — the
  // batch/streaming unification contract.

  /** Run `body` with a temporarily reduced shuffle-partition count.
    * Each stateful streaming operator keeps one state store PER shuffle
    * partition PER micro-batch (a stream-stream join keeps FOUR per
    * partition), and at verification scale the per-store fixed cost
    * (HDFS-backed provider files, snapshots, commit syncs) dwarfs the
    * actual data — the state machine is identical at any partition
    * count, so results don't change. A production stream sizes this to
    * its key cardinality; the drain here sizes it to its state count. */
  private def withStreamShuffle[T](s: SparkSession, n: Int = 4)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  private def qStreamCountsSpark: (SparkSession, String) => DataFrame =
    (s, dir) => withStreamShuffle(s) {
      registerViews(s, dir) // sets nanosAsLong + UTC before any schema read
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      // glob form: the file source derives basePath from the non-glob
      // prefix, which must be a directory (the table is a single file)
      val agg = s.readStream.schema(schema).parquet(s"$dir/events.parque*")
        .selectExpr(s"${eventTsSql(s, dir)} AS ets", "event_type")
        .withWatermark("ets", "1 hour")
        .groupBy(window(col("ets"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_micros(col("window.start")).as("window_us"),
          col("event_type"), col("n_events"))
      val name = "stream_counts_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name)
    }

  private val qStreamCountsDuck: String =
    """SELECT epoch_us(date_trunc('hour', ts)) AS window_us, event_type,
      |  COUNT(*) AS n_events
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Streaming exact dedup, driver-verified: watermarked
    * `dropDuplicates` over the event stream emitting the distinct key
    * set (keys only — first-arrival payloads would be
    * partition-order-dependent; the key SET is deterministic). Once the
    * bounded stream drains, it must equal the batch DISTINCT. */
  private def qStreamDedupSpark: (SparkSession, String) => DataFrame =
    (s, dir) => withStreamShuffle(s) {
      registerViews(s, dir)
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val distinctKeys = s.readStream.schema(schema).parquet(s"$dir/events.parque*")
        .selectExpr(s"${eventTsSql(s, dir)} AS ets", "user_id", "event_type")
        .withWatermark("ets", "1 hour")
        .dropDuplicates("user_id", "event_type")
        .select("user_id", "event_type")
      val name = "stream_dedup_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = distinctKeys.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name)
    }

  private val qStreamDedupDuck: String =
    "SELECT DISTINCT user_id, event_type FROM events"

  /** Continuous-ingestion dedup vs a static prior corpus,
    * driver-verified: the doc stream drains through the bloom-prefilter
    * + stream-static anti-join and must equal the batch content
    * anti-join (same construction as q_dedup_incremental). */
  private def qStreamDedupPriorSpark: (SparkSession, String) => DataFrame =
    (s, dir) => withStreamShuffle(s) {
      registerViews(s, dir)
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val docs = s.table("documents")
      val prior = docs.where(col("doc_id") % 3 =!= 0).select("text")
        .unionByName(docs.where(col("doc_id") % 6 === 0).select("text"))
      val batchStream = s.readStream.schema(schema)
        .parquet(s"$dir/documents.parque*")
        .where(col("doc_id") % 3 === 0)
        .select("doc_id", "lang", "source", "text")
      val out = graft.streaming.StreamingOps
        .streamDedupAgainstCorpus(batchStream, prior, "text")
        .select("doc_id", "lang", "source")
      val name = "stream_dedup_prior_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name)
    }

  /** Stream-stream interval join, driver-verified: views joined to the
    * same user's clicks within the following hour, both sides consumed
    * as watermarked streams; after the AvailableNow drain the result
    * must equal the batch interval join — the stream-stream state
    * machine (buffer + watermark eviction) reduced to the batch
    * semantics it promises. */
  private def qStreamJoinSpark: (SparkSession, String) => DataFrame =
    (s, dir) => withStreamShuffle(s) {
      registerViews(s, dir)
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      def src = s.readStream.schema(schema).parquet(s"$dir/events.parque*")
      val views = src.where(col("event_type") === "view")
        .selectExpr("user_id", "event_id AS view_event",
          s"${eventTsSql(s, dir)} AS view_ts")
      val clicks = src.where(col("event_type") === "click")
        .selectExpr("user_id AS c_user_id", "event_id AS click_event",
          s"${eventTsSql(s, dir)} AS click_ts")
      val joined = graft.streaming.StreamingOps.intervalJoin(
          views, clicks, "user_id", "c_user_id", "view_ts", "click_ts",
          maxSpan = "1 hour", watermark = "1 hour")
        .select(col("user_id"), col("view_event"),
          unix_micros(col("view_ts")).as("view_us"),
          col("click_event"), unix_micros(col("click_ts")).as("click_us"))
      val name = "stream_join_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name)
    }

  private val qStreamJoinDuck: String =
    """SELECT v.user_id, v.event_id AS view_event, epoch_us(v.ts) AS view_us,
      |  c.event_id AS click_event, epoch_us(c.ts) AS click_us
      |FROM events v JOIN events c ON v.user_id = c.user_id
      |  AND v.event_type = 'view' AND c.event_type = 'click'
      |  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR""".stripMargin

  /** Stream-static broadcast enrichment, driver-verified: the event
    * stream joins the static customer dimension per micro-batch (dim
    * broadcast — the stream side never shuffles, no state store at
    * all); after the AvailableNow drain the enriched rows must equal
    * the batch join. The stateless sibling of q_stream_join. */
  private def qStreamStaticJoinSpark: (SparkSession, String) => DataFrame =
    (s, dir) => withStreamShuffle(s) {
      registerViews(s, dir)
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val ev = s.readStream.schema(schema).parquet(s"$dir/events.parque*")
        .select(col("event_id"), col("user_id"), col("event_type"))
      val dim = s.table("customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
      val out = graft.streaming.StreamingOps
        .enrichWithDim(ev, dim, col("user_id") === col("c_custkey"))
        .select("event_id", "user_id", "event_type",
          "c_mktsegment", "c_nationkey")
      val name = "stream_static_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name)
    }

  private val qStreamStaticJoinDuck: String =
    """SELECT e.event_id, e.user_id, e.event_type,
      |  c.c_mktsegment, c.c_nationkey
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey""".stripMargin

  /** Stateful streaming sessionization (flatMapGroupsWithState),
    * driver-verified: drain the bounded event stream with a 0-second
    * watermark and 30-minute gap; the emitted CLOSED sessions must
    * equal the batch gap-window sessions that are closed at drain —
    * i.e. every session except, per user, a final one whose
    * event-time timeout (`end + gap`, ms-truncated as GroupState
    * timeouts are) has not fallen STRICTLY below the final watermark
    * (= ms-truncated max event time; timeouts fire when the watermark
    * advances beyond the set timestamp).
    *
    * The zero watermark is verification-only: it is exact because the
    * single-file AvailableNow drain is ONE micro-batch (no event can
    * arrive behind the watermark). A production stream sets a real
    * delay, under which the operator's widen-don't-regress late
    * branch applies. */
  private def qStreamSessionizeSpark: (SparkSession, String) => DataFrame =
    (s, dir) => withStreamShuffle(s) {
      registerViews(s, dir)
      import s.implicits._
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val ev = s.readStream.schema(schema).parquet(s"$dir/events.parque*")
        .selectExpr("user_id", s"${eventTsSql(s, dir)} AS ts",
          s"${eventEpochUsSql(s, dir)} AS event_us")
        .as[(Long, java.sql.Timestamp, Long)]
      val sess = graft.streaming.StreamingOps.streamingSessionize(
        ev, gapUs = SessionGapUs, watermark = "0 seconds")
      val name = "stream_sess_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = sess.toDF().writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name)
    }

  val SessionGapUs: Long = 1800000000L // 30 min

  private val qStreamSessionizeDuck: String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
       |m AS (SELECT user_id, us,
       |    CASE WHEN LAG(us) OVER w IS NULL OR us - LAG(us) OVER w > $SessionGapUs
       |         THEN 1 ELSE 0 END AS new_s
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
       |s AS (SELECT user_id, us,
       |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
       |  FROM m),
       |g AS (SELECT user_id, sess,
       |    MIN(us) AS session_start_us, MAX(us) AS session_end_us,
       |    CAST(COUNT(*) AS BIGINT) AS n_events
       |  FROM s GROUP BY user_id, sess),
       |lastg AS (SELECT user_id, MAX(sess) AS last_sess FROM g GROUP BY user_id),
       |mx AS (SELECT MAX(us) AS maxus FROM e)
       |SELECT g.user_id, g.session_start_us, g.session_end_us, g.n_events
       |FROM g JOIN lastg ON g.user_id = lastg.user_id, mx
       |WHERE g.sess < lastg.last_sess
       |   OR (g.session_end_us + $SessionGapUs) // 1000 < mx.maxus // 1000""".stripMargin

  /** Incremental read, driver-verified END-TO-END through the real
    * Delta layer: write orders in two transactional commits to a
    * scratch table, then `readChanges(0)` must return exactly the
    * second commit's rows (the oracle recomputes that slice from the
    * source parquet). */
  private def qReadChangesSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_rc_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      val base = s.table("orders").select("o_orderkey", "o_custkey", "o_totalprice")
      graft.delta.TransactionWriter.overwrite(log, base.where(col("o_orderkey") % 2 === 0))
      graft.delta.TransactionWriter.append(log, base.where(col("o_orderkey") % 2 === 1))
      log.readChanges(0L)
    }

  private val qReadChangesDuck: String =
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 1"

  /** Deletion-vector DELETE, driver-verified END-TO-END through the
    * real Delta layer: write documents to a scratch table, run two
    * DV deletes (the second merges bitmaps into the first's), read the
    * table back through the DV-filtered scan. The oracle recomputes the
    * surviving set from the source parquet. */
  private def qDeleteDvSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_dv_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      graft.delta.TransactionWriter.overwrite(log,
        s.table("documents").select(col("doc_id"), col("lang"), col("text")))
      graft.delta.Mutations.deleteWithDv(log, col("doc_id") % 7 === 0)
      graft.delta.Mutations.deleteWithDv(log, col("doc_id") % 11 === 0)
      log.snapshot.read()
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("len"))
    }

  /** Column-mapping schema surgery, driver-verified END-TO-END: write
    * documents to a scratch name-mode mapped Delta table, RENAME
    * n_chars → size_chars and DROP lang — both pure metadata commits
    * (zero file rewrites: data files keep their physical `col-<uuid>`
    * names; only the logical mapping changes), then read the table
    * back through the mapping and aggregate. The oracle recomputes the
    * aggregate from the source parquet under the NEW names, so a
    * mapping bug anywhere in write/rename/drop/read fails the hash. */
  private def qRenameReadSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_cm_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      graft.delta.TransactionWriter.overwrite(log,
        s.table("documents").select(col("doc_id"), col("lang"),
          col("source"), col("n_chars")),
        configuration = Map("delta.columnMapping.mode" -> "name"))
      graft.delta.SchemaEvolution.renameColumn(log, "n_chars", "size_chars")
      graft.delta.SchemaEvolution.dropColumn(log, "lang")
      log.snapshot.read()
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("size_chars").as("sum_chars"))
    }

  private val qRenameReadDuck: String =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY source""".stripMargin

  /** In-place type widening, driver-verified END-TO-END: write a table
    * whose measure column is INT32, widen it to BIGINT (a metadata-only
    * commit — existing files keep their narrow physical type), append
    * values that only fit in 64 bits, and aggregate across the mixed
    * narrow+wide files. A read path that ignored the widened logical
    * type (or rewrote/mis-cast the old files) fails the hash. */
  private def qWidenReadSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_widen_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      graft.delta.TransactionWriter.overwrite(log,
        s.table("documents").select(col("doc_id"), col("source"),
          col("n_chars").cast("int").as("chars")))
      graft.delta.Maintenance.widenColumnType(log, "chars", "bigint")
      graft.delta.TransactionWriter.append(log,
        s.table("documents").select((col("doc_id") + 1000000L).as("doc_id"),
          col("source"), (col("n_chars") * 1000000L).as("chars")))
      log.snapshot.read()
        .groupBy("source")
        .agg(count(lit(1)).as("n_rows"), sum("chars").as("sum_chars"))
    }

  private val qWidenReadDuck: String =
    """WITH u AS (SELECT source, CAST(n_chars AS BIGINT) AS c FROM documents
      |  UNION ALL SELECT source, n_chars * 1000000 FROM documents)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(c) AS BIGINT) AS sum_chars
      |FROM u GROUP BY source""".stripMargin

  /** GRAFT SQL surface, driver-verified END-TO-END: write a scratch
    * lang-partitioned table (repartitioned by lang first, so each
    * partition directory holds exactly one file, making numFiles
    * deterministic), then run `GRAFT SHOW PARTITIONS` — the log-plane
    * inventory — through the SAME parser + command body the injected
    * SQL extension executes. sizeInBytes is excluded (parquet byte
    * counts are environment-dependent); partition string, file count
    * and stats-derived row count must match the oracle. */
  private def qShowPartitionsSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_showp_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      graft.delta.TransactionWriter.overwrite(log,
        s.table("documents").select(col("doc_id"), col("lang"), col("text"))
          .repartition(col("lang")),
        partitionBy = Some(Seq("lang")))
      graft.plans.GraftSqlParser.run(s, s"GRAFT SHOW PARTITIONS '$tmp'")
        .select("partition", "numFiles", "numRecords")
    }

  private val qShowPartitionsDuck: String =
    """SELECT 'lang=' || lang AS partition, CAST(1 AS BIGINT) AS numFiles,
      |  CAST(COUNT(*) AS BIGINT) AS numRecords
      |FROM documents GROUP BY lang""".stripMargin

  /** RESTORE, driver-verified END-TO-END: write documents, mangle the
    * table twice (a DV delete and an UPDATE through GRAFT SQL), then
    * `GRAFT RESTORE TO VERSION 0` and read — the result must equal the
    * ORIGINAL write, i.e. the restore diff must re-add every file whose
    * content OR deletion-vector state changed since v0 and remove
    * everything newer. The oracle is simply the source table. */
  private def qRestoreReadSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_restore_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      graft.delta.TransactionWriter.overwrite(log,
        s.table("documents").select(col("doc_id"), col("lang"),
          col("n_chars")))
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT DELETE FROM '$tmp' USING DV WHERE doc_id % 5 = 0").collect()
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT UPDATE '$tmp' SET n_chars = n_chars + 1 WHERE doc_id % 3 = 0")
        .collect()
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT RESTORE '$tmp' TO VERSION 0").collect()
      graft.delta.DeltaLog.forPath(s, tmp).snapshot.read()
    }

  private val qRestoreReadDuck: String =
    "SELECT doc_id, lang, n_chars FROM documents"

  /** VACUUM, driver-verified END-TO-END: a targeted-rewrite delete
    * leaves the superseded files ON DISK (removed only from the log);
    * `GRAFT VACUUM RETAIN 0 HOURS` must reclaim exactly those — and
    * must NOT touch live files, which the post-vacuum read proves by
    * matching the expected surviving rows. */
  private def qVacuumReadSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_vacuum_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      graft.delta.TransactionWriter.overwrite(log,
        s.table("documents").select(col("doc_id"), col("source"),
          col("n_chars")))
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT DELETE FROM '$tmp' WHERE doc_id % 4 = 1").collect()
      val reclaimed = graft.plans.GraftSqlParser.run(s,
        s"GRAFT VACUUM '$tmp' RETAIN 0 HOURS").collect().head.getLong(0)
      require(reclaimed > 0, s"vacuum reclaimed nothing at $tmp")
      graft.delta.DeltaLog.forPath(s, tmp).snapshot.read()
        .groupBy("source")
        .agg(count(lit(1)).as("n_rows"), sum("n_chars").as("sum_chars"))
    }

  private val qVacuumReadDuck: String =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE doc_id % 4 <> 1 GROUP BY source""".stripMargin

  /** Ordered funnel (view → click → purchase) with earliest-completion
    * semantics: stage k counts users with a stage-k event STRICTLY
    * after their earliest stage-(k−1) completion. Epoch-µs int64
    * comparisons throughout. */
  private def qFunnelSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val ev = s.table("events").selectExpr("user_id",
        s"${eventEpochUsSql(s, dir)} AS ets", "event_type")
      graft.operators.Funnel.funnelCounts(
        ev, "user_id", "ets", "event_type",
        Seq("view", "click", "purchase"))
    }

  private val qFunnelDuck: String =
    """WITH s1 AS (SELECT user_id, MIN(epoch_us(ts)) AS t FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t
      |  FROM events e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t
      |  GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t
      |  FROM events e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t
      |  GROUP BY e.user_id)
      |SELECT CAST(1 AS BIGINT) AS stage, 'view' AS step,
      |  CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
      |UNION ALL SELECT CAST(2 AS BIGINT), 'click',
      |  CAST(COUNT(*) AS BIGINT) FROM s2
      |UNION ALL SELECT CAST(3 AS BIGINT), 'purchase',
      |  CAST(COUNT(*) AS BIGINT) FROM s3""".stripMargin

  /** Triangle participation over the supplier co-occurrence graph:
    * suppliers adjacent when they serve the same order ≥ 5 times
    * (the threshold is the graph-sparsification knob every
    * co-occurrence projection needs — without it the projection of a
    * dense bipartite table is near-complete), triangles via the
    * ordered wedge-closure joins — every count integer-exact, oracle
    * replays the identical construction. */
  private def qTrianglesSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val si = s.table("lineitem").select("l_orderkey", "l_suppkey").distinct()
      val pairs = si.as("x").join(si.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .groupBy(col("x.l_suppkey").as("a"), col("y.l_suppkey").as("b"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") >= 5)
      graft.operators.Triangles.perNode(pairs, "a", "b")
    }

  private val qTrianglesDuck: String =
    """WITH si AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      |p AS (SELECT x.l_suppkey AS a, y.l_suppkey AS b, COUNT(*) AS n
      |  FROM si x JOIN si y ON x.l_orderkey = y.l_orderkey
      |    AND x.l_suppkey < y.l_suppkey
      |  GROUP BY 1, 2),
      |e AS (SELECT a, b FROM p WHERE n >= 5),
      |t AS (SELECT e1.a, e1.b, e2.b AS c FROM e e1
      |  JOIN e e2 ON e1.b = e2.a
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |u AS (SELECT unnest([a, b, c]) AS node FROM t)
      |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
      |FROM u GROUP BY node""".stripMargin

  /** k-core of the supplier co-occurrence graph (threshold 25 — sparse
    * enough that peeling at k=25 takes several rounds), in the
    * BOUNDED-ROUND replayable mode: both engines run exactly 12 peel
    * rounds (≥ the fixpoint depth here; extra rounds are no-ops), so
    * the result is the true k-core and the oracle is 12 unrolled
    * relational steps. Production use runs KCore's fixpoint mode. */
  private def qKCoreSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val si = s.table("lineitem").select("l_orderkey", "l_suppkey").distinct()
      val pairs = si.as("x").join(si.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .groupBy(col("x.l_suppkey").as("a"), col("y.l_suppkey").as("b"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") >= 25)
      graft.operators.KCore.core(pairs, "a", "b", k = 25, rounds = Some(12))
    }

  private val qKCoreDuck: String = {
    // every CTE is MATERIALIZED: DuckDB inlines CTEs by default, and
    // a_i referencing a_{i-1} twice would re-expand the whole lineitem
    // subtree 2^12 times (observed as fd exhaustion, not just cost)
    val head =
      """WITH si AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |p AS MATERIALIZED (SELECT x.l_suppkey AS a, y.l_suppkey AS b, COUNT(*) AS n
        |  FROM si x JOIN si y ON x.l_orderkey = y.l_orderkey
        |    AND x.l_suppkey < y.l_suppkey
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (SELECT a, b FROM p WHERE n >= 25),
        |u AS MATERIALIZED (SELECT a AS s, b AS d FROM e UNION ALL SELECT b, a FROM e),
        |a0 AS MATERIALIZED (SELECT DISTINCT s AS node FROM u),""".stripMargin
    val rounds = (1 to 12).map(i =>
      s"a$i AS MATERIALIZED (SELECT u.s AS node FROM u JOIN a${i - 1} x ON u.s = x.node " +
        s"JOIN a${i - 1} y ON u.d = y.node GROUP BY u.s HAVING COUNT(*) >= 25)")
      .mkString(",\n")
    s"$head\n$rounds\nSELECT CAST(node AS BIGINT) AS node FROM a12"
  }

  /** The conversion-window funnel: same stages, but each step must
    * land within ONE HOUR of SOME feasible previous-stage event — the
    * product metric ("clicked within an hour of viewing, purchased
    * within an hour of that"). Existential semantics: a user whose
    * converting chain hangs off a LATER view still counts (the greedy
    * earliest-anchor variant would drop them). The oracle replays the
    * identical per-event feasibility DP with window functions. */
  private def qFunnelWindowedSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val ev = s.table("events").selectExpr("user_id",
        s"${eventEpochUsSql(s, dir)} AS ets", "event_type")
      graft.operators.Funnel.funnelCounts(
        ev, "user_id", "ets", "event_type",
        Seq("view", "click", "purchase"), maxSpanUs = Some(3600000000L))
    }

  private val qFunnelWindowedDuck: String =
    """WITH ev AS (SELECT user_id AS u, epoch_us(ts) AS t, event_type AS et
      |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      |d1 AS (SELECT u, t, et,
      |  CASE WHEN et = 'view' THEN t END AS f1 FROM ev),
      |d2 AS (SELECT u, t, et,  f1,
      |  CASE WHEN et = 'click' AND MAX(f1) OVER (PARTITION BY u ORDER BY t
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      >= t - 3600000000 THEN t END AS f2 FROM d1),
      |d3 AS (SELECT u, f1, f2,
      |  CASE WHEN et = 'purchase' AND MAX(f2) OVER (PARTITION BY u ORDER BY t
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      >= t - 3600000000 THEN t END AS f3 FROM d2),
      |g AS (SELECT u,
      |  MAX(CASE WHEN f1 IS NOT NULL THEN 1 ELSE 0 END) AS h1,
      |  MAX(CASE WHEN f2 IS NOT NULL THEN 1 ELSE 0 END) AS h2,
      |  MAX(CASE WHEN f3 IS NOT NULL THEN 1 ELSE 0 END) AS h3
      |  FROM d3 GROUP BY u)
      |SELECT CAST(1 AS BIGINT) AS stage, 'view' AS step,
      |  CAST(SUM(h1) AS BIGINT) AS n_users FROM g
      |UNION ALL SELECT CAST(2 AS BIGINT), 'click',
      |  CAST(SUM(h2) AS BIGINT) FROM g
      |UNION ALL SELECT CAST(3 AS BIGINT), 'purchase',
      |  CAST(SUM(h3) AS BIGINT) FROM g""".stripMargin

  /** Day-grain retention cohorts: users cohorted by first-signup day,
    * counted per (cohort day, day offset ≤ 7) when active with ANY
    * event — integer epoch-µs DIV day, engine-exact. */
  private def qRetentionSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val ev = s.table("events").selectExpr("user_id",
        s"${eventEpochUsSql(s, dir)} AS ets", "event_type")
      graft.operators.Funnel.retentionCohorts(
        ev, "user_id", "ets", "event_type", cohortType = "signup",
        maxOffset = 7)
    }

  private val qRetentionDuck: String =
    """WITH c AS (SELECT user_id, MIN(epoch_us(ts)) // 86400000000 AS cohort_day
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d
      |  FROM events),
      |j AS (SELECT c.cohort_day, a.d - c.cohort_day AS k
      |  FROM a JOIN c ON a.user_id = c.user_id
      |  WHERE a.d - c.cohort_day BETWEEN 0 AND 7)
      |SELECT CAST(cohort_day AS BIGINT) AS cohort_day, CAST(k AS BIGINT) AS k,
      |  CAST(COUNT(*) AS BIGINT) AS n_users
      |FROM j GROUP BY cohort_day, k""".stripMargin

  /** Last-touch attribution: each purchase attributes to the user's
    * latest click no more than one hour earlier — an [[AsOfJoin]]
    * application (backward direction, tolerance) rolled up per day:
    * (day, n_purchases, n_attributed, summed click→purchase latency).
    * The day-level left join keeps unattributed purchases countable
    * without any row-level re-join (duplicate (user, ts) purchases
    * stay independent rows through the as-of carry-forward). */
  private def qAttributionSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val ev = s.table("events").selectExpr("user_id",
        s"${eventEpochUsSql(s, dir)} AS ets", "event_type")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ets").as("pus"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ets").as("cus"))
      val att = graft.operators.AsOfJoin.asOf(
        purchases, clicks, Seq("user_id"), "pus", "cus",
        valueCols = Nil, direction = "backward",
        tolerance = Some(lit(3600000000L)))
      val pd = purchases
        .groupBy(expr("pus DIV 86400000000L").as("day"))
        .agg(count(lit(1)).as("n_purchases"))
      val ad = att
        .select(expr("pus DIV 86400000000L").as("day"),
          (col("pus") - col("asof_cus")).as("__lat"))
        .groupBy("day")
        .agg(count(lit(1)).as("__na"), sum(col("__lat")).as("__sl"))
      pd.join(ad, Seq("day"), "left")
        .select(col("day"), col("n_purchases"),
          coalesce(col("__na"), lit(0L)).as("n_attributed"),
          coalesce(col("__sl"), lit(0L)).as("sum_latency_us"))
    }

  private val qAttributionDuck: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
      |p AS (SELECT user_id, us AS pus FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, us AS cus FROM e WHERE event_type = 'click'),
      |a AS (SELECT p.user_id, p.pus,
      |  (SELECT MAX(c.cus) FROM c WHERE c.user_id = p.user_id
      |     AND c.cus <= p.pus AND c.cus + 3600000000 >= p.pus) AS acus
      |  FROM p)
      |SELECT pus // 86400000000 AS day,
      |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
      |  CAST(SUM(CASE WHEN acus IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_attributed,
      |  CAST(COALESCE(SUM(pus - acus), 0) AS BIGINT) AS sum_latency_us
      |FROM a GROUP BY day""".stripMargin

  /** Top-25 session paths ("view>click>purchase"): 30-min-gap
    * sessionization, ordered event-type sequence per session, path
    * frequency. Ties at the LIMIT boundary break on the path string —
    * a total order both engines replay. */
  private def qSessionPathsSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val ev = s.table("events").selectExpr("user_id",
        s"${eventEpochUsSql(s, dir)} AS ets", "event_type")
      graft.operators.Funnel.sessionPaths(
        ev, "user_id", "ets", "event_type",
        gapUs = 1800000000L, topK = 25)
    }

  private val qSessionPathsDuck: String =
    """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t, event_type AS et
      |  FROM events),
      |m AS (SELECT u, t, et,
      |  CASE WHEN LAG(t) OVER (PARTITION BY u ORDER BY t, et) IS NULL
      |         OR t - LAG(t) OVER (PARTITION BY u ORDER BY t, et) > 1800000000
      |       THEN 1 ELSE 0 END AS new_s FROM e),
      |s AS (SELECT u, t, et, SUM(new_s) OVER (PARTITION BY u ORDER BY t, et
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM m),
      |p AS (SELECT u, sess, string_agg(et, '>' ORDER BY t, et) AS path
      |  FROM s GROUP BY u, sess)
      |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
      |FROM p GROUP BY path
      |ORDER BY n_sessions DESC, path LIMIT 25""".stripMargin

  /** Recency-weighted engagement: per-user Σ 2^(30 − age_days), an
    * integer half-life-one-day decay (see Funnel.decayedEngagement) —
    * order-free int64, engine-exact. */
  private def qDecayEngagementSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val ev = s.table("events").selectExpr("user_id",
        s"${eventEpochUsSql(s, dir)} AS ets", "event_type")
      graft.operators.Funnel.decayedEngagement(
        ev, "user_id", "ets", horizonDays = 30)
    }

  private val qDecayEngagementDuck: String =
    """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t FROM events),
      |mx AS (SELECT MAX(t) AS m FROM e),
      |w AS (SELECT u, (m - t) // 86400000000 AS age
      |  FROM e CROSS JOIN mx WHERE (m - t) // 86400000000 <= 30)
      |SELECT u AS user,
      |  CAST(SUM(1::BIGINT << CAST(30 - age AS INT)) AS BIGINT) AS score,
      |  CAST(COUNT(*) AS BIGINT) AS n_events_in_horizon
      |FROM w GROUP BY u""".stripMargin

  /** Cross-document 8-gram novelty (Curation.noveltyScore): per doc,
    * distinct word-8-grams and how many first appear in this doc
    * (first = min doc_id — order-free). Grams compare by their 60-bit
    * md5 hash in BOTH engines, so the hashed relation — not the n-word
    * strings — is what shuffles and what the oracle replays. */
  private def qNoveltySpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      graft.operators.Curation.noveltyScore(
        s.table("documents"), "doc_id", "text", n = 8)
    }

  private val qNoveltyDuck: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT DISTINCT doc_id,
      |    ('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15))::BIGINT AS gh
      |  FROM t, unnest(range(1, len(w) - 6)) AS r(i)
      |  WHERE len(w) >= 8),
      |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
      |  FROM g GROUP BY doc_id),
      |f AS (SELECT gh, MIN(doc_id) AS first_doc FROM g GROUP BY gh),
      |nv AS (SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel
      |  FROM f GROUP BY first_doc)
      |SELECT pd.doc_id, pd.n_grams,
      |  CAST(COALESCE(nv.n_novel, 0) AS BIGINT) AS n_novel
      |FROM pd LEFT JOIN nv USING (doc_id)""".stripMargin

  /** Token-distribution entropy per doc in fixed point (see
    * Curation.tokenEntropy): per-token terms floor-quantized BEFORE
    * the doc sum — pure int64, engine-exact. */
  private def qEntropySpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      graft.operators.Curation.tokenEntropy(
        s.table("documents"), "doc_id", "text")
    }

  private val qEntropyDuck: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
      |  FROM documents),
      |c AS (SELECT doc_id, tk, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM tok GROUP BY doc_id, tk),
      |n AS (SELECT doc_id, c,
      |  SUM(c) OVER (PARTITION BY doc_id) AS n FROM c),
      |s AS (SELECT doc_id, n,
      |  c * CAST(floor(-1e6 * ln(c::DOUBLE / n::DOUBLE)) AS BIGINT) AS term
      |  FROM n)
      |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
      |  CAST(SUM(term) // MAX(n) AS BIGINT) AS entropy_e6
      |FROM s GROUP BY doc_id""".stripMargin

  /** Deterministic weighted sample (Efraimidis–Spirakis exponential
    * race, Curation.weightedSample): 100 docs drawn proportional to
    * n_chars, the selection keys replayed bit-for-bit by the oracle. */
  private def qWeightedSampleSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      graft.operators.Curation.weightedSample(
        s.table("documents"), "doc_id", "n_chars", k = 100)
    }

  private val qWeightedSampleDuck: String =
    """WITH h AS (SELECT doc_id, n_chars,
      |    ('0x' || substr(md5('ws|' || doc_id::VARCHAR), 1, 15))::BIGINT AS h
      |  FROM documents WHERE n_chars > 0)
      |SELECT doc_id, n_chars,
      |  CAST(floor((-ln((h + 1)::DOUBLE / 1152921504606846976.0)) * 1e12
      |    / n_chars::DOUBLE) AS BIGINT) AS key_e12
      |FROM h ORDER BY key_e12, doc_id LIMIT 100""".stripMargin

  /** Persistent catalog round-trip, driver-verified END-TO-END: write
    * a scratch Delta table, GRAFT REGISTER it under a (per-process)
    * name, read it back BY NAME through the session catalog (the
    * graftdelta DataSourceV2 path), aggregate, and unregister. A bug
    * anywhere in register → catalog entry → name-addressed read fails
    * the hash. */
  private def qCatalogReadSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_cat_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      graft.delta.TransactionWriter.overwrite(log,
        s.table("documents").select(col("doc_id"), col("lang"),
          col("n_chars")))
      val name = s"graft_cat_q_${ProcessHandle.current().pid()}"
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REGISTER TABLE $name LOCATION '$tmp'").collect()
      val out = s.table(name)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        // materialize BEFORE unregistering (the plan resolves lazily)
        .localCheckpoint(true)
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT UNREGISTER TABLE $name").collect()
      out
    }

  private val qCatalogReadDuck: String =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang""".stripMargin

  /** OPTIMIZE compaction, driver-verified END-TO-END: write documents
    * as 32 deliberately small files, compact, and emit the log-plane
    * file count alongside the content aggregate — proving both that
    * the bin-packing produced the single expected file AND that no row
    * was lost or duplicated by the rewrite. */
  private def qOptimizeReadSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_opt_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      graft.delta.TransactionWriter.overwrite(log,
        s.table("documents").select(col("doc_id"), col("n_chars"))
          .repartition(32))
      graft.plans.GraftSqlParser.run(s, s"GRAFT OPTIMIZE '$tmp'").collect()
      val snap = graft.delta.DeltaLog.forPath(s, tmp).snapshot
      val nFiles = snap.addsFlat.count()
      snap.read().agg(
        lit(nFiles).as("num_files"),
        count(lit(1)).as("n_rows"),
        sum("n_chars").as("sum_chars"))
    }

  private val qOptimizeReadDuck: String =
    """SELECT CAST(1 AS BIGINT) AS num_files,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents""".stripMargin

  /** Z-order clustering, driver-verified END-TO-END (the ZORDER path
    * previously had only demo coverage): same harness as
    * q_hilbert_read — scatter, GRAFT OPTIMIZE ZORDER BY, prove no row
    * was lost/duplicated plus the log-plane file count. */
  private def qZorderReadSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_zrd_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      graft.delta.TransactionWriter.overwrite(log,
        s.table("documents").select(col("doc_id"), col("n_chars"))
          .repartition(16, expr("hash(doc_id)")))
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT OPTIMIZE '$tmp' ZORDER BY (doc_id, n_chars)").collect()
      val snap = graft.delta.DeltaLog.forPath(s, tmp).snapshot
      val nFiles = snap.addsFlat.count()
      snap.read().agg(
        lit(nFiles).as("num_files"),
        count(lit(1)).as("n_rows"),
        sum("n_chars").as("sum_chars"))
    }

  /** Hilbert clustering, driver-verified END-TO-END: documents land in
    * a scratch table scattered over 16 files, GRAFT OPTIMIZE HILBERT BY
    * re-clusters on (doc_id, n_chars), and the gate proves no row was
    * lost/duplicated plus the log-plane file count (compacted to 1 at
    * this size). The layout-improvement property (tighter 2-D file
    * boxes → more files pruned) is asserted in HilbertSpec, where the
    * file count is held constant. */
  private def qHilbertReadSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_hlb_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      graft.delta.TransactionWriter.overwrite(log,
        s.table("documents").select(col("doc_id"), col("n_chars"))
          .repartition(16, expr("hash(doc_id)")))
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT OPTIMIZE '$tmp' HILBERT BY (doc_id, n_chars)").collect()
      val snap = graft.delta.DeltaLog.forPath(s, tmp).snapshot
      val nFiles = snap.addsFlat.count()
      snap.read().agg(
        lit(nFiles).as("num_files"),
        count(lit(1)).as("n_rows"),
        sum("n_chars").as("sum_chars"))
    }

  private val qHilbertReadDuck: String =
    """SELECT CAST(1 AS BIGINT) AS num_files,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents""".stripMargin

  /** 3-D Hilbert clustering (Skilling's d-dimensional transform),
    * driver-verified END-TO-END: lineitem's three join keys land
    * scattered over 16 files, GRAFT OPTIMIZE HILBERT BY re-clusters on
    * all THREE, and the gate proves no row was lost/duplicated plus
    * the log-plane file count. The 3-D-box pruning advantage over the
    * Z-order interleave is asserted in HilbertSpec at a held-constant
    * file count. */
  private def qHilbert3ReadSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_hlb3_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      graft.delta.TransactionWriter.overwrite(log,
        s.table("lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
          .repartition(16, expr("hash(l_orderkey, l_partkey, l_suppkey)")))
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT OPTIMIZE '$tmp' HILBERT BY (l_orderkey, l_partkey, l_suppkey)")
        .collect()
      val snap = graft.delta.DeltaLog.forPath(s, tmp).snapshot
      val nFiles = snap.addsFlat.count()
      snap.read().agg(
        lit(nFiles).as("num_files"),
        count(lit(1)).as("n_rows"),
        sum("l_partkey").as("sum_part"),
        sum("l_suppkey").as("sum_supp"))
    }

  private val qHilbert3ReadDuck: String =
    """SELECT CAST(1 AS BIGINT) AS num_files,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(l_partkey) AS BIGINT) AS sum_part,
      |  CAST(SUM(l_suppkey) AS BIGINT) AS sum_supp
      |FROM lineitem""".stripMargin

  /** INCREMENTAL clustering maintenance, driver-verified END-TO-END
    * (the 100 TB OPTIMIZE story): full HILBERT pass, ~10% append, then
    * `OPTIMIZE ... INCREMENTAL` — the gate proves via the LOG PLANE
    * that every previously-clustered file kept its add entry (at scale
    * that's the difference between rewriting the ingested delta and
    * rewriting the table), that every appended file was swapped for
    * curve-ordered replacements, and that no row was lost/duplicated
    * (the oracle recomputes the full content). */
  private def qClusterIncrementalSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_cli_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      val docs = s.table("documents").select(col("doc_id"), col("n_chars"))
      graft.delta.TransactionWriter.overwrite(log,
        docs.where(col("doc_id") % 10 =!= 0)
          .repartition(16, expr("hash(doc_id)")))
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT OPTIMIZE '$tmp' HILBERT BY (doc_id, n_chars)").collect()
      val clustered = graft.delta.DeltaLog.forPath(s, tmp).snapshot
        .planFiles().map(_.path).toSet
      graft.delta.TransactionWriter.append(log,
        docs.where(col("doc_id") % 10 === 0)
          .repartition(4, expr("hash(doc_id)")))
      val appended = graft.delta.DeltaLog.forPath(s, tmp).snapshot
        .planFiles().map(_.path).toSet -- clustered
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT OPTIMIZE '$tmp' HILBERT BY (doc_id, n_chars) INCREMENTAL")
        .collect()
      val snap = graft.delta.DeltaLog.forPath(s, tmp).snapshot
      val finalPaths = snap.planFiles().map(_.path).toSet
      val oldPreserved = clustered.subsetOf(finalPaths)
      val newRewritten = appended.nonEmpty &&
        appended.intersect(finalPaths).isEmpty
      snap.read().agg(
        lit(if (oldPreserved) 1L else 0L).as("old_files_preserved"),
        lit(if (newRewritten) 1L else 0L).as("appended_files_reclustered"),
        count(lit(1)).as("n_rows"),
        sum("n_chars").as("sum_chars"))
    }

  private val qClusterIncrementalDuck: String =
    """SELECT CAST(1 AS BIGINT) AS old_files_preserved,
      |  CAST(1 AS BIGINT) AS appended_files_reclustered,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents""".stripMargin

  /** Index-powered equi-join (dynamic FILE pruning), driver-verified
    * END-TO-END: the Bloom-indexed scratch fact joins a small dim
    * whose keys prune the fact's files BEFORE the scan
    * (BloomIndex.semiJoinRead) — the oracle replays the plain join, so
    * a filter that wrongly pruned a matching file fails the gate. */
  private def qBloomJoinSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_blj_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      val src = s.table("documents")
        .select(col("doc_id"), substring(md5(col("text")), 1, 16).as("fp"),
          col("n_chars"))
      graft.delta.TransactionWriter.overwrite(log,
        src.repartition(16, col("doc_id")))
      graft.delta.BloomIndex.build(log, "fp")
      val dim = s.table("documents").where(col("doc_id") % 101 === 0)
        .select(substring(md5(col("text")), 1, 16).as("dk"),
          col("doc_id").as("dim_id"))
      graft.delta.BloomIndex.semiJoinRead(
          graft.delta.DeltaLog.forPath(s, tmp), "fp", dim, "dk")
        .select("doc_id", "fp", "n_chars", "dk", "dim_id")
    }

  private val qBloomJoinDuck: String =
    """WITH f AS (SELECT doc_id, substr(md5(text), 1, 16) AS fp, n_chars
      |  FROM documents),
      |d AS (SELECT substr(md5(text), 1, 16) AS dk, doc_id AS dim_id
      |  FROM documents WHERE doc_id % 101 = 0)
      |SELECT f.doc_id, f.fp, f.n_chars, d.dk, d.dim_id
      |FROM f JOIN d ON f.fp = d.dk""".stripMargin

  /** GRAFT ANALYZE, driver-verified END-TO-END: documents land in a
    * scratch table whose write capped stats to ZERO indexed columns
    * (no min/max anywhere — the stats-less-legacy-table case), ANALYZE
    * backfills the stats log-only, and the gate reads THROUGH the
    * stats-pruned scan path — if the backfilled intervals were wrong,
    * rows would be skipped and the content hash would fail. Pruning
    * effectiveness itself is asserted in AnalyzeSpec. */
  private def qAnalyzeReadSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_anl_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      graft.delta.TransactionWriter.overwrite(log,
        s.table("documents").select(col("doc_id"), col("n_chars"))
          .repartitionByRange(8, col("n_chars")),
        configuration = Map("delta.dataSkippingNumIndexedCols" -> "0"))
      graft.plans.GraftSqlParser.run(s, s"GRAFT ANALYZE '$tmp'").collect()
      val snap = graft.delta.DeltaLog.forPath(s, tmp).snapshot
      graft.delta.Skipping.readWhere(snap, Seq(("n_chars", ">=", 2000L)))
        .agg(count(lit(1)).as("n_rows"), sum("n_chars").as("sum_chars"),
          min("n_chars").as("min_chars"))
    }

  private val qAnalyzeReadDuck: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(MIN(n_chars) AS BIGINT) AS min_chars
      |FROM documents WHERE n_chars >= 2000""".stripMargin

  /** Per-file Bloom index, driver-verified END-TO-END: documents land
    * in a scratch Delta table keyed by a scattered md5-prefix
    * fingerprint (every file's [min,max] covers the key space — stats
    * skipping is useless), a Bloom index is built on the fingerprint,
    * and a deterministic probe set is read back THROUGH the index.
    * The oracle recomputes the expected rows from the source parquet,
    * so a filter with a false negative (lost rows) fails the gate;
    * BloomIndexSpec separately asserts files are actually pruned. */
  private def qBloomReadSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_bloom_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      val src = s.table("documents")
        .select(col("doc_id"), substring(md5(col("text")), 1, 16).as("fp"),
          col("n_chars"))
      graft.delta.TransactionWriter.overwrite(log,
        src.repartition(16, col("doc_id")))
      graft.delta.BloomIndex.build(log, "fp")
      val probes = src.where(col("doc_id") % 97 === 0)
        .select("fp").distinct().collect().map(_.getString(0)).sorted.toSeq
      graft.delta.BloomIndex.readIn(
          graft.delta.DeltaLog.forPath(s, tmp), "fp", probes)
        .select("doc_id", "fp", "n_chars")
    }

  /** INCREMENTAL Bloom-index maintenance, driver-verified END-TO-END:
    * build the index, append new files (~10% of docs), `GRAFT REFRESH
    * BLOOM INDEX` — the gate proves via the SIDECAR that every
    * pre-existing entry survived VERBATIM (original build version —
    * covered files were not rescanned; at 100 TB that's refresh =
    * ingest-sized, not table-sized), that the appended files are now
    * covered, and that the index-pruned point read through the
    * refreshed sidecar returns exactly the oracle's rows. */
  private def qBloomIncrementalSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_bli_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      val src = s.table("documents")
        .select(col("doc_id"), substring(md5(col("text")), 1, 16).as("fp"),
          col("n_chars"))
      graft.delta.TransactionWriter.overwrite(log,
        src.where(col("doc_id") % 10 =!= 0).repartition(16, col("doc_id")))
      graft.delta.BloomIndex.build(log, "fp")
      val before = graft.delta.BloomIndex.entries(log, "fp").get
        .select("file_path", "version")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      graft.delta.TransactionWriter.append(log,
        src.where(col("doc_id") % 10 === 0).repartition(2, col("doc_id")))
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH BLOOM INDEX ON '$tmp' (fp)").collect()
      val after = graft.delta.BloomIndex.entries(log, "fp").get
        .select("file_path", "version")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val oldKept = before.forall { case (p, v) => after.get(p).contains(v) }
      val newCovered = after.size > before.size
      val freshLog = graft.delta.DeltaLog.forPath(s, tmp)
      val probes = s.table("documents").where(col("doc_id") % 97 === 0)
        .select(substring(md5(col("text")), 1, 16))
        .distinct().collect().map(_.getString(0)).sorted.toSeq
      graft.delta.BloomIndex.readIn(freshLog, "fp", probes)
        .select(col("doc_id"), col("fp"), col("n_chars"),
          lit(if (oldKept) 1L else 0L).as("old_entries_kept"),
          lit(if (newCovered) 1L else 0L).as("new_files_covered"))
    }

  private val qBloomIncrementalDuck: String =
    """SELECT doc_id, substr(md5(text), 1, 16) AS fp, n_chars,
      |  CAST(1 AS BIGINT) AS old_entries_kept,
      |  CAST(1 AS BIGINT) AS new_files_covered
      |FROM documents
      |WHERE substr(md5(text), 1, 16) IN (
      |  SELECT substr(md5(text), 1, 16) FROM documents WHERE doc_id % 97 = 0)""".stripMargin

  private val qBloomReadDuck: String =
    """WITH f AS (SELECT doc_id, substr(md5(text), 1, 16) AS fp, n_chars
      |  FROM documents),
      |p AS (SELECT DISTINCT fp FROM f WHERE doc_id % 97 = 0)
      |SELECT f.doc_id, f.fp, f.n_chars FROM f JOIN p ON f.fp = p.fp""".stripMargin

  /** Inverted-index export: per-term document frequency + delta-gap
    * encoded posting list (see Curation.invertedIndex). Both engines
    * render the gaps as the same comma-joined decimal string. */
  private def qPostingsSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      graft.operators.Curation.invertedIndex(
        s.table("documents"), "doc_id", "text", minDf = 2L)
    }

  private val qPostingsDuck: String =
    """WITH p AS (SELECT DISTINCT tok AS term, doc_id AS doc FROM
      |    (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |     FROM documents) t WHERE tok <> ''),
      |l AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
      |    list(doc ORDER BY doc) AS ids FROM p GROUP BY term),
      |g AS (SELECT term, df,
      |    list_transform(range(1, len(ids) + 1),
      |      i -> CASE WHEN i = 1 THEN ids[1] ELSE ids[i] - ids[i-1] END) AS gaps
      |  FROM l WHERE df >= 2)
      |SELECT term, df, array_to_string(gaps, ',') AS postings FROM g""".stripMargin

  /** Bucket-co-located join, driver-verified END-TO-END: write the two
    * join sides to scratch BUCKETED tables (8 buckets on the join key,
    * sorted within buckets), then sort-merge-join them. Identical
    * bucketing on both sides lets Spark plan the join with ZERO
    * Exchange — the shape that makes repeated fact-fact joins
    * affordable at 100 TB, where shuffling the large side would
    * dominate (bucket once at ingest, join shuffle-free forever
    * after; the remaining SMJ sorts are bucket-local and
    * exchange-free). The merge hint pins SMJ so bucket metadata, not
    * a broadcast, is what the plan exercises; BucketedJoinSpec
    * asserts the no-Exchange physical plan. The oracle recomputes the
    * same aggregate from the source parquet. */
  private def qBucketedJoinSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_bkt_").toString
      s.sql("DROP TABLE IF EXISTS graft_b_lineitem")
      s.sql("DROP TABLE IF EXISTS graft_b_orders")
      // one file per bucket (repartition on the key) so the per-bucket
      // sort order is trusted and the SMJ needs no Sort either
      s.table("lineitem").select("l_orderkey", "l_extendedprice")
        .repartition(8, col("l_orderkey"))
        .write.format("parquet").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", tmp + "/l").saveAsTable("graft_b_lineitem")
      s.table("orders").select("o_orderkey", "o_orderpriority")
        .repartition(8, col("o_orderkey"))
        .write.format("parquet").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", tmp + "/o").saveAsTable("graft_b_orders")
      s.table("graft_b_lineitem").hint("merge")
        .join(s.table("graft_b_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("revenue"),
          count(lit(1)).as("n_lines"))
    }

  private val qBucketedJoinDuck: String =
    """SELECT o.o_orderpriority,
      |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY o.o_orderpriority""".stripMargin

  private val qDeleteDvDuck: String =
    """SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS len
      |FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 11 <> 0""".stripMargin

  /** Log-plane exact COUNT(*), driver-verified END-TO-END: scratch
    * table, DV-delete a slice, then answer the count from stats minus
    * DV cardinalities WITHOUT opening a data file. The oracle
    * recomputes the surviving count from the source parquet. */
  private def qFastCountSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_fc_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      graft.delta.TransactionWriter.overwrite(log,
        s.table("lineitem").select("l_orderkey", "l_partkey", "l_linenumber"))
      graft.delta.Mutations.deleteWithDv(log, col("l_orderkey") % 9 === 0)
      val n = graft.Levi.rowCountFromLog(log.snapshot)
        .getOrElse(sys.error("expected stats-complete table"))
      import s.implicits._
      Seq(n).toDF("n_rows")
    }

  private val qFastCountDuck: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows
      |FROM lineitem WHERE l_orderkey % 9 <> 0""".stripMargin

  /** Deletion-vector UPDATE, driver-verified END-TO-END: write orders
    * to a scratch table, DV-update one slice (old versions bitmapped,
    * updated rows appended — no rewrite), read back through the
    * DV-filtered scan. The oracle recomputes the post-update state
    * from the source parquet. */
  private def qUpdateDvSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_dvu_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      graft.delta.TransactionWriter.overwrite(log,
        s.table("orders").select("o_orderkey", "o_custkey", "o_totalprice"))
      graft.delta.Mutations.updateWithDv(log, col("o_orderkey") % 13 === 0,
        Map("o_totalprice" -> (col("o_totalprice") * 2)))
      log.snapshot.read()
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").as("price"))
    }

  private val qUpdateDvDuck: String =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice * 2
      |       ELSE o_totalprice END AS price
      |FROM orders""".stripMargin

  /** Change Data Feed, driver-verified END-TO-END: scratch table from
    * customer, enable CDF, run a targeted DELETE (v2) and UPDATE (v3),
    * then read the row-level feed back through `tableChanges`. The
    * oracle recomputes the exact change rows (type + version) from the
    * source parquet. */
  private def qChangeFeedSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_cdf_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      graft.delta.TransactionWriter.overwrite(log,
        s.table("customer").select("c_custkey", "c_acctbal"))        // v0
      graft.delta.ChangeDataFeed.enable(log)                          // v1
      graft.delta.Mutations.delete(log, col("c_custkey") % 10 === 3)  // v2
      graft.delta.Mutations.update(log, col("c_custkey") % 10 === 4,  // v3
        Map("c_acctbal" -> lit(-1.0)))
      graft.delta.ChangeDataFeed.tableChanges(log, 2, Some(3))
        .select(col("c_custkey"), col("c_acctbal").as("acct"),
          col("_change_type").as("change_type"),
          col("_commit_version").as("ver"))
    }

  private val qChangeFeedDuck: String =
    """SELECT c_custkey, c_acctbal AS acct, 'delete' AS change_type,
      |  CAST(2 AS BIGINT) AS ver FROM customer WHERE c_custkey % 10 = 3
      |UNION ALL
      |SELECT c_custkey, c_acctbal, 'update_preimage', 3
      |  FROM customer WHERE c_custkey % 10 = 4
      |UNION ALL
      |SELECT c_custkey, -1.0, 'update_postimage', 3
      |  FROM customer WHERE c_custkey % 10 = 4""".stripMargin

  /** Shallow clone, driver-verified END-TO-END: clone a scratch nation
    * table (zero data copied), DELETE on the clone, read the clone —
    * while the source must still read its full row set. The oracle
    * recomputes the clone's post-delete state from the source
    * parquet. */
  private def qShallowCloneSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_clone_")
      val src = graft.delta.DeltaLog.forPath(s, base.resolve("src").toString)
      graft.delta.TransactionWriter.overwrite(src,
        s.table("nation").select("n_nationkey", "n_name", "n_regionkey"))
      val dst = graft.delta.DeltaLog.forPath(s, base.resolve("dst").toString)
      graft.delta.Clone.shallow(src, dst.tablePath)
      graft.delta.Mutations.delete(dst, col("n_regionkey") === 2)
      require(src.snapshot.read().count() ==
        s.table("nation").count(), "clone mutation must not touch source")
      dst.snapshot.read()
    }

  private val qShallowCloneDuck: String =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey <> 2"

  /** STREAMING Change Data Feed, driver-verified END-TO-END: a real
    * micro-batch query over the `readChangeFeed` source drains the
    * initial snapshot (insert rows), then a targeted DELETE and UPDATE
    * land and drain as row-level changes. The oracle recomputes every
    * change row (type + commit version) from the source parquet. */
  private def qStreamChangesSpark: (SparkSession, String) => DataFrame =
    (s, dir) => {
      registerViews(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_scdf_")
      val log = graft.delta.DeltaLog.forPath(s, base.resolve("t").toString)
      graft.delta.TransactionWriter.overwrite(log,
        s.table("supplier").select("s_suppkey", "s_acctbal"))         // v0
      graft.delta.ChangeDataFeed.enable(log)                          // v1
      val name = "stream_changes_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = s.readStream
        .format(classOf[graft.sources.DeltaSourceProvider].getName)
        .option("path", log.tablePath)
        .option("readChangeFeed", "true")
        .load()
        .select(col("s_suppkey"), col("s_acctbal").as("acct"),
          col("_change_type").as("change_type"),
          col("_commit_version").as("ver"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", base.resolve("cp").toString)
        .start()
      q.processAllAvailable()                                         // snapshot @v1
      graft.delta.Mutations.delete(log, col("s_suppkey") % 7 === 1)   // v2
      graft.delta.Mutations.update(log, col("s_suppkey") % 7 === 2,   // v3
        Map("s_acctbal" -> lit(0.0)))
      q.processAllAvailable()
      q.stop()
      s.table(name)
    }

  private val qStreamChangesDuck: String =
    """SELECT s_suppkey, s_acctbal AS acct, 'insert' AS change_type,
      |  CAST(1 AS BIGINT) AS ver FROM supplier
      |UNION ALL
      |SELECT s_suppkey, s_acctbal, 'delete', 2
      |  FROM supplier WHERE s_suppkey % 7 = 1
      |UNION ALL
      |SELECT s_suppkey, s_acctbal, 'update_preimage', 3
      |  FROM supplier WHERE s_suppkey % 7 = 2
      |UNION ALL
      |SELECT s_suppkey, 0.0, 'update_postimage', 3
      |  FROM supplier WHERE s_suppkey % 7 = 2""".stripMargin

  /** Streaming CDC APPLY: replicate a mutating source table into a
    * target by draining its change feed through the MERGE-apply sink.
    * The target starts EMPTY — the CDF initial snapshot arrives as
    * insert rows — and two drains split the snapshot batch from the
    * mutation batch, so the per-batch key reduction and the
    * matched/not-matched clause routing are both exercised. The oracle
    * recomputes the terminal state of the source mutations directly. */
  private def qStreamCdcApplySpark: (SparkSession, String) => DataFrame =
    (s, dir) => withStreamShuffle(s) {
      registerViews(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_cdcapply_")
      val srcLog = graft.delta.DeltaLog.forPath(s, base.resolve("src").toString)
      graft.delta.TransactionWriter.overwrite(srcLog,
        s.table("supplier").select("s_suppkey", "s_acctbal"))         // v0
      graft.delta.ChangeDataFeed.enable(srcLog)                       // v1
      val tgtLog = graft.delta.DeltaLog.forPath(s, base.resolve("tgt").toString)
      graft.delta.TransactionWriter.overwrite(tgtLog,
        s.table("supplier").select("s_suppkey", "s_acctbal").limit(0))
      val changes = s.readStream
        .format(classOf[graft.sources.DeltaSourceProvider].getName)
        .option("path", srcLog.tablePath)
        .option("readChangeFeed", "true")
        .load()
      val q = graft.streaming.StreamingOps.deltaCdcApplySink(
        changes, tgtLog, Seq("s_suppkey"), "q_stream_cdc_apply",
        base.resolve("cp").toString)
      q.processAllAvailable()                                         // snapshot batch
      graft.delta.Mutations.delete(srcLog, col("s_suppkey") % 7 === 1)
      graft.delta.Mutations.update(srcLog, col("s_suppkey") % 7 === 2,
        Map("s_acctbal" -> lit(0.0)))
      q.processAllAvailable()                                         // mutation batch
      q.stop()
      graft.delta.DeltaLog.forPath(s, tgtLog.tablePath).snapshot.read()
    }

  private val qStreamCdcApplyDuck: String =
    """SELECT s_suppkey,
      |  CASE WHEN s_suppkey % 7 = 2 THEN 0.0 ELSE s_acctbal END AS s_acctbal
      |FROM supplier WHERE s_suppkey % 7 <> 1""".stripMargin

  /** Frame-sampling oracle: the corpus text is pure ASCII, so VARCHAR
    * slicing in DuckDB sees the same bytes as the binary slices the
    * Spark side's `Multimodal.sampleFrames` emits. */
  private val qMediaFramesDuck: String =
    """WITH v AS (SELECT doc_id AS asset_id, text,
      |    ('0x' || substr(md5(text), 1, 7))::BIGINT AS h,
      |    length(text) AS len
      |  FROM documents WHERE doc_id % 3 = 2),
      |d AS (SELECT asset_id, text, len,
      |    LEAST((1000 + h % 600000) // 1000, 32) AS n FROM v),
      |f AS (SELECT asset_id, text, len, n, unnest(range(0, n)) AS frame_idx FROM d),
      |s AS (SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx,
      |    CAST((frame_idx * GREATEST(len // GREATEST(n, 1), 1)) % GREATEST(len, 1) AS INT) AS st,
      |    text, len FROM f)
      |SELECT asset_id, frame_idx,
      |  CAST(LEAST(16, len - st) AS BIGINT) AS frame_len,
      |  ('0x' || substr(md5(substr(text, st + 1, 16)), 1, 7))::BIGINT AS frame_hash
      |FROM s""".stripMargin

  // ---- capstone: end-to-end corpus-curation pipeline -----------------------
  //
  // The full training-data flow COMPOSED: exact dedup (md5 survivor) ∩
  // fuzzy dedup (MinHash-LSH survivor) → quality gate → deterministic
  // split assignment → per-split doc/token counts. Every stage reuses
  // the verified building blocks; the oracle composes the same stages in
  // DuckDB. Quality is computed via nested subqueries (not CTEs) to stay
  // clear of the Catalyst nested-WITH CTE-pruning bug.

  private def pipelineQualityCte(dialect: String): String = {
    val size_ = if (dialect == "spark") "size" else "len"
    val dedup = if (dialect == "spark") "array_distinct" else "list_distinct"
    s"""pq AS (SELECT doc_id,
       |  CAST(FLOOR((0.4e0 * LEAST(nt / 100.0e0, 1.0e0)
       |      + 0.3e0 * (nd / nt)
       |      + 0.3e0 * LEAST(((nc - nt + 1.0e0) / nt) / 8.0e0, 1.0e0)) * 1000000.0e0) AS BIGINT) AS quality_e6
       |  FROM (SELECT doc_id,
       |      CAST($size_(${toks(dialect)}) AS DOUBLE) AS nt,
       |      CAST($size_($dedup(${toks(dialect)})) AS DOUBLE) AS nd,
       |      CAST(length(text) AS DOUBLE) AS nc
       |    FROM documents) qt)""".stripMargin
  }

  private def pipelineTailCtes(dialect: String): String = {
    val h = if (dialect == "spark") h28("spark", "CAST(doc_id AS STRING)")
      else h28("duck", "doc_id::VARCHAR")
    val size_ = if (dialect == "spark") "size" else "len"
    s"""exact_keep AS (SELECT doc_id FROM (
       |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM documents) ek WHERE rn = 1),
       |${pipelineQualityCte(dialect)},
       |ps AS (SELECT doc_id,
       |    CASE WHEN $h % 100 < 80 THEN 'train'
       |         WHEN $h % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split FROM documents),
       |ptok AS (SELECT doc_id, CAST($size_(${toks(dialect)}) AS BIGINT) AS n_tokens FROM documents)""".stripMargin
  }

  private val pipelineFinalSelect: String =
    """SELECT ps.split, COUNT(*) AS n_docs,
      |  CAST(SUM(ptok.n_tokens) AS BIGINT) AS n_tokens
      |FROM mh_keep
      |JOIN exact_keep ON mh_keep.doc_id = exact_keep.doc_id
      |JOIN pq ON pq.doc_id = mh_keep.doc_id AND pq.quality_e6 >= 500000
      |JOIN ps ON ps.doc_id = mh_keep.doc_id
      |JOIN ptok ON ptok.doc_id = mh_keep.doc_id
      |GROUP BY ps.split""".stripMargin

  /** Spark side rides the cached minhash stages (g_buckets). */
  private val sparkPipelineFinal: String =
    s"""WITH mins AS (SELECT band, k, MIN(doc_id) AS m FROM g_buckets GROUP BY band, k),
       |keep AS (SELECT b.doc_id, MIN(m.m) AS mm FROM g_buckets b
       |  JOIN mins m ON b.band = m.band AND b.k = m.k GROUP BY b.doc_id),
       |mh_keep AS (SELECT doc_id FROM keep WHERE doc_id = mm),
       |${pipelineTailCtes("spark")}
       |$pipelineFinalSelect""".stripMargin

  private val qPipelineDuck: String = {
    val mhs = (0 until 16).map(j => s"  ${minhashExpr("duck", j)} AS mh$j").mkString(",\n")
    def bandKey(b: Int): String =
      s"concat_ws(',', mh${4 * b}::VARCHAR, mh${4 * b + 1}::VARCHAR, mh${4 * b + 2}::VARCHAR, mh${4 * b + 3}::VARCHAR)"
    val buckets = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, ${bandKey(b)} AS k FROM sig").mkString("\n  UNION ALL ")
    s"""WITH ${hashedShinglesCte("duck")},
       |sig AS (SELECT doc_id,
       |$mhs
       |FROM hsh),
       |buckets AS ($buckets),
       |mins AS (SELECT band, k, MIN(doc_id) AS m FROM buckets GROUP BY band, k),
       |keep AS (SELECT b.doc_id, MIN(m.m) AS mm FROM buckets b
       |  JOIN mins m ON b.band = m.band AND b.k = m.k GROUP BY b.doc_id),
       |mh_keep AS (SELECT doc_id FROM keep WHERE doc_id = mm),
       |${pipelineTailCtes("duck")}
       |$pipelineFinalSelect""".stripMargin
  }

  // ---- cached-stage Spark variants of the minhash pipeline -----------------

  // REPARTITION spreads the (single-file) documents scan across cores —
  // without it the whole md5/shingle pipeline runs in ONE task.
  private val sparkHshStage: (String, String) =
    "g_hsh" -> s"WITH ${hashedShinglesCte("spark")} SELECT /*+ REPARTITION(8) */ doc_id, lang, hs FROM hsh"

  private val sparkSigStage: (String, String) =
    "g_sig" -> {
      // all 16 signature entries from ONE fused pass (minhash16) rather
      // than 16 interpreted array_min(transform(...)) walks
      val mhs = (0 until 16).map(j => s"  element_at(_sig, ${j + 1}) AS mh$j").mkString(",\n")
      s"SELECT doc_id,\n$mhs\nFROM (SELECT doc_id, minhash16(hs) AS _sig FROM g_hsh)"
    }

  // ONE posexplode pass, not a 4-way UNION ALL: the union multiplied the
  // cached stage's partition count by 4 (4 × 32 = 128 partitions), so
  // every downstream consumer paid 128 tiny tasks per stage — measured
  // 47-84 s of pure per-task overhead per g_buckets-reading stage at
  // sf0.1. The explode keeps the parent's partitioning and scans g_sig
  // once, which is also the correct shape at scale.
  private val sparkBucketsStage: (String, String) =
    "g_buckets" -> {
      val ks = (0 until 4).map { b =>
        s"concat_ws(',', CAST(mh${4 * b} AS STRING), CAST(mh${4 * b + 1} AS STRING), CAST(mh${4 * b + 2} AS STRING), CAST(mh${4 * b + 3} AS STRING))"
      }.mkString(", ")
      s"""SELECT doc_id, band, k
         |FROM (SELECT doc_id, array($ks) AS ks FROM g_sig)
         |LATERAL VIEW posexplode(ks) t AS band, k""".stripMargin
    }

  private val minhashStages = Seq(sparkHshStage, sparkSigStage, sparkBucketsStage)

  private val sparkMinhashDedupFinal: String =
    """WITH mins AS (SELECT band, k, MIN(doc_id) AS m FROM g_buckets GROUP BY band, k),
      |keep AS (SELECT b.doc_id, MIN(m.m) AS mm FROM g_buckets b
      |  JOIN mins m ON b.band = m.band AND b.k = m.k GROUP BY b.doc_id)
      |SELECT doc_id FROM keep WHERE doc_id = mm""".stripMargin

  private val sparkNgramJaccardFinal: String =
    """WITH cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |  FROM g_buckets x JOIN g_buckets y
      |    ON x.band = y.band AND x.k = y.k AND x.doc_id < y.doc_id),
      |p AS (SELECT c.doc_a, c.doc_b,
      |    ROUND(CAST(size(array_intersect(ha.hs, hb.hs)) AS DOUBLE)
      |      / CAST(size(array_union(ha.hs, hb.hs)) AS DOUBLE), 6) AS jaccard
      |  FROM cand c
      |  JOIN g_hsh ha ON ha.doc_id = c.doc_a
      |  JOIN g_hsh hb ON hb.doc_id = c.doc_b)
      |SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= 0.5e0""".stripMargin

  // ---- corpus-curation queries (graft.operators.Curation) ------------------
  //
  // Spark side runs the Curation operator API; oracles re-derive the
  // same md5-anchored values in DuckDB.

  private val qDecontaminateDuck: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |g AS (SELECT doc_id, list_distinct(list_transform(range(1, GREATEST(len(tk)-7, 1)+1),
      |      i -> ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 1, 7))::BIGINT)) AS gs FROM t),
      |dg AS (SELECT doc_id, unnest(gs) AS gr FROM g WHERE doc_id % 10 <> 3),
      |bg AS (SELECT DISTINCT unnest(gs) AS gr FROM g WHERE doc_id % 10 = 3),
      |hits AS (SELECT doc_id, COUNT(*) AS n FROM dg JOIN bg USING (gr) GROUP BY doc_id)
      |SELECT d.doc_id, CAST(COALESCE(hits.n, 0) AS BIGINT) AS n_hit_grams,
      |  COALESCE(hits.n, 0) > 0 AS contaminated
      |FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
      |WHERE d.doc_id % 10 <> 3""".stripMargin

  private val qQualityGopherDuck: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |u AS (SELECT doc_id, unnest(tk) AS tok FROM t),
      |c AS (SELECT doc_id, tok, COUNT(*) AS c FROM u GROUP BY doc_id, tok),
      |topc AS (SELECT doc_id, MAX(c) AS topc FROM c GROUP BY doc_id),
      |m AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS nt,
      |    CAST(list_sum(list_transform(tk, x -> len(x))) AS DOUBLE) AS sumlen,
      |    list_transform(range(1, GREATEST(len(tk)-2, 1)+1),
      |      i -> array_to_string(tk[i:i+2], ' ')) AS g3
      |  FROM t)
      |SELECT m.doc_id,
      |  CAST(FLOOR(sumlen / nt * 1000000.0e0) AS BIGINT) AS mean_word_len_e6,
      |  CAST(FLOOR(topc / nt * 1000000.0e0) AS BIGINT) AS top_tok_e6,
      |  CAST(FLOOR((1.0e0 - CAST(len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE))
      |    * 1000000.0e0) AS BIGINT) AS dup_3gram_e6
      |FROM m JOIN topc ON m.doc_id = topc.doc_id""".stripMargin

  private val qStratifiedSampleDuck: String =
    """SELECT doc_id, lang, source, rn FROM (
      |  SELECT doc_id, lang, source,
      |    ROW_NUMBER() OVER (PARTITION BY lang, source
      |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
      |  FROM documents) t WHERE rn <= 20""".stripMargin

  /** Deterministic synthetic PII (the corpus text is a clean word soup):
    * every 7th doc gets an email + numeric id appended, identically in
    * both engines, so the redaction has something real to find. */
  private val piiAugSparkSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 7 = 0
      |    THEN concat(text, ' contact user', CAST(doc_id AS STRING),
      |      '@example.com id ', CAST(doc_id * 7919 % 100000 AS STRING))
      |    ELSE text END AS aug
      |FROM documents""".stripMargin

  private val qPiiRedactDuck: String =
    """WITH a AS (SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0
      |      THEN text || ' contact user' || doc_id::VARCHAR
      |        || '@example.com id ' || (doc_id * 7919 % 100000)::VARCHAR
      |      ELSE text END AS aug
      |  FROM documents),
      |r AS (SELECT doc_id, aug,
      |    regexp_replace(regexp_replace(aug, '[a-z0-9]+@[a-z]+[.][a-z]+', '<EMAIL>', 'g'),
      |      '[0-9][0-9]+', '<ID>', 'g') AS red
      |  FROM a)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(aug, '[a-z0-9]+@[a-z]+[.][a-z]+')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(aug, '[0-9][0-9]+')) AS BIGINT) AS n_ids,
      |  CAST(length(red) AS BIGINT) AS red_len,
      |  ('0x' || substr(md5(red), 1, 7))::BIGINT AS red_hash
      |FROM r""".stripMargin

  /** Deterministic mess for the normalization demo: every 3rd doc
    * upper-cased, every 3rd+1 doc gets padded/tripled spaces + a tab. */
  private def normalizeMessySql(dialect: String): String = {
    val tab = if (dialect == "spark") "CHAR(9)" else "chr(9)"
    s"""SELECT doc_id,
       |  CASE CAST(doc_id % 3 AS INT)
       |    WHEN 0 THEN upper(text)
       |    WHEN 1 THEN concat('  ', replace(text, ' ', '   '), $tab, ' end')
       |    ELSE text END AS messy
       |FROM documents""".stripMargin
  }

  private val qNormalizeDuck: String =
    s"""WITH a AS (${normalizeMessySql("duck")}),
       |n AS (SELECT doc_id,
       |    trim(regexp_replace(regexp_replace(lower(messy), '[^ -~]', ' ', 'g'),
       |      '[ ]+', ' ', 'g')) AS norm
       |  FROM a)
       |SELECT doc_id, CAST(length(norm) AS BIGINT) AS norm_len,
       |  ('0x' || substr(md5(norm), 1, 7))::BIGINT AS norm_hash
       |FROM n""".stripMargin

  // ---- assembled maps ------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_agg_lineitem" -> sqlQuery(qAggLineitemSpark),
    "q_join_revenue" -> sqlQuery(qJoinRevenue),
    "q_bucketed_join" -> qBucketedJoinSpark,
    "q_rollup_revenue" -> sqlQuery(qRollupRevenue),
    "q_moving_avg" -> sqlQuery(qMovingAvg),
    "q_except_customers" -> sqlQuery(qExceptCustomers),
    "q_histogram" -> sqlQuery(qHistogram),
    "q_exists_big_order" -> sqlQuery(qExistsBigOrder),
    "q_median_price" -> sqlQuery(qMedianPrice),
    "q_fk_violations" -> sqlQuery(qFkViolations),
    "q_mad_outliers" -> sqlQuery(qMadOutliers),
    "q_topk_brand" -> sqlQuery(qTopkBrand),
    "q_kill_duplicates" -> ((s, dir) => {
      registerViews(s, dir)
      Dedup.killDuplicates(
        s.table("lineitem").select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
        Seq("l_orderkey"))
    }),
    "q_drop_duplicates" -> ((s, dir) => {
      registerViews(s, dir)
      Dedup.dropDuplicatesOrdered(
        s.table("orders").select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
        Seq("o_custkey", "o_orderstatus"), Seq(col("o_orderkey").asc))
    }),
    "q_drop_duplicates_pkey" -> ((s, dir) => {
      registerViews(s, dir)
      Dedup.dropDuplicatesPkey(
        s.table("part").select("p_partkey", "p_brand", "p_type", "p_retailprice"),
        "p_partkey", Seq("p_brand", "p_type"))
    }),
    "q_scd2_upsert" -> ((s, dir) => {
      registerViews(s, dir)
      Scd2.upsert(s.sql(scd2Base), s.sql(scd2Updates), "pkey", Seq("attr"),
        effectiveTimeColName = "effective_ver", endTimeColName = "end_ver")
    }),
    "q_file_sizes" -> sqlQuery(qFileSizesText),
    "q_skipped_stats" -> sqlQuery(qSkippedStats),
    "q_updated_partitions" -> eventSqlQuery(qUpdatedPartitionsSpark),
    "q_sessionize" -> eventSqlQuery(qSessionize),
    "q_json_extract" -> sqlQuery(qJsonExtractSpark),
    "q_variant_extract" -> sqlQuery(qVariantExtractSpark),
    "q_dedup_exact" -> sqlQuery(
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents) t
        |WHERE rn = 1""".stripMargin),
    "q_paragraph_dedup" -> ((s, dir) => {
      registerViews(s, dir)
      graft.operators.Curation.dedupParagraphs(
        s.table("documents"), "doc_id", "text")
    }),
    // Span-level decontamination: bench = doc_id % 10 == 3 (same split
    // as q_decontaminate) but only the touching CHUNKS are cut.
    "q_scrub_contamination" -> ((s, dir) => {
      registerViews(s, dir)
      val docs = s.table("documents")
      graft.operators.Curation.scrubContamination(
        docs.where(col("doc_id") % 10 =!= 3),
        docs.where(col("doc_id") % 10 === 3),
        "doc_id", "text")
    }),
    "q_remove_boilerplate" -> ((s, dir) => {
      registerViews(s, dir)
      graft.operators.Curation.removeBoilerplate(
        s.table("documents"), "doc_id", "text", chunkWords = 15, minDocs = 2)
    }),
    // ExactSubstr-shaped repeated-span stats: sliding 8-token windows,
    // a window duplicated iff it occurs in >= 2 distinct docs.
    "q_substring_dedup" -> ((s, dir) => {
      registerViews(s, dir)
      graft.operators.Curation.repeatedSpans(
          s.table("documents"), "doc_id", "text", k = 8)
        .where(col("n_dup_windows") > 0)
    }),
    // Fractional-epoch up-sampling: per-source factors 1.0/1.5/2.0/2.5
    // (source index mod 4) — expected volume f*n, deterministic repeats.
    "q_upsample_epochs" -> ((s, dir) => {
      registerViews(s, dir)
      val factors = (0 until 20)
        .map(i => s"src$i" -> (1.0 + (i % 4) * 0.5)).toMap
      graft.operators.Curation.upsampleEpochs(
        s.table("documents"), "source", "doc_id", factors)
        .select("doc_id", "source", "copy")
    }),
    // CCNet-style self-trained bigram-LM scoring: integer-scaled NLL
    // per bigram summed exactly per doc (order-free, engine-exact).
    "q_perplexity" -> ((s, dir) => {
      registerViews(s, dir)
      graft.operators.Curation.perplexityScore(
        s.table("documents"), "doc_id", "text")
    }),
    // Round-0 BPE statistic: top-20 frequency-weighted adjacent char
    // pairs over the word-frequency relation (corpus touched once).
    "q_bpe_pairs" -> ((s, dir) => {
      registerViews(s, dir)
      graft.operators.Bpe.bpePairCounts(s.table("documents"), "text", topK = 20)
    }),
    // CCNet/DCLM-style model-based filtering: multinomial NB predicting
    // `source`, confusion matrix over a held-out fifth. The split is
    // HASH-based (md5 of doc_id), not modulo: the synthetic `source` is
    // a function of doc_id, so a modulo split would put whole classes
    // exclusively in test. Integer-quantized log scores -> exact argmin.
    "q_nb_classifier" -> ((s, dir) => {
      registerViews(s, dir)
      val docs = s.table("documents")
      val isTest = graft.functions.TextFunctions
        .hash28(col("doc_id").cast("string")) % 5 === 0
      graft.operators.Classifier.naiveBayesConfusion(
        docs.where(!isTest), docs.where(isTest),
        "source", "doc_id", "text")
    }),
    // Hashing-trick featurization (signed 1024-bucket sparse vectors),
    // the input representation for any linear filter model at scale.
    "q_hashed_features" -> ((s, dir) => {
      registerViews(s, dir)
      graft.operators.Classifier.hashedFeatures(
        s.table("documents"), "doc_id", "text", numBuckets = 1024)
    }),
    // Skip-gram PMI co-occurrence statistics (word2vec/GloVe prep):
    // window 2, minCount 5, integer-quantized PMI.
    "q_pmi_cooccur" -> ((s, dir) => {
      registerViews(s, dir)
      graft.operators.Classifier.pmiCooccurrence(
        s.table("documents"), "text", window = 2, minCount = 5L)
    }),
    // Skew-salted join: orders spread over 8 salt buckets per custkey,
    // customer side replicated x8 — result identical to the plain join
    // (the oracle IS the plain join); revenue kept integer-exact as
    // cents so the aggregate is order-free.
    "q_salted_join" -> ((s, dir) => {
      registerViews(s, dir)
      val probe = s.table("orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val build = s.table("customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      graft.operators.SkewJoin.saltedJoin(
        probe, build, "o_custkey", "o_orderkey", salts = 8)
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .as("cents"))
    }),
    // Tokenizer export: frequency-ranked dense vocabulary ids, corpus
    // re-encoded as position-ordered id sequences (flattened for the
    // scalar-typed driver compare; array assembly exercised in-query).
    "q_vocab_encode" -> ((s, dir) => {
      registerViews(s, dir)
      val docs = s.table("documents")
      val vocab = graft.operators.Classifier.vocabIndex(docs, "text")
      graft.operators.Classifier.encodeTokens(
        docs.where(col("doc_id") % 50 === 0), "doc_id", "text", vocab)
        .select(col("doc_id"),
          posexplode(col("token_ids")).as(Seq("pos", "id")))
    }),
    // Incremental materialized-aggregate maintenance, driver-verified
    // END-TO-END through the Delta layer: base rollup at v1, then CDF
    // deltas from an append + DELETE + UPDATE folded in — the oracle
    // recomputes the FINAL state from the source parquet, so the
    // signed-delta math must land exactly.
    "q_incr_agg" -> ((s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_ia_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      val docs = s.table("documents").select("doc_id", "source", "n_chars")
      graft.delta.TransactionWriter.overwrite(log,
        docs.where(col("doc_id") % 3 =!= 2))                           // v0
      graft.delta.ChangeDataFeed.enable(log)                           // v1
      graft.delta.TransactionWriter.append(log,
        docs.where(col("doc_id") % 3 === 2))                           // v2
      graft.delta.Mutations.delete(log, col("doc_id") % 7 === 0)       // v3
      graft.delta.Mutations.update(log, col("doc_id") % 10 === 5,
        Map("n_chars" -> lit(0L)))                                     // v4
      val base = log.snapshotAt(1).read()
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      val delta = graft.operators.IncrementalAgg.aggDelta(
        graft.delta.ChangeDataFeed.tableChanges(log, 2),
        Seq("source"), "n_chars")
      graft.operators.IncrementalAgg.applyDelta(
        base, delta, Seq("source"), "n_docs", "sum_chars")
    }),
    // Incremental JOIN-view maintenance, driver-verified END-TO-END:
    // view = orders ⨝ customer kept fresh from BOTH tables' change
    // feeds (fact append + DELETE, dim UPDATE + DELETE) without a view
    // rebuild — fact changes re-join the new dim, dim changes re-derive
    // only the referencing fact rows, dim deletes drop them (inner-join
    // semantics). The oracle recomputes the final join from parquet.
    "q_incr_join" -> ((s, dir) => {
      registerViews(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_ij_")
      val factLog = graft.delta.DeltaLog.forPath(s, base.resolve("f").toString)
      val dimLog = graft.delta.DeltaLog.forPath(s, base.resolve("d").toString)
      val orders = s.table("orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val cust = s.table("customer").select("c_custkey", "c_mktsegment")
      graft.delta.TransactionWriter.overwrite(factLog,
        orders.where(col("o_orderkey") % 3 =!= 2))                     // f v0
      graft.delta.ChangeDataFeed.enable(factLog)                       // f v1
      graft.delta.TransactionWriter.overwrite(dimLog, cust)            // d v0
      graft.delta.ChangeDataFeed.enable(dimLog)                        // d v1
      val view0 = factLog.snapshotAt(1).read().join(
        dimLog.snapshotAt(1).read()
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        Seq("o_custkey"))
      graft.delta.TransactionWriter.append(factLog,
        orders.where(col("o_orderkey") % 3 === 2))                     // f v2
      graft.delta.Mutations.delete(factLog, col("o_orderkey") % 7 === 0) // f v3
      graft.delta.Mutations.update(dimLog, col("c_custkey") % 10 === 5,
        Map("c_mktsegment" -> lit("X")))                               // d v2
      graft.delta.Mutations.delete(dimLog, col("c_custkey") % 13 === 3) // d v3
      val (touched, upserts) = graft.operators.IncrementalJoin.viewDelta(
        graft.delta.ChangeDataFeed.tableChanges(factLog, 2),
        graft.delta.ChangeDataFeed.tableChanges(dimLog, 2),
        factLog.snapshot.read(), dimLog.snapshot.read(),
        factPk = Seq("o_orderkey"), fk = "o_custkey", dimPk = "c_custkey",
        dimCols = Seq("c_mktsegment"))
      graft.operators.IncrementalJoin.applyDelta(
        view0, touched, upserts, Seq("o_orderkey"))
    }),
    // Delta-key RECOMPUTE maintenance for non-invertible aggregates,
    // driver-verified END-TO-END: the base (count, MIN, MAX) rollup is
    // maintained through a DELETE that removes group maxima (a signed
    // fold cannot retract a MAX) and an UPDATE that moves minima — the
    // touched keys re-aggregate from the source, untouched keys keep
    // their base rows; the oracle recomputes the final rollup.
    "q_incr_minmax" -> ((s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_imm_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      val docs = s.table("documents").select("doc_id", "source", "n_chars")
      graft.delta.TransactionWriter.overwrite(log, docs)               // v0
      graft.delta.ChangeDataFeed.enable(log)                           // v1
      val base = log.snapshotAt(1).read()
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))
      graft.delta.Mutations.delete(log, col("n_chars") >= 4000)        // v2
      graft.delta.Mutations.update(log, col("doc_id") % 9 === 2,
        Map("n_chars" -> lit(7L)))                                     // v3
      graft.operators.IncrementalAgg.rederiveKeys(
        base, log.snapshot.read(),
        graft.delta.ChangeDataFeed.tableChanges(log, 2),
        Seq("source"),
        Seq(count(lit(1)).as("n_docs"), min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars")))
    }),
    // Persisted materialized view, driver-verified END-TO-END: CREATE
    // MATVIEW builds the rollup and pins the source watermark on the
    // view table; two rounds of source mutations each fold in via
    // REFRESH MATVIEW (CDF slice + signed MERGE, O(changes)); a third
    // refresh with nothing new is a watermark no-op. The oracle
    // recomputes the final rollup from parquet.
    "q_matview" -> ((s, dir) => {
      registerViews(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_mv_")
      val srcPath = base.resolve("src").toString
      val viewPath = base.resolve("view").toString
      val src = graft.delta.DeltaLog.forPath(s, srcPath)
      val docs = s.table("documents").select("doc_id", "source", "n_chars")
      graft.delta.TransactionWriter.overwrite(src,
        docs.where(col("doc_id") % 4 =!= 3))                           // v0
      graft.delta.ChangeDataFeed.enable(src)                           // v1
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT CREATE MATVIEW '$viewPath' FROM '$srcPath' " +
          "KEYS (source) SUM (n_chars)").collect()
      graft.delta.TransactionWriter.append(src,
        docs.where(col("doc_id") % 4 === 3))                           // v2
      graft.delta.Mutations.delete(src, col("doc_id") % 11 === 0)      // v3
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH MATVIEW '$viewPath'").collect()
      graft.delta.Mutations.update(src, col("doc_id") % 9 === 2,
        Map("n_chars" -> lit(7L)))                                     // v4
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH MATVIEW '$viewPath'").collect()
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH MATVIEW '$viewPath'").collect()               // no-op
      graft.delta.MatView.read(s, viewPath)
    }),
    // Non-invertible MATVIEW, driver-verified END-TO-END: CREATE with
    // SUM + MIN + MAX routes refresh through changed-key rederive (a
    // signed fold cannot retract a deleted MAX). Round 1 deletes every
    // group's maximum region (n_chars >= 450); round 2 moves minima
    // (update to 7) and deletes a WHOLE group (src3), whose rollup row
    // must drop via the merge's vanished-key delete clause. The oracle
    // recomputes the final rollup from parquet.
    "q_matview_minmax" -> ((s, dir) => {
      registerViews(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_mvmm_")
      val srcPath = base.resolve("src").toString
      val viewPath = base.resolve("view").toString
      val src = graft.delta.DeltaLog.forPath(s, srcPath)
      val docs = s.table("documents").select("doc_id", "source", "n_chars")
      graft.delta.TransactionWriter.overwrite(src,
        docs.where(col("doc_id") % 4 =!= 3))                           // v0
      graft.delta.ChangeDataFeed.enable(src)                           // v1
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT CREATE MATVIEW '$viewPath' FROM '$srcPath' " +
          "KEYS (source) SUM (n_chars) MIN (n_chars) MAX (n_chars)").collect()
      graft.delta.TransactionWriter.append(src,
        docs.where(col("doc_id") % 4 === 3))                           // v2
      graft.delta.Mutations.delete(src, col("n_chars") >= 450)         // v3
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH MATVIEW '$viewPath'").collect()
      graft.delta.Mutations.update(src, col("doc_id") % 9 === 2,
        Map("n_chars" -> lit(7L)))                                     // v4
      graft.delta.Mutations.delete(src, col("source") === "src3")      // v5
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH MATVIEW '$viewPath'").collect()
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH MATVIEW '$viewPath'").collect()               // no-op
      graft.delta.DeltaLog.forPath(s, viewPath).snapshot.read()
    }),
    // MATVIEW with AVG, driver-verified END-TO-END: AVG is stored as
    // the exact-pair ratio (CAST(SUM AS DOUBLE)/COUNT(c) — one double
    // division over exact longs, deterministic across engines and
    // summation orders) and always routes refresh through changed-key
    // rederive. Append + delete + a NULLING update across two
    // refreshes: v4 sets n_chars to NULL for a slice, pinning the
    // null-excluding semantics end-to-end — sum and the AVG
    // denominator skip the nulled rows (COUNT(c), not COUNT(*)) while
    // n_rows still counts them; the oracle recomputes the final rollup
    // from parquet with the same arithmetic.
    "q_matview_avg" -> ((s, dir) =>
      matviewDocsLifecycle(s, dir, "graft_mva_",
        (v, src) => s"GRAFT CREATE MATVIEW '$v' FROM '$src' " +
          "KEYS (source) SUM (n_chars) AVG (n_chars)",
        src => graft.delta.Mutations.update(src, col("doc_id") % 9 === 2,
          Map("n_chars" -> lit(null).cast("long"))))),
    // WHERE-filtered MATVIEW, driver-verified END-TO-END: the view
    // rolls up only rows matching a row-level predicate, maintained
    // through the SIGNED-FOLD path (single SUM) — the predicate
    // filters each CDF slice BEFORE aggregation, so a preimage that
    // matched retracts, a postimage that stops matching drops out, and
    // the update here FLIPS rows out of the filter (n_chars → 5000
    // crosses the < 2000 bound), which a view that filtered only at
    // create time would get wrong. The oracle recomputes the filtered
    // rollup from parquet.
    "q_matview_filtered" -> ((s, dir) =>
      matviewDocsLifecycle(s, dir, "graft_mvf_",
        (v, src) => s"GRAFT CREATE MATVIEW '$v' FROM '$src' " +
          "KEYS (source) SUM (n_chars) WHERE n_chars < 2000",
        src => graft.delta.Mutations.update(src, col("doc_id") % 9 === 2,
          Map("n_chars" -> lit(5000L))))),
    // EXPRESSION-keyed MATVIEW, driver-verified END-TO-END: the view
    // keys on a DERIVED bucket (doc_id % 7) that no source column
    // carries — the expression materializes on the initial rollup and
    // on every CDF slice, so the v4 update that MOVES rows between
    // buckets (doc_id += 70001 flips the modulus) retracts from the
    // old bucket and adds to the new one through the signed fold. The
    // oracle recomputes the bucketed rollup from parquet.
    "q_matview_exprkey" -> ((s, dir) =>
      matviewDocsLifecycle(s, dir, "graft_mvek_",
        (v, src) => s"GRAFT CREATE MATVIEW '$v' FROM '$src' " +
          "KEYS (bucket = doc_id % 7, source) SUM (n_chars)",
        src => graft.delta.Mutations.update(src, col("doc_id") % 9 === 2,
          Map("doc_id" -> (col("doc_id") + lit(70001L)))))),
    // Materialized JOIN view, driver-verified END-TO-END: CREATE
    // MATVIEW ... JOIN persists orders ⨝ customer keyed by the fact PK
    // and REFRESH maintains it from BOTH change feeds — fact append +
    // DELETE (O(slice)), then dim UPDATE + dim DELETE (fact pass pruned
    // to changed dim keys; inner-join semantics drop rows whose dim
    // vanished) — applied by one MERGE per refresh, never a rebuild.
    // The oracle recomputes the final join from parquet.
    "q_matview_join" -> ((s, dir) => {
      registerViews(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_mvj_")
      val factPath = base.resolve("f").toString
      val dimPath = base.resolve("d").toString
      val viewPath = base.resolve("view").toString
      val factLog = graft.delta.DeltaLog.forPath(s, factPath)
      val dimLog = graft.delta.DeltaLog.forPath(s, dimPath)
      // half the orders universe: the gate's cost is 3 view writes +
      // fact mutations — the halving keeps the dual-CDF lifecycle
      // intact while the view stays ~60k rows at sf0.1
      val orders = s.table("orders")
        .where(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val cust = s.table("customer").select("c_custkey", "c_mktsegment")
      graft.delta.TransactionWriter.overwrite(factLog,
        orders.where(col("o_orderkey") % 3 =!= 2))                     // f v0
      graft.delta.ChangeDataFeed.enable(factLog)                       // f v1
      graft.delta.TransactionWriter.overwrite(dimLog, cust)            // d v0
      graft.delta.ChangeDataFeed.enable(dimLog)                        // d v1
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT CREATE MATVIEW '$viewPath' FROM '$factPath' " +
          s"JOIN '$dimPath' ON (o_custkey = c_custkey) " +
          "KEYS (o_orderkey) COLS (c_mktsegment)").collect()
      graft.delta.TransactionWriter.append(factLog,
        orders.where(col("o_orderkey") % 3 === 2))                     // f v2
      graft.delta.Mutations.delete(factLog, col("o_orderkey") % 7 === 0) // f v3
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH MATVIEW '$viewPath'").collect()
      graft.delta.Mutations.update(dimLog, col("c_custkey") % 10 === 5,
        Map("c_mktsegment" -> lit("X")))                               // d v2
      graft.delta.Mutations.delete(dimLog, col("c_custkey") % 13 === 3) // d v3
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH MATVIEW '$viewPath'").collect()
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH MATVIEW '$viewPath'").collect()               // no-op
      graft.delta.DeltaLog.forPath(s, viewPath).snapshot.read()
    }),
    // CASCADED materialized views, driver-verified END-TO-END: a
    // rollup matview maintained OVER the join matview — the join
    // view's table enables CDF, so its refresh MERGEs emit change
    // rows the downstream aggregate folds like any source. Mutations
    // on the BASE tables (fact append + delete, dim attribute update)
    // propagate through two refresh hops; the oracle recomputes the
    // final rollup of the join from parquet. This is the composability
    // proof: views are ordinary CDF-capable Delta tables, so IVM
    // chains without special cases.
    "q_matview_cascade" -> ((s, dir) => {
      registerViews(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_mvc_")
      val factPath = base.resolve("f").toString
      val dimPath = base.resolve("d").toString
      val joinPath = base.resolve("j").toString
      val aggPath = base.resolve("agg").toString
      val fact = graft.delta.DeltaLog.forPath(s, factPath)
      val dim = graft.delta.DeltaLog.forPath(s, dimPath)
      val docs = s.table("documents").select("doc_id", "source", "n_chars")
      graft.delta.TransactionWriter.overwrite(fact,
        docs.where(col("doc_id") % 4 =!= 3))                           // f v0
      graft.delta.ChangeDataFeed.enable(fact)                          // f v1
      graft.delta.TransactionWriter.overwrite(dim,
        s.table("documents").select(col("source")).distinct()
          .select(col("source").as("src_key"),
            expr("substr(source, 4)").as("cat")))                      // d v0
      graft.delta.ChangeDataFeed.enable(dim)                           // d v1
      graft.delta.MatView.createJoin(s, joinPath, factPath, dimPath,
        Seq("doc_id"), "source", "src_key", Seq("cat"))
      graft.delta.ChangeDataFeed.enable(
        graft.delta.DeltaLog.forPath(s, joinPath))
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT CREATE MATVIEW '$aggPath' FROM '$joinPath' " +
          "KEYS (cat) SUM (n_chars)").collect()
      graft.delta.TransactionWriter.append(fact,
        docs.where(col("doc_id") % 4 === 3))                           // f v2
      graft.delta.Mutations.delete(fact, col("doc_id") % 11 === 0)     // f v3
      graft.delta.Mutations.update(dim, col("src_key") === "src3",
        Map("cat" -> lit("X")))                                        // d v2
      // ONE propagation round through both hops (repeated incremental
      // folding per view is covered by the single-view gates): the join
      // refresh folds a multi-commit fact window + the dim update, and
      // its MERGE's change rows feed the downstream aggregate refresh —
      // including the whole-group key move ('3' → 'X')
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH MATVIEW '$joinPath'").collect()
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH MATVIEW '$aggPath'").collect()
      graft.delta.MatView.read(s, aggPath)
    }),
    // AGGREGATE-OVER-JOIN matview in ONE view, driver-verified
    // END-TO-END: the rollup `SELECT cat, count(*), sum(n_chars) FROM
    // fact ⨝ dim GROUP BY cat` (group key from the DIM side) is
    // maintained directly from both change feeds via the SIGNED JOIN
    // DELTA (ΔF⨝D_new + F_new⨝ΔD − ΔF⨝ΔD — the cross term keeps
    // group-key moves exact), so the fact⨝dim rollup that took two
    // chained views in q_matview_cascade (kept as the composition
    // baseline) is ONE view, ONE refresh, ONE commit — the MERGE
    // carries the watermark domain, so fold and watermark are atomic.
    // Mutations on BOTH sources: fact append + delete, dim attribute
    // update (moves a whole group '3'→'X') and dim DELETE (group '1'
    // vanishes through inner-join semantics → merge deletes its row).
    // A second refresh is a pure no-op committing NOTHING. The oracle
    // recomputes the rollup from parquet.
    "q_matview_join_rollup" -> ((s, dir) => {
      registerViews(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_mvjr_")
      val factPath = base.resolve("f").toString
      val dimPath = base.resolve("d").toString
      val viewPath = base.resolve("view").toString
      val fact = graft.delta.DeltaLog.forPath(s, factPath)
      val dim = graft.delta.DeltaLog.forPath(s, dimPath)
      val docs = s.table("documents").select("doc_id", "source", "n_chars")
      graft.delta.TransactionWriter.overwrite(fact,
        docs.where(col("doc_id") % 4 =!= 3))                           // f v0
      graft.delta.ChangeDataFeed.enable(fact)                          // f v1
      graft.delta.TransactionWriter.overwrite(dim,
        s.table("documents").select(col("source")).distinct()
          .select(col("source").as("src_key"),
            expr("substr(source, 4)").as("cat")))                      // d v0
      graft.delta.ChangeDataFeed.enable(dim)                           // d v1
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT CREATE MATVIEW '$viewPath' FROM '$factPath' " +
          s"JOIN '$dimPath' ON (source = src_key) " +
          "KEYS (cat) SUM (n_chars) AVG (n_chars)").collect()
      graft.delta.TransactionWriter.append(fact,
        docs.where(col("doc_id") % 4 === 3))                           // f v2
      graft.delta.Mutations.delete(fact, col("doc_id") % 11 === 0)     // f v3
      graft.delta.Mutations.update(dim, col("src_key") === "src3",
        Map("cat" -> lit("X")))                                        // d v2
      graft.delta.Mutations.delete(dim, col("src_key") === "src1")     // d v3
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH MATVIEW '$viewPath'").collect()
      val vAfter = graft.delta.DeltaLog.forPath(s, viewPath).snapshot.version
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH MATVIEW '$viewPath'").collect()                // no-op
      val idleFree =
        graft.delta.DeltaLog.forPath(s, viewPath).snapshot.version == vAfter
      // the AVG rides the invertible fold (hidden (__as, __ac) pair);
      // the gate pins the VISIBLE surface — the derived average must
      // equal the oracle's exact-pair ratio after both-source mutations
      graft.delta.DeltaLog.forPath(s, viewPath).snapshot.read()
        .select("cat", "n_rows", "sum_n_chars", "avg_n_chars")
        .withColumn("idle_refresh_free", lit(if (idleFree) 1L else 0L))
    }),
    // Join-rollup MIN/MAX, driver-verified END-TO-END: non-invertible
    // aggregates over a join maintained by CHANGED-KEY REDERIVE from
    // the pinned join (the single-table rederiveMerge technique with
    // keys from the signed join delta) — including the hard case, a
    // DELETE that removes groups' CURRENT-MIN rows (minima must rise,
    // which no fold can produce), plus dim-side re-keying and a dim
    // delete. The oracle recomputes the final rollup from parquet.
    "q_matview_join_minmax" -> ((s, dir) => {
      registerViews(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_mvjm_")
      val factPath = base.resolve("f").toString
      val dimPath = base.resolve("d").toString
      val viewPath = base.resolve("view").toString
      val fact = graft.delta.DeltaLog.forPath(s, factPath)
      val dim = graft.delta.DeltaLog.forPath(s, dimPath)
      val docs = s.table("documents").select("doc_id", "source", "n_chars")
      graft.delta.TransactionWriter.overwrite(fact,
        docs.where(col("doc_id") % 4 =!= 3))                           // f v0
      graft.delta.ChangeDataFeed.enable(fact)                          // f v1
      graft.delta.TransactionWriter.overwrite(dim,
        s.table("documents").select(col("source")).distinct()
          .select(col("source").as("src_key"),
            expr("substr(source, 4)").as("cat")))                      // d v0
      graft.delta.ChangeDataFeed.enable(dim)                           // d v1
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT CREATE MATVIEW '$viewPath' FROM '$factPath' " +
          s"JOIN '$dimPath' ON (source = src_key) " +
          "KEYS (cat) MIN (n_chars) MAX (n_chars) SUM (n_chars)").collect()
      graft.delta.TransactionWriter.append(fact,
        docs.where(col("doc_id") % 4 === 3))                           // f v2
      // delete every group's low rows — the current minima go with
      // them, so the maintained MIN must RISE (fold-impossible)
      graft.delta.Mutations.delete(fact, col("n_chars") < 200)         // f v3
      graft.delta.Mutations.update(dim, col("src_key") === "src3",
        Map("cat" -> lit("X")))                                        // d v2
      graft.delta.Mutations.delete(dim, col("src_key") === "src1")     // d v3
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH MATVIEW '$viewPath'").collect()
      val vAfter = graft.delta.DeltaLog.forPath(s, viewPath).snapshot.version
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH MATVIEW '$viewPath'").collect()                // no-op
      val idleFree =
        graft.delta.DeltaLog.forPath(s, viewPath).snapshot.version == vAfter
      graft.delta.DeltaLog.forPath(s, viewPath).snapshot.read()
        .withColumn("idle_refresh_free", lit(if (idleFree) 1L else 0L))
    }),
    // MATVIEW staleness surface, driver-verified END-TO-END: DESCRIBE
    // exposes `lag` — how many source commits the watermark has NOT
    // folded (one log-tail listing, no CDF read, no data touched) —
    // and `REFRESH ... IF STALE` is the free-when-current polling
    // form. Pinned: lag 2 after two source mutations, IF STALE folds
    // them, lag 0 after, and a SECOND IF STALE commits NOTHING.
    "q_matview_stale" -> ((s, dir) => {
      registerViews(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_mvs_")
      val srcPath = base.resolve("src").toString
      val viewPath = base.resolve("view").toString
      val src = graft.delta.DeltaLog.forPath(s, srcPath)
      val docs = s.table("documents").select("doc_id", "source", "n_chars")
      graft.delta.TransactionWriter.overwrite(src,
        docs.where(col("doc_id") % 4 =!= 3))                           // v0
      graft.delta.ChangeDataFeed.enable(src)                           // v1
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT CREATE MATVIEW '$viewPath' FROM '$srcPath' " +
          "KEYS (source) SUM (n_chars)").collect()
      graft.delta.TransactionWriter.append(src,
        docs.where(col("doc_id") % 4 === 3))                           // v2
      graft.delta.Mutations.delete(src, col("doc_id") % 11 === 0)      // v3
      def lag(): Long = graft.plans.GraftSqlParser.run(s,
        s"GRAFT DESCRIBE MATVIEW '$viewPath'")
        .select("lag").head().getLong(0)
      val lagBefore = lag()
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH MATVIEW '$viewPath' IF STALE").collect()
      val lagAfter = lag()
      val vAfter = graft.delta.DeltaLog.forPath(s, viewPath).snapshot.version
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH MATVIEW '$viewPath' IF STALE").collect()
      val noop =
        graft.delta.DeltaLog.forPath(s, viewPath).snapshot.version == vAfter
      graft.delta.MatView.read(s, viewPath)
        .withColumn("lag_before", lit(lagBefore))
        .withColumn("lag_after", lit(lagAfter))
        .withColumn("second_refresh_noop", lit(if (noop) 1L else 0L))
    }),
    // SUM full-retraction exactness, driver-verified END-TO-END: the
    // single-SUM signed fold maintains a hidden per-key non-null-value
    // count, so deleting EVERY non-null row of a mixed group folds the
    // visible sum back to NULL — exactly what a direct SUM over the
    // surviving all-null rows reports (previously a documented residue:
    // the pair-less fold left 0). Source docs carry injected NULLs
    // (doc_id % 7 = 1); v3 deletes all of src2's non-null rows (sum →
    // NULL while n_rows keeps counting the null rows), v4 NULLs a src3
    // slice (partial — sum stays non-null, just smaller). The oracle
    // recomputes the final state from parquet.
    "q_matview_sum_retract" -> ((s, dir) => {
      registerViews(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_mvsr_")
      val srcPath = base.resolve("src").toString
      val viewPath = base.resolve("view").toString
      val src = graft.delta.DeltaLog.forPath(s, srcPath)
      val docs = s.table("documents").select(col("doc_id"), col("source"),
        when(col("doc_id") % 7 === 1, lit(null).cast("long"))
          .otherwise(col("n_chars")).as("n_chars"))
      graft.delta.TransactionWriter.overwrite(src, docs)               // v0
      graft.delta.ChangeDataFeed.enable(src)                           // v1
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT CREATE MATVIEW '$viewPath' FROM '$srcPath' " +
          "KEYS (source) SUM (n_chars)").collect()
      graft.delta.Mutations.delete(src,
        col("source") === "src2" && col("n_chars").isNotNull)          // v2
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH MATVIEW '$viewPath'").collect()
      graft.delta.Mutations.update(src,
        col("source") === "src3" && col("doc_id") % 9 === 2,
        Map("n_chars" -> lit(null).cast("long")))                      // v3
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH MATVIEW '$viewPath'").collect()
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH MATVIEW '$viewPath'").collect()               // no-op
      graft.delta.MatView.read(s, viewPath)
    }),
    // DESCRIBE MATVIEW, driver-verified: the SQL surface returns the
    // view's definition (key columns, aggregate spec) and watermark.
    // The paths are temp-dir-local, so the gate pins the deterministic
    // columns; the oracle states the expected literals.
    "q_matview_describe" -> ((s, dir) => {
      registerViews(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_mvd_")
      val srcPath = base.resolve("src").toString
      val viewPath = base.resolve("view").toString
      val src = graft.delta.DeltaLog.forPath(s, srcPath)
      val nation = s.table("nation").select("n_nationkey", "n_regionkey")
      graft.delta.TransactionWriter.overwrite(src, nation)             // v0
      graft.delta.ChangeDataFeed.enable(src)                           // v1
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT CREATE MATVIEW '$viewPath' FROM '$srcPath' " +
          "KEYS (n_regionkey) SUM (n_nationkey) MAX (n_nationkey)").collect()
      graft.delta.TransactionWriter.append(src,
        nation.where(col("n_nationkey") < 5))                          // v2
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH MATVIEW '$viewPath'").collect()
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT DESCRIBE MATVIEW '$viewPath'")
        .select(col("key_cols"), col("aggs"), col("source_version"))
    }),
    // Streaming-maintained materialized rollup: the CDF stream of a
    // scratch table (initial snapshot as inserts, then a DELETE and an
    // UPDATE) MERGEs signed per-key deltas into a rollup Delta table
    // exactly-once; the oracle recomputes the final rollup from parquet.
    "q_stream_incr_agg" -> ((s, dir) => {
      registerViews(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_sia_")
      val src = graft.delta.DeltaLog.forPath(s, base.resolve("t").toString)
      graft.delta.TransactionWriter.overwrite(src,
        s.table("documents").select("doc_id", "source", "n_chars"))   // v0
      graft.delta.ChangeDataFeed.enable(src)                          // v1
      val agg = graft.delta.DeltaLog.forPath(s, base.resolve("agg").toString)
      graft.delta.TransactionWriter.overwrite(agg,
        s.table("documents")
          .select(col("source"), lit(0L).as("n_docs"), lit(0L).as("sum_chars"))
          .limit(0))
      val changes = s.readStream
        .format(classOf[graft.sources.DeltaSourceProvider].getName)
        .option("path", src.tablePath)
        .option("readChangeFeed", "true")
        .load()
      val q = graft.streaming.StreamingOps.incrementalAggSink(
        changes, agg, Seq("source"), "n_chars", "n_docs", "sum_chars",
        appId = "q_stream_incr_agg",
        checkpointLocation = base.resolve("cp").toString)
      q.processAllAvailable()                                         // snapshot @v1
      graft.delta.Mutations.delete(src, col("doc_id") % 6 === 1)      // v2
      graft.delta.Mutations.update(src, col("doc_id") % 9 === 4,
        Map("n_chars" -> lit(100L)))                                  // v3
      q.processAllAvailable()
      q.stop()
      agg.snapshot.read()
    }),
    // CONTINUOUS maintenance of a JOIN matview, driver-verified
    // END-TO-END: the FACT's CDF stream triggers MatView.refresh per
    // micro-batch ([[graft.streaming.StreamingOps.matviewRefreshSink]])
    // on a fact⨝dim view — each trigger folds BOTH change windows, so
    // dim-side mutations (attribute update + delete) ride the next
    // fact-triggered batch without a second stream; exactly-once rests
    // on the refresh's own atomic watermark-in-merge commit, not the
    // checkpoint. Result must equal the batch-refresh gate's semantics
    // (same oracle shape as q_matview_join on the %4 slice).
    "q_stream_matview_join" -> ((s, dir) => {
      registerViews(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_smvj_")
      val factPath = base.resolve("f").toString
      val dimPath = base.resolve("d").toString
      val viewPath = base.resolve("view").toString
      val factLog = graft.delta.DeltaLog.forPath(s, factPath)
      val dimLog = graft.delta.DeltaLog.forPath(s, dimPath)
      val orders = s.table("orders")
        .where(col("o_orderkey") % 4 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      graft.delta.TransactionWriter.overwrite(factLog,
        orders.where(col("o_orderkey") % 3 =!= 2))                     // f v0
      graft.delta.ChangeDataFeed.enable(factLog)                       // f v1
      graft.delta.TransactionWriter.overwrite(dimLog,
        s.table("customer").select("c_custkey", "c_mktsegment"))       // d v0
      graft.delta.ChangeDataFeed.enable(dimLog)                        // d v1
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT CREATE MATVIEW '$viewPath' FROM '$factPath' " +
          s"JOIN '$dimPath' ON (o_custkey = c_custkey) " +
          "KEYS (o_orderkey) COLS (c_mktsegment)").collect()
      val changes = s.readStream
        .format(classOf[graft.sources.DeltaSourceProvider].getName)
        .option("path", factLog.tablePath)
        .option("readChangeFeed", "true")
        .load()
      val q = graft.streaming.StreamingOps.matviewRefreshSink(
        s, changes, viewPath, base.resolve("cp").toString)
      try {
        // one drain covers the initial snapshot AND the two fact
        // mutations (refresh folds multi-commit windows; a drain per
        // commit would only re-measure streaming fixed costs)
        graft.delta.TransactionWriter.append(factLog,
          orders.where(col("o_orderkey") % 3 === 2))                   // f v2
        graft.delta.Mutations.delete(factLog,
          col("o_orderkey") % 7 === 0)                                 // f v3
        q.processAllAvailable()
        graft.delta.Mutations.update(dimLog, col("c_custkey") % 10 === 5,
          Map("c_mktsegment" -> lit("X")))                             // d v2
        graft.delta.Mutations.delete(dimLog, col("c_custkey") % 13 === 3) // d v3
        // dim-only changes don't wake the FACT stream — poke the fact
        // with a value-preserving update so the next micro-batch folds
        // the dim window (dual watermarks advance together)
        graft.delta.Mutations.update(factLog, col("o_orderkey") % 100 === 4,
          Map("o_totalprice" -> col("o_totalprice")))                  // f v4
        q.processAllAvailable()
      } finally q.stop()
      graft.delta.DeltaLog.forPath(s, viewPath).snapshot.read()
    }),
    // CONTINUOUS matview maintenance, driver-verified END-TO-END: the
    // source's CDF stream triggers MatView.refresh per micro-batch on
    // a SUM+MAX view (the append + maxima-deleting DELETE exercises
    // the changed-key rederive path under streaming); exactly-once
    // rests on the view's own txn markers, not the checkpoint, so
    // replayed triggers are no-ops. The oracle recomputes the final
    // rollup from parquet.
    "q_stream_matview" -> ((s, dir) => {
      registerViews(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_smv_")
      val srcPath = base.resolve("src").toString
      val viewPath = base.resolve("view").toString
      val src = graft.delta.DeltaLog.forPath(s, srcPath)
      val docs = s.table("documents").select("doc_id", "source", "n_chars")
      graft.delta.TransactionWriter.overwrite(src,
        docs.where(col("doc_id") % 3 =!= 1))                           // v0
      graft.delta.ChangeDataFeed.enable(src)                           // v1
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT CREATE MATVIEW '$viewPath' FROM '$srcPath' " +
          "KEYS (source) SUM (n_chars) MAX (n_chars)").collect()
      val changes = s.readStream
        .format(classOf[graft.sources.DeltaSourceProvider].getName)
        .option("path", src.tablePath)
        .option("readChangeFeed", "true")
        .load()
      val q = graft.streaming.StreamingOps.matviewRefreshSink(
        s, changes, viewPath, base.resolve("cp").toString)
      q.processAllAvailable()
      graft.delta.TransactionWriter.append(src,
        docs.where(col("doc_id") % 3 === 1))                           // v2
      graft.delta.Mutations.delete(src, col("n_chars") >= 450)         // v3
      q.processAllAvailable()
      q.stop()
      graft.delta.DeltaLog.forPath(s, viewPath).snapshot.read()
    }),
    // Training-export shuffle: deterministic pseudo-random permutation
    // via hash shard + shard-local ordering — no global sort.
    "q_shuffle_export" -> ((s, dir) => {
      registerViews(s, dir)
      graft.operators.Curation.shuffleExport(
        s.table("documents"), "doc_id", shards = 16)
    }),
    // Token-budget selection: best-quality docs until 40% of corpus
    // tokens — distributed two-phase prefix sum, no global window.
    "q_token_budget" -> ((s, dir) => {
      registerViews(s, dir)
      graft.operators.Curation.tokenBudgetSelect(
        s.table("documents"), "doc_id", "text", fraction = 0.4)
    }),
    // BM25 top-25 for a fixed query — the lexical half of a hybrid
    // search stack; per-term contributions integer-quantized so the
    // per-doc sum is order-free, ties broken by doc_id.
    "q_bm25_topk" -> ((s, dir) => {
      registerViews(s, dir)
      graft.operators.Curation.bm25TopK(
        s.table("documents"), "doc_id", "text",
        Seq("spark", "table", "merge", "fast", "query"), topK = 25)
    }),
    // Hybrid search capstone: reciprocal-rank fusion of the BM25
    // lexical top-50 and the cosine top-50 for one query vector
    // (vec_id 0; the synthetic vec_id/doc_id spaces are aligned 1:1).
    // Per-list contributions floor(1e6/(60+rank)) are integers, so
    // fusion sums and the final (rrf, doc_id) top-20 are engine-exact.
    "q_hybrid_rrf" -> ((s, dir) => {
      registerViews(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score_e6").desc, col("doc_id"))
      val lex = graft.operators.Curation.bm25TopK(
        s.table("documents"), "doc_id", "text",
        Seq("spark", "table", "merge", "fast", "query"), topK = 50)
        .select(col("doc_id"), row_number().over(w).cast("long").as("rnk"))
      val vec = s.sql(
        """WITH e AS (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM embeddings),
          |n AS (SELECT vec_id, v, vec_l2norm(v) AS nrm FROM e),
          |q AS (SELECT * FROM n WHERE vec_id = 0),
          |p AS (SELECT /*+ BROADCAST(q) */ x.vec_id AS doc_id,
          |    ROUND(vec_dot(q.v, x.v) / (q.nrm * x.nrm), 4) AS sim
          |  FROM n x JOIN q ON q.vec_id <> x.vec_id),
          |r AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS BIGINT) AS rnk FROM p)
          |SELECT doc_id, rnk FROM r WHERE rnk <= 50""".stripMargin)
      val contrib = (d: org.apache.spark.sql.DataFrame) => d.select(
        col("doc_id"),
        floor(lit(1e6) / (col("rnk") + 60)).cast("long").as("__c"))
      contrib(lex).union(contrib(vec))
        .groupBy("doc_id")
        .agg(sum(col("__c")).as("rrf_e6"), count(lit(1)).as("n_lists"))
        .orderBy(col("rrf_e6").desc, col("doc_id")).limit(20)
    }),
    // Hybrid search, SCALE path: the same RRF fusion but with the
    // vector half served by IVF-PQ (coarse cells bound candidates,
    // asymmetric distance over 4×16 codebooks ranks them) instead of
    // the exact-cosine baseline above — the composition a production
    // hybrid stack runs at 100 TB, where a brute-force cosine pass per
    // query is off the table. Both quantizers are exported and the
    // oracle replays cell assignment, probe, PQ encode, and ADC
    // bit-for-bit, exactly as q_embedding_ivfpq_knn does; the
    // exact-cosine q_hybrid_rrf stays as the recall baseline.
    "q_hybrid_rrf_ann" -> ((s, dir) => {
      registerViews(s, dir)
      val emb = s.table("embeddings")
      val Seq(coarse, books) = graft.operators.Pq.trainCodebooksMulti(
        emb, "vec_id", "embedding", Seq((1, 8), (4, 16)), iterations = 2)
      import s.implicits._
      (coarse.map { case (j, cid, cv) => ("c", j, cid, cv.toSeq) } ++
        books.map { case (j, cid, cv) => ("p", j, cid, cv.toSeq) })
        .toDF("book", "subspace", "cid", "cv")
        .coalesce(1)
        .write.mode("overwrite").parquet(hybridAnnBooksPath)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score_e6").desc, col("doc_id"))
      val lex = graft.operators.Curation.bm25TopK(
        s.table("documents"), "doc_id", "text",
        Seq("spark", "table", "merge", "fast", "query"), topK = 50)
        .select(col("doc_id"), row_number().over(w).cast("long").as("rnk"))
      val vec = graft.operators.Pq.ivfPqTopK(
        emb, emb.where(col("vec_id") === 0), "vec_id", "embedding",
        coarse, books, kNeighbors = 50, nprobe = 2)
        .select(col("neighbor_id").as("doc_id"),
          col("rnk").cast("long").as("rnk"))
      val contrib = (d: org.apache.spark.sql.DataFrame) => d.select(
        col("doc_id"),
        floor(lit(1e6) / (col("rnk") + 60)).cast("long").as("__c"))
      contrib(lex).union(contrib(vec))
        .groupBy("doc_id")
        .agg(sum(col("__c")).as("rrf_e6"), count(lit(1)).as("n_lists"))
        .orderBy(col("rrf_e6").desc, col("doc_id")).limit(20)
    }),
    // Canonical document per near-dup cluster: the LSH+jaccard+CC
    // pipeline of q_minhash_cc, electing the best-quality member
    // (ties to the smallest doc_id) as each component's survivor.
    "q_canonical_docs" -> ((s, dir) => {
      registerViews(s, dir)
      val edges = cachedStagesQuery(minhashStages, sparkNgramJaccardFinal)(s, dir)
      val comp = graft.operators.ConnectedComponents
        .components(edges, "doc_a", "doc_b")
        .withColumnRenamed("id", "doc_id")
      val docs = s.table("documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.qualityScoreE6(col("text"))
            .as("quality_e6"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"), col("quality_e6"),
          coalesce(col("component"), col("doc_id")).as("component"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("component"))
        .orderBy(col("quality_e6").desc, col("doc_id"))
      docs.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn")
    }),
    // Importance sampling toward lexically diverse docs: weight = the
    // distinct-token count, expected keep rate 50%.
    "q_importance_sample" -> ((s, dir) => {
      registerViews(s, dir)
      graft.operators.Curation.importanceSample(
        s.table("documents"), "doc_id",
        size(array_distinct(split(col("text"), " "))),
        targetFraction = 0.5)
        .select("doc_id", "lang", "source")
    }),
    // Incremental-ingestion dedup: the "new batch" is doc_id % 3 == 0;
    // the "prior corpus" additionally contains copies of the texts of
    // doc_id % 6 == 0, so exactly that half of the batch must drop.
    "q_dedup_incremental" -> ((s, dir) => {
      registerViews(s, dir)
      val docs = s.table("documents")
      val prior = docs.where(col("doc_id") % 3 =!= 0).select("text")
        .unionByName(docs.where(col("doc_id") % 6 === 0).select("text"))
      val batch = docs.where(col("doc_id") % 3 === 0)
        .select("doc_id", "lang", "source", "text")
      Dedup.dedupAgainstCorpus(batch, prior, "text")
        .select("doc_id", "lang", "source")
    }),
    // Fuzzy (MinHash-LSH) incremental dedup: the operator must agree
    // with the oracle's cross-pair pipeline exactly (same shingle
    // hashing + banding via the fused kernels, same Jaccard verify).
    "q_dedup_incremental_fuzzy" -> ((s, dir) => {
      registerViews(s, dir)
      val docs = s.table("documents")
      graft.operators.MinHashLsh.dedupAgainstCorpus(
        docs.where(col("doc_id") % 5 === 0).select("doc_id", "lang", "source", "text"),
        docs.where(col("doc_id") % 5 =!= 0),
        "doc_id", "text", threshold = 0.5)
        .select("doc_id", "lang", "source")
    }),
    // PERSISTED-signature-index incremental fuzzy dedup, driver-verified
    // END-TO-END — the O(batch), not O(corpus), ingestion economics:
    // build the LSH index over a scratch Delta corpus, append a second
    // ingest, GRAFT REFRESH LSH INDEX (the sidecar proves every
    // pre-existing entry survived VERBATIM with its original scan
    // version — covered files were NOT re-read; at 100 TB refresh =
    // ingest-sized), then dedup the batch THROUGH the index: the prior
    // side is served from persisted (id, hs, ks) columns with no text
    // read and no md5/minhash recompute. The result must equal the
    // direct dedupAgainstCorpus scan row-for-row (matches_direct) AND
    // hash-match the oracle's engine-independent cross-pair replay.
    "q_dedup_incremental_indexed" -> ((s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_lshidx_")
        .resolve("corpus").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      val docs = s.table("documents")
      val prior = docs.where(col("doc_id") % 5 =!= 0)
        .select("doc_id", "lang", "source", "text")
      graft.delta.TransactionWriter.overwrite(log,
        prior.where(col("doc_id") % 7 =!= 3).repartition(8, col("doc_id")))
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT CREATE LSH INDEX ON '$tmp' (doc_id, text)").collect()
      val before = graft.delta.LshIndex.entries(log, "doc_id", "text").get
        .select("file_path", "version").distinct()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      graft.delta.TransactionWriter.append(log,
        prior.where(col("doc_id") % 7 === 3).repartition(2, col("doc_id")))
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH LSH INDEX ON '$tmp' (doc_id, text)").collect()
      val after = graft.delta.LshIndex.entries(log, "doc_id", "text").get
        .select("file_path", "version").distinct()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val oldKept = before.forall { case (p, v) => after.get(p).contains(v) }
      val newCovered = after.size > before.size
      val batch = docs.where(col("doc_id") % 5 === 0)
        .select("doc_id", "lang", "source", "text")
      val freshLog = graft.delta.DeltaLog.forPath(s, tmp)
      // ONE batch kernel pass shared by both sides (round-14: each
      // side previously re-shingled the identical batch — same
      // deterministic kernel, so sharing cannot move results)
      val hNew = graft.operators.MinHashLsh.hashedShingles(
        batch, "doc_id", "text").localCheckpoint()
      // materialize both sides once (batch-sized): the two exceptAll
      // probes and the final projection would otherwise re-run the
      // indexed and the direct dedup pipelines per consumer
      val viaIndex = graft.delta.LshIndex.dedupBatch(
        freshLog, batch, "doc_id", "text", threshold = 0.5,
        hashedBatch = Some(hNew))
        .localCheckpoint()
      val direct = graft.operators.MinHashLsh.dedupAgainstCorpus(
        batch, freshLog.snapshot.read(), "doc_id", "text", threshold = 0.5,
        hashedBatch = Some(hNew))
        .localCheckpoint()
      val matches = multisetEqual(
        viaIndex.select("doc_id"), direct.select("doc_id"))
      viaIndex.select(col("doc_id"), col("lang"), col("source"),
        lit(if (oldKept) 1L else 0L).as("old_entries_kept"),
        lit(if (newCovered) 1L else 0L).as("new_files_covered"),
        lit(if (matches) 1L else 0L).as("matches_direct"))
    }),
    // Compaction-aware index remap: an OPTIMIZE (dataChange=false)
    // rewrites every file path; the refresh must CARRY the signatures
    // to the new layout without re-running the shingle/minhash kernels.
    // Proof is the sidecar itself: remapped entries keep their source
    // scan `version`, so the (doc_id, hs, ks, version) multiset is
    // UNCHANGED through compact+refresh (a kernel rescan would stamp
    // the refresh version) while the entry file layout follows the
    // compacted files. Then dedup through the remapped index must
    // still equal the direct operator AND the DuckDB oracle.
    "q_index_compact_remap" -> ((s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_remap_")
        .resolve("corpus").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      val docs = s.table("documents")
      val prior = docs.where(col("doc_id") % 5 =!= 0)
        .select("doc_id", "lang", "source", "text")
      graft.delta.TransactionWriter.overwrite(log,
        prior.repartition(8, col("doc_id")))
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT CREATE LSH INDEX ON '$tmp' (doc_id, text)").collect()
      val before = graft.delta.LshIndex.entries(log, "doc_id", "text").get
        .select("doc_id", "hs", "ks", "version").localCheckpoint()
      val filesBefore = graft.delta.LshIndex.entries(log, "doc_id", "text")
        .get.select("file_path").distinct().count()
      graft.delta.Maintenance.compactSmall(log,
        targetFileBytes = 1L << 30, minSmallFiles = 2)
      val fresh = graft.delta.DeltaLog.forPath(s, tmp)
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH LSH INDEX ON '$tmp' (doc_id, text)").collect()
      val after = graft.delta.LshIndex.entries(fresh, "doc_id", "text").get
        .select("doc_id", "hs", "ks", "version").localCheckpoint()
      val carried = multisetEqual(after, before)
      val filesAfter = graft.delta.LshIndex.entries(fresh, "doc_id", "text")
        .get.select("file_path").distinct().count()
      val compacted = filesAfter < filesBefore &&
        filesAfter == fresh.snapshot.planFiles().size
      // DV arm: DELETE-with-DV a deterministic prior slice, REORG PURGE
      // it (a dataChange=false rewrite whose REMOVED source carries a
      // live DV), then refresh with NO refresh in between — the remap
      // must attribute by id, never carry verbatim: a ghost entry for a
      // deleted doc would wrongly drop a NEW batch doc as its
      // duplicate, and the DuckDB oracle checks exactly that (its
      // prior side excludes the deleted slice).
      graft.delta.Mutations.deleteWithDv(
        graft.delta.DeltaLog.forPath(s, tmp), col("doc_id") % 11 === 4)
      graft.delta.Maintenance.purgeDeletionVectors(
        graft.delta.DeltaLog.forPath(s, tmp))
      val fresh2 = graft.delta.DeltaLog.forPath(s, tmp)
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH LSH INDEX ON '$tmp' (doc_id, text)").collect()
      val ghosts = graft.delta.LshIndex.entries(fresh2, "doc_id", "text")
        .get.where(col("doc_id") % 11 === 4).count()
      val batch = docs.where(col("doc_id") % 5 === 0)
        .select("doc_id", "lang", "source", "text")
      // one shared batch kernel pass (see q_dedup_incremental_indexed)
      val hNew = graft.operators.MinHashLsh.hashedShingles(
        batch, "doc_id", "text").localCheckpoint()
      val viaIndex = graft.delta.LshIndex.dedupBatch(
        fresh2, batch, "doc_id", "text", threshold = 0.5,
        hashedBatch = Some(hNew))
        .localCheckpoint()
      val direct = graft.operators.MinHashLsh.dedupAgainstCorpus(
        batch, fresh2.snapshot.read(), "doc_id", "text", threshold = 0.5,
        hashedBatch = Some(hNew))
        .localCheckpoint()
      val matches = multisetEqual(
        viaIndex.select("doc_id"), direct.select("doc_id"))
      viaIndex.select(col("doc_id"), col("lang"), col("source"),
        lit(if (carried) 1L else 0L).as("entries_carried_verbatim"),
        lit(if (compacted) 1L else 0L).as("layout_compacted"),
        lit(if (ghosts == 0L) 1L else 0L).as("dv_purge_no_ghosts"),
        lit(if (matches) 1L else 0L).as("matches_direct"))
    }),
    // Temperature sampling at α=0.5 toward a 300-row target over langs
    "q_temperature_sample" -> ((s, dir) => {
      registerViews(s, dir)
      graft.operators.Curation.temperatureSample(
        s.table("documents"), "lang", "doc_id", alpha = 0.5, targetRows = 300L)
        .select("doc_id", "lang", "source")
    }),
    // Fixed-token-window chunking with overlap (RAG indexing shape):
    // 64-token chunks, 16-token overlap
    "q_chunk_documents" -> ((s, dir) => {
      registerViews(s, dir)
      graft.operators.Curation.chunkDocuments(
        s.table("documents"), "doc_id", "text",
        chunkTokens = 64, overlapTokens = 16)
        .select(col("doc_id"), col("chunk_id"),
          graft.functions.TextFunctions.hash28(col("chunk_text")).as("chunk_hash"),
          col("n_tokens"))
    }),
    "q_tfidf" -> sqlQuery(qTfidf("spark")),
    "q_fingerprint" -> sqlQuery(qFingerprint("spark")),
    "q_token_count" -> sqlQuery(qTokenCount("spark")),
    "q_token_bpe" -> sqlQuery(qTokenBpe("spark")),
    "q_rolling_fingerprint" -> sqlQuery(qRollingFingerprint("spark")),
    "q_split_assign" -> sqlQuery(qSplitAssign("spark")),
    "q_quality_score" -> sqlQuery(qQualityScore("spark")),
    "q_lang_id" -> sqlQuery(qLangId("spark")),
    "q_ngram_jaccard" -> cachedStagesQuery(minhashStages, sparkNgramJaccardFinal),
    // LSH degenerate-bucket cap, driver-verified via the OPERATOR path:
    // 40 identical boilerplate docs form a 40-member bucket in every
    // band; with maxBucketSize = 16 they are dropped from candidate
    // generation (zero pairs from the block — the LSH-at-scale skew
    // mitigation), while ordinary near-dups keep pairing through their
    // under-cap buckets. The oracle replays the capped generation in
    // SQL, so a cap that wrongly dropped (or kept) a bucket fails the
    // hash compare.
    // Asymmetric containment dedup (Broder containment): a short doc
    // quoted whole inside a longer one has LOW Jaccard (union is
    // dominated by the long doc) but containment ≈ 1 — the inclusion
    // cases symmetric near-dup misses. Candidates are banded LSH UNION
    // bottom-k shingle anchors; verify is exact |∩| / min(|a|, |b|) on
    // the hashed shingle sets. The corpus is documents UNION two
    // deterministic derivation arms the oracle replays bit-for-bit:
    // 80%-token prefixes of every 97th doc (id + 2000000 — moderate
    // skew, the banded regime) and 5%-token prefixes of every 89th doc
    // (id + 3000000 — EXTREME skew, Jaccard < 0.1: a j⁴ band
    // practically never fires, so these pairs exist iff the anchor
    // scheme finds them; being true prefixes, anchors find them
    // deterministically).
    "q_containment_dedup" -> ((s, dir) => {
      registerViews(s, dir)
      val docs = s.table("documents").select(col("doc_id"), col("text"))
      val derived80 = containmentPrefixArm(s.table("documents"),
        97, 2000000L, 4, 5, 1)
      val derived05 = containmentPrefixArm(s.table("documents"),
        89, 3000000L, 5, 100, 4)
      graft.operators.MinHashLsh.containmentPairs(
        docs.unionByName(derived80).unionByName(derived05),
        "doc_id", "text", threshold = 0.9)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          col("containment"))
    }),
    // Containment served FROM THE LSH SIDECAR, driver-verified
    // END-TO-END: the corpus (doc_id % 5 <> 0) is a Delta table with a
    // persisted signature index (created, then extended by an
    // incremental refresh whose carried entries keep their version
    // stamps — the no-rescan observable); the batch is fresh docs
    // (doc_id % 5 = 0) plus the two deterministic prefix arms (80% —
    // moderate skew; 5% — extreme skew). The indexed screen must
    // equal the DIRECT MinHashLsh.containmentAgainstCorpus (pinned
    // in-gate via exceptAll both ways) AND the DuckDB oracle, which
    // replays the bottom-8 anchor candidates and the exact Broder
    // verify engine-independently.
    "q_containment_indexed" -> ((s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_lshc_")
        .resolve("corpus").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      val docs = s.table("documents")
      val prior = docs.where(col("doc_id") % 5 =!= 0)
        .select("doc_id", "lang", "source", "text")
      graft.delta.TransactionWriter.overwrite(log,
        prior.where(col("doc_id") % 7 =!= 3).repartition(8, col("doc_id")))
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT CREATE LSH INDEX ON '$tmp' (doc_id, text)").collect()
      val before = graft.delta.LshIndex.entries(log, "doc_id", "text").get
        .select("file_path", "version").distinct()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      graft.delta.TransactionWriter.append(log,
        prior.where(col("doc_id") % 7 === 3).repartition(2, col("doc_id")))
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH LSH INDEX ON '$tmp' (doc_id, text)").collect()
      val after = graft.delta.LshIndex.entries(log, "doc_id", "text").get
        .select("file_path", "version").distinct()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val oldKept = before.forall { case (p, v) => after.get(p).contains(v) }
      val batch = docs.where(col("doc_id") % 5 === 0)
        .select("doc_id", "text")
        .unionByName(containmentPrefixArm(docs, 97, 2000000L, 4, 5, 1))
        .unionByName(containmentPrefixArm(docs, 89, 3000000L, 5, 100, 4))
      val freshLog = graft.delta.DeltaLog.forPath(s, tmp)
      // one shared batch kernel pass (see q_dedup_incremental_indexed)
      val hNew = graft.operators.MinHashLsh.hashedShingles(
        batch, "doc_id", "text").localCheckpoint()
      val viaIndex = graft.delta.LshIndex.containmentBatch(
        freshLog, batch, "doc_id", "text", threshold = 0.9,
        hashedBatch = Some(hNew))
        .localCheckpoint()
      val direct = graft.operators.MinHashLsh.containmentAgainstCorpus(
        batch, freshLog.snapshot.read(), "doc_id", "text", threshold = 0.9,
        hashedBatch = Some(hNew))
        .localCheckpoint()
      val matches = multisetEqual(viaIndex, direct)
      viaIndex.select(col("id_new").as("doc_new"),
        col("id_prior").as("doc_prior"), col("containment"),
        lit(if (oldKept) 1L else 0L).as("old_entries_kept"),
        lit(if (matches) 1L else 0L).as("matches_direct"))
    }),
    "q_minhash_dedup_capped" -> ((s, dir) => {
      registerViews(s, dir)
      val docs = s.table("documents").select(col("doc_id"), col("text"))
        .unionByName(s.range(40).select(
          (col("id") + lit(1000000L)).as("doc_id"),
          lit("lorem ipsum dolor boilerplate footer text").as("text")))
      graft.operators.MinHashLsh
        .nearDupPairs(docs, "doc_id", "text",
          threshold = 0.5, maxBucketSize = 16)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          round(col("jaccard"), 6).as("jaccard"))
    }),
    // via the cached signature stage: the md5 pipeline evaluates once
    // per row instead of being project-collapsed into every mh column
    "q_minhash_signature" -> cachedStagesQuery(minhashStages.take(2),
      "SELECT doc_id, mh0, mh1, mh2, mh3 FROM g_sig"),
    "q_minhash_dedup" -> cachedStagesQuery(minhashStages, sparkMinhashDedupFinal),
    // transitive closure of the verified near-dup graph: cached-stage
    // pair generation, then alternating large-star/small-star CC
    "q_minhash_cc" -> ((s, dir) => {
      val edges = cachedStagesQuery(minhashStages, sparkNgramJaccardFinal)(s, dir)
      val comp = graft.operators.ConnectedComponents
        .components(edges, "doc_a", "doc_b")
        .withColumnRenamed("id", "doc_id")
      s.table("documents").select("doc_id").join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
    }),
    "q_corpus_pipeline" -> cachedStagesQuery(minhashStages, sparkPipelineFinal),
    "q_stream_counts" -> qStreamCountsSpark,
    "q_stream_dedup" -> qStreamDedupSpark,
    "q_stream_dedup_prior" -> qStreamDedupPriorSpark,
    "q_stream_join" -> qStreamJoinSpark,
    "q_stream_static_join" -> qStreamStaticJoinSpark,
    "q_stream_sessionize" -> qStreamSessionizeSpark,
    "q_read_changes" -> qReadChangesSpark,
    "q_delete_dv" -> qDeleteDvSpark,
    "q_rename_read" -> qRenameReadSpark,
    "q_widen_read" -> qWidenReadSpark,
    "q_show_partitions" -> qShowPartitionsSpark,
    "q_restore_read" -> qRestoreReadSpark,
    "q_vacuum_read" -> qVacuumReadSpark,
    "q_postings" -> qPostingsSpark,
    "q_catalog_read" -> qCatalogReadSpark,
    "q_optimize_read" -> qOptimizeReadSpark,
    "q_bloom_read" -> qBloomReadSpark,
    "q_bloom_incremental" -> qBloomIncrementalSpark,
    "q_bloom_join" -> qBloomJoinSpark,
    // Predicate-scoped atomic overwrite (Delta's replaceWhere): the
    // idempotent re-processing primitive — swap exactly one scope's
    // rows in ONE commit. The table is partitioned by o_orderpriority,
    // so the predicate prunes planning to the URGENT partition and
    // every other partition's add entries survive VERBATIM
    // (untouched_kept — the log-plane proof the swap planned only its
    // scope). The replacement rows are the urgent orders re-keyed
    // +10M, so the oracle recomputes the final table from parquet.
    "q_replace_where" -> ((s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_rw_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      val orders = s.table("orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      graft.delta.TransactionWriter.overwrite(log,
        orders.repartition(4, col("o_orderkey")),
        partitionBy = Some(Seq("o_orderpriority")))
      def otherFiles() = log.snapshot.planFiles()
        .filterNot(_.partitionValues.get("o_orderpriority")
          .contains("1-URGENT"))
        .map(f => f.path -> f.modificationTime).toMap
      val before = otherFiles()
      val replacement = orders.where(col("o_orderpriority") === "1-URGENT")
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_orderpriority"), col("o_totalprice"))
      graft.delta.Mutations.replaceWhere(log, replacement,
        col("o_orderpriority") === "1-URGENT")
      val fresh = graft.delta.DeltaLog.forPath(s, tmp)
      val untouchedKept = otherFiles() == before && before.nonEmpty
      fresh.snapshot.read()
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
        .withColumn("untouched_kept", lit(if (untouchedKept) 1L else 0L))
    }),
    // CONVERT TO DELTA: onboard a plain hive-partitioned parquet dir
    // in place — commit 0 records every existing file as an add with
    // footer-derived stats; nothing is read in full or rewritten
    // (in_place: the delta adds resolve to the exact pre-convert
    // parquet paths; with_stats: every add carries numRecords). Reads,
    // time travel, and skipping then work like any native table.
    "q_convert_read" -> ((s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_conv_")
        .resolve("t").toString
      val orders = s.table("orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      orders.repartition(2, col("o_orderkey"))
        .write.partitionBy("o_orderpriority").parquet(tmp)
      val preFiles = {
        val fs = new org.apache.hadoop.fs.Path(tmp)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(tmp), true)
        val b = scala.collection.mutable.Set.empty[String]
        while (it.hasNext) { val st = it.next()
          if (st.getPath.getName.endsWith(".parquet")) b += st.getPath.toString }
        b.toSet
      }
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT CONVERT TO DELTA '$tmp'").collect()
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      val snap = log.snapshot
      // scheme-insensitive path compare (file:/ vs bare; spaces in
      // partition dirs make URI-normalization throw)
      def pathOf(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
      val addAbs = snap.planFiles()
        .map(f => pathOf(snap.absolutePath(f))).toSet
      val inPlace = addAbs == preFiles.map(pathOf) && preFiles.nonEmpty
      val withStats = snap.addsFlat.where(col("num_records").isNull).isEmpty
      snap.read()
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
        .withColumn("in_place", lit(if (inPlace) 1L else 0L))
        .withColumn("with_stats", lit(if (withStats) 1L else 0L))
    }),
    // Dynamic partition overwrite: one write replaces EXACTLY the
    // partitions present in the incoming frame — here the URGENT
    // partition (re-keyed +10M) plus a brand-new '9-NEW' partition —
    // while every other partition's add entries survive verbatim
    // (untouched_kept). The daily-partition-refresh primitive; oracle
    // recomputes the final table from parquet.
    "q_overwrite_dynamic" -> ((s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_dyn_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      val orders = s.table("orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      graft.delta.TransactionWriter.overwrite(log,
        orders.repartition(4, col("o_orderkey")),
        partitionBy = Some(Seq("o_orderpriority")))
      def otherFiles() = log.snapshot.planFiles()
        .filterNot(f => Seq("1-URGENT", "9-NEW")
          .exists(f.partitionValues.get("o_orderpriority").contains))
        .map(f => f.path -> f.modificationTime).toMap
      val before = otherFiles()
      val urgent = orders.where(col("o_orderpriority") === "1-URGENT")
      val incoming = urgent
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_orderpriority"), col("o_totalprice"))
        .unionByName(urgent
          .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
            lit("9-NEW").as("o_orderpriority"), col("o_totalprice")))
      // writer-option surface, not the API: the gate drives the same
      // path a user's df.write would
      incoming.write.format("graftdelta").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").save(tmp)
      val fresh = graft.delta.DeltaLog.forPath(s, tmp)
      val untouchedKept = otherFiles() == before && before.nonEmpty
      fresh.snapshot.read()
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
        .withColumn("untouched_kept", lit(if (untouchedKept) 1L else 0L))
    }),
    // Index observability: GRAFT SHOW INDEXES reports every sidecar
    // index with its coverage vs the active file set (log-plane +
    // sidecar-plane, no data scan) — the "how stale am I" surface the
    // matview DESCRIBE already has. Lifecycle: 4-file corpus → LSH
    // index (covers 4) → 1-file append with NO refresh → bloom index
    // (covers all 5). The counts are pure functions of the scripted
    // lifecycle, so the oracle is the expected inventory itself.
    "q_show_indexes" -> ((s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_showidx_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      val docs = s.table("documents").select("doc_id", "text")
      graft.delta.TransactionWriter.overwrite(log,
        docs.where(col("doc_id") % 5 =!= 0).repartition(4, col("doc_id")))
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT CREATE LSH INDEX ON '$tmp' (doc_id, text)").collect()
      graft.delta.TransactionWriter.append(log,
        docs.where(col("doc_id") % 5 === 0).repartition(1))
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT CREATE BLOOM INDEX ON '$tmp' (doc_id)").collect()
      graft.plans.GraftSqlParser.run(s, s"GRAFT SHOW INDEXES ON '$tmp'")
    }),
    // Write-path index maintenance: with graft.autoRefresh.indexes on
    // the table, a plain append leaves every sidecar index CURRENT —
    // no REFRESH statement anywhere in the lifecycle. The output is
    // the post-append inventory (stale_files must read 0) plus the
    // indexed-dedup row count over the grown corpus as the behavioral
    // witness that the auto-refreshed index serves the new files.
    "q_index_autorefresh" -> ((s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_autoidx_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      val docs = s.table("documents").select("doc_id", "text")
      graft.delta.TransactionWriter.overwrite(log,
        docs.where(col("doc_id") % 5 =!= 0).repartition(4, col("doc_id")),
        configuration = Map("graft.autoRefresh.indexes" -> "true"))
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT CREATE LSH INDEX ON '$tmp' (doc_id, text)").collect()
      // the append triggers the post-commit hook; no REFRESH follows
      graft.delta.TransactionWriter.append(log,
        docs.where(col("doc_id") % 5 === 0).repartition(1))
      val fresh = graft.delta.DeltaLog.forPath(s, tmp)
      // batch of one known duplicate of an indexed-by-hook doc + one
      // novel doc: the survivor count proves the index serves the
      // appended files
      val batch = docs.where(col("doc_id") % 5 === 0).limit(1)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .unionByName(s.range(1).select(lit(2000000L).as("doc_id"),
          lit("entirely novel text with no prior twin anywhere").as("text")))
      val survivors = graft.delta.LshIndex.dedupBatch(
        fresh, batch, "doc_id", "text", threshold = 0.5).count()
      graft.plans.GraftSqlParser.run(s, s"GRAFT SHOW INDEXES ON '$tmp'")
        .withColumn("dedup_survivors", lit(survivors))
    }),
    "q_hilbert_read" -> qHilbertReadSpark,
    "q_hilbert3_read" -> qHilbert3ReadSpark,
    "q_zorder_read" -> qZorderReadSpark,
    "q_cluster_incremental" -> qClusterIncrementalSpark,
    "q_analyze_read" -> qAnalyzeReadSpark,
    "q_funnel" -> qFunnelSpark,
    "q_funnel_windowed" -> qFunnelWindowedSpark,
    "q_retention" -> qRetentionSpark,
    "q_session_paths" -> qSessionPathsSpark,
    "q_attribution" -> qAttributionSpark,
    "q_quality_percentile" -> sqlQuery(qQualityPercentile("spark")),
    "q_decay_engagement" -> qDecayEngagementSpark,
    "q_novelty" -> qNoveltySpark,
    "q_entropy" -> qEntropySpark,
    "q_weighted_sample" -> qWeightedSampleSpark,
    "q_triangles" -> qTrianglesSpark,
    "q_kcore" -> qKCoreSpark,
    "q_fast_count" -> qFastCountSpark,
    "q_update_dv" -> qUpdateDvSpark,
    "q_change_feed" -> qChangeFeedSpark,
    "q_shallow_clone" -> qShallowCloneSpark,
    "q_stream_changes" -> qStreamChangesSpark,
    "q_stream_cdc_apply" -> qStreamCdcApplySpark,
    "q_media_frames" -> ((s, dir) => {
      registerViews(s, dir)
      import s.implicits._
      val assets = graft.operators.Adaptive.widen(s.sql(mediaAssetsSparkSql))
        .as[graft.operators.Multimodal.MediaAsset]
      graft.operators.Multimodal.sampleFrames(assets)
        .select(col("asset_id"), col("frame_idx"),
          length(col("frame_bytes")).cast("long").as("frame_len"),
          graft.functions.TextFunctions.hash28(col("frame_bytes")).as("frame_hash"))
    }),
    "q_simhash" -> sqlQuery(qSimhash("spark")),
    "q_simhash_neardup" -> sqlQuery(qSimhashNearDup("spark")),
    "q_corpus_profile" -> sqlQuery(qCorpusProfile("spark")),
    "q_asof_join" -> qAsofJoinSpark,
    "q_asof_forward" -> qAsofForwardSpark,
    "q_range_join" -> qRangeJoinSpark,
    "q_top_terms" -> qTopTermsSpark,
    "q_pack_sequences" -> qPackSequencesSpark,
    "q_embedding_knn" -> sqlQuery(qKnn("spark")),
    "q_embedding_neardup" -> sqlQuery(qEmbeddingNeardup("spark")),
    // No forced repartition: the fused bucket kernels made per-row work
    // cheap, and an explicit REPARTITION(32) both adds an exchange of the
    // full vectors and pins every downstream stage at 32 tasks (AQE won't
    // coalesce user-specified repartitions). At sf0.1 that cost ~10x wall
    // (tiny-task + shuffle-file churn); at scale the parquet source's own
    // split partitioning provides the parallelism.
    "q_embedding_lsh_neardup" -> ((s, dir) => {
      registerViews(s, dir)
      graft.operators.Similarity.bandedNearDupPairs(
        s.table("embeddings"),
        "vec_id", "embedding", 0.4, LshBands, LshPlanesPerBand, 64)
    }),
    "q_embedding_knn_lsh" -> ((s, dir) => {
      registerViews(s, dir)
      val emb = s.table("embeddings")
      graft.operators.Similarity.bandedTopK(
        emb, emb.where(col("vec_id") % 25 === 0),
        "vec_id", "embedding", 3, LshBands, LshPlanesPerBand, 64)
    }),
    // PERSISTED IVF index, driver-verified END-TO-END — incremental
    // ANN-index maintenance: build trains the quantizer once on a
    // scratch Delta corpus and persists centroids + cell-sorted
    // assignments; after an append, GRAFT REFRESH IVF INDEX assigns
    // ONLY the new files under the UNCHANGED quantizer (old entries
    // carried verbatim with their scan version — the sidecar proof that
    // covered files were not re-read; at 100 TB refresh = ingest-sized,
    // search = nprobe cells, never a corpus re-assignment). The search
    // through the index must equal the operator path under the same
    // centroids row-for-row (matches_operator) AND hash-match the
    // oracle's replay against the exported quantizer.
    "q_embedding_ivf_indexed" -> ((s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivfidx_")
        .resolve("corpus").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      val emb = s.table("embeddings").select("vec_id", "embedding")
      graft.delta.TransactionWriter.overwrite(log,
        emb.where(col("vec_id") % 10 =!= 0).repartition(8, col("vec_id")))
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT CREATE IVF INDEX ON '$tmp' (vec_id, embedding) K 16").collect()
      def fileVersions() = graft.delta.IvfIndex
        .entries(log, "vec_id", "embedding").get
        .where(col("file_path") =!= "__centroids")
        .select("file_path", "version").distinct()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val before = fileVersions()
      graft.delta.TransactionWriter.append(log,
        emb.where(col("vec_id") % 10 === 0).repartition(2, col("vec_id")))
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH IVF INDEX ON '$tmp' (vec_id, embedding)").collect()
      val after = fileVersions()
      val oldKept = before.forall { case (p, v) => after.get(p).contains(v) }
      val newCovered = after.size > before.size
      val freshLog = graft.delta.DeltaLog.forPath(s, tmp)
      // export the index's quantizer so the oracle (and the operator
      // cross-check) rerank against bit-identical centroid values
      graft.delta.IvfIndex.centroids(freshLog, "vec_id", "embedding").get
        .coalesce(1).write.mode("overwrite").parquet(ivfIndexCentroidsPath)
      val queries = emb.where(col("vec_id") % 25 === 0)
      // materialize both sides once (top-k-sized): the two exceptAll
      // probes and the final projection would otherwise re-execute the
      // search and the operator pipeline per consumer
      val viaIdx = graft.delta.IvfIndex.search(
        freshLog, queries, "vec_id", "embedding", k = 3, nprobe = 2)
        .localCheckpoint()
      val direct = graft.operators.Similarity.ivfTopK(
        freshLog.snapshot.read(), queries,
        s.read.parquet(ivfIndexCentroidsPath),
        "vec_id", "embedding", k = 3, nprobe = 2)
        .localCheckpoint()
      val matches = multisetEqual(viaIdx, direct)
      viaIdx.select(col("query_id"), col("neighbor_id"), col("sim"), col("rnk"),
        lit(if (oldKept) 1L else 0L).as("old_entries_kept"),
        lit(if (newCovered) 1L else 0L).as("new_files_covered"),
        lit(if (matches) 1L else 0L).as("matches_operator"))
    }),
    // PERSISTED IVF-PQ index, driver-verified END-TO-END — the
    // at-rest-economics sibling of q_embedding_ivf_indexed: entries
    // are (cell, codes), m+1 small ints per vector instead of the raw
    // embedding, so the sidecar is ~dim·8/m× smaller and probes read
    // codes. Build trains coarse + PQ books once on a scratch Delta
    // corpus; after an append, GRAFT REFRESH IVFPQ INDEX encodes ONLY
    // the new files under the FROZEN quantizers (old entries carried
    // verbatim with their scan version — the no-rescan observable).
    // Search through the index must equal Pq.ivfPqTopK under the same
    // quantizers row-for-row (matches_operator) AND hash-match the
    // oracle's ADC replay against the exported books.
    "q_embedding_ivfpq_indexed" -> ((s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpqidx_")
        .resolve("corpus").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      val emb = s.table("embeddings").select("vec_id", "embedding")
      graft.delta.TransactionWriter.overwrite(log,
        emb.where(col("vec_id") % 10 =!= 0).repartition(8, col("vec_id")))
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT CREATE IVFPQ INDEX ON '$tmp' (vec_id, embedding) " +
          "CELLS 8 M 4 K 16").collect()
      def fileVersions() = graft.delta.PqIndex
        .entries(log, "vec_id", "embedding").get
        .where(!col("file_path").isin("__coarse", "__books"))
        .select("file_path", "version").distinct()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val before = fileVersions()
      graft.delta.TransactionWriter.append(log,
        emb.where(col("vec_id") % 10 === 0).repartition(2, col("vec_id")))
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT REFRESH IVFPQ INDEX ON '$tmp' (vec_id, embedding)").collect()
      val after = fileVersions()
      val oldKept = before.forall { case (p, v) => after.get(p).contains(v) }
      val newCovered = after.size > before.size
      val freshLog = graft.delta.DeltaLog.forPath(s, tmp)
      // export the index's quantizers so the oracle (and the operator
      // cross-check) replay against bit-identical codebook values
      val (coarse, books) = graft.delta.PqIndex
        .quantizers(freshLog, "vec_id", "embedding").get
      import s.implicits._
      (coarse.map { case (j, cid, cv) => ("c", j, cid, cv.toSeq) } ++
        books.map { case (j, cid, cv) => ("p", j, cid, cv.toSeq) })
        .toDF("book", "subspace", "cid", "cv")
        .coalesce(1)
        .write.mode("overwrite").parquet(ivfPqIndexBooksPath)
      val queries = emb.where(col("vec_id") % 25 === 0)
      // materialize both sides once (top-k-sized): the two exceptAll
      // probes and the final projection would otherwise re-execute the
      // search and the operator pipeline per consumer
      val viaIdx = graft.delta.PqIndex.search(
        freshLog, queries, "vec_id", "embedding", k = 3, nprobe = 2)
        .localCheckpoint()
      val direct = graft.operators.Pq.ivfPqTopK(
        freshLog.snapshot.read(), queries, "vec_id", "embedding",
        coarse, books, kNeighbors = 3, nprobe = 2)
        .localCheckpoint()
      val matches = multisetEqual(viaIdx, direct)
      viaIdx.select(col("query_id"), col("neighbor_id"), col("adist"),
        col("rnk"),
        lit(if (oldKept) 1L else 0L).as("old_entries_kept"),
        lit(if (newCovered) 1L else 0L).as("new_files_covered"),
        lit(if (matches) 1L else 0L).as("matches_operator"))
    }),
    // IVF-PQ search with the EXACT re-rank tail: the ADC top-C
    // candidates re-rank by true squared L2 read back from the table
    // (narrow id-pushdown read). C here exceeds the probed cells'
    // population, so the result must equal the exact brute-force top-k
    // over the probed cells — which is precisely what the DuckDB
    // oracle computes (coarse assignment + probe replayed against the
    // exported book, then RAW exact distances, no PQ codes anywhere).
    "q_embedding_ivfpq_rerank" -> ((s, dir) => {
      registerViews(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpqrr_")
        .resolve("corpus").toString
      val log = graft.delta.DeltaLog.forPath(s, tmp)
      val emb = s.table("embeddings").select("vec_id", "embedding")
      graft.delta.TransactionWriter.overwrite(log,
        emb.repartition(8, col("vec_id")))
      graft.plans.GraftSqlParser.run(s,
        s"GRAFT CREATE IVFPQ INDEX ON '$tmp' (vec_id, embedding) " +
          "CELLS 8 M 4 K 16").collect()
      val freshLog = graft.delta.DeltaLog.forPath(s, tmp)
      val (coarse, _) = graft.delta.PqIndex
        .quantizers(freshLog, "vec_id", "embedding").get
      import s.implicits._
      coarse.map { case (j, cid, cv) => ("c", j, cid, cv.toSeq) }
        .toDF("book", "subspace", "cid", "cv")
        .coalesce(1)
        .write.mode("overwrite").parquet(ivfPqRerankCoarsePath)
      graft.delta.PqIndex.search(
        freshLog, emb.where(col("vec_id") % 25 === 0),
        "vec_id", "embedding", k = 3, nprobe = 2, rerankTopC = 1 << 20)
    }),
    "q_embedding_ivf_knn" -> cachedStagesQuery(ivfStages, qIvfKnnSparkFinal),
    "q_ann_recall" -> cachedStagesQuery(ivfStages, qAnnRecallSparkFinal),
    "q_embedding_ivf_trained" -> qIvfTrainedSpark,
    "q_embedding_pq_knn" -> qPqKnnSpark,
    "q_embedding_opq_knn" -> qOpqKnnSpark,
    "q_embedding_ivfpq_knn" -> qIvfPqKnnSpark,
    "q_embedding_sq_knn" -> qSqKnnSpark,
    "q_embedding_stats" -> qEmbeddingStatsSpark,
    "q_kn_bigram" -> qKnBigramSpark,
    "q_pagerank" -> qPageRankSpark,
    "q_embedding_semdedup" -> qSemDedupSpark,
    "q_decontaminate" -> ((s, dir) => {
      registerViews(s, dir)
      val docs = graft.operators.Adaptive.widen(s.table("documents"))
      graft.operators.Curation.decontaminate(
        docs.where(col("doc_id") % 10 =!= 3),
        docs.where(col("doc_id") % 10 === 3), "doc_id", "text", 8)
    }),
    "q_quality_gopher" -> ((s, dir) => {
      registerViews(s, dir)
      graft.operators.Curation.gopherQuality(
        graft.operators.Adaptive.widen(s.table("documents")),
        "doc_id", "text")
    }),
    "q_stratified_sample" -> ((s, dir) => {
      registerViews(s, dir)
      graft.operators.Curation.stratifiedSample(
        s.table("documents"), Seq("lang", "source"), "doc_id", 20)
    }),
    "q_mix_sources" -> ((s, dir) => {
      registerViews(s, dir)
      graft.operators.Curation.mixSources(
        s.table("documents"), "source", "doc_id", MixWeights)
        .select("doc_id", "source")
    }),
    "q_normalize" -> ((s, dir) => {
      registerViews(s, dir)
      s.sql(normalizeMessySql("spark"))
        .select(col("doc_id"),
          graft.operators.Curation.normalizeText(col("messy")).as("norm"))
        .select(col("doc_id"),
          length(col("norm")).cast("long").as("norm_len"),
          graft.functions.TextFunctions.hash28(col("norm")).as("norm_hash"))
    }),
    "q_pii_redact" -> ((s, dir) => {
      registerViews(s, dir)
      graft.operators.Curation.redactPii(s.sql(piiAugSparkSql), "doc_id", "aug")
        .select(col("doc_id"), col("n_emails"), col("n_ids"),
          length(col("redacted")).cast("long").as("red_len"),
          graft.functions.TextFunctions.hash28(col("redacted")).as("red_hash"))
    }),
    "q_media_meta" -> ((s, dir) => {
      registerViews(s, dir)
      import s.implicits._
      val assets = graft.operators.Adaptive.widen(s.sql(mediaAssetsSparkSql))
        .as[graft.operators.Multimodal.MediaAsset]
      graft.operators.Multimodal.extractMeta(assets).toDF()
    }),
    "q_media_features" -> ((s, dir) => {
      registerViews(s, dir)
      import s.implicits._
      val assets = graft.operators.Adaptive.widen(s.sql(mediaAssetsSparkSql))
        .as[graft.operators.Multimodal.MediaAsset]
      graft.operators.Multimodal.extractFeatures(assets, dim = 4).toDF()
        .select(col("asset_id") +: (0 until 4).map(i =>
          round(element_at(col("feature"), i + 1) * 1000, 0).cast("bigint").as(s"f$i")): _*)
    }),
    // Count-Min heavy hitters over word-3-gram shingles (the corpus
    // vocabulary is ~31 tokens, so grams are where cardinality lives):
    // the corpus-wide state is ONE 4×2048-cell sketch (broadcastable;
    // shard sketches add); candidate grams come from a deterministic 2%
    // doc shard and are scored by the sketch's min-over-rows estimate,
    // never by an exact global count.
    "q_cms_heavy_hitters" -> ((s, dir) => {
      registerViews(s, dir)
      // The testdata corpus is ONE small parquet file = one input split;
      // repartition before the gram+digest map so the sketch build uses
      // every core (the minhash family's REPARTITION(32) precedent). At
      // scale the parquet source's own splits provide this for free.
      val grams = graft.operators.Adaptive.widen(s.table("documents"))
        .select(explode(
          graft.functions.TextFunctions.wordNgrams(col("text"), 3)).as("tk"))
      val sketch = graft.operators.Sketches.cmsSketch(
        grams, col("tk"), depth = 4, width = 2048)
      val cand = s.table("documents").where(col("doc_id") % 50 === 0)
        .select(explode(
          graft.functions.TextFunctions.wordNgrams(col("text"), 3)).as("tk"))
      graft.operators.Sketches.cmsEstimate(cand, sketch, depth = 4, width = 2048)
        .select(col("key").as("term"), col("est"))
        .orderBy(col("est").desc, col("term")).limit(20)
    }),
    // Deterministic HyperLogLog (m=1024) distinct-shingle summary: one
    // map-only corpus pass, ≤1024 register cells per map task, exact
    // integer harmonic sum — the engine-replayable approx_count_distinct.
    // 16k-27k distinct 3-grams across SFs keeps the raw estimator in its
    // valid regime (≥ 2.5m); the small-range branch is documented in
    // Sketches.hllSummary.
    "q_hll_distinct" -> ((s, dir) => {
      registerViews(s, dir)
      val grams = s.table("documents").select(explode(
        graft.functions.TextFunctions.wordNgrams(col("text"), 3)).as("tk"))
      graft.operators.Sketches.hllSummary(grams, col("tk"), b = 10)
    }),
    // HLL set algebra: the register relations are MERGEABLE (re-max),
    // so the union estimate comes from the same two sketches already
    // built per side, and the intersection is inclusion–exclusion over
    // three floors — the sketch-overlap measurement a 100 TB corpus
    // runs to quantify cross-slice contamination without a join.
    "q_hll_overlap" -> ((s, dir) => {
      registerViews(s, dir)
      import graft.operators.{CacheHygiene, Sketches}
      val grams = graft.operators.Adaptive.widen(
          s.table("documents").where(col("lang").isin("en", "es")))
        .select(col("lang"), explode(
          graft.functions.TextFunctions.wordNgrams(col("text"), 3)).as("tk"))
      // ONE corpus pass builds BOTH sketches (hllRegistersBy, state
      // 2·1024 rows); each side's summary filters the tiny register
      // relation, and the union re-maxes it with grp dropped — cached
      // self-unpersisting since three collapses read it
      val regs = CacheHygiene.selfUnpersisting(
        Sketches.hllRegistersBy(grams, col("lang"), col("tk"), b = 10))
      def side(l: String, name: String) =
        Sketches.hllSummarize(
            regs.where(col("grp") === l).select("bucket", "reg"), b = 10)
          .select(col("est_distinct").as(name))
      val eu = Sketches.hllSummarize(regs.select("bucket", "reg"), b = 10)
        .select(col("est_distinct").as("est_union"))
      side("en", "est_a").crossJoin(side("es", "est_b")).crossJoin(eu)
        // inclusion–exclusion fluctuates around 0 for near-disjoint
        // slices; clamp — a negative distinct-count is nonsense
        .withColumn("est_intersection",
          greatest(lit(0L), col("est_a") + col("est_b") - col("est_union")))
    }),
    "q_hll_by_source" -> ((s, dir) => {
      registerViews(s, dir)
      // single-split testdata: spread the gram+md5 map over every core
      // (the CMS/minhash REPARTITION precedent; real parquet splits
      // provide this for free at scale)
      val grams = graft.operators.Adaptive.widen(s.table("documents"))
        .select(col("source"), explode(
          graft.functions.TextFunctions.wordNgrams(col("text"), 3)).as("tk"))
      graft.operators.Sketches.hllSummarizeBy(
        graft.operators.Sketches.hllRegistersBy(
          grams, col("source"), col("tk"), b = 10), b = 10)
        .withColumnRenamed("grp", "source")
    }),
    // Range-partition boundaries for a global sort of orders by price:
    // hash-sample 12.5%, NTILE(32) over the sample only, boundaries
    // inlined as partitioner metadata, full-table bucket census map-only.
    "q_range_bounds" -> ((s, dir) => {
      registerViews(s, dir)
      graft.operators.Sketches.rangeBounds(
        s.table("orders"), "o_orderkey", "o_totalprice",
        buckets = 32, rate = 0.125)
    }),
    // Bottom-k quantile sketch (k=64): per-lang p25/p50/p90 of n_chars
    // from a fixed-size deterministic bottom-k-by-md5 sample — the
    // distribution member of the sketch family (CMS = counts, HLL =
    // distinct). Per-group state is k rows no matter the corpus size;
    // the scan is a map-only hash-threshold filter against broadcast
    // group counts, and only survivors (~oversample·k per group) reach
    // the rank window. Integer threshold/rank arithmetic throughout,
    // so the oracle replays selection and quantile picks bit-for-bit.
    "q_quantile_sketch" -> ((s, dir) => {
      registerViews(s, dir)
      val docs = s.table("documents").select(col("lang"), col("doc_id"),
        col("n_chars").cast("long").as("n_chars"))
      val sk = graft.operators.Sketches.quantileSketch(
        docs, Seq("lang"), "doc_id", "n_chars", k = 64)
      graft.operators.Sketches.quantileFromSketch(
        sk, Seq("lang"), "doc_id", "n_chars", Seq(25, 50, 90))
    }),
    // Sketch ALGEBRA: shard the corpus, sketch each shard, merge the
    // sketches — quantiles from the merged sketch must equal the
    // whole-corpus sketch's (bottom-k under a fixed total order is
    // associative), which is what lets per-shard/per-day sketches roll
    // up without re-reading row data. The equality is asserted in-gate
    // (matches_whole) and the oracle replays the whole-corpus path.
    "q_quantile_sketch_merge" -> ((s, dir) => {
      registerViews(s, dir)
      val docs = s.table("documents").select(col("lang"), col("doc_id"),
        col("n_chars").cast("long").as("n_chars"))
      def sk(d: org.apache.spark.sql.DataFrame) =
        graft.operators.Sketches.quantileSketch(
          d, Seq("lang"), "doc_id", "n_chars", k = 64)
      val merged = graft.operators.Sketches.mergeQuantileSketches(
        Seq(sk(docs.where(col("doc_id") % 2 === 0)),
          sk(docs.where(col("doc_id") % 2 =!= 0))),
        Seq("lang"), "doc_id", k = 64)
      def q(d: org.apache.spark.sql.DataFrame) =
        graft.operators.Sketches.quantileFromSketch(
          d, Seq("lang"), "doc_id", "n_chars", Seq(25, 50, 90))
      val qm = q(merged)
      val qw = q(sk(docs))
      val matches = multisetEqual(qm, qw)
      qm.withColumn("matches_whole", lit(if (matches) 1L else 0L))
    }),
    // DSIR-style importance selection: score raw docs by target-likeness
    // under hashed-bigram unigram models (target = the doc_id % 10 = 0
    // "curated seed"); per-bucket integer constants make the per-doc
    // sums order-free, so the top-100 is engine-exact.
    "q_dsir_select" -> ((s, dir) => {
      registerViews(s, dir)
      // single-split testdata: spread the two gram+hash corpus passes
      // over every core (ReuseExchange shares the one shuffle between
      // them; real parquet splits provide this for free at scale)
      graft.operators.Curation.dsirSelect(
        graft.operators.Adaptive.widen(s.table("documents")),
        "doc_id", "text",
        isTarget = col("doc_id") % 10 === 0,
        buckets = 4096, topK = 100)
    }),
    // Per-group exact quantiles (p25/p50/p75/p90 of n_chars per source)
    // via integer rank selection — rank = ceil(q·n) computed as
    // rn·100 ≥ q_e2·n ∧ (rn−1)·100 < q_e2·n, no floats anywhere. Groups
    // partition the data, so each group's sort is group-local: the
    // profiling pattern that scales to any corpus with bounded groups.
    "q_group_quantiles" -> sqlQuery(
      """WITH r AS (SELECT source, n_chars, doc_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT source, q_e2, CAST(n_chars AS BIGINT) AS value
        |FROM r CROSS JOIN (SELECT CAST(q AS INT) AS q_e2
        |  FROM VALUES (25), (50), (75), (90) AS t(q)) q
        |WHERE rn * 100 >= q_e2 * n AND (rn - 1) * 100 < q_e2 * n""".stripMargin),
    // Global sort order with NO global sort: sampled boundaries assign
    // buckets map-only, each bucket window-sorts its own slice in
    // parallel, a 32-row census prefix sum turns local positions into
    // global ranks — the oracle checks against a true global ROW_NUMBER.
    "q_sorted_export" -> ((s, dir) => {
      registerViews(s, dir)
      graft.operators.Sketches.sortedExport(
        s.table("orders"), "o_orderkey", "o_totalprice",
        buckets = 32, rate = 0.125)
    }),
    // Streaming-maintained CMS: the cell COUNT aggregate is additive,
    // so Structured Streaming maintains the sketch with depth×width-row
    // bounded state; the streamed sketch equals the batch one cell for
    // cell, so the downstream heavy-hitter estimate is identical and
    // the query SHARES the batch oracle (see q_stream_hll for the MAX
    // sibling).
    "q_stream_cms" -> ((s, dir) => withStreamShuffle(s) {
      registerViews(s, dir)
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val grams = s.readStream.schema(schema).parquet(s"$dir/documents.parque*")
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(
          graft.functions.TextFunctions.wordNgrams(col("text"), 3)).as("tk"))
      val sketchStream = graft.operators.Sketches.cmsSketch(
        grams, col("tk"), depth = 4, width = 2048)
      val name = "stream_cms_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = sketchStream.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val cand = s.table("documents").where(col("doc_id") % 50 === 0)
        .select(explode(
          graft.functions.TextFunctions.wordNgrams(col("text"), 3)).as("tk"))
      graft.operators.Sketches.cmsEstimate(cand, s.table(name),
        depth = 4, width = 2048)
        .select(col("key").as("term"), col("est"))
        .orderBy(col("est").desc, col("term")).limit(20)
    }),
    // Streaming-maintained quantile sketch: the bottom-k sample is a
    // k-capped-heap TypedImperativeAggregate (BottomKSketchAgg), so
    // Structured Streaming maintains it with k-row bounded state per
    // group across micro-batches — and bottom-k under a fixed total
    // order is duplicate/arrival-order-insensitive, so the drained
    // sample equals the batch sketch BIT-FOR-BIT and the gate SHARES
    // the batch oracle (the CMS/HLL streaming discipline, completing
    // the family: counts, distincts, now distributions).
    "q_stream_quantile" -> ((s, dir) => withStreamShuffle(s) {
      registerViews(s, dir)
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val docs = s.readStream.schema(schema).parquet(s"$dir/documents.parque*")
        .select(col("lang"), col("doc_id"),
          col("n_chars").cast("long").as("n_chars"))
      val agged = graft.operators.Sketches.quantileSketchAgg(
        docs, Seq("lang"), "doc_id", "n_chars", k = 64)
      val name = "stream_qsk_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = agged.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val sk = graft.operators.Sketches.sketchRows(
        s.table(name), Seq("lang"), "doc_id", "n_chars")
      graft.operators.Sketches.quantileFromSketch(
        sk, Seq("lang"), "doc_id", "n_chars", Seq(25, 50, 90))
    }),
    // Streaming-maintained HLL: the register MAX aggregate is monotonic
    // and duplicate-insensitive, so Structured Streaming maintains it
    // with bounded (m=1024 rows) state across micro-batches — and the
    // final summary must equal the batch q_hll_distinct BIT-FOR-BIT
    // (same registers), which is why the oracle is literally the batch
    // one. The continuous-cardinality-monitoring pattern at any scale.
    "q_stream_hll" -> ((s, dir) => withStreamShuffle(s) {
      registerViews(s, dir)
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      // single-file source = one input split; spread the gram+digest map
      // across cores before the register aggregate (see q_cms note)
      val grams = s.readStream.schema(schema).parquet(s"$dir/documents.parque*")
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(
          graft.functions.TextFunctions.wordNgrams(col("text"), 3)).as("tk"))
      val regs = graft.operators.Sketches.hllRegisters(grams, col("tk"), b = 10)
      val name = "stream_hll_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = regs.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.operators.Sketches.hllSummarize(s.table(name), b = 10)
    }))

  /** Shared batch/stream CMS oracle: one md5 digest per gram, four
    * 28-bit hex slices as the depth rows, min-over-cells estimation
    * for the 2%-shard candidate set (see Sketches.cmsSketch). */
  private val qCmsHeavyHittersDuck: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |tok AS (SELECT md5('cms|' || unnest(${ngrams3("duck")})) AS h FROM t),
       |cells AS (SELECT r,
       |    ('0x' || substr(h, 1 + 7 * r, 7))::BIGINT % 2048 AS bucket
       |  FROM tok, (VALUES (0), (1), (2), (3)) AS rr(r)),
       |sk AS (SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM cells GROUP BY r, bucket),
       |cand AS (SELECT DISTINCT unnest(${ngrams3("duck")}) AS term
       |  FROM t WHERE doc_id % 50 = 0),
       |ce AS (SELECT term, r,
       |    ('0x' || substr(md5('cms|' || term), 1 + 7 * r, 7))::BIGINT % 2048 AS bucket
       |  FROM cand, (VALUES (0), (1), (2), (3)) AS rr(r)),
       |est AS (SELECT term, CAST(MIN(cnt) AS BIGINT) AS est
       |  FROM ce JOIN sk USING (r, bucket) GROUP BY term)
       |SELECT term, est FROM est ORDER BY est DESC, term LIMIT 20""".stripMargin

  /** Shared batch/stream HLL oracle: 60-bit md5 hash split into bucket
    * and pattern word, exact dyadic harmonic sum, one constant/integer
    * division (see Sketches.hllSummary for the determinism argument). */
  private val qHllDistinctDuck: String =
    s"""WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
       |tok AS (SELECT unnest(${ngrams3("duck")}) AS tk FROM t),
       |h AS (SELECT ('0x' || substr(md5('hll|' || tk), 1, 15))::BIGINT AS h FROM tok),
       |r AS (SELECT h % 1024 AS bucket,
       |    CASE WHEN h // 1024 = 0 THEN 51
       |      ELSE 51 - length(bin(h // 1024)) END AS rho FROM h),
       |reg AS (SELECT bucket, MAX(rho) AS reg FROM r GROUP BY bucket),
       |lat AS (SELECT COALESCE(reg.reg, 0) AS reg
       |  FROM range(0, 1024) AS g(bucket) LEFT JOIN reg USING (bucket)),
       |s AS (SELECT
       |    CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_buckets,
       |    CAST(SUM(CASE WHEN reg <= 50 THEN (1::BIGINT << (50 - reg)) ELSE 0 END) AS BIGINT) AS harmonic_s
       |  FROM lat)
       |SELECT CAST(1024 AS BIGINT) AS m, zero_buckets, harmonic_s,
       |  CAST(FLOOR(${graft.operators.Sketches.hllAlphaNum(10)} / CAST(harmonic_s AS DOUBLE)) AS BIGINT) AS est_distinct
       |FROM s""".stripMargin

  /** DuckDB replay of the HLL overlap: the identical bucket/rho
    * construction filtered per lang, three dense-lattice collapses
    * (side A, side B, re-maxed union), inclusion–exclusion at the
    * end. */
  private def qHllOverlapDuck: String = {
    def est(reg: String, a: String): String =
      s"""l$a AS (SELECT COALESCE($reg.reg, 0) AS reg
         |  FROM range(0, 1024) AS g(bucket) LEFT JOIN $reg USING (bucket)),
         |s$a AS (SELECT CAST(SUM(CASE WHEN reg <= 50 THEN (1::BIGINT << (50 - reg)) ELSE 0 END) AS BIGINT) AS harmonic
         |  FROM l$a),
         |e$a AS (SELECT CAST(FLOOR(${graft.operators.Sketches.hllAlphaNum(10)} / CAST(harmonic AS DOUBLE)) AS BIGINT) AS est
         |  FROM s$a)""".stripMargin
    s"""WITH t AS (SELECT lang, string_split(text, ' ') AS toks FROM documents
       |  WHERE lang IN ('en', 'es')),
       |tok AS (SELECT lang, unnest(${ngrams3("duck")}) AS tk FROM t),
       |h AS (SELECT lang,
       |    ('0x' || substr(md5('hll|' || tk), 1, 15))::BIGINT AS h FROM tok),
       |r AS (SELECT lang, h % 1024 AS bucket,
       |    CASE WHEN h // 1024 = 0 THEN 51
       |      ELSE 51 - length(bin(h // 1024)) END AS rho FROM h),
       |rega AS (SELECT bucket, MAX(rho) AS reg FROM r WHERE lang = 'en' GROUP BY bucket),
       |regb AS (SELECT bucket, MAX(rho) AS reg FROM r WHERE lang = 'es' GROUP BY bucket),
       |regu AS (SELECT bucket, MAX(rho) AS reg FROM r GROUP BY bucket),
       |${est("rega", "a")},
       |${est("regb", "b")},
       |${est("regu", "u")}
       |SELECT ea.est AS est_a, eb.est AS est_b, eu.est AS est_union,
       |  GREATEST(0, ea.est + eb.est - eu.est) AS est_intersection
       |FROM ea, eb, eu""".stripMargin
  }

  /** The per-group (GROUP BY source) face of [[qHllDistinctDuck]] —
    * identical bucket/rho/harmonic construction, one summary row per
    * source. */
  private val qHllBySourceDuck: String =
    s"""WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
       |tok AS (SELECT source, unnest(${ngrams3("duck")}) AS tk FROM t),
       |h AS (SELECT source,
       |    ('0x' || substr(md5('hll|' || tk), 1, 15))::BIGINT AS h FROM tok),
       |r AS (SELECT source, h % 1024 AS bucket,
       |    CASE WHEN h // 1024 = 0 THEN 51
       |      ELSE 51 - length(bin(h // 1024)) END AS rho FROM h),
       |reg AS (SELECT source, bucket, MAX(rho) AS reg FROM r GROUP BY source, bucket),
       |srcs AS (SELECT DISTINCT source FROM reg),
       |lat AS (SELECT srcs.source, COALESCE(reg.reg, 0) AS reg
       |  FROM srcs CROSS JOIN range(0, 1024) AS g(bucket)
       |  LEFT JOIN reg ON reg.source = srcs.source AND reg.bucket = g.bucket),
       |s AS (SELECT source,
       |    CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_buckets,
       |    CAST(SUM(CASE WHEN reg <= 50 THEN (1::BIGINT << (50 - reg)) ELSE 0 END) AS BIGINT) AS harmonic_s
       |  FROM lat GROUP BY source)
       |SELECT source, CAST(1024 AS BIGINT) AS m, zero_buckets, harmonic_s,
       |  CAST(FLOOR(${graft.operators.Sketches.hllAlphaNum(10)} / CAST(harmonic_s AS DOUBLE)) AS BIGINT) AS est_distinct
       |FROM s""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_agg_lineitem" -> qAggLineitemSpark,
    "q_join_revenue" -> qJoinRevenue,
    "q_bucketed_join" -> qBucketedJoinDuck,
    "q_rollup_revenue" -> qRollupRevenue,
    "q_moving_avg" -> qMovingAvg,
    "q_except_customers" -> qExceptCustomers,
    "q_histogram" -> qHistogram,
    "q_exists_big_order" -> qExistsBigOrder,
    "q_median_price" -> qMedianPrice,
    "q_fk_violations" -> qFkViolations,
    "q_mad_outliers" -> qMadOutliers,
    "q_topk_brand" -> qTopkBrand,
    "q_kill_duplicates" -> qKillDuplicatesOracle,
    "q_drop_duplicates" -> qDropDuplicatesOracle,
    "q_drop_duplicates_pkey" -> qDropDuplicatesPkeyOracle,
    "q_scd2_upsert" -> qScd2Oracle,
    "q_file_sizes" -> qFileSizesText,
    "q_skipped_stats" -> qSkippedStats,
    "q_updated_partitions" -> qUpdatedPartitionsDuck,
    "q_sessionize" -> qSessionize("epoch_us(ts)"),
    "q_json_extract" -> qJsonExtractDuck,
    "q_variant_extract" -> qJsonExtractDuck,
    "q_dedup_exact" -> qDedupExactOracle,
    "q_dedup_incremental" ->
      """WITH prior AS (SELECT text FROM documents WHERE doc_id % 3 <> 0
        |               UNION ALL
        |               SELECT text FROM documents WHERE doc_id % 6 = 0),
        |newb AS (SELECT doc_id, lang, source, text FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id, lang, source FROM newb n
        |WHERE NOT EXISTS (SELECT 1 FROM prior p WHERE p.text = n.text)""".stripMargin,
    "q_paragraph_dedup" -> qParagraphDedupOracle,
    "q_remove_boilerplate" -> qRemoveBoilerplateOracle,
    "q_substring_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |w AS (SELECT doc_id,
        |    ('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15))::BIGINT AS wh
        |  FROM t, unnest(range(1, len(toks) - 6)) AS r(i)
        |  WHERE len(toks) >= 8),
        |d AS (SELECT wh, (min(doc_id) <> max(doc_id)) AS crossdup
        |  FROM w GROUP BY wh)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_windows,
        |  CAST(SUM(CASE WHEN crossdup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
        |FROM w JOIN d USING (wh)
        |GROUP BY doc_id
        |HAVING SUM(CASE WHEN crossdup THEN 1 ELSE 0 END) > 0""".stripMargin,
    "q_scrub_contamination" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE doc_id % 10 <> 3
        |),
        |chunks AS (
        |  SELECT doc_id, ck, array_to_string(w[ck*15+1 : ck*15+15], ' ') AS para
        |  FROM words, unnest(range(0, ((len(w)-1)//15)+1)) AS t(ck)
        |),
        |ctk AS (SELECT doc_id, ck, string_split(para, ' ') AS tk FROM chunks),
        |cg AS (
        |  SELECT doc_id, ck,
        |    unnest(list_distinct(list_transform(range(1, GREATEST(len(tk)-7, 1)+1),
        |      i -> ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 1, 7))::BIGINT))) AS gr
        |  FROM ctk),
        |bt AS (SELECT string_split(text, ' ') AS tk FROM documents WHERE doc_id % 10 = 3),
        |bg AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, GREATEST(len(tk)-7, 1)+1),
        |    i -> ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 1, 7))::BIGINT))) AS gr
        |  FROM bt),
        |bad AS (SELECT DISTINCT doc_id, ck FROM cg JOIN bg USING (gr))
        |SELECT c.doc_id, count(*) AS kept_chunks,
        |  string_agg(c.para, ' ' ORDER BY c.ck) AS text
        |FROM chunks c
        |WHERE NOT EXISTS (SELECT 1 FROM bad b
        |  WHERE b.doc_id = c.doc_id AND b.ck = c.ck)
        |GROUP BY c.doc_id""".stripMargin,
    "q_upsample_epochs" ->
      """WITH f AS (SELECT doc_id, source,
        |    1.0 + (CAST(substr(source, 4) AS INT) % 4) * 0.5 AS fac
        |  FROM documents),
        |n AS (SELECT doc_id, source,
        |    CAST(floor(fac) AS INT) +
        |    CASE WHEN CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT AS DOUBLE)
        |        / 268435456.0 < ROUND(fac - floor(fac), 6)
        |      THEN 1 ELSE 0 END AS reps
        |  FROM f)
        |SELECT doc_id, source, CAST(unnest(range(1, reps + 1)) AS INT) AS copy
        |FROM n WHERE reps >= 1""".stripMargin,
    "q_perplexity" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM w, unnest(range(1, len(t))) AS r(i)),
        |uni AS (SELECT w1, count(*) AS u_n FROM bg GROUP BY w1),
        |bi AS (SELECT w1, w2, count(*) AS b_n FROM bg GROUP BY w1, w2),
        |v AS (SELECT count(DISTINCT x) AS vs FROM
        |  (SELECT w1 AS x FROM bg UNION ALL SELECT w2 AS x FROM bg)),
        |s AS (SELECT bg.doc_id,
        |    CAST(floor(-1e6 * ln((bi.b_n + 1)::DOUBLE / (uni.u_n + v.vs)::DOUBLE)) AS BIGINT) AS nll
        |  FROM bg JOIN bi USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(SUM(nll) // count(*) AS BIGINT) AS avg_nll_e6
        |FROM s GROUP BY doc_id""".stripMargin,
    "q_bpe_pairs" ->
      """WITH wf AS (
        |  SELECT word, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE word <> '' GROUP BY word),
        |p AS (
        |  SELECT substr(word, i, 1) AS lhs, substr(word, i + 1, 1) AS rhs, freq
        |  FROM wf, unnest(range(1, len(word))) AS t(i)
        |  WHERE len(word) > 1)
        |SELECT lhs, rhs, CAST(SUM(freq) AS BIGINT) AS n FROM p GROUP BY lhs, rhs
        |ORDER BY n DESC, lhs, rhs LIMIT 20""".stripMargin,
    "q_nb_classifier" ->
      """WITH tr AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS t
        |  FROM documents
        |  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 5 <> 0),
        |cnt AS (SELECT source AS cls, t, count(*) AS n FROM tr GROUP BY 1, 2),
        |tot AS (SELECT cls, CAST(SUM(n) AS BIGINT) AS tc FROM cnt GROUP BY cls),
        |v AS (SELECT count(DISTINCT t) AS vs FROM tr),
        |pri AS (SELECT source AS cls, count(*) AS docs FROM documents
        |  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 5 <> 0
        |  GROUP BY source),
        |alld AS (SELECT count(*) AS alldocs FROM documents
        |  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 5 <> 0),
        |classes AS (
        |  SELECT tot.cls, tc, vs,
        |    CAST(floor(-1e6 * ln(CAST(1 AS DOUBLE) / CAST(tc + vs AS DOUBLE))) AS BIGINT) AS default_e6,
        |    CAST(floor(-1e6 * ln(CAST(docs AS DOUBLE) / CAST(alldocs AS DOUBLE))) AS BIGINT) AS prior_e6
        |  FROM tot, v, pri, alld WHERE tot.cls = pri.cls),
        |model AS (
        |  SELECT cls, t,
        |    CAST(floor(-1e6 * ln(CAST(n + 1 AS DOUBLE) / CAST(tc + vs AS DOUBLE))) AS BIGINT) AS score_e6
        |  FROM cnt JOIN classes USING (cls)),
        |te AS (
        |  SELECT doc_id, source AS lab, unnest(string_split(text, ' ')) AS t
        |  FROM documents
        |  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 5 = 0),
        |scored AS (
        |  SELECT te.doc_id, te.lab, k.cls,
        |    CAST(SUM(COALESCE(m.score_e6, k.default_e6)) AS BIGINT) + k.prior_e6 AS nll
        |  FROM te CROSS JOIN classes k
        |  LEFT JOIN model m ON m.cls = k.cls AND m.t = te.t
        |  GROUP BY te.doc_id, te.lab, k.cls, k.prior_e6),
        |best AS (
        |  SELECT lab, cls,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY nll, cls) AS rn
        |  FROM scored)
        |SELECT lab AS label, cls AS predicted, COUNT(*) AS n_docs
        |FROM best WHERE rn = 1 GROUP BY lab, cls""".stripMargin,
    "q_hashed_features" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(tok), 1, 7))::BIGINT % 1024 AS bucket,
        |    CASE WHEN ('0x' || substr(md5('s|' || tok), 1, 7))::BIGINT % 2 = 0
        |      THEN 1 ELSE -1 END AS sgn
        |  FROM t)
        |SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS val
        |FROM h GROUP BY doc_id, bucket HAVING SUM(sgn) <> 0""".stripMargin,
    "q_pmi_cooccur" ->
      """WITH w AS (SELECT string_split(text, ' ') AS t FROM documents),
        |p AS (
        |  SELECT least(t[i], t[i + d]) AS w1, greatest(t[i], t[i + d]) AS w2
        |  FROM w, unnest(range(1, len(t) + 1)) AS a(i), (VALUES (1), (2)) AS b(d)
        |  WHERE i + d <= len(t)),
        |pc AS (SELECT w1, w2, count(*) AS n_pair FROM p
        |  GROUP BY w1, w2 HAVING count(*) >= 5),
        |uni AS (SELECT tok, count(*) AS c FROM (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok),
        |nt AS (SELECT CAST(SUM(c) AS BIGINT) AS ntok FROM uni),
        |np AS (SELECT count(*) AS npair FROM p)
        |SELECT w1, w2, n_pair,
        |  CAST(floor(1e6 * ln(CAST(n_pair AS DOUBLE) * CAST(ntok AS DOUBLE) * CAST(ntok AS DOUBLE)
        |    / (CAST(npair AS DOUBLE) * CAST(c1.c AS DOUBLE) * CAST(c2.c AS DOUBLE)))) AS BIGINT) AS pmi_e6
        |FROM pc JOIN uni c1 ON c1.tok = pc.w1 JOIN uni c2 ON c2.tok = pc.w2
        |CROSS JOIN nt CROSS JOIN np""".stripMargin,
    "q_salted_join" ->
      """SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q_vocab_encode" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tok AS (SELECT doc_id, i, t[i] AS tk
        |  FROM w, unnest(range(1, len(t) + 1)) AS a(i)),
        |cnt AS (SELECT tk, count(*) AS n FROM tok GROUP BY tk),
        |vocab AS (SELECT tk, ROW_NUMBER() OVER (ORDER BY n DESC, tk) - 1 AS id
        |  FROM cnt)
        |SELECT doc_id, CAST(i - 1 AS INT) AS pos, CAST(id AS BIGINT) AS id
        |FROM tok JOIN vocab USING (tk) WHERE doc_id % 50 = 0""".stripMargin,
    "q_incr_agg" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN doc_id % 10 = 5 THEN 0 ELSE n_chars END) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 7 <> 0 GROUP BY source""".stripMargin,
    "q_incr_minmax" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(MIN(CASE WHEN doc_id % 9 = 2 THEN 7 ELSE n_chars END)
        |    AS BIGINT) AS min_chars,
        |  CAST(MAX(CASE WHEN doc_id % 9 = 2 THEN 7 ELSE n_chars END)
        |    AS BIGINT) AS max_chars
        |FROM documents WHERE n_chars < 4000 GROUP BY source""".stripMargin,
    "q_matview" ->
      """SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN doc_id % 9 = 2 THEN 7 ELSE n_chars END)
        |    AS BIGINT) AS sum_n_chars
        |FROM documents WHERE doc_id % 11 <> 0 GROUP BY source""".stripMargin,
    "q_matview_minmax" ->
      """SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN doc_id % 9 = 2 THEN 7 ELSE n_chars END)
        |    AS BIGINT) AS sum_n_chars,
        |  CAST(MIN(CASE WHEN doc_id % 9 = 2 THEN 7 ELSE n_chars END)
        |    AS BIGINT) AS min_n_chars,
        |  CAST(MAX(CASE WHEN doc_id % 9 = 2 THEN 7 ELSE n_chars END)
        |    AS BIGINT) AS max_n_chars
        |FROM documents WHERE n_chars < 450 AND source <> 'src3'
        |GROUP BY source""".stripMargin,
    "q_matview_avg" ->
      """SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN doc_id % 9 = 2 THEN NULL ELSE n_chars END)
        |    AS BIGINT) AS sum_n_chars,
        |  CAST(SUM(CASE WHEN doc_id % 9 = 2 THEN NULL ELSE n_chars END)
        |    AS DOUBLE)
        |    / COUNT(CASE WHEN doc_id % 9 = 2 THEN NULL ELSE n_chars END)
        |    AS avg_n_chars
        |FROM documents WHERE doc_id % 11 <> 0 GROUP BY source""".stripMargin,
    "q_matview_filtered" ->
      """WITH t AS (SELECT source,
        |    CASE WHEN doc_id % 9 = 2 THEN 5000 ELSE n_chars END AS c
        |  FROM documents WHERE doc_id % 11 <> 0)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(c) AS BIGINT) AS sum_n_chars
        |FROM t WHERE c < 2000 GROUP BY source""".stripMargin,
    "q_matview_exprkey" ->
      """WITH t AS (SELECT
        |    CASE WHEN doc_id % 9 = 2 THEN doc_id + 70001 ELSE doc_id END AS d,
        |    source, n_chars
        |  FROM documents WHERE doc_id % 11 <> 0)
        |SELECT CAST(d % 7 AS BIGINT) AS bucket, source,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars
        |FROM t GROUP BY 1, 2""".stripMargin,
    "q_matview_cascade" ->
      """WITH d AS (SELECT source,
        |    CASE WHEN source = 'src3' THEN 'X' ELSE substr(source, 4) END AS cat
        |  FROM (SELECT DISTINCT source FROM documents)),
        |f AS (SELECT doc_id, source, n_chars FROM documents
        |  WHERE doc_id % 11 <> 0)
        |SELECT d.cat,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(f.n_chars) AS BIGINT) AS sum_n_chars
        |FROM f JOIN d ON f.source = d.source
        |GROUP BY d.cat""".stripMargin,
    "q_matview_join_rollup" ->
      """WITH d AS (SELECT source,
        |    CASE WHEN source = 'src3' THEN 'X' ELSE substr(source, 4) END AS cat
        |  FROM (SELECT DISTINCT source FROM documents)
        |  WHERE source <> 'src1'),
        |f AS (SELECT doc_id, source, n_chars FROM documents
        |  WHERE doc_id % 11 <> 0)
        |SELECT d.cat,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(f.n_chars) AS BIGINT) AS sum_n_chars,
        |  CAST(SUM(f.n_chars) AS DOUBLE) / COUNT(f.n_chars) AS avg_n_chars,
        |  CAST(1 AS BIGINT) AS idle_refresh_free
        |FROM f JOIN d ON f.source = d.source
        |GROUP BY d.cat""".stripMargin,
    "q_matview_join_minmax" ->
      """WITH d AS (SELECT source,
        |    CASE WHEN source = 'src3' THEN 'X' ELSE substr(source, 4) END AS cat
        |  FROM (SELECT DISTINCT source FROM documents)
        |  WHERE source <> 'src1'),
        |f AS (SELECT doc_id, source, n_chars FROM documents
        |  WHERE n_chars >= 200)
        |SELECT d.cat,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(MIN(f.n_chars) AS BIGINT) AS min_n_chars,
        |  CAST(MAX(f.n_chars) AS BIGINT) AS max_n_chars,
        |  CAST(SUM(f.n_chars) AS BIGINT) AS sum_n_chars,
        |  CAST(1 AS BIGINT) AS idle_refresh_free
        |FROM f JOIN d ON f.source = d.source
        |GROUP BY d.cat""".stripMargin,
    "q_matview_join" ->
      """SELECT o.o_custkey, o.o_orderkey, o.o_totalprice,
        |  CASE WHEN c.c_custkey % 10 = 5 THEN 'X' ELSE c.c_mktsegment END
        |    AS c_mktsegment
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_orderkey % 2 = 0 AND o.o_orderkey % 7 <> 0
        |  AND c.c_custkey % 13 <> 3""".stripMargin,
    "q_matview_stale" ->
      """SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars,
        |  CAST(2 AS BIGINT) AS lag_before,
        |  CAST(0 AS BIGINT) AS lag_after,
        |  CAST(1 AS BIGINT) AS second_refresh_noop
        |FROM documents WHERE doc_id % 11 <> 0 GROUP BY source""".stripMargin,
    "q_matview_sum_retract" ->
      """WITH t AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 7 = 1 THEN NULL ELSE n_chars END AS c
        |  FROM documents),
        |u AS (SELECT source,
        |    CASE WHEN source = 'src3' AND doc_id % 9 = 2 THEN NULL
        |      ELSE c END AS c
        |  FROM t WHERE NOT (source = 'src2' AND c IS NOT NULL))
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(c) AS BIGINT) AS sum_n_chars
        |FROM u GROUP BY source""".stripMargin,
    "q_matview_describe" ->
      """SELECT 'n_regionkey' AS key_cols,
        |  'sum(n_nationkey),max(n_nationkey)' AS aggs,
        |  CAST(2 AS BIGINT) AS source_version""".stripMargin,
    "q_incr_join" ->
      """SELECT o.o_custkey, o.o_orderkey, o.o_totalprice,
        |  CASE WHEN c.c_custkey % 10 = 5 THEN 'X' ELSE c.c_mktsegment END
        |    AS c_mktsegment
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_orderkey % 7 <> 0 AND c.c_custkey % 13 <> 3""".stripMargin,
    "q_stream_incr_agg" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN doc_id % 9 = 4 THEN 100 ELSE n_chars END) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 6 <> 1 GROUP BY source""".stripMargin,
    "q_stream_matview_join" ->
      """SELECT o.o_custkey, o.o_orderkey, o.o_totalprice,
        |  CASE WHEN c.c_custkey % 10 = 5 THEN 'X' ELSE c.c_mktsegment END
        |    AS c_mktsegment
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_orderkey % 4 = 0 AND o.o_orderkey % 7 <> 0
        |  AND c.c_custkey % 13 <> 3""".stripMargin,
    "q_stream_matview" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars,
        |  CAST(MAX(n_chars) AS BIGINT) AS max_n_chars
        |FROM documents WHERE n_chars < 450 GROUP BY source""".stripMargin,
    "q_shuffle_export" ->
      """WITH k AS (SELECT doc_id,
        |    ('0x' || substr(md5('perm|' || doc_id::VARCHAR), 1, 7))::BIGINT AS pk
        |  FROM documents)
        |SELECT doc_id, CAST(pk % 16 AS INT) AS shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY pk % 16 ORDER BY pk, doc_id) - 1 AS BIGINT) AS pos
        |FROM k""".stripMargin,
    "q_token_budget" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(string_split(text, ' ')) END AS BIGINT) AS n_tokens,
         |    (${qualityE6Duck("documents")}) AS quality_e6
         |  FROM documents),
         |b AS (SELECT CAST(FLOOR(CAST(SUM(n_tokens) AS BIGINT) * 0.4e0) AS BIGINT) AS budget FROM t),
         |c AS (SELECT doc_id, quality_e6, n_tokens,
         |    SUM(n_tokens) OVER (ORDER BY quality_e6 DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT doc_id, quality_e6, n_tokens FROM c, b WHERE cum <= budget""".stripMargin,
    "q_bm25_topk" ->
      """WITH qt(term) AS (VALUES ('spark'), ('table'), ('merge'), ('fast'), ('query')),
        |w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(len(t)) AS BIGINT) AS toktot FROM w),
        |tf AS (SELECT doc_id, term, CAST(len(t) AS BIGINT) AS dl, count(*) AS tf
        |  FROM w, unnest(t) AS u(tok) JOIN qt ON u.tok = qt.term
        |  GROUP BY doc_id, term, len(t)),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |c AS (SELECT tf.doc_id,
        |    CAST(FLOOR(1e6
        |      * ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(tf AS DOUBLE) * (1.2 + 1.0)
        |        / (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75
        |          * (CAST(dl AS DOUBLE) / (CAST(toktot AS DOUBLE) / CAST(n AS DOUBLE))))))) AS BIGINT) AS s
        |  FROM tf JOIN dfq USING (term), st)
        |SELECT doc_id, CAST(SUM(s) AS BIGINT) AS score_e6
        |FROM c GROUP BY doc_id
        |ORDER BY score_e6 DESC, doc_id LIMIT 25""".stripMargin,
    "q_hybrid_rrf" ->
      """WITH qt(term) AS (VALUES ('spark'), ('table'), ('merge'), ('fast'), ('query')),
        |w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(len(t)) AS BIGINT) AS toktot FROM w),
        |tf AS (SELECT doc_id, term, CAST(len(t) AS BIGINT) AS dl, count(*) AS tf
        |  FROM w, unnest(t) AS u(tok) JOIN qt ON u.tok = qt.term
        |  GROUP BY doc_id, term, len(t)),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |c AS (SELECT tf.doc_id,
        |    CAST(FLOOR(1e6
        |      * ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(tf AS DOUBLE) * (1.2 + 1.0)
        |        / (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75
        |          * (CAST(dl AS DOUBLE) / (CAST(toktot AS DOUBLE) / CAST(n AS DOUBLE))))))) AS BIGINT) AS s
        |  FROM tf JOIN dfq USING (term), st),
        |lexs AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS score
        |  FROM c GROUP BY doc_id),
        |lex AS (SELECT doc_id, rnk FROM (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
        |  FROM lexs) WHERE rnk <= 50),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |nv AS (SELECT vec_id, v,
        |    SQRT(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        |p AS (SELECT x.vec_id AS doc_id,
        |    ROUND(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * x.v[i]))
        |      / (q.nrm * x.nrm), 4) AS sim
        |  FROM nv q JOIN nv x ON q.vec_id = 0 AND x.vec_id <> 0),
        |vec AS (SELECT doc_id, rnk FROM (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS rnk
        |  FROM p) WHERE rnk <= 50),
        |u AS (SELECT doc_id, CAST(FLOOR(1e6 / (rnk + 60)) AS BIGINT) AS cc FROM lex
        |  UNION ALL
        |  SELECT doc_id, CAST(FLOOR(1e6 / (rnk + 60)) AS BIGINT) AS cc FROM vec)
        |SELECT doc_id, CAST(SUM(cc) AS BIGINT) AS rrf_e6,
        |  CAST(COUNT(*) AS BIGINT) AS n_lists
        |FROM u GROUP BY doc_id
        |ORDER BY rrf_e6 DESC, doc_id LIMIT 20""".stripMargin,
    "q_hybrid_rrf_ann" ->
      s"""WITH qt(term) AS (VALUES ('spark'), ('table'), ('merge'), ('fast'), ('query')),
         |w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(len(t)) AS BIGINT) AS toktot FROM w),
         |tf AS (SELECT doc_id, term, CAST(len(t) AS BIGINT) AS dl, count(*) AS tf
         |  FROM w, unnest(t) AS u(tok) JOIN qt ON u.tok = qt.term
         |  GROUP BY doc_id, term, len(t)),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |c AS (SELECT tf.doc_id,
         |    CAST(FLOOR(1e6
         |      * ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)
         |      * (CAST(tf AS DOUBLE) * (1.2 + 1.0)
         |        / (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75
         |          * (CAST(dl AS DOUBLE) / (CAST(toktot AS DOUBLE) / CAST(n AS DOUBLE))))))) AS BIGINT) AS s
         |  FROM tf JOIN dfq USING (term), st),
         |lexs AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS score
         |  FROM c GROUP BY doc_id),
         |lex AS (SELECT doc_id, rnk FROM (
         |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
         |  FROM lexs) WHERE rnk <= 50),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cb AS (SELECT cid, cv FROM read_parquet('$hybridAnnBooksPath/*.parquet')
         |  WHERE book = 'c'),
         |pb AS (SELECT subspace, cid, cv
         |  FROM read_parquet('$hybridAnnBooksPath/*.parquet') WHERE book = 'p'),
         |celld AS (SELECT e.vec_id, cb.cid,
         |    ROUND(list_sum(list_transform(range(1, 65),
         |      i -> (e.v[i] - cb.cv[i]) * (e.v[i] - cb.cv[i]))), 4) AS d
         |  FROM e CROSS JOIN cb),
         |cells AS (SELECT vec_id, cid AS cell FROM (
         |    SELECT vec_id, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM celld) t WHERE rn = 1),
         |probe AS (SELECT vec_id AS query_id, cid AS cell FROM (
         |    SELECT vec_id, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM celld WHERE vec_id = 0) t WHERE rn <= 2),
         |cd AS (SELECT e.vec_id, pb.subspace, pb.cid,
         |    ROUND(list_sum(list_transform(range(1, 17),
         |      i -> (e.v[pb.subspace*16 + i] - pb.cv[i]) * (e.v[pb.subspace*16 + i] - pb.cv[i]))), 4) AS d
         |  FROM e CROSS JOIN pb),
         |codes AS (SELECT vec_id, subspace, cid FROM (
         |    SELECT vec_id, subspace, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id, subspace ORDER BY d, cid) AS rn
         |    FROM cd) t WHERE rn = 1),
         |recon AS (
         |  SELECT c.vec_id, flatten(list(pb.cv ORDER BY c.subspace)) AS rv
         |  FROM codes c JOIN pb ON pb.subspace = c.subspace AND pb.cid = c.cid
         |  GROUP BY c.vec_id),
         |rn AS (SELECT r.vec_id, r.rv,
         |    list_sum(list_transform(r.rv, x -> x * x)) AS rn2,
         |    cells.cell
         |  FROM recon r JOIN cells ON cells.vec_id = r.vec_id),
         |qn AS (SELECT p.query_id, e.v, p.cell,
         |    list_sum(list_transform(e.v, x -> x * x)) AS qn2
         |  FROM probe p JOIN e ON e.vec_id = p.query_id),
         |pairs AS (SELECT qn.query_id, rn.vec_id AS neighbor_id,
         |    ROUND(qn.qn2 - 2 * list_sum(list_transform(range(1, 65),
         |      i -> qn.v[i] * rn.rv[i])) + rn.rn2, 4) AS adist
         |  FROM qn JOIN rn ON rn.cell = qn.cell AND rn.vec_id <> qn.query_id),
         |vec AS (SELECT doc_id, rnk FROM (
         |    SELECT neighbor_id AS doc_id,
         |      ROW_NUMBER() OVER (ORDER BY adist, neighbor_id) AS rnk
         |    FROM pairs) t WHERE rnk <= 50),
         |u AS (SELECT doc_id, CAST(FLOOR(1e6 / (rnk + 60)) AS BIGINT) AS cc FROM lex
         |  UNION ALL
         |  SELECT doc_id, CAST(FLOOR(1e6 / (rnk + 60)) AS BIGINT) AS cc FROM vec)
         |SELECT doc_id, CAST(SUM(cc) AS BIGINT) AS rrf_e6,
         |  CAST(COUNT(*) AS BIGINT) AS n_lists
         |FROM u GROUP BY doc_id
         |ORDER BY rrf_e6 DESC, doc_id LIMIT 20""".stripMargin,
    "q_canonical_docs" ->
      s"""WITH cc AS ($qMinhashCcDuck),
         |q AS (SELECT doc_id, (${qualityE6Duck("documents")}) AS quality_e6 FROM documents),
         |j AS (SELECT cc.doc_id, q.quality_e6, cc.component,
         |    ROW_NUMBER() OVER (PARTITION BY cc.component
         |      ORDER BY q.quality_e6 DESC, cc.doc_id) AS rn
         |  FROM cc JOIN q USING (doc_id))
         |SELECT doc_id, quality_e6, component FROM j WHERE rn = 1""".stripMargin,
    "q_importance_sample" ->
      """WITH w AS (SELECT doc_id, lang, source,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS wt
        |  FROM documents),
        |m AS (SELECT avg(wt) AS mw FROM w)
        |SELECT doc_id, lang, source FROM w, m
        |WHERE CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT AS DOUBLE) / 268435456.0
        |  < ROUND(LEAST(1.0, 0.5 * wt / mw), 6)""".stripMargin,
    "q_dedup_incremental_fuzzy" -> qDedupIncrementalFuzzy("duck"),
    "q_dedup_incremental_indexed" -> qDedupIncrementalFuzzy("duck",
      """,
        |  CAST(1 AS BIGINT) AS old_entries_kept,
        |  CAST(1 AS BIGINT) AS new_files_covered,
        |  CAST(1 AS BIGINT) AS matches_direct""".stripMargin),
    "q_index_compact_remap" -> qDedupIncrementalFuzzy("duck",
      """,
        |  CAST(1 AS BIGINT) AS entries_carried_verbatim,
        |  CAST(1 AS BIGINT) AS layout_compacted,
        |  CAST(1 AS BIGINT) AS dv_purge_no_ghosts,
        |  CAST(1 AS BIGINT) AS matches_direct""".stripMargin,
      priorFilter = " AND y.doc_id % 11 <> 4"),
    "q_temperature_sample" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |r AS (SELECT lang,
        |    ROUND(LEAST(1.0, 300.0 * POW(n, 0.5e0) / SUM(POW(n, 0.5e0)) OVER () / n), 6) AS rate
        |  FROM c)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN r USING (lang)
        |WHERE CAST(('0x' || substr(md5(d.doc_id::VARCHAR), 1, 7))::BIGINT AS DOUBLE) / 268435456.0 < r.rate""".stripMargin,
    "q_chunk_documents" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |d AS (SELECT doc_id, toks, len(toks) AS n,
        |    GREATEST(1, (len(toks) - 16 + 47) // 48) AS nch FROM t),
        |f AS (SELECT doc_id, toks, n,
        |    CAST(unnest(range(0, nch)) AS BIGINT) AS chunk_id FROM d)
        |SELECT doc_id, chunk_id,
        |  ('0x' || substr(md5(array_to_string(toks[chunk_id*48+1 : chunk_id*48+64], ' ')), 1, 7))::BIGINT AS chunk_hash,
        |  CAST(LEAST(64, n - chunk_id*48) AS BIGINT) AS n_tokens
        |FROM f""".stripMargin,
    "q_tfidf" -> qTfidf("duck"),
    "q_fingerprint" -> qFingerprint("duck"),
    "q_token_count" -> qTokenCount("duck"),
    "q_token_bpe" -> qTokenBpe("duck"),
    "q_rolling_fingerprint" -> qRollingFingerprint("duck"),
    "q_split_assign" -> qSplitAssign("duck"),
    "q_quality_score" -> qQualityScore("duck"),
    "q_lang_id" -> qLangId("duck"),
    "q_ngram_jaccard" -> qNgramJaccard("duck"),
    "q_containment_dedup" -> qContainmentDedup,
    "q_containment_indexed" -> qContainmentIndexed,
    "q_minhash_dedup_capped" -> qMinhashDedupCapped,
    "q_minhash_signature" -> qMinhashSignature("duck"),
    "q_minhash_dedup" -> qMinhashDedup("duck"),
    "q_minhash_cc" -> qMinhashCcDuck,
    "q_corpus_pipeline" -> qPipelineDuck,
    "q_stream_counts" -> qStreamCountsDuck,
    "q_stream_join" -> qStreamJoinDuck,
    "q_stream_static_join" -> qStreamStaticJoinDuck,
    "q_stream_dedup" -> qStreamDedupDuck,
    "q_stream_dedup_prior" ->
      """WITH prior AS (SELECT text FROM documents WHERE doc_id % 3 <> 0
        |               UNION ALL
        |               SELECT text FROM documents WHERE doc_id % 6 = 0),
        |newb AS (SELECT doc_id, lang, source, text FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id, lang, source FROM newb n
        |WHERE NOT EXISTS (SELECT 1 FROM prior p WHERE p.text = n.text)""".stripMargin,
    "q_stream_sessionize" -> qStreamSessionizeDuck,
    "q_read_changes" -> qReadChangesDuck,
    "q_delete_dv" -> qDeleteDvDuck,
    "q_rename_read" -> qRenameReadDuck,
    "q_widen_read" -> qWidenReadDuck,
    "q_show_partitions" -> qShowPartitionsDuck,
    "q_restore_read" -> qRestoreReadDuck,
    "q_vacuum_read" -> qVacuumReadDuck,
    "q_postings" -> qPostingsDuck,
    "q_catalog_read" -> qCatalogReadDuck,
    "q_optimize_read" -> qOptimizeReadDuck,
    "q_bloom_read" -> qBloomReadDuck,
    "q_bloom_incremental" -> qBloomIncrementalDuck,
    "q_replace_where" ->
      """WITH base AS (SELECT o_orderkey, o_orderpriority FROM orders),
        |fin AS (
        |  SELECT o_orderkey, o_orderpriority FROM base
        |  WHERE o_orderpriority <> '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderpriority FROM base
        |  WHERE o_orderpriority = '1-URGENT')
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(1 AS BIGINT) AS untouched_kept
        |FROM fin GROUP BY o_orderpriority""".stripMargin,
    "q_convert_read" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(1 AS BIGINT) AS in_place, CAST(1 AS BIGINT) AS with_stats
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q_overwrite_dynamic" ->
      """WITH base AS (SELECT o_orderkey, o_orderpriority FROM orders),
        |fin AS (
        |  SELECT o_orderkey, o_orderpriority FROM base
        |  WHERE o_orderpriority <> '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderpriority FROM base
        |  WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderkey + 20000000, '9-NEW' FROM base
        |  WHERE o_orderpriority = '1-URGENT')
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(1 AS BIGINT) AS untouched_kept
        |FROM fin GROUP BY o_orderpriority""".stripMargin,
    // expected inventory for the scripted lifecycle: LSH built on the
    // 4-file corpus and never refreshed past the 1-file append; bloom
    // built after it (all 5 covered)
    "q_show_indexes" ->
      """SELECT kind, columns, covered_files, active_files, stale_files,
        |  invalid_files
        |FROM (VALUES
        |  ('bloom', 'doc_id', CAST(5 AS BIGINT), CAST(5 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |  ('lsh', 'doc_id, text', CAST(4 AS BIGINT), CAST(5 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)))
        |  t(kind, columns, covered_files, active_files, stale_files, invalid_files)""".stripMargin,
    // with the auto-refresh hook, the post-append inventory is fully
    // covered and the indexed dedup drops the known duplicate (1 of 2
    // batch docs survives)
    "q_index_autorefresh" ->
      """SELECT kind, columns, covered_files, active_files, stale_files,
        |  invalid_files, dedup_survivors
        |FROM (VALUES
        |  ('lsh', 'doc_id, text', CAST(5 AS BIGINT), CAST(5 AS BIGINT),
        |   CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT)))
        |  t(kind, columns, covered_files, active_files, stale_files, invalid_files, dedup_survivors)""".stripMargin,
    "q_bloom_join" -> qBloomJoinDuck,
    "q_hilbert_read" -> qHilbertReadDuck,
    "q_hilbert3_read" -> qHilbert3ReadDuck,
    "q_zorder_read" -> qHilbertReadDuck, // same content contract
    "q_cluster_incremental" -> qClusterIncrementalDuck,
    "q_analyze_read" -> qAnalyzeReadDuck,
    "q_funnel" -> qFunnelDuck,
    "q_funnel_windowed" -> qFunnelWindowedDuck,
    "q_retention" -> qRetentionDuck,
    "q_session_paths" -> qSessionPathsDuck,
    "q_attribution" -> qAttributionDuck,
    "q_quality_percentile" -> qQualityPercentile("duck"),
    "q_decay_engagement" -> qDecayEngagementDuck,
    "q_novelty" -> qNoveltyDuck,
    "q_entropy" -> qEntropyDuck,
    "q_weighted_sample" -> qWeightedSampleDuck,
    "q_triangles" -> qTrianglesDuck,
    "q_kcore" -> qKCoreDuck,
    "q_fast_count" -> qFastCountDuck,
    "q_update_dv" -> qUpdateDvDuck,
    "q_change_feed" -> qChangeFeedDuck,
    "q_shallow_clone" -> qShallowCloneDuck,
    "q_stream_changes" -> qStreamChangesDuck,
    "q_stream_cdc_apply" -> qStreamCdcApplyDuck,
    "q_media_frames" -> qMediaFramesDuck,
    "q_simhash" -> qSimhash("duck"),
    "q_simhash_neardup" -> qSimhashNearDup("duck"),
    "q_corpus_profile" -> qCorpusProfile("duck"),
    "q_embedding_knn" -> qKnn("duck"),
    "q_embedding_neardup" -> qEmbeddingNeardup("duck"),
    "q_embedding_lsh_neardup" -> qLshNeardupDuck,
    "q_embedding_knn_lsh" -> qKnnLshDuck,
    "q_embedding_ivf_knn" -> qIvfKnnDuck,
    "q_ann_recall" -> qAnnRecallDuck,
    "q_dsir_select" ->
      """WITH t AS (SELECT doc_id, doc_id % 10 = 0 AS tgt,
        |    string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, tgt,
        |    ('0x' || substr(md5('dsir|' || unnest(
        |      CASE WHEN len(toks) < 2 THEN []
        |        ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END
        |    )), 1, 7))::BIGINT % 4096 AS b
        |  FROM t),
        |counts AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n_r,
        |    CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS n_t
        |  FROM g GROUP BY b),
        |tot AS (SELECT CAST(SUM(n_r) AS BIGINT) AS tot_r,
        |    CAST(SUM(n_t) AS BIGINT) AS tot_t FROM counts),
        |sc AS (SELECT b,
        |    CAST(FLOOR(1e6 * ln(
        |      (CAST(n_t + 1 AS DOUBLE) * CAST(tot_r + 4096 AS DOUBLE))
        |      / (CAST(n_r + 1 AS DOUBLE) * CAST(tot_t + 4096 AS DOUBLE)))) AS BIGINT) AS c
        |  FROM counts, tot)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS score_e6
        |FROM g JOIN sc USING (b)
        |GROUP BY doc_id
        |ORDER BY score_e6 DESC, doc_id LIMIT 100""".stripMargin,
    "q_group_quantiles" ->
      """WITH r AS (SELECT source, n_chars, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT source, q_e2, CAST(n_chars AS BIGINT) AS value
        |FROM r CROSS JOIN (SELECT CAST(q AS INT) AS q_e2
        |  FROM (VALUES (25), (50), (75), (90)) t(q)) q
        |WHERE rn * 100 >= q_e2 * n AND (rn - 1) * 100 < q_e2 * n""".stripMargin,
    "q_embedding_ivf_trained" -> qIvfTrainedDuck,
    "q_embedding_ivf_indexed" -> ivfReplayDuck(ivfIndexCentroidsPath,
      """,
        |  CAST(1 AS BIGINT) AS old_entries_kept,
        |  CAST(1 AS BIGINT) AS new_files_covered,
        |  CAST(1 AS BIGINT) AS matches_operator""".stripMargin),
    "q_embedding_pq_knn" -> qPqKnnDuck,
    "q_embedding_opq_knn" -> qOpqKnnDuck,
    "q_embedding_ivfpq_knn" -> qIvfPqKnnDuck,
    "q_embedding_ivfpq_rerank" -> ivfPqRerankDuck,
    "q_embedding_ivfpq_indexed" -> ivfPqReplayDuck(ivfPqIndexBooksPath,
      """,
        |  CAST(1 AS BIGINT) AS old_entries_kept,
        |  CAST(1 AS BIGINT) AS new_files_covered,
        |  CAST(1 AS BIGINT) AS matches_operator""".stripMargin),
    "q_embedding_sq_knn" -> qSqKnnDuck,
    "q_embedding_stats" -> qEmbeddingStatsDuck,
    "q_kn_bigram" -> qKnBigramDuck,
    "q_pagerank" -> qPageRankDuck,
    "q_embedding_semdedup" -> qSemDedupDuck,
    "q_media_meta" -> qMediaMetaDuck,
    "q_media_features" -> qMediaFeaturesDuck,
    "q_decontaminate" -> qDecontaminateDuck,
    "q_quality_gopher" -> qQualityGopherDuck,
    "q_stratified_sample" -> qStratifiedSampleDuck,
    "q_mix_sources" -> qMixSourcesDuck,
    "q_pii_redact" -> qPiiRedactDuck,
    "q_normalize" -> qNormalizeDuck,
    "q_asof_join" -> qAsofJoinDuck,
    "q_asof_forward" -> qAsofForwardDuck,
    "q_range_join" -> qRangeJoinDuck,
    "q_top_terms" -> qTopTermsDuck,
    "q_pack_sequences" -> qPackSequencesDuck,
    "q_cms_heavy_hitters" -> qCmsHeavyHittersDuck,
    // streamed sketch == batch sketch cell-for-cell, so the downstream
    // estimate shares the batch oracle verbatim
    "q_stream_cms" -> qCmsHeavyHittersDuck,
    "q_hll_distinct" -> qHllDistinctDuck,
    "q_hll_by_source" -> qHllBySourceDuck,
    "q_hll_overlap" -> qHllOverlapDuck,
    // batch == stream on sketches: the streaming registers MUST land on
    // the identical summary, so the oracle is literally the batch one
    "q_stream_hll" -> qHllDistinctDuck,
    "q_range_bounds" ->
      """WITH samp AS (SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE CAST(('0x' || substr(md5('rb|' || o_orderkey::VARCHAR), 1, 7))::BIGINT AS DOUBLE) / 268435456.0 < 0.125),
        |nt AS (SELECT o_totalprice,
        |    ntile(32) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket FROM samp),
        |bounds AS (SELECT bucket, MAX(o_totalprice) AS hi,
        |    CAST(COUNT(*) AS BIGINT) AS n_sample FROM nt GROUP BY bucket),
        |cuts AS (SELECT hi FROM bounds WHERE bucket < 32),
        |asg AS (SELECT 1 + (SELECT COUNT(*) FROM cuts c WHERE c.hi < o.o_totalprice) AS bucket
        |  FROM orders o),
        |census AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_table
        |  FROM asg GROUP BY bucket)
        |SELECT CAST(b.bucket AS INT) AS bucket, b.hi, b.n_sample,
        |  COALESCE(census.n_table, 0::BIGINT) AS n_table
        |FROM bounds b LEFT JOIN census ON b.bucket = census.bucket""".stripMargin,
    "q_quantile_sketch" -> quantileSketchDuck(),
    "q_quantile_sketch_merge" -> quantileSketchDuck(
      ", CAST(1 AS BIGINT) AS matches_whole"),
    "q_stream_quantile" -> quantileSketchDuck(),
    "q_sorted_export" ->
      """WITH samp AS (SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE CAST(('0x' || substr(md5('rb|' || o_orderkey::VARCHAR), 1, 7))::BIGINT AS DOUBLE) / 268435456.0 < 0.125),
        |nt AS (SELECT o_totalprice, o_orderkey,
        |    ntile(32) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket FROM samp),
        |bounds AS (SELECT bucket, MAX(o_totalprice) AS hi FROM nt GROUP BY bucket),
        |cuts AS (SELECT hi FROM bounds WHERE bucket < 32)
        |SELECT o_orderkey,
        |  CAST(1 + (SELECT COUNT(*) FROM cuts c WHERE c.hi < o.o_totalprice) AS INT) AS bucket,
        |  CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) - 1 AS BIGINT) AS pos
        |FROM orders o""".stripMargin)
}
