package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Duplicate-handling operators as pure DataFrame transforms.
  *
  * Semantics pinned by the reference's golden tests
  * (/root/reference/tests/test_public_interface.py:159-198, :597-943);
  * implementations are deliberately Spark-first: a single hash-shuffle
  * window per operator instead of the reference's positional-index /
  * MERGE machinery — no join, no driver collect, scales with the
  * shuffle.
  */
object Dedup {

  private[graft] def requireCols(
      schema: StructType, cols: Seq[String], what: String): Unit = {
    require(cols != null && cols.nonEmpty, s"$what must be a non-empty list of columns")
    val missing = cols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty, s"$what ${missing.mkString(", ")} not found in " +
      s"table columns ${schema.fieldNames.mkString(", ")}")
  }

  /** Delete EVERY row of every duplicate group — no survivor (reference:
    * `kill_duplicates`, levi/__init__.py:119-166).
    *
    * Plan shape: duplicate KEYS are found with a map-side-combined
    * groupBy (only keys shuffle, not rows), then removed with a
    * left-anti join that AQE turns into a broadcast when the dup-key set
    * is small — the common case at scale, where the full-row shuffle of
    * a window-count plan would dominate. */
  def killDuplicates(df: DataFrame, duplicationColumns: Seq[String]): DataFrame = {
    requireCols(df.schema, duplicationColumns, "duplication_columns")
    val dupKeys = df.groupBy(duplicationColumns.map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
      .where(col("__cnt") > 1)
      .select(duplicationColumns.map(col): _*)
    df.join(dupKeys, duplicationColumns, "left_anti")
  }

  /** Keep exactly one row per duplicate group, the first under an
    * explicit ordering (reference `drop_duplicates` keeps the first
    * *physical* row, levi/__init__.py:298-351 — physical order is not
    * stable in a distributed engine, so the survivor is defined by
    * `orderBy` instead; pass the reference's insertion-order key for
    * parity). */
  def dropDuplicatesOrdered(
      df: DataFrame, duplicationColumns: Seq[String], orderBy: Seq[Column]): DataFrame = {
    requireCols(df.schema, duplicationColumns, "duplication_columns")
    require(orderBy.nonEmpty, "orderBy must be non-empty for a deterministic survivor")
    val w = Window.partitionBy(duplicationColumns.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Skew-hardened variant of [[dropDuplicatesOrdered]]: two-phase
    * survivor selection. Phase 1 shuffles on (dupCols, salt), splitting
    * a hot key across `salts` reducers; phase 2 re-ranks only the
    * per-salt winners (≤ `salts` rows per key), so no single task ever
    * materializes a whole hot group. Correct for rank-1 survivor
    * semantics ONLY when `orderBy` is a total order within each group
    * (e.g. includes a unique key) — with ties, phase composition could
    * pick a different (still valid) survivor than the single-phase plan.
    *
    * The salt is a CONTENT hash of the order-key values, not a
    * positional id: `monotonically_increasing_id()` changes with input
    * partitioning, so reruns over a repartitioned input could route
    * rows differently and (under non-total orderings) flip the
    * survivor; a content-derived salt makes the whole plan a pure
    * function of the data. The order keys are exactly the values that
    * distinguish rows within a hot group, so they spread it evenly. */
  def dropDuplicatesOrderedSalted(
      df: DataFrame, duplicationColumns: Seq[String], orderBy: Seq[Column],
      salts: Int = 16): DataFrame = {
    requireCols(df.schema, duplicationColumns, "duplication_columns")
    require(orderBy.nonEmpty, "orderBy must be non-empty for a deterministic survivor")
    require(salts >= 2, s"salts must be >= 2, got $salts")
    val dupCols = duplicationColumns.map(col)
    val orderKeyCols: Seq[Column] =
      orderBy.map(org.apache.spark.sql.graftshims.SqlShims.sortChild)
    val salted = df.withColumn("__salt",
      pmod(hash(orderKeyCols: _*), lit(salts)))
    val w1 = Window.partitionBy(dupCols :+ col("__salt"): _*).orderBy(orderBy: _*)
    val perSalt = salted.withColumn("__rn", row_number().over(w1))
      .where(col("__rn") === 1).drop("__rn")
    val w2 = Window.partitionBy(dupCols: _*).orderBy(orderBy: _*)
    perSalt.withColumn("__rn", row_number().over(w2))
      .where(col("__rn") === 1)
      .drop("__rn", "__salt")
  }

  /** EXACT dedup of a NEW batch against a PRIOR corpus — the
    * incremental-ingestion shape: yesterday's (huge, already-deduped)
    * corpus is `prior`, today's batch must drop documents whose content
    * was already seen — WITHOUT shuffling either full side.
    *
    * Plan shape (two-sided bloom pre-filter around one exact anti-join):
    *  1. one column-pruned scan of `prior` builds a bloom filter over
    *     `xxhash64(text)` (map-side partial merges; the driver holds
    *     only the filter bytes, sized by `expectedPriorItems` and capped
    *     by `spark.sql.optimizer.runtime.bloomFilter.maxNumBits`);
    *  2. the new batch splits MAP-ONLY: bloom-negative rows are
    *     definitely novel and never shuffle; bloom-positive candidates
    *     (true dups + ~fpp of the batch) continue;
    *  3. a second bloom over the candidates filters `prior` down to
    *     rows that could match a candidate, so the exact anti-join
    *     shuffles candidate-sized hash sets on BOTH sides instead of
    *     the full corpus.
    * Bloom filters have no false negatives and the join removes the
    * false positives, so the result is exactly the content-anti-join
    * semantics at a small fraction of its shuffle volume. Cost: two
    * scans of each side (all map-only but the final join) — at scale
    * scans of one pruned column are cheap against corpus-sized
    * shuffles. Intra-batch duplicates are NOT collapsed (chain
    * [[killDuplicates]]/[[dropDuplicatesOrdered]] for that).
    *
    * Bloom SIZING matters: every input partition serializes a full
    * sketch into the partial-merge, so an oversized filter turns the
    * map-only aggregation into partitions × sketch-bytes of merge
    * traffic (a 4M-item default cost ~2 s on a 6k-row corpus). Pass
    * `expectedPriorItems` when the corpus scale is known; the default
    * (0 = auto) spends one column-pruned `count()` per side to size
    * each filter to its actual input. */
  def dedupAgainstCorpus(newBatch: DataFrame, prior: DataFrame, textCol: String,
      expectedPriorItems: Long = 0L): DataFrame = {
    import org.apache.spark.sql.graftshims.SqlShims
    require(newBatch.columns.contains(textCol) && prior.columns.contains(textCol),
      s"column $textCol must exist on both sides")
    val h = xxhash64(col(textCol))
    val priorItems =
      if (expectedPriorItems > 0) expectedPriorItems
      else math.max(64L, prior.count())
    val priorBloom = prior
      .select(SqlShims.bloomFilterAgg(h, priorItems).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    if (priorBloom == null) return newBatch // empty prior: all novel
    val candidates = newBatch.where(SqlShims.mightContain(priorBloom, h))
    val clean = newBatch.where(!SqlShims.mightContain(priorBloom, h))
    val candItems =
      if (expectedPriorItems > 0) expectedPriorItems
      else math.max(64L, candidates.count())
    val candBloom = candidates
      .select(SqlShims.bloomFilterAgg(h, candItems).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    if (candBloom == null) return newBatch // no candidates: clean == batch
    val priorHashes = prior.where(SqlShims.mightContain(candBloom, h))
      .select(md5(col(textCol)).as("__graft_prior_h")).distinct()
    val survivors = candidates.join(priorHashes,
      md5(col(textCol)) === col("__graft_prior_h"), "left_anti")
    clean.unionByName(survivors)
  }

  /** Keep, per duplicate group, the row with the smallest primary key;
    * the pkey must be unique table-wide (reference:
    * `drop_duplicates_pkey`, levi/__init__.py:354-426). */
  def dropDuplicatesPkey(
      df: DataFrame, primaryKey: String, duplicationColumns: Seq[String]): DataFrame = {
    require(primaryKey != null && primaryKey.nonEmpty, "primary_key must be a non-empty column name")
    requireCols(df.schema, duplicationColumns, "duplication_columns")
    require(df.columns.contains(primaryKey),
      s"primary key $primaryKey not found in table columns ${df.columns.mkString(", ")}")
    require(!duplicationColumns.contains(primaryKey),
      s"primary key $primaryKey must not be part of the duplication columns")
    // Exactness required (the reference compares count vs count_distinct,
    // :395-397) — two cheap metadata-scale jobs.
    val total = df.count()
    val distinctKeys = df.select(primaryKey).distinct().count()
    require(total == distinctKeys,
      s"primary key $primaryKey is not unique: $total rows, $distinctKeys distinct keys")
    dropDuplicatesOrdered(df, duplicationColumns, Seq(col(primaryKey).asc))
  }
}
