package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Salted equi-join for skewed keys — the standard remedy when one
  * join key carries a disproportionate share of the rows (a hot
  * customer, a boilerplate document hash, an empty-string token) and
  * a single reducer would receive the whole key's partition while the
  * other 999 executors idle.
  *
  * The probe (large, skewed) side gets a deterministic salt in
  * `[0, salts)`; the build side is replicated `salts` times via a
  * small `explode(sequence(...))` — so the join key becomes
  * `(key, salt)` and a hot key's rows spread across `salts` reducers.
  * Build-side cost is `|build| × salts` rows, the deliberate price for
  * flattening the probe-side skew; pick `salts` ≈ the observed
  * hot-key inflation factor. Spark's AQE skew-join split handles the
  * same problem reactively at runtime, but only OUTER/INNER shuffle
  * joins it can re-plan — an explicit salt also covers aggregations
  * downstream of the join and makes the partitioning stable across
  * stages.
  *
  * The salt is content-derived (`hash28` of the probe row's key plus a
  * caller-chosen discriminator column) rather than `rand()`: results
  * are reproducible run to run, which keeps the operator oracle-able
  * and the shuffle layout deterministic for stage retries.
  */
object SkewJoin {

  /** Inner-join `probe` to `build` on `key`, spreading each probe key
    * over `salts` reducers. `discriminator` is any probe column with
    * per-row variety (a row id, a timestamp) — it feeds the salt hash
    * so rows of ONE hot key land in different buckets. Semantically
    * identical to `probe.join(build, key)`; only the partitioning
    * changes. */
  def saltedJoin(
      probe: DataFrame, build: DataFrame,
      key: String, discriminator: String, salts: Int): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    // NULL discriminator must still salt (md5(NULL) is NULL, and a NULL
    // salt would silently drop the row from the equi-join, breaking the
    // plain-join equivalence) — all-null rows share bucket 0, which is
    // the plain join's behavior for them anyway.
    val salted = probe.withColumn("__salt",
      (coalesce(TextFunctions.hash28(col(discriminator).cast("string")), lit(0L))
        % salts).cast("int"))
    val replicated = build.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }
}
