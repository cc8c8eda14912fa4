package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** dedupAgainstCorpus: two-sided-bloom incremental dedup must equal the
  * plain content anti-join exactly (blooms only pre-filter; the exact
  * join removes false positives and blooms have no false negatives). */
class DedupIncrementalSpec extends SparkTestBase {
  import spark.implicits._

  private def batch = Seq(
    (1L, "fresh one"), (2L, "seen a"), (3L, "fresh two"),
    (4L, "seen b"), (5L, "fresh three"), (6L, "seen a"))
    .toDF("id", "text")

  private def prior = Seq("seen a", "seen b", "seen c").toDF("text")

  test("matches the exact anti-join semantics") {
    val got = Dedup.dedupAgainstCorpus(batch, prior, "text")
    val want = batch.join(prior.distinct(), Seq("text"), "left_anti")
    assertSameRows(got, want, "incremental dedup vs plain anti-join")
    // both copies of an intra-batch dup drop when the text is in prior
    assert(got.count() == 3)
  }

  test("empty prior keeps the whole batch") {
    val got = Dedup.dedupAgainstCorpus(batch, prior.limit(0), "text")
    assertSameRows(got, batch, "empty prior")
  }

  test("disjoint prior keeps the whole batch") {
    val got = Dedup.dedupAgainstCorpus(
      batch, Seq("other x", "other y").toDF("text"), "text")
    assertSameRows(got, batch, "no-overlap prior")
  }

  test("fuzzy variant drops cross near-dups only, keeps intra-batch dups") {
    val mkDoc = (id: Long, text: String) => (id, text)
    // 8+ tokens so the 3-gram shingle sets are meaningful
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val tweaked = "the quick brown fox jumps over the lazy dog again and then"
    val fresh = "completely different content with no overlap whatsoever in any gram here"
    val newB = Seq(mkDoc(1, base), mkDoc(2, tweaked), mkDoc(3, fresh),
      mkDoc(4, fresh)).toDF("id", "text")
    val priorB = Seq(mkDoc(100, base), mkDoc(101, "other prior text entirely unrelated to anything else written here today"))
      .toDF("id", "text")
    val got = graft.operators.MinHashLsh
      .dedupAgainstCorpus(newB, priorB, "id", "text", threshold = 0.5)
      .select("id").as[Long].collect().sorted.toSeq
    // 1 (exact match) and 2 (near-dup of prior 100) drop; the two
    // intra-batch copies of `fresh` BOTH survive (cross pairs only)
    assert(got == Seq(3L, 4L), s"got $got")
  }

  test("streaming drain equals the batch incremental dedup") {
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.queries.Queries.queries("q_stream_dedup_prior")(spark, sf)
    val batch = graft.queries.Queries.queries("q_dedup_incremental")(spark, sf)
    assertSameRows(streamed, batch, "stream vs batch incremental dedup")
  }

  test("LSH bucket cap: cap-on ≡ cap-off when no bucket exceeds the cap, " +
    "and an over-cap degenerate block contributes zero pairs") {
    graft.queries.Queries.registerViews(spark, "/root/testdata/sf0.001")
    val docs = spark.table("documents").select(col("doc_id"), col("text"))
    // every bucket here is far below 1000: capped ≡ uncapped
    val uncapped = graft.operators.MinHashLsh
      .nearDupPairs(docs, "doc_id", "text", 0.5, maxBucketSize = 0)
    val capped1k = graft.operators.MinHashLsh
      .nearDupPairs(docs, "doc_id", "text", 0.5, maxBucketSize = 1000)
    assertSameRows(uncapped, capped1k, "cap above every bucket size")
    // a 30-doc identical block floods every band with a 30-member
    // bucket; cap 16 drops it from candidate generation entirely
    val boiler = spark.range(30).select(
      (col("id") + lit(9000000L)).as("doc_id"),
      lit("shared boilerplate footer text block four grams").as("text"))
    val flooded = docs.unionByName(boiler)
    val capped = graft.operators.MinHashLsh
      .nearDupPairs(flooded, "doc_id", "text", 0.5, maxBucketSize = 16)
    assert(capped.where(col("id_a") >= 9000000L || col("id_b") >= 9000000L)
      .count() == 0, "over-cap degenerate block must contribute no pairs")
    // the rest of the corpus still pairs exactly as before
    assertSameRows(capped, uncapped, "cap drops ONLY the degenerate block")
    // a cap ≤ 0 is off: the degenerate block keeps its pairs
    val forcedOff = graft.operators.MinHashLsh
      .nearDupPairs(flooded, "doc_id", "text", 0.5, maxBucketSize = -1)
    assert(forcedOff.where(
      col("id_a") >= 9000000L && col("id_b") >= 9000000L).count() > 0,
      "a negative cap must leave the block's pairs in")
  }

  test("SQL surface: bloom_filter_agg + might_contain round-trip") {
    graft.queries.Queries.registerViews(spark, "/root/testdata/sf0.001")
    prior.createOrReplaceTempView("bloom_prior_v")
    batch.createOrReplaceTempView("bloom_batch_v")
    val hits = spark.sql(
      """SELECT count(*) AS n FROM bloom_batch_v
        |WHERE might_contain(
        |  (SELECT bloom_filter_agg(xxhash64(text)) FROM bloom_prior_v),
        |  xxhash64(text))""".stripMargin).head().getLong(0)
    // no false negatives: all 3 true matches must probe positive
    assert(hits >= 3 && hits <= 6)
  }
}
