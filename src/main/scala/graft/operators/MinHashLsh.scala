package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.queries.Queries.{MinhashA, MinhashB, MinhashP}

/** MinHash + banded LSH near-duplicate detection, DataFrame-native.
  *
  * Scale shape (the whole point of LSH): signatures are one narrow
  * map-side pass; the only shuffle keys are (band, bucket) — candidate
  * pair count tracks the true near-dup count, never O(n²). Exact
  * Jaccard verification runs on candidates only.
  */
object MinHashLsh {

  val NumHashes = 16
  val Bands = 4
  val RowsPerBand: Int = NumHashes / Bands

  /** doc frame → (id, hs) where hs = 28-bit hashes of the distinct word
    * 3-gram shingles — the WHOLE front-end (tokenize → ngram →
    * distinct → hash) fused into one codegen'd kernel
    * ([[graft.functions.VectorExpressions.hashedShingles]]); the
    * composed `hash28Array(array_distinct(wordNgrams(...)))` form is
    * the MinHashShingleSpec cross-check. Because the kernel is
    * codegen-capable, downstream projections (signatures, band keys)
    * stay in whole-stage codegen, where common-subexpression
    * elimination applies — the interpreted-mode re-evaluation traps of
    * round 8 can't re-arise around it. */
  def hashedShingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    // The kernel is CPU-heavy (md5 per shingle) and a projection only
    // parallelizes as far as its INPUT partitions — a few-file parquet
    // scan arrives as one partition and was measured to run the whole
    // kernel in ONE task (3-5 s single-core vs 0.3 s wide at 5k docs).
    // Widen narrow inputs to the session parallelism BEFORE the
    // projection; wide inputs pass through, so at scale this no-ops.
    // Round-13 optimization round: the widen target derives from the
    // input's size estimate (Adaptive.widen) instead of the constant
    // defaultParallelism — same full width at scale, fewer fuller
    // tasks for bench-scale inputs.
    val wide = Adaptive.widen(df)
    wide.select(col(idCol),
      graft.functions.VectorExpressions.hashedShingles(col(textCol), n).as("hs"))
  }

  /** Append mh0..mh15 signature columns (all 16 mins from ONE fused
    * pass over the shingle array — [[graft.functions.VectorExpressions
    * .minhashSignatures]] — instead of 16 interpreted array_min walks).
    *
    * Since the shingle front-end became a codegen'd kernel (round 9,
    * [[hashedShingles]]), the whole pipeline whole-stage-compiles and
    * the 16 `element_at` unrolls below CSE to one kernel evaluation —
    * the round-8 interpreted-mode re-evaluation trap is structurally
    * gone. The localCheckpoint stays for a different reason: callers
    * reference the signature relation MULTIPLE times (dedup's two
    * bucket references, candidate verification joins), and an
    * unmaterialized pipeline would re-run the kernel once per
    * reference. Eager by design: every caller consumes the signatures
    * at least once, and inputs here are batch-sized (the corpus-sized
    * prior side of dedupAgainstCorpus deliberately streams around this
    * via [[bandKeysOf]] instead). */
  def withSignature(hashed: DataFrame): DataFrame = {
    val sig = graft.functions.VectorExpressions.minhashSignatures(
      col("hs"), MinhashA, MinhashB, MinhashP)
    val mat = hashed.withColumn("_sig", sig).localCheckpoint()
    mat.select(hashed.columns.map(col).toSeq ++
      (0 until NumHashes).map(j => element_at(col("_sig"), j + 1).as(s"mh$j")): _*)
  }

  /** All `Bands` band-bucket keys from ONE reference to a signature
    * ARRAY expression, as a single `array<string>` column: the fold's
    * INITIAL STATE carries the (expensive) signature expression, so it
    * evaluates exactly once per row even in an interpreted projection —
    * referencing it 16× via element_at unrolls would re-run the
    * md5+minhash kernel per reference (measured 16× in round 8). Key
    * strings are bit-identical to [[bandBuckets]]'s (concat_ws skips
    * the nulls an empty shingle set produces). Shared with the
    * persisted signature index ([[graft.delta.LshIndex]]), which
    * stores exactly these keys so indexed and live prior sides hash
    * identically by construction. */
  private[graft] def bandKeysOf(sig: Column): Column =
    graft.functions.VectorExpressions.minhashBandKeys(sig, Bands, RowsPerBand)

  /** The pre-round-13 `aggregate(sequence(...))` HOF spelling of
    * [[bandKeysOf]] — kept ONLY as the BandKeysExprSpec cross-check
    * (the codegen'd expression must stay key-identical to it). As a
    * CodegenFallback it forced every projection containing it
    * interpreted, where the shingle+minhash kernel re-evaluated once
    * per reference — the round-13 optimization round replaced it on
    * the hot path. */
  private[graft] def bandKeysOfComposed(sig: Column): Column =
    aggregate(
      sequence(lit(0), lit(Bands - 1)),
      struct(sig.as("s"), array().cast("array<string>").as("ks")),
      (st, b) => struct(
        st.getField("s").as("s"),
        concat(st.getField("ks"), array(concat_ws(",",
          (0 until RowsPerBand).map(r =>
            element_at(st.getField("s"),
              b * lit(RowsPerBand) + lit(r + 1)).cast("string")): _*))).as("ks")))
      .getField("ks")

  /** (id, band, bucketKey) — one row per band per doc. */
  def bandBuckets(sig: DataFrame, idCol: String): DataFrame = {
    val bandKeys: Column = array((0 until Bands).map { b =>
      concat_ws(",", (0 until RowsPerBand).map(r =>
        col(s"mh${b * RowsPerBand + r}").cast("string")): _*)
    }: _*)
    sig.select(col(idCol), posexplode(bandKeys).as(Seq("band", "k")))
  }

  /** Candidate pairs: docs sharing any band bucket (deduplicated).
    *
    * `maxBucketSize` is the skew guard: a degenerate bucket (e.g. every
    * empty/boilerplate doc hashing identically) of size m contributes
    * m²/2 pairs and concentrates them in ONE join task. Buckets above
    * the cap are dropped from CANDIDATE GENERATION (their members still
    * pair through their other, selective bands) — the standard
    * LSH-at-scale mitigation (gated end-to-end by
    * q_minhash_dedup_capped). A cap ≤ 0 (the default) is off —
    * candidate generation is exact. */
  def candidatePairs(
      buckets: DataFrame, idCol: String, maxBucketSize: Int = 0): DataFrame = {
    // The self-join below references the bucket relation twice, and
    // upstream sits the md5-shingle + minhash kernel — materialize it
    // (localCheckpoint: an unconditional lineage cut; plain persist()
    // was measured to be silently MISSED by CacheManager substitution
    // in exactly this self-join shape, recomputing the kernel per
    // reference — see Queries.cachedStagesQuery)
    val mat = buckets.localCheckpoint()
    val capped =
      if (maxBucketSize <= 0) mat
      else {
        val sizes = mat.groupBy("band", "k")
          .agg(count(lit(1)).as("__bsz"))
          .where(col("__bsz") <= maxBucketSize)
          .select("band", "k")
        mat.join(sizes, Seq("band", "k"))
      }
    val a = capped.as("x")
    val b = capped.as("y")
    a.join(b,
        col("x.band") === col("y.band") && col("x.k") === col("y.k") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .distinct()
  }

  /** Near-dup pairs with exact Jaccard ≥ threshold, verified on the
    * hashed shingle sets of candidates only. */
  def nearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, maxBucketSize: Int = 0): DataFrame = {
    // localCheckpoint, not cache(): the verify joins below must read
    // the MATERIALIZED shingles — CacheManager substitution can miss
    // join-shaped consumers and silently re-run the md5 pipeline
    val hashed = hashedShingles(df, idCol, textCol).localCheckpoint()
    val cand = candidatePairs(
      bandBuckets(withSignature(hashed), idCol), idCol, maxBucketSize)
    val ha = hashed.select(col(idCol).as("id_a"), col("hs").as("hs_a"))
    val hb = hashed.select(col(idCol).as("id_b"), col("hs").as("hs_b"))
    cand.join(ha, "id_a").join(hb, "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("double") /
          size(array_union(col("hs_a"), col("hs_b"))).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Anchors per doc for containment candidate generation: the
    * `AnchorK` SMALLEST shingle hashes. The guarantee that makes this
    * the right key for the CONTAINMENT measure (where banded Jaccard
    * LSH fades): if containment(A→B) = |A∩B|/|A| ≥ t, each of A's
    * bottom-k hashes lies in B with probability ≥ t independently
    * (hash ranks are independent of which elements B shares), so SOME
    * anchor of A is a shingle of B with probability ≥ 1 − (1−t)^k —
    * ≥ 99.99999% at t = 0.9, k = 8, INDEPENDENT of |B| and of the
    * size skew. For a true subset (prefix truncation, full quote
    * inclusion) every anchor of A is in B — the candidate is
    * DETERMINISTIC. */
  val AnchorK = 8

  private[graft] def bottomK(hs: Column, k: Int): Column =
    graft.functions.VectorExpressions.bottomK(hs, k)

  /** The pre-round-13 HOF spelling of [[bottomK]] — kept ONLY as the
    * BottomKExprSpec cross-check (`array_sort`'s lambda comparator is
    * CodegenFallback: one occurrence dropped the whole anchor
    * projection out of codegen). */
  private[graft] def bottomKComposed(hs: Column, k: Int): Column =
    slice(array_sort(hs), 1, k)

  /** Containment candidate pairs via bottom-k shingle anchors: (a, b)
    * pair when some anchor of one doc is ANY shingle of the other.
    * Scale shape: the anchor side is k rows per doc; the posting side
    * explodes shingles but is semi-joined to the (doc-count × k)-sized
    * distinct anchor-hash set BEFORE any exchange, so only shingles
    * that are somebody's anchor shuffle. `cap` (same semantics as the
    * band-bucket cap) drops anchor hashes whose posting list exceeds
    * it — a boilerplate shingle that is also some doc's anchor would
    * otherwise contribute |posting|² pairs in one task; its docs still
    * pair through their other, selective anchors. */
  private[graft] def anchorCandidates(
      hashed: DataFrame, idCol: String, k: Int, cap: Int): DataFrame = {
    val anch = hashed.where(size(col("hs")) > 0)
      .select(col(idCol), explode(bottomK(col("hs"), k)).as("h"))
    val postingAll = hashed
      .select(col(idCol), explode(col("hs")).as("h"))
      .join(anch.select("h").distinct(), Seq("h"), "left_semi")
    val posting =
      if (cap <= 0) postingAll
      else {
        // second reference to the pruned posting — materialize it
        // (anchor-bucket-sized) so the explode runs once
        val mat = postingAll.localCheckpoint()
        mat.join(
          mat.groupBy("h").agg(count(lit(1)).as("__psz"))
            .where(col("__psz") <= cap).select("h"),
          Seq("h"))
      }
    anch.as("x").join(posting.as("y"),
        col("x.h") === col("y.h") && col(s"x.$idCol") =!= col(s"y.$idCol"))
      .select(least(col(s"x.$idCol"), col(s"y.$idCol")).as("id_a"),
        greatest(col(s"x.$idCol"), col(s"y.$idCol")).as("id_b"))
      .distinct()
  }

  /** Containment near-dup pairs: |A∩B| / min(|A|, |B|) ≥ `threshold`
    * on the candidates' hashed shingle sets — the ASYMMETRIC
    * complement of [[nearDupPairs]]. A short document quoted whole
    * inside a longer one (boilerplate-wrapped copies, quote inclusion,
    * prefix truncations) has LOW Jaccard — the union is dominated by
    * the longer doc — but containment ≈ 1, so symmetric dedup misses
    * exactly the inclusion cases corpus curation cares about
    * (Broder's containment measure, "On the resemblance and
    * containment of documents", SEQUENCES '97).
    *
    * Candidates are the UNION of two schemes, each matched to a
    * regime:
    *  - the banded minhash LSH (bucket-mate pairs, skew-capped) —
    *    Jaccard-sensitive, covers moderate size skew;
    *  - bottom-k shingle ANCHORS ([[anchorCandidates]]) — recall
    *    ≥ 1 − (1−t)^k independent of skew, and DETERMINISTIC for true
    *    subsets, covering exactly the extreme-skew inclusions (a
    *    50-token doc quoted inside a 5,000-token one, Jaccard ≈ 0.01)
    *    that collide through a Jaccard band with probability j⁴ ≈
    *    never.
    * The verify is EXACT on the candidates, and the deterministic md5
    * pipeline means an engine-independent replay (the DuckDB oracle)
    * sees the identical candidate set.
    *
    * Output: (id_a, id_b, containment) with id_a < id_b, containment
    * rounded to 6 decimals; empty shingle sets never pair (a
    * zero-denominator guard on BOTH sides of the min). */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.9, maxBucketSize: Int = 0,
      anchorK: Int = AnchorK): DataFrame = {
    val hashed = hashedShingles(df, idCol, textCol).localCheckpoint()
    val cand = candidatePairs(
        bandBuckets(withSignature(hashed), idCol), idCol, maxBucketSize)
      .unionByName(anchorCandidates(hashed, idCol, anchorK, maxBucketSize))
      .distinct()
    val ha = hashed.select(col(idCol).as("id_a"), col("hs").as("hs_a"))
    val hb = hashed.select(col(idCol).as("id_b"), col("hs").as("hs_b"))
    cand.join(ha, "id_a").join(hb, "id_b")
      .where(size(col("hs_a")) > 0 && size(col("hs_b")) > 0)
      .withColumn("containment", round(
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("double") /
          least(size(col("hs_a")), size(col("hs_b"))).cast("double"), 6))
      .where(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** Containment screen of `newBatch` against a `prior` corpus: every
    * CROSS pair (new id, prior id) whose Broder containment
    * |∩| / min(|a|, |b|) on the hashed 3-gram shingle sets is ≥
    * `threshold` — the incremental-ingest form of [[containmentPairs]]
    * (is today's doc a quote/prefix/wrapper of — or quoted inside —
    * anything already ingested?). Candidates come from bottom-k
    * anchors in BOTH directions ([[anchorCandidates]]'s scheme):
    * new-doc anchors vs prior shingles catches a new doc contained in
    * a prior one, prior-doc anchors vs new shingles the reverse —
    * recall ≥ 1 − (1−t)^k per true pair independent of size skew,
    * deterministic for true subsets. No banded stage: for the
    * CONTAINMENT measure the anchor scheme dominates the Jaccard
    * bands at every skew (a containment-t pair has Jaccard ≤ t, and
    * 1 − (1−t)^k ≥ 1 − (1−j⁴)^4 throughout), so bands would add
    * shuffle without recall.
    *
    * Scale shape: ONE streaming pass over the prior's (id, hs)
    * explodes shingles and semi-joins the (broadcast) batch shingle
    * set BEFORE any exchange — only hashes the batch shares survive —
    * and the exact verify re-attaches prior shingle sets for CANDIDATE
    * prior ids only (`priorHsForIds`). The text kernel is the dominant
    * cost; the verify-side re-read is id-pruned below it, and the
    * indexed twin ([[graft.delta.LshIndex.containmentBatch]]) serves
    * both passes from persisted signatures with no kernel at all.
    * `cap` drops anchor hashes whose prior posting exceeds it (same
    * skew guard as [[anchorCandidates]]).
    *
    * Output: (id_new, id_prior, containment ROUND 6). */
  def containmentAgainstCorpus(
      newBatch: DataFrame, prior: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.9, broadcastKeys: Boolean = true,
      anchorK: Int = AnchorK, maxBucketSize: Int = 0,
      hashedBatch: Option[DataFrame] = None): DataFrame = {
    val hNew = hashedBatch.getOrElse(
      hashedShingles(newBatch, idCol, textCol).localCheckpoint())
    containmentCrossPairs(hNew, idCol, threshold, anchorK,
      maxBucketSize, broadcastKeys,
      hashedShingles(prior, idCol, textCol),
      ids => hashedShingles(
        // id semi-join BEFORE the kernel: the verify pass re-reads the
        // prior's text but shingles only candidate rows
        prior.join(if (broadcastKeys) broadcast(ids) else ids,
          Seq(idCol), "left_semi"), idCol, textCol))
  }

  /** Shared cross-containment core — the direct operator and the
    * LSH-sidecar-served twin differ only in where the prior's (id, hs)
    * rows come from. `priorHashed` feeds the candidate pass;
    * `priorHsForIds(ids)` must return (idCol, hs) for the given
    * distinct-id frame (the verify attach). */
  private[graft] def containmentCrossPairs(
      hNew: DataFrame, idCol: String, threshold: Double, k: Int, cap: Int,
      broadcastKeys: Boolean, priorHashed: DataFrame,
      priorHsForIds: DataFrame => DataFrame): DataFrame = {
    def hinted(df: DataFrame): DataFrame = if (broadcastKeys) broadcast(df) else df
    val bShingles = hinted(hNew.select(explode(col("hs")).as("h")).distinct())
    val aNew = hNew.where(size(col("hs")) > 0)
      .select(col(idCol).as("__nid"), explode(bottomK(col("hs"), k)).as("h"))
    // ONE prior pass: explode shingles, tag anchor membership, keep
    // only batch-shared hashes (pre-exchange semi-join)
    val priorE0 = priorHashed
      .select(col(idCol).as("__pid"), explode(col("hs")).as("h"),
        bottomK(col("hs"), k).as("__ank"))
      .withColumn("__pa", array_contains(col("__ank"), col("h")))
      .drop("__ank")
      .join(bShingles, Seq("h"), "left_semi")
    // materialize ONCE, cap or no cap: both candidate derivations
    // (new-anchor d1, prior-anchor d2) consume this frame, and without
    // a checkpoint the one action over `cand` would execute the prior
    // shingle kernel — the operator's dominant cost — twice (d2's
    // anchor filter makes the subtrees differ, so exchange reuse
    // cannot dedupe them). Post-semi-join, so only batch-shared
    // hashes materialize.
    val mat = priorE0.localCheckpoint()
    val priorE =
      if (cap <= 0) mat
      else mat.join(
        mat.groupBy("h").agg(count(lit(1)).as("__psz"))
          .where(col("__psz") <= cap).select("h"),
        Seq("h"))
    val d1 = aNew.join(priorE, "h").select(col("__nid"), col("__pid"))
    val newPost = hNew.select(col(idCol).as("__nid"), explode(col("hs")).as("h"))
    val d2 = priorE.where(col("__pa")).join(newPost, "h")
      .select(col("__nid"), col("__pid"))
    val cand = d1.unionByName(d2).distinct().localCheckpoint()
    val pHs = priorHsForIds(cand.select(col("__pid").as(idCol)).distinct())
      .select(col(idCol).as("__pid"), col("hs").as("hs_p"))
    cand
      .join(hNew.select(col(idCol).as("__nid"), col("hs").as("hs_n")), "__nid")
      .join(pHs, "__pid")
      .where(size(col("hs_n")) > 0 && size(col("hs_p")) > 0)
      .withColumn("containment", round(
        size(array_intersect(col("hs_n"), col("hs_p"))).cast("double") /
          least(size(col("hs_n")), size(col("hs_p"))).cast("double"), 6))
      .where(col("containment") >= threshold)
      .select(col("__nid").as("id_new"), col("__pid").as("id_prior"),
        col("containment"))
  }

  /** Cluster assignment over the TRANSITIVE CLOSURE of the verified
    * near-dup graph: every doc mapped to the minimum doc id reachable
    * through Jaccard-≥-threshold chains (A≈B≈C lands A and C in one
    * cluster even when they share no band). Connected components run
    * with alternating large-star/small-star ([[ConnectedComponents]],
    * O(log n) rounds); docs with no near-dup map to themselves.
    * Output: (idCol, component). */
  def nearDupComponents(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, maxBucketSize: Int = 0): DataFrame = {
    val pairs = nearDupPairs(df, idCol, textCol, threshold, maxBucketSize)
    val comp = ConnectedComponents.components(pairs, "id_a", "id_b")
      .withColumnRenamed("id", idCol)
    df.select(col(idCol)).join(comp, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("component"))
  }

  /** Component-wise dedup: keep exactly ONE doc (the component-minimum
    * id) per transitive near-dup cluster. Stricter than [[dedup]]'s
    * bucket-local rule on chained duplicates; costs the CC iterations
    * on top of the pair join. */
  def dedupConnected(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, maxBucketSize: Int = 0): DataFrame = {
    val comp = ConnectedComponents.components(
      nearDupPairs(df, idCol, textCol, threshold, maxBucketSize), "id_a", "id_b")
    val drop = comp.where(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Drop from `newBatch` every doc that is a NEAR-duplicate (exact
    * Jaccard ≥ `threshold` on hashed 3-gram shingle sets) of ANY doc in
    * the `prior` corpus — the fuzzy sibling of
    * [[Dedup.dedupAgainstCorpus]] (RefinedWeb/Dolma-style incremental
    * ingestion: today's batch vs yesterday's deduped corpus). CROSS
    * pairs only; intra-batch near-dups are kept (chain [[dedup]]).
    *
    * Scale shape: the prior corpus is scanned (narrow map-only
    * signature passes) but never fully shuffled — its band rows are
    * semi-joined against the BATCH's bucket-key set BEFORE any
    * exchange, and the verification join touches only candidate prior
    * docs, so shuffle volume tracks the true cross near-dup count.
    * With `broadcastKeys` (default) the batch's (band, bucket) key set
    * and candidate prior-id set ship as broadcasts (~a few dozen bytes
    * per batch doc) — right whenever the batch is much smaller than
    * the corpus; pass false for batch sizes past the broadcast budget
    * and the semi-joins become shuffles of the SMALL side instead.
    * `maxBucketSize` caps degenerate prior buckets exactly like
    * [[candidatePairs]]. */
  def dedupAgainstCorpus(
      newBatch: DataFrame, prior: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, broadcastKeys: Boolean = true,
      maxBucketSize: Int = 0, hashedBatch: Option[DataFrame] = None): DataFrame =
    dedupAgainstPrior(newBatch, idCol, textCol, threshold, broadcastKeys,
      maxBucketSize,
      newKeys => priorBands(prior, idCol, textCol)
        .join(newKeys, Seq("band", "k"), "left_semi"),
      hashedBatch)

  /** The prior corpus's (idCol, hs, band, k) band rows as ONE STREAMING
    * pass: band rows carry the shingle set forward, so verification
    * never re-runs the (dominant-cost) md5 shingle pipeline. The prior
    * side is deliberately NOT checkpointed (round-9 fix):
    * withSignature's localCheckpoint would pin the ENTIRE corpus's
    * (id, hs, sig) arrays in executor block storage per call and
    * forfeit recompute-on-executor-loss — the 100 TB posture this path
    * claims. Its checkpoint only ever defused the ×16 element_at
    * unroll; [[bandKeysOf]] builds all band keys from ONE state-carried
    * reference instead, so the kernel costs 2× per row (hs + sig — no
    * subexpression elimination in interpreted projections), streams,
    * and pins nothing. The SAME pipeline is what
    * [[graft.delta.LshIndex]] persists per file — indexed and live
    * rows are bit-identical by construction. */
  private[graft] def priorBands(
      prior: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sigCol = graft.functions.VectorExpressions.minhashSignatures(
      col("hs"), MinhashA, MinhashB, MinhashP)
    hashedShingles(prior, idCol, textCol)
      .select(col(idCol), col("hs"),
        posexplode(bandKeysOf(sigCol)).as(Seq("band", "k")))
  }

  /** Shared cross-dedup core: batch-side signatures + band keys, the
    * prior side supplied as a function of the batch's (band, k) key set
    * (so an INDEXED prior — [[graft.delta.LshIndex.dedupBatch]] — and
    * the direct scan share every line of candidate generation and
    * Jaccard verification; the prior builder must semi-join the key
    * set itself, BEFORE any exchange). `cap` is the bucket cap (≤ 0 =
    * off). */
  private[graft] def dedupAgainstPrior(
      newBatch: DataFrame, idCol: String, textCol: String,
      threshold: Double, broadcastKeys: Boolean, cap: Int,
      priorBandsOf: DataFrame => DataFrame,
      hashedBatch: Option[DataFrame] = None): DataFrame = {
    def hinted(df: DataFrame): DataFrame = if (broadcastKeys) broadcast(df) else df
    // batch-side shingles materialize via localCheckpoint (cache() can
    // be silently missed by join-shaped consumers); batch-sized. The
    // signature materialization happens inside withSignature.
    // `hashedBatch` lets a caller running BOTH the indexed and the
    // direct pipeline over one batch (the equivalence-probe gates)
    // share a single materialized kernel pass — it must be the
    // (idCol, hs) frame of [[hashedShingles]], already checkpointed.
    val hNew = hashedBatch.getOrElse(
      hashedShingles(newBatch, idCol, textCol).localCheckpoint())
    val bNew = bandBuckets(withSignature(hNew), idCol)
    val newKeys = hinted(bNew.select("band", "k").distinct())
    val bPriorAll = priorBandsOf(newKeys)
    val bPrior =
      if (cap <= 0) bPriorAll
      else {
        // the cap needs a second reference to the pruned prior rows —
        // materialize them first (candidate-bucket-sized) so the
        // PRIOR-side shingle pipeline still runs exactly once
        val mat = bPriorAll.localCheckpoint()
        mat.join(
          mat.groupBy("band", "k").agg(count(lit(1)).as("__bsz"))
            .where(col("__bsz") <= cap).select("band", "k"),
          Seq("band", "k"))
      }
    val cand = bNew.as("x").join(bPrior.as("y"),
        col("x.band") === col("y.band") && col("x.k") === col("y.k"))
      .select(col(s"x.$idCol").as("__new_id"), col(s"y.$idCol").as("__prior_id"),
        col("y.hs").as("__hs_p"))
      .dropDuplicates("__new_id", "__prior_id")
    val dupIds = cand
      .join(hNew.select(col(idCol).as("__new_id"), col("hs").as("__hs_n")), "__new_id")
      .where(size(array_intersect(col("__hs_n"), col("__hs_p"))).cast("double") /
        size(array_union(col("__hs_n"), col("__hs_p"))).cast("double") >= threshold)
      .select(col("__new_id").as(idCol)).distinct()
    newBatch.join(dupIds, Seq(idCol), "left_anti")
  }

  /** LSH dedup: a doc survives iff it is the minimum id in every bucket
    * it lands in (single-pass, transitive-closure-free — deterministic
    * and shuffle-bounded; matches q_minhash_dedup). */
  def dedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // withSignature materializes the kernel once; the band explode and
    // the two bucket references below recompute only cheap element_at/
    // concat projections over its checkpoint
    val buckets = bandBuckets(
      withSignature(hashedShingles(df, idCol, textCol)), idCol)
    val mins = buckets.groupBy("band", "k").agg(min(col(idCol)).as("m"))
    val keepIds = buckets.join(mins, Seq("band", "k"))
      .groupBy(col(idCol)).agg(min("m").as("mm"))
      .where(col(idCol) === col("mm"))
      .select(idCol)
    df.join(keepIds, idCol)
  }
}
