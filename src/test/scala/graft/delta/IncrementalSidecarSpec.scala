package graft.delta

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Compaction-aware index remap ([[IncrementalSidecar]]): after a
  * `dataChange = false` rewrite (OPTIMIZE / clustering), a refresh must
  * carry entries to the new file paths WITHOUT re-running the expensive
  * kernels — provable from the sidecar itself, because remapped entries
  * keep their source scan `version` while a kernel scan would stamp the
  * refresh version. */
class IncrementalSidecarSpec extends SparkTestBase {
  import spark.implicits._

  private def text(i: Long) =
    s"document number $i with some shared vocabulary tokens alpha beta " +
      s"gamma delta epsilon zeta eta theta word$i tail${i % 7}"

  private def docsDf(ids: Seq[Long]) =
    ids.map(i => (i, text(i))).toDF("id", "text")

  private def vecsDf(ids: Seq[Long]) =
    ids.map(i => (i, Seq.tabulate(8)(j =>
      ((i * (17 + j) + j * 101) % 1000) / 250.0 - 2.0))).toDF("id", "v")

  test("LSH remap: compaction carries (id, hs, ks, version) verbatim — no re-shingle") {
    val dir = java.nio.file.Files.createTempDirectory("graft_remap_l_")
      .resolve("t").toString
    val log = DeltaLog.forPath(spark, dir)
    TransactionWriter.overwrite(log,
      docsDf(0L until 40L).repartition(4, col("id")))
    LshIndex.build(log, "id", "text")
    def content() = LshIndex.entries(log, "id", "text").get
      .select("id", "hs", "ks", "version")
    val before = content().collect().toSet
    val filesBefore = LshIndex.entries(log, "id", "text").get
      .select("file_path").distinct().count()
    Maintenance.compactSmall(log, targetFileBytes = 1L << 30,
      minSmallFiles = 2)
    val fresh = DeltaLog.forPath(spark, dir)
    assert(fresh.snapshot.planFiles().size < filesBefore,
      "compaction must have folded files")
    LshIndex.refresh(fresh, "id", "text")
    val after = content().collect().toSet
    // version stamps unchanged ⇒ nothing was re-shingled; content
    // byte-identical ⇒ the remap attributed every row correctly
    assert(after == before,
      s"entries must be carried verbatim through compaction; " +
        s"diff=${(after diff before).take(3)} / ${(before diff after).take(3)}")
    val filesAfter = LshIndex.entries(log, "id", "text").get
      .select("file_path").distinct().count()
    assert(filesAfter < filesBefore, "entries must follow the new layout")
    // dedup through the remapped index ≡ direct
    val batch = docsDf(Seq(1000L)).unionByName(
      Seq((2000L, text(7))).toDF("id", "text")) // 2000 dups prior doc 7
    val viaIdx = LshIndex.dedupBatch(fresh, batch, "id", "text", 0.5)
      .select("id").as[Long].collect().sorted.toSeq
    val direct = graft.operators.MinHashLsh.dedupAgainstCorpus(
      batch, fresh.snapshot.read(), "id", "text", 0.5)
      .select("id").as[Long].collect().sorted.toSeq
    assert(viaIdx == direct, s"idx=$viaIdx direct=$direct")
  }

  test("IVF + PQ remap: compaction carries assignments/codes verbatim; search exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_remap_v_")
      .resolve("t").toString
    val log = DeltaLog.forPath(spark, dir)
    TransactionWriter.overwrite(log,
      vecsDf(0L until 60L).repartition(4, col("id")))
    IvfIndex.build(log, "id", "v", k = 4, iterations = 2)
    PqIndex.build(log, "id", "v", kCoarse = 4, m = 2, k = 8)
    def ivfContent() = IvfIndex.entries(log, "id", "v").get
      .where(col("file_path") =!= "__centroids")
      .select("id", "cell", "asim", "vec", "nrm", "version")
    def pqContent() = PqIndex.entries(log, "id", "v").get
      .where(!col("file_path").isin("__coarse", "__books"))
      .select("id", "cell", "codes", "qerr", "version")
    val ivfBefore = ivfContent().collect().toSet
    val pqBefore = pqContent().collect().toSet
    Maintenance.compactSmall(log, targetFileBytes = 1L << 30,
      minSmallFiles = 2)
    val fresh = DeltaLog.forPath(spark, dir)
    IvfIndex.refresh(fresh, "id", "v")
    PqIndex.refresh(fresh, "id", "v")
    assert(ivfContent().collect().toSet == ivfBefore,
      "IVF entries must be carried verbatim (incl. version) through compaction")
    assert(pqContent().collect().toSet == pqBefore,
      "PQ entries must be carried verbatim (incl. version) through compaction")
    // search through the remapped index ≡ the direct operator
    val queries = vecsDf(Seq(3L, 17L, 42L))
    val viaIdx = IvfIndex.search(fresh, queries, "id", "v", k = 3)
      .orderBy("query_id", "rnk").collect().toSeq
    val cs = IvfIndex.centroids(fresh, "id", "v").get
    val direct = graft.operators.Similarity.ivfTopK(
      fresh.snapshot.read(), queries, cs, "id", "v", k = 3, nprobe = 2)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(viaIdx == direct, s"idx=${viaIdx.take(3)} direct=${direct.take(3)}")
  }

  test("Bloom remap: compaction merges source filters — no false negatives, no rescan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_remap_b_")
      .resolve("t").toString
    val log = DeltaLog.forPath(spark, dir)
    TransactionWriter.overwrite(log,
      (0L until 400L).map(i => (i, s"v$i")).toDF("k", "s")
        .repartition(4, col("k")))
    BloomIndex.build(log, "k")
    val versionsBefore = BloomIndex.entries(log, "k").get
      .select("version").distinct().as[Long].collect().toSet
    Maintenance.compactSmall(log, targetFileBytes = 1L << 30,
      minSmallFiles = 2)
    val fresh = DeltaLog.forPath(spark, dir)
    BloomIndex.buildIncremental(fresh, "k")
    val entries = BloomIndex.entries(fresh, "k").get
    // every active file has an entry (remap covered the compacted file)
    assert(entries.select("file_path").distinct().count() ==
      fresh.snapshot.planFiles().size)
    // and the remap really happened: the merged entry keeps the MAX of
    // its sources' scan versions — a rescan would stamp the refresh
    // snapshot version (this is what caught the remap silently dead)
    val versionsAfter = entries
      .select("version").distinct().as[Long].collect().toSet
    assert(versionsAfter == versionsBefore,
      s"bloom remap must not rescan: versions $versionsBefore -> $versionsAfter")
    // no false negative: every key still resolves to a candidate file
    Seq(0L, 123L, 399L).foreach { k =>
      val (cand, _) = BloomIndex.candidateFiles(fresh, "k", Seq(k))
      assert(cand.nonEmpty, s"key $k lost by the merged filter")
      val rows = fresh.snapshot.readFiles(cand)
        .where(col("k") === k).count()
      assert(rows == 1L, s"key $k not found through pruned scan")
    }
    // n_rows of the merged entry equals the compacted file's numRecords
    val total = entries.agg(sum("n_rows")).head.getLong(0)
    assert(total == 400L, s"n_rows must follow the add stats, got $total")
  }

  test("single-add compaction carries even duplicate ids exactly (total membership)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_remap_s_")
      .resolve("t").toString
    val log = DeltaLog.forPath(spark, dir)
    // id 7 appears TWICE with DIFFERENT text: a single-output
    // compaction is still exact — BOTH source entries ride to the one
    // new file, no per-id attribution needed
    val a = docsDf(0L until 10L)
    val b = Seq((7L, "entirely different text for the duplicated id row"))
      .toDF("id", "text")
    TransactionWriter.overwrite(log, a.repartition(2, col("id")))
    TransactionWriter.append(log, b)
    LshIndex.build(log, "id", "text")
    val before = LshIndex.entries(log, "id", "text").get
      .select("id", "hs", "ks", "version").collect().toSet
    Maintenance.compactSmall(log, targetFileBytes = 1L << 30,
      minSmallFiles = 2)
    val fresh = DeltaLog.forPath(spark, dir)
    assert(fresh.snapshot.planFiles().size == 1)
    LshIndex.refresh(fresh, "id", "text")
    val after = LshIndex.entries(fresh, "id", "text").get
      .select("id", "hs", "ks", "version").collect().toSet
    assert(after == before,
      "single-add remap must carry both duplicate-id entries verbatim")
  }

  test("multi-add rewrite with a DV'd sibling: the lone coverable output must attribute by id") {
    val dir = java.nio.file.Files.createTempDirectory("graft_remap_d_")
      .resolve("t").toString
    val log = DeltaLog.forPath(spark, dir)
    TransactionWriter.overwrite(log,
      docsDf(0L until 40L).repartition(2, col("id")))
    LshIndex.build(log, "id", "text")
    // multi-output dataChange=false rewrite, id-sorted bins
    Maintenance.zorder(log, Seq("id"), targetFileBytes = 2048)
    val mid = DeltaLog.forPath(spark, dir)
    require(mid.snapshot.planFiles().size >= 2, "need a multi-add rewrite")
    // DV one output (low-id bin) — it leaves the coverable set, so the
    // commit's OTHER output is the only missing file. A remap keyed on
    // "one missing file" (instead of "one committed add") would pin
    // EVERY source row to it, resurrecting the DV'd sibling's rows.
    Mutations.deleteWithDv(mid, col("id") < 5L)
    val fresh = DeltaLog.forPath(spark, dir)
    val dvFree = fresh.snapshot.planFiles()
      .filterNot(_.deletionVector.exists(_.cardinality > 0))
    require(dvFree.size < fresh.snapshot.planFiles().size,
      "the delete must have DV'd at least one rewritten file")
    LshIndex.refresh(fresh, "id", "text")
    val entries = LshIndex.entries(fresh, "id", "text").get
    // coverage = exactly the DV-free files, and each covered file's
    // entry ids are exactly ITS rows (no sibling leakage)
    val coveredRows = entries.select("id").as[Long].collect().sorted.toSeq
    val expectRows = fresh.snapshot.readFiles(dvFree)
      .select("id").as[Long].collect().sorted.toSeq
    assert(coveredRows == expectRows,
      s"entries must mirror the coverable files' rows exactly: " +
        s"got ${coveredRows.size}, want ${expectRows.size}")
    // and the probe stays correct end-to-end (DV'd file computed live)
    val batch = Seq((1000L, text(7)), (2000L, text(2)))
      .toDF("id", "text") // dups of a covered row (7) and a DV'd row (2)
    val viaIdx = LshIndex.dedupBatch(fresh, batch, "id", "text", 0.5)
      .select("id").as[Long].collect().sorted.toSeq
    val direct = graft.operators.MinHashLsh.dedupAgainstCorpus(
      batch, fresh.snapshot.read(), "id", "text", 0.5)
      .select("id").as[Long].collect().sorted.toSeq
    assert(viaIdx == direct, s"idx=$viaIdx direct=$direct")
  }

  test("DV'd removed source (LSH): DELETE→PURGE→refresh must not resurrect deleted rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_remap_dvsrc_")
      .resolve("t").toString
    val log = DeltaLog.forPath(spark, dir)
    // per-doc UNIQUE vocabulary: cross-doc similarity ≈ 0, so only a
    // true duplicate trips the 0.5 threshold — the assertion below
    // depends on "dup of doc 7" matching doc 7 and nothing else
    def dtext(i: Long): String =
      s"doc $i " + (0 until 12).map(j => s"tok${i}_$j").mkString(" ")
    def ddocs(ids: Seq[Long]) = ids.map(i => (i, dtext(i))).toDF("id", "text")
    TransactionWriter.overwrite(log,
      ddocs(0L until 40L).repartition(2, col("id")))
    LshIndex.build(log, "id", "text")
    // DV-delete doc 7, then purge the DV — a dataChange=false rewrite
    // whose REMOVED source carries a live DV. No refresh in between:
    // the sidecar still stores entries for the deleted row.
    Mutations.deleteWithDv(DeltaLog.forPath(spark, dir), col("id") === 7L)
    Maintenance.purgeDeletionVectors(DeltaLog.forPath(spark, dir))
    val fresh = DeltaLog.forPath(spark, dir)
    LshIndex.refresh(fresh, "id", "text")
    val entries = LshIndex.entries(fresh, "id", "text").get
    // no ghost: the deleted id must have ZERO entries
    assert(entries.where(col("id") === 7L).count() == 0L,
      "purge remap resurrected a DV-deleted row in the index")
    // and entry ids mirror the live table exactly
    val idxIds = entries.select("id").as[Long].collect().sorted.toSeq
    val liveIds = fresh.snapshot.read()
      .select("id").as[Long].collect().sorted.toSeq
    assert(idxIds == liveIds, s"idx=${idxIds.size} live=${liveIds.size}")
    // indexed dedup ≡ direct: a NEW doc duplicating the DELETED doc
    // must survive (2000), while a dup of a live doc (3) is dropped
    val batch = Seq((1000L, dtext(50)), (2000L, dtext(7)),
      (3000L, dtext(3))).toDF("id", "text")
    val viaIdx = LshIndex.dedupBatch(fresh, batch, "id", "text", 0.5)
      .select("id").as[Long].collect().sorted.toSeq
    val direct = graft.operators.MinHashLsh.dedupAgainstCorpus(
      batch, fresh.snapshot.read(), "id", "text", 0.5)
      .select("id").as[Long].collect().sorted.toSeq
    assert(viaIdx == direct && viaIdx == Seq(1000L, 2000L),
      s"idx=$viaIdx direct=$direct — want [1000, 2000]: the fresh doc " +
        "and the dup-of-DELETED doc survive; the dup-of-live doc drops")
  }

  test("DV'd removed source (IVF + PQ): purged vectors must not resurface as neighbors") {
    val dir = java.nio.file.Files.createTempDirectory("graft_remap_dvvec_")
      .resolve("t").toString
    val log = DeltaLog.forPath(spark, dir)
    TransactionWriter.overwrite(log,
      vecsDf(0L until 60L).repartition(2, col("id")))
    IvfIndex.build(log, "id", "v", k = 4, iterations = 2)
    PqIndex.build(log, "id", "v", kCoarse = 4, m = 2, k = 8)
    Mutations.deleteWithDv(DeltaLog.forPath(spark, dir), col("id") === 17L)
    Maintenance.purgeDeletionVectors(DeltaLog.forPath(spark, dir))
    val fresh = DeltaLog.forPath(spark, dir)
    IvfIndex.refresh(fresh, "id", "v")
    PqIndex.refresh(fresh, "id", "v")
    val ivfEntries = IvfIndex.entries(fresh, "id", "v").get
      .where(col("file_path") =!= "__centroids")
    val pqEntries = PqIndex.entries(fresh, "id", "v").get
      .where(!col("file_path").isin("__coarse", "__books"))
    assert(ivfEntries.where(col("id") === 17L).count() == 0L,
      "IVF sidecar kept a ghost entry for the purged vector")
    assert(pqEntries.where(col("id") === 17L).count() == 0L,
      "PQ sidecar kept a ghost entry for the purged vector")
    // a query AT the deleted vector must not get it back as a neighbor
    val queries = vecsDf(Seq(17L)).withColumn("id", lit(9917L))
    val hits = IvfIndex.search(fresh, queries, "id", "v", k = 5)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!hits.contains(17L), s"deleted vector returned as neighbor: $hits")
    // and indexed search ≡ the direct operator over the live table
    // (ivfTopK is a self-search — its queries must be in-corpus ids, so
    // compare on a live id; id 16 sits nearest the deleted 17)
    val inCorpus = vecsDf(Seq(16L))
    val cs = IvfIndex.centroids(fresh, "id", "v").get
    val direct = graft.operators.Similarity.ivfTopK(
      fresh.snapshot.read(), inCorpus, cs, "id", "v", k = 5, nprobe = 2)
      .orderBy("query_id", "rnk").collect().toSeq
    val viaIdx = IvfIndex.search(fresh, inCorpus, "id", "v", k = 5)
      .where(col("query_id") =!= col("neighbor_id"))
      .orderBy("query_id", "rnk").collect().toSeq
    assert(viaIdx == direct, s"idx=${viaIdx.take(3)} direct=${direct.take(3)}")
    assert(!direct.exists(_.getLong(1) == 17L) &&
      !viaIdx.exists(_.getLong(1) == 17L),
      "deleted vector must not appear as a neighbor on either path")
  }

  test("coverage summary is observed during the write: 3-field lines, counts == numRecords") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cov_obs_")
      .resolve("t").toString
    val log = DeltaLog.forPath(spark, dir)
    TransactionWriter.overwrite(log,
      docsDf(0L until 30L).repartition(3, col("id")))
    LshIndex.build(log, "id", "text")
    val idxDir = LshIndex.indexDir(log, "id", "text")
    val full = Sidecar.readCoverageFull(spark, idxDir).get
    assert(full.nonEmpty && full.valuesIterator.forall(_._2 >= 0),
      s"every line must carry an observed count: $full")
    // counts must equal both the entry relation and the adds' stats
    val perFile = LshIndex.entries(log, "id", "text").get
      .groupBy("file_path").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(full.map { case (p, (_, n)) => p -> n } == perFile)
    val snap = log.snapshot
    val byNorm = snap.planFiles().flatMap(f =>
      snap.pathCandidates(f).map(c => Mutations.normalize(c) -> f)).toMap
    full.foreach { case (p, (_, n)) =>
      val f = byNorm(Mutations.normalize(p))
      assert(IncrementalSidecar.numRecordsOf(f).contains(n),
        s"count $n must equal the add's numRecords for $p")
    }
  }

  test("entry-count invariant: a corrupted count is flagged, never served, and heals on refresh") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cov_inv_")
      .resolve("t").toString
    val log = DeltaLog.forPath(spark, dir)
    def dtext(i: Long): String =
      s"doc $i " + (0 until 12).map(j => s"tok${i}_$j").mkString(" ")
    TransactionWriter.overwrite(log,
      (0L until 30L).map(i => (i, dtext(i))).toDF("id", "text")
        .repartition(3, col("id")))
    LshIndex.build(log, "id", "text")
    val idxDir = LshIndex.indexDir(log, "id", "text")
    // hand-corrupt ONE path's count in the live generation's summary
    val base = new org.apache.hadoop.fs.Path(idxDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = {
      val in = fs.open(new org.apache.hadoop.fs.Path(base, "_current"))
      try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
    }
    val covPath = new org.apache.hadoop.fs.Path(base, s"$gen/_coverage")
    val lines = {
      val in = fs.open(covPath)
      try scala.io.Source.fromInputStream(in).mkString.split("\n").toSeq
      finally in.close()
    }
    val corrupted = lines.zipWithIndex.map {
      case (l, 0) =>
        val parts = l.split("\t"); s"${parts(0)}\t${parts(1)}\t${parts(2).toLong + 3}"
      case (l, _) => l
    }
    val out = fs.create(covPath, true)
    try out.write(corrupted.mkString("\n").getBytes("UTF-8")) finally out.close()
    Sidecar.invalidateCoverage(spark, idxDir)
    val badPath = lines.head.split("\t")(0)
    // SHOW INDEXES flags exactly one invalid file
    val inv = Indexes.describe(log).collect { case ("lsh", _, _, _, _, i) => i }
    assert(inv == Seq(1L), s"SHOW INDEXES must flag the corrupted file: $inv")
    // the probe never serves the corrupted slice: indexed dedup still
    // equals the direct operator (the flagged file is computed live)
    val batch = Seq((1000L, dtext(5)), (2000L, dtext(999)))
      .toDF("id", "text")
    val viaIdx = LshIndex.dedupBatch(log, batch, "id", "text", 0.5)
      .select("id").as[Long].collect().sorted.toSeq
    val direct = graft.operators.MinHashLsh.dedupAgainstCorpus(
      batch, log.snapshot.read(), "id", "text", 0.5)
      .select("id").as[Long].collect().sorted.toSeq
    assert(viaIdx == direct && viaIdx == Seq(2000L),
      s"idx=$viaIdx direct=$direct — dup of doc 5 must still drop")
    // refresh rescans the demoted file and heals the inventory
    LshIndex.refresh(log, "id", "text")
    val healed = Indexes.describe(log).collect { case ("lsh", _, c, a, s0, i) => (c, a, s0, i) }
    assert(healed == Seq((3L, 3L, 0L, 0L)),
      s"refresh must rescan the flagged file back to full coverage: $healed")
    val reFull = Sidecar.readCoverageFull(spark, idxDir).get
    assert(reFull.get(badPath).exists(_._2 == lines.head.split("\t")(2).toLong),
      "the healed summary must carry the true count again")
  }

  /** A row-keyed kind under the legacy-summary test: its table rows,
    * and its build and refresh over columns `cols`. */
  private case class LegacyCase(label: String, kind: IncrementalSidecar.Kind,
      cols: Seq[String], rows: Seq[Long] => org.apache.spark.sql.DataFrame,
      build: DeltaLog => Long, refresh: DeltaLog => Long)

  private def dtext(i: Long): String =
    s"doc $i " + (0 until 12).map(j => s"tok${i}_$j").mkString(" ")

  Seq(
    LegacyCase("", LshIndex.kind, Seq("id", "text"),
      ids => ids.map(i => (i, dtext(i))).toDF("id", "text"),
      LshIndex.build(_, "id", "text"), LshIndex.refresh(_, "id", "text")),
    LegacyCase(" (IVF)", IvfIndex.kind, Seq("id", "v"), vecsDf,
      IvfIndex.build(_, "id", "v", k = 4, iterations = 2),
      IvfIndex.refresh(_, "id", "v")),
    LegacyCase(" (IVF-PQ)", PqIndex.kind, Seq("id", "v"), vecsDf,
      PqIndex.build(_, "id", "v", kCoarse = 4, m = 2, k = 8),
      PqIndex.refresh(_, "id", "v"))
  ).foreach { c =>
    test("legacy 2-field coverage: idle refresh republishes once, arming " +
        s"the invariant${c.label}") {
      val dir = java.nio.file.Files.createTempDirectory("graft_cov_legacy_")
        .resolve("t").toString
      val log = DeltaLog.forPath(spark, dir)
      TransactionWriter.overwrite(log,
        c.rows(0L until 30L).repartition(3, col("id")))
      c.build(log)
      val idxDir = c.kind.indexDir(log, c.cols)
      val base = new org.apache.hadoop.fs.Path(idxDir)
      val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def gen(): String = {
        val in = fs.open(new org.apache.hadoop.fs.Path(base, "_current"))
        try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
      }
      def entries() = c.kind.entries(log, c.cols).get
        .collect().map(_.toString).sorted.toSeq
      val entriesBefore = entries()
      // rewrite the live generation's summary as a pre-r12 2-field file
      val g0 = gen()
      val covPath = new org.apache.hadoop.fs.Path(base, s"$g0/_coverage")
      val legacy = {
        val in = fs.open(covPath)
        try scala.io.Source.fromInputStream(in).mkString.split("\n").toSeq
          .map(l => l.split("\t").take(2).mkString("\t"))
        finally in.close()
      }
      val out = fs.create(covPath, true)
      try out.write(legacy.mkString("\n").getBytes("UTF-8")) finally out.close()
      Sidecar.invalidateCoverage(spark, idxDir)
      // counts unknown: the invariant is dormant
      val full0 = Sidecar.readCoverageFull(spark, idxDir).get
      assert(full0.valuesIterator.forall(_._2 == -1L), s"legacy counts: $full0")
      // idle refresh (no table change): must republish the SAME entries
      // under a NEW generation whose summary carries counts
      c.refresh(log)
      val g1 = gen()
      assert(g1 != g0, "legacy generation must be republished")
      val full1 = Sidecar.readCoverageFull(spark, idxDir).get
      assert(full1.nonEmpty && full1.valuesIterator.forall(_._2 >= 0),
        s"republished summary must carry counts: $full1")
      val entriesAfter = entries()
      assert(entriesAfter == entriesBefore,
        "republish must carry entries byte-verbatim (no rescan)")
      // a second idle refresh is a pure no-op: pointer does not move
      c.refresh(log)
      assert(gen() == g1, "second idle refresh must not republish again")
    }
  }

  test("transitive chain: OPTIMIZE then re-cluster with no refresh between still remaps") {
    val dir = java.nio.file.Files.createTempDirectory("graft_remap_chain_")
      .resolve("t").toString
    val log = DeltaLog.forPath(spark, dir)
    TransactionWriter.overwrite(log,
      docsDf(0L until 40L).repartition(4, col("id")))
    LshIndex.build(log, "id", "text")
    val before = LshIndex.entries(log, "id", "text").get
      .select("id", "hs", "ks", "version").collect().toSet
    // rewrite TWICE between refreshes: OPTIMIZE folds to one file,
    // then a re-cluster rewrites that output again — the second
    // commit's removed file has no stored entries, so only the
    // transitive walk (v5's output → original stored sources) keeps
    // this a remap instead of a full kernel rescan
    Maintenance.compactSmall(log, targetFileBytes = 1L << 30,
      minSmallFiles = 2)
    Maintenance.zorder(DeltaLog.forPath(spark, dir), Seq("id"),
      targetFileBytes = 4096)
    val fresh = DeltaLog.forPath(spark, dir)
    LshIndex.refresh(fresh, "id", "text")
    val after = LshIndex.entries(fresh, "id", "text").get
      .select("id", "hs", "ks", "version").collect().toSet
    // version stamps unchanged ⇒ NO kernel rescan anywhere in the chain
    assert(after == before,
      s"chained remap must carry entries verbatim; " +
        s"diff=${(after diff before).take(3)} / ${(before diff after).take(3)}")
    // and the index still serves correctly on the re-clustered layout
    val batch = docsDf(Seq(1000L)).unionByName(
      Seq((2000L, text(7))).toDF("id", "text"))
    val viaIdx = LshIndex.dedupBatch(fresh, batch, "id", "text", 0.5)
      .select("id").as[Long].collect().sorted.toSeq
    val direct = graft.operators.MinHashLsh.dedupAgainstCorpus(
      batch, fresh.snapshot.read(), "id", "text", 0.5)
      .select("id").as[Long].collect().sorted.toSeq
    assert(viaIdx == direct, s"idx=$viaIdx direct=$direct")
  }

  test("IVF duplicate ids: collapsed counts stay valid and refresh converges to a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cov_dup_")
      .resolve("t").toString
    val log = DeltaLog.forPath(spark, dir)
    // id 5 appears TWICE (identical vector): IVF assignment groups by
    // (file, id), so the file stores ONE entry fewer than numRecords —
    // a strict count invariant would flag it forever and every refresh
    // would rescan + republish without converging
    val base = vecsDf(0L until 20L)
    TransactionWriter.overwrite(log,
      base.unionByName(vecsDf(Seq(5L))).coalesce(1))
    IvfIndex.build(log, "id", "v", k = 4, iterations = 2)
    def pointer(): String = {
      val p = new org.apache.hadoop.fs.Path(
        IvfIndex.indexDir(log, "id", "v"), "_current")
      val in = log.fs.open(p)
      try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
    }
    val genBefore = pointer()
    IvfIndex.refresh(DeltaLog.forPath(spark, dir), "id", "v")
    assert(pointer() == genBefore,
      "refresh of a current index over a duplicate-id corpus must be a no-op")
    val inv = Indexes.describe(log).collect { case ("ivf", _, c, a, s0, i) => (c, a, s0, i) }
    assert(inv == Seq((1L, 1L, 0L, 0L)),
      s"collapsed counts must not read as invalid: $inv")
  }

  test("IVF duplicate ids: remap through compaction keeps the collapsed granularity") {
    val dir = java.nio.file.Files.createTempDirectory("graft_remap_dupiv_")
      .resolve("t").toString
    val log = DeltaLog.forPath(spark, dir)
    // id 5 twice (identical vector) across two files: the kernel
    // collapses per (file, id); a remap that re-expanded per row would
    // diverge from a fresh scan and duplicate search candidates
    TransactionWriter.overwrite(log,
      vecsDf(0L until 20L).repartition(2, col("id")))
    TransactionWriter.append(log, vecsDf(Seq(5L)).coalesce(1))
    IvfIndex.build(log, "id", "v", k = 4, iterations = 2)
    val before = IvfIndex.entries(log, "id", "v").get
      .where(col("file_path") =!= "__centroids")
      .select("id", "cell", "vec", "version").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    Maintenance.compactSmall(log, targetFileBytes = 1L << 30,
      minSmallFiles = 2)
    val fresh = DeltaLog.forPath(spark, dir)
    IvfIndex.refresh(fresh, "id", "v")
    val after = IvfIndex.entries(fresh, "id", "v").get
      .where(col("file_path") =!= "__centroids")
      .select("id", "cell", "vec", "version").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    // one compacted file now holds id 5's two source rows → ONE entry
    assert(after(5L) == 1,
      s"remap must collapse duplicate ids like the kernel: ${after(5L)}")
    assert(after.filterNot(_._1 == 5L) == before.filterNot(_._1 == 5L))
  }

  test("refresh after RESTORE converges to exactly the active set") {
    val dir = java.nio.file.Files.createTempDirectory("graft_remap_rst_")
      .resolve("t").toString
    val log = DeltaLog.forPath(spark, dir)
    def dtext(i: Long): String =
      s"doc $i " + (0 until 12).map(j => s"tok${i}_$j").mkString(" ")
    TransactionWriter.overwrite(log,
      (0L until 30L).map(i => (i, dtext(i))).toDF("id", "text")
        .repartition(3, col("id")))                                    // v0
    LshIndex.build(log, "id", "text")
    // delete a slice (rewrites its files), refresh — the index now
    // reflects the post-delete state; entries of the dropped rows gone
    Mutations.delete(DeltaLog.forPath(spark, dir), col("id") < 10L)    // v1
    val mid = DeltaLog.forPath(spark, dir)
    LshIndex.refresh(mid, "id", "text")
    assert(LshIndex.entries(mid, "id", "text").get
      .where(col("id") < 10L).count() == 0L)
    // RESTORE to v0 re-activates the original files (dataChange=true —
    // a restore is a data change, so remap NEVER attributes across it;
    // the re-activated files are plain uncovered files to rescan)
    Maintenance.restore(DeltaLog.forPath(spark, dir), 0L)
    val fresh = DeltaLog.forPath(spark, dir)
    LshIndex.refresh(fresh, "id", "text")
    val idxIds = LshIndex.entries(fresh, "id", "text").get
      .select("id").as[Long].collect().sorted.toSeq
    val liveIds = fresh.snapshot.read()
      .select("id").as[Long].collect().sorted.toSeq
    assert(idxIds == liveIds && idxIds.size == 30,
      s"post-RESTORE refresh must mirror the active set: idx=${idxIds.size}")
    // and the probe serves the restored corpus correctly
    val batch = Seq((1000L, dtext(5)), (2000L, dtext(999)))
      .toDF("id", "text")
    val viaIdx = LshIndex.dedupBatch(fresh, batch, "id", "text", 0.5)
      .select("id").as[Long].collect().sorted.toSeq
    val direct = graft.operators.MinHashLsh.dedupAgainstCorpus(
      batch, fresh.snapshot.read(), "id", "text", 0.5)
      .select("id").as[Long].collect().sorted.toSeq
    assert(viaIdx == direct && viaIdx == Seq(2000L),
      s"idx=$viaIdx direct=$direct — restored doc 5 must catch its dup again")
  }

  test("multi-add rewrite: clean ids remap via the narrow id read; ambiguous ids fall back") {
    val dir = java.nio.file.Files.createTempDirectory("graft_remap_a_")
      .resolve("t").toString
    val log = DeltaLog.forPath(spark, dir)
    // id 7 appears TWICE with DIFFERENT text (two files): after a
    // MULTI-output rewrite, id-keyed attribution for it is ambiguous —
    // files containing it must be re-scanned, not guessed
    val a = docsDf(0L until 40L)
    val b = Seq((7L, "entirely different text for the duplicated id row"))
      .toDF("id", "text")
    TransactionWriter.overwrite(log, a.repartition(2, col("id")))
    TransactionWriter.append(log, b)
    LshIndex.build(log, "id", "text")
    val buildVersion = log.snapshot.version
    // tiny target → one dataChange=false commit with SEVERAL adds
    Maintenance.zorder(log, Seq("id"), targetFileBytes = 2048)
    val fresh = DeltaLog.forPath(spark, dir)
    assert(fresh.snapshot.planFiles().size >= 2,
      s"need a multi-add rewrite, got ${fresh.snapshot.planFiles().size} file(s)")
    LshIndex.refresh(fresh, "id", "text")
    val after = LshIndex.entries(fresh, "id", "text").get
      .select("id", "hs", "ks", "version").localCheckpoint()
    // the file(s) holding the ambiguous id were re-scanned (fresh
    // version stamp); clean files were remapped (old stamp kept)
    val vmax = after.agg(max("version")).head.getLong(0)
    val vmin = after.agg(min("version")).head.getLong(0)
    assert(vmax > buildVersion,
      "ambiguous remap must fall back to a kernel scan (new version stamp)")
    assert(vmin <= buildVersion,
      "clean files must remap with their source version kept")
    // and the content matches a from-scratch build exactly
    val content = after.select("id", "hs", "ks").collect().toSet
    LshIndex.build(fresh, "id", "text")
    val rebuilt = LshIndex.entries(fresh, "id", "text").get
      .select("id", "hs", "ks").collect().toSet
    assert(content == rebuilt, "remap + fallback must equal a fresh build")
  }
}
