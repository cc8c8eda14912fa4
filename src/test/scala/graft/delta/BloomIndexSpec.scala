package graft.delta

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class BloomIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def scratch(): (DeltaLog, String) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bloomidx_")
      .resolve("t").toString
    val log = DeltaLog.forPath(spark, dir)
    // 200 high-cardinality keys scattered over 8 files: every file's
    // [min, max] interval covers nearly the whole key space, so stats
    // skipping cannot prune a point probe — the Bloom index must
    val rows = (0L until 200L).map(i => (i, s"key_${i * 7919 % 200}"))
      .toDF("id", "k")
      .repartition(8, col("id"))
    TransactionWriter.overwrite(log, rows)
    (log, dir)
  }

  test("point lookup matches the full-scan filter and prunes files") {
    val (log, _) = scratch()
    BloomIndex.build(log, "k")
    val expected = log.snapshot.read().where($"k" === "key_42")
      .collect().map(_.getLong(0)).sorted
    val (files, pruned) = BloomIndex.candidateFiles(log, "k", Seq("key_42"))
    assert(pruned > 0, "index pruned nothing on a needle probe")
    assert(files.size + pruned == log.snapshot.planFiles().size)
    val got = BloomIndex.readIn(log, "k", Seq("key_42"))
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == expected.toSeq, s"pruned read lost/added rows")
  }

  test("absent value returns empty; multi-value probe unions candidates") {
    val (log, _) = scratch()
    BloomIndex.build(log, "k")
    assert(BloomIndex.readIn(log, "k", Seq("no_such_key")).isEmpty)
    val got = BloomIndex.readIn(log, "k", Seq("key_1", "key_2"))
      .select("k").distinct().as[String].collect().sorted
    assert(got.toSeq == Seq("key_1", "key_2"))
  }

  test("files appended after the build are conservatively scanned") {
    val (log, _) = scratch()
    BloomIndex.build(log, "k")
    TransactionWriter.append(log,
      Seq((9999L, "only_in_new_file")).toDF("id", "k"))
    val freshLog = DeltaLog.forPath(spark, log.tablePath)
    val got = BloomIndex.readIn(freshLog, "k", Seq("only_in_new_file"))
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(9999L),
      "a stale index must never hide rows in uncovered files")
  }

  test("incremental refresh scans ONLY uncovered files; old entries verbatim") {
    val (log, dir) = scratch()
    BloomIndex.build(log, "k")
    val before = BloomIndex.entries(log, "k").get
      .select("file_path", "version")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    TransactionWriter.append(log,
      Seq((9999L, "only_in_new_file"), (10000L, "key_42"))
        .toDF("id", "k").repartition(2, col("id")))
    val freshLog = DeltaLog.forPath(spark, log.tablePath)
    val v = BloomIndex.buildIncremental(freshLog, "k")
    assert(v == freshLog.snapshot.version)
    val after = BloomIndex.entries(log, "k").get
      .select("file_path", "version")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // every pre-existing entry survives with its ORIGINAL build version
    // (the observable that proves covered files were not rescanned)
    before.foreach { case (p, ver) =>
      assert(after.get(p).contains(ver), s"entry $p was rebuilt or lost") }
    // and the appended files are now covered with the new version
    val newEntries = after.filterNot { case (p, _) => before.contains(p) }
    assert(newEntries.nonEmpty && newEntries.values.forall(_ > before.values.max))
    // the refreshed index still answers correctly AND now prunes for
    // keys that only live in the new files
    val got = BloomIndex.readIn(freshLog, "k", Seq("only_in_new_file"))
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(9999L))
    val (_, pruned) = BloomIndex.candidateFiles(freshLog, "k", Seq("only_in_new_file"))
    assert(pruned > 0, "refreshed index must prune for new-file-only keys")
  }

  test("incremental refresh drops entries for files that left the active set") {
    val (log, dir) = scratch()
    BloomIndex.build(log, "k")
    // OPTIMIZE rewrites every file → all old sidecar entries are dead
    Maintenance.compact(log)
    val freshLog = DeltaLog.forPath(spark, log.tablePath)
    BloomIndex.buildIncremental(freshLog, "k")
    val sidecarPaths = BloomIndex.entries(log, "k").get
      .select("file_path").collect().map(r => Mutations.normalize(r.getString(0))).toSet
    val activeNorm = freshLog.snapshot.planFiles()
      .flatMap(f => freshLog.snapshot.pathCandidates(f).map(Mutations.normalize)).toSet
    assert(sidecarPaths.subsetOf(activeNorm), "dead entries must be dropped")
    assert(sidecarPaths.nonEmpty)
    // content still correct through the rebuilt coverage
    val got = BloomIndex.readIn(freshLog, "k", Seq("key_42"))
      .select("k").distinct().as[String].collect()
    assert(got.toSeq == Seq("key_42"))
  }

  test("incremental refresh without a prior index falls back to a full build") {
    val (log, dir) = scratch()
    val v = graft.plans.GraftSqlParser.run(spark,
      s"GRAFT REFRESH BLOOM INDEX ON '$dir' (k)").collect()(0).getLong(0)
    assert(v == log.snapshot.version)
    val (_, pruned) = BloomIndex.candidateFiles(log, "k", Seq("key_42"))
    assert(pruned > 0)
  }

  test("GRAFT SQL surface: CREATE/DROP BLOOM INDEX round-trip") {
    val (log, dir) = scratch()
    val v = graft.plans.GraftSqlParser.run(spark,
      s"GRAFT CREATE BLOOM INDEX ON '$dir' (k)").collect()(0).getLong(0)
    assert(v == log.snapshot.version)
    val (_, pruned) = BloomIndex.candidateFiles(log, "k", Seq("key_42"))
    assert(pruned > 0)
    val dropped = graft.plans.GraftSqlParser.run(spark,
      s"GRAFT DROP BLOOM INDEX ON '$dir' (k)").collect()(0).getLong(0)
    assert(dropped == 1L)
    val (files2, pruned2) = BloomIndex.candidateFiles(log, "k", Seq("key_42"))
    assert(pruned2 == 0 && files2.size == log.snapshot.planFiles().size)
  }

  test("RESTORE resurfacing DV-deleted rows never loses a lookup") {
    // the filter describes the PHYSICAL file: a row masked by a DV
    // after (or before) the build is still in the filter, so a RESTORE
    // that re-adds the file without its DV costs nothing but false
    // positives — probe X must be found again
    val (log, dir) = scratch()
    Mutations.deleteWithDv(log, $"k" === "key_42")                 // v1
    BloomIndex.build(log, "k") // built while key_42 is DV-masked
    val masked = DeltaLog.forPath(spark, dir)
    assert(BloomIndex.readIn(masked, "k", Seq("key_42")).isEmpty,
      "DV-masked rows must not surface before the restore")
    Maintenance.restore(masked, 0L)                                // v2
    val restored = DeltaLog.forPath(spark, dir)
    val got = BloomIndex.readIn(restored, "k", Seq("key_42"))
      .collect().map(_.getLong(0)).sorted
    val want = restored.snapshot.read().where($"k" === "key_42")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == want.toSeq && got.nonEmpty,
      "restored rows must be findable through the index")
  }

  test("probe values cast to the column type before hashing") {
    // int column probed with a Long: the hash must go through the
    // column's own width or every containing file is wrongly pruned
    val dir = java.nio.file.Files.createTempDirectory("graft_bloomint_")
      .resolve("t").toString
    val log = DeltaLog.forPath(spark, dir)
    TransactionWriter.overwrite(log,
      (0 until 100).map(i => (i, i * 3)).toDF("id", "num")
        .repartition(4, org.apache.spark.sql.functions.col("id")))
    BloomIndex.build(log, "num")
    val got = BloomIndex.readIn(DeltaLog.forPath(spark, dir), "num",
      Seq(42L)).collect()
    assert(got.length == 1 && got(0).getInt(0) == 14, s"got ${got.toSeq}")
  }

  test("large probe sets route through the local-relation hasher, same result") {
    // > 256 values switches from the lit-projection path to the
    // one-row-per-value DataFrame path; both must hash identically
    // (an earlier form built a |values|-wide projection that would
    // blow codegen limits at semiJoinRead's 100k cap)
    val dir = java.nio.file.Files.createTempDirectory("graft_bloombig_")
      .resolve("t").toString
    val log = DeltaLog.forPath(spark, dir)
    TransactionWriter.overwrite(log,
      (0L until 2000L).map(i => (i, i * 3)).toDF("id", "num")
        .repartition(8, org.apache.spark.sql.functions.col("id")))
    BloomIndex.build(log, "num")
    val fresh = DeltaLog.forPath(spark, dir)
    // 300 probes (mixed hits/misses), Ints against the BIGINT column —
    // the widening coercion must land them on the right hash width
    val probes: Seq[Any] = (0 until 300).map(i => i * 30: Any)
    val got = BloomIndex.readIn(fresh, "num", probes)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val want = (0L until 2000L).filter(i =>
      (i * 3) % 30 == 0 && i * 3 <= 299 * 30).sorted
    assert(got == want, s"got ${got.take(5)}.. (${got.size}) want (${want.size})")
    // small-path parity on the same table: a handful of the same probes
    val small = BloomIndex.readIn(fresh, "num", probes.take(5))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(small == want.filter(_ * 3 <= 4 * 30), s"small path: $small")
  }

  test("semiJoinRead prunes fact files from the dim side's keys") {
    val (log, _) = scratch()
    BloomIndex.build(log, "k")
    val dim = Seq(("key_42", "A"), ("key_7", "B"), ("no_such", "C"))
      .toDF("dk", "attr")
    val got = BloomIndex.semiJoinRead(log, "k", dim, "dk")
      .select("id", "k", "attr").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val want = log.snapshot.read()
      .join(dim, $"k" === $"dk")
      .select("id", "k", "attr").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == want && got.nonEmpty, s"got $got")
    // an oversized dim fails loudly instead of collecting unbounded keys
    val big = spark.range(0, 50).selectExpr("CAST(id AS STRING) AS dk")
    intercept[IllegalArgumentException] {
      BloomIndex.semiJoinRead(log, "k", big, "dk", maxKeys = 10)
    }
  }

  test("unindexed table falls back to the full candidate set") {
    val (log, _) = scratch()
    val (files, pruned) = BloomIndex.candidateFiles(log, "k", Seq("key_0"))
    assert(pruned == 0 && files.size == log.snapshot.planFiles().size)
  }

  test("sidecar publishes via generation pointer; old generation survives a swap") {
    val (log, _) = scratch()
    BloomIndex.build(log, "k")
    val idxDir = new org.apache.hadoop.fs.Path(BloomIndex.indexDir(log, "k"))
    val fs = idxDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing() = fs.listStatus(idxDir).map(_.getPath.getName).toSet
    val l0 = listing()
    assert(l0.contains("_current") && l0.exists(_.startsWith("gen_")), s"got $l0")
    // a reader that resolved the pointer BEFORE the refresh must keep
    // working AFTER it: the superseded generation is retained
    val preSwap = BloomIndex.entries(log, "k").get
    TransactionWriter.append(log,
      Seq((9999L, "only_in_new_file")).toDF("id", "k"))
    BloomIndex.buildIncremental(DeltaLog.forPath(spark, log.tablePath), "k")
    assert(preSwap.count() == 8L, "pre-swap reader lost its generation")
    val gens = listing().filter(_.startsWith("gen_"))
    assert(gens.size == 2, s"expected current+previous generations, got $gens")
    // a SECOND swap GCs the oldest — storage stays bounded at two
    TransactionWriter.append(log,
      Seq((10001L, "another_new")).toDF("id", "k"))
    BloomIndex.buildIncremental(DeltaLog.forPath(spark, log.tablePath), "k")
    assert(listing().count(_.startsWith("gen_")) == 2)
    // an idle refresh publishes nothing: the pointer stays where it was
    def current() = {
      val in = fs.open(new org.apache.hadoop.fs.Path(idxDir, "_current"))
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    val live = current()
    BloomIndex.buildIncremental(DeltaLog.forPath(spark, log.tablePath), "k")
    assert(current() == live, "idle refresh must not publish a new generation")
    // a vanished pointer degrades reads to None (probe: full scan)
    fs.delete(new org.apache.hadoop.fs.Path(idxDir, "_current"), false)
    assert(BloomIndex.entries(log, "k").isEmpty)
    val fresh = DeltaLog.forPath(spark, log.tablePath)
    val (files, pruned) = BloomIndex.candidateFiles(fresh, "k", Seq("key_0"))
    assert(pruned == 0 && files.size == fresh.snapshot.planFiles().size)
  }
}
