package graft.delta

import graft.SparkTestBase
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

/** Deletion-vector conformance: codec round trips against the public
  * format constants (z85 per the ZeroMQ spec; RoaringBitmapArray
  * portable per the Delta protocol's Deletion Vectors section), plus
  * end-to-end write → read → time-travel → checkpoint behavior of
  * [[Mutations.deleteWithDv]]. */
class DeletionVectorSpec extends SparkTestBase {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-dv").toString

  // ---- z85 ------------------------------------------------------------------

  test("z85 matches the ZeroMQ reference vector and round-trips") {
    // The Z85 spec's worked example: 0x86 4F D2 6F B5 59 F7 5B <-> "HelloWorld"
    val ref = Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b).map(_.toByte)
    assert(DeletionVectors.z85Encode(ref) == "HelloWorld")
    assert(DeletionVectors.z85Decode("HelloWorld").toSeq == ref.toSeq)
    val rnd = new scala.util.Random(7)
    (1 to 20).foreach { i =>
      val bytes = Array.fill(4 * i)(rnd.nextInt().toByte)
      assert(DeletionVectors.z85Decode(DeletionVectors.z85Encode(bytes)).toSeq == bytes.toSeq)
    }
    val u = new java.util.UUID(0x0123456789abcdefL, 0xfedcba9876543210L)
    assert(DeletionVectors.encodeUuid(u).length == 20)
    assert(DeletionVectors.decodeUuid(DeletionVectors.encodeUuid(u)) == u)
  }

  // ---- roaring bitmap array -------------------------------------------------

  test("roaring round-trips array, bitset, and multi-key shapes") {
    val cases: Seq[Array[Long]] = Seq(
      Array.empty[Long],
      Array(0L),
      Array(1L, 5L, 65535L, 65536L, 131071L), // two containers
      (0L until 5000L).map(_ * 2).toArray, // > 4096 in one container -> bitset
      Array((1L << 32) | 7L, (1L << 32) | 9L, (5L << 32) | 123L, 42L), // multi high key
      (0L until 70000L).toArray) // dense bitset spanning containers
    cases.foreach { rows =>
      val sorted = rows.distinct.sorted
      val bytes = DeletionVectors.serialize(sorted)
      assert(DeletionVectors.deserialize(bytes).toSeq == sorted.toSeq,
        s"case of ${rows.length} rows")
    }
  }

  test("roaring reads run containers (hand-built SERIAL_COOKIE form)") {
    // one 32-bit bitmap under key 0, one run container [10, 14] ∪ [100, 101]
    val runPayload = {
      val bb = ByteBuffer.allocate(4 + 1 + 4 + 2 + 8).order(ByteOrder.LITTLE_ENDIAN)
      bb.putInt(12347 | (0 << 16)) // SERIAL_COOKIE, size-1 = 0
      bb.put(1.toByte) // run flags: container 0 is a run
      bb.putShort(0.toShort) // key
      bb.putShort(6.toShort) // cardinality - 1 = 6
      // < 4 containers -> no offset header
      bb.putShort(2.toShort) // number of runs
      bb.putShort(10.toShort); bb.putShort(4.toShort) // 10..14
      bb.putShort(100.toShort); bb.putShort(1.toShort) // 100..101
      bb.array()
    }
    val full = {
      val head = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      head.putInt(DeletionVectors.PortableMagic).putLong(1L).putInt(0)
      head.array() ++ runPayload
    }
    assert(DeletionVectors.deserialize(full).toSeq ==
      Seq(10L, 11L, 12L, 13L, 14L, 100L, 101L))
  }

  test("DV file write/read round trip with offsets and checksums") {
    val dir = tmpDir()
    val root = new Path(dir)
    val fs = root.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val sets = Seq(Array(1L, 3L, 9L), (0L until 6000L).toArray, Array(7L))
    val descs = DeletionVectors.writeFile(fs, root, sets)
    assert(descs.size == 3)
    assert(descs.map(_.pathOrInlineDv).distinct.size == 1) // one physical file
    descs.zip(sets).foreach { case (d, expect) =>
      assert(d.storageType == "u")
      assert(d.cardinality == expect.distinct.length.toLong)
      val got = DeletionVectors.readRows(fs, root, d)
      assert(got.toSeq == expect.distinct.sorted.toSeq)
    }
    // corrupted byte -> checksum failure, loud
    val p = DeletionVectors.filePath(root, descs.head)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(p.toUri.getPath))
    bytes(6) = (bytes(6) ^ 0x5a).toByte
    Files.write(java.nio.file.Paths.get(p.toUri.getPath), bytes)
    // either our CRC check or Hadoop's local-FS .crc sidecar must fail it
    val e = intercept[Exception] {
      DeletionVectors.readRows(fs, root, descs.head)
    }
    assert(e.isInstanceOf[IllegalArgumentException] ||
      e.isInstanceOf[org.apache.hadoop.fs.ChecksumException])
  }

  // ---- end to end -----------------------------------------------------------

  test("deleteWithDv: delete, merge-delete, time travel, checkpoint, rewrite") {
    val dir = tmpDir()
    import spark.implicits._
    val df = (0 until 200).map(i => (i.toLong, s"row_$i", i % 5)).toDF("id", "s", "bucket")
      .repartition(3)
    val log = DeltaLog.forPath(spark, dir)
    TransactionWriter.overwrite(log, df)

    // v1: delete multiples of 7
    val v1 = Mutations.deleteWithDv(log, col("id") % 7 === 0)
    assert(v1 == 1L)
    val snap1 = log.snapshot
    assert(snap1.protocol.minReaderVersion == 3)
    assert(snap1.protocol.readerFeatures.contains("deletionVectors"))
    val got1 = snap1.read().select("id").as[Long].collect().sorted
    assert(got1.toSeq == (0L until 200L).filter(_ % 7 != 0))
    // physical files unchanged: DELETE wrote no data files
    assert(snap1.activeFiles.map(_.path).toSet ==
      log.snapshotAt(0).activeFiles.map(_.path).toSet)

    // v2: second delete merges into existing DVs
    Mutations.deleteWithDv(log, col("id") % 11 === 0)
    val got2 = log.snapshot.read().select("id").as[Long].collect().sorted
    assert(got2.toSeq == (0L until 200L).filter(i => i % 7 != 0 && i % 11 != 0))

    // no-match delete is a no-op commit-wise
    val vSame = Mutations.deleteWithDv(log, col("id") === -1L)
    assert(vSame == log.snapshot.version)

    // time travel: v0 still shows all rows
    assert(log.snapshotAt(0).read().count() == 200)

    // checkpoint round trip preserves DVs
    Maintenance.checkpoint(log)
    val fresh = DeltaLog.forPath(spark, dir).snapshot
    assert(fresh.checkpointVersion.nonEmpty)
    assert(fresh.read().select("id").as[Long].collect().sorted.toSeq == got2.toSeq)

    // a rewrite mutation on the DV table stays correct (DV-aware scan,
    // writer v7 feature gate accepts deletionVectors)
    val dup = log.snapshot.read().where(col("id") === 3L)
    TransactionWriter.append(log, dup)
    Mutations.killDuplicates(log, Seq("id"))
    val got3 = log.snapshot.read().select("id").as[Long].collect().sorted
    assert(got3.toSeq == got2.filter(_ != 3L).toSeq)
  }

  test("cardinality guard: broad DELETE USING DV falls back to the rewrite path") {
    val dir = tmpDir()
    import spark.implicits._
    // the fraction check normally engages only above its 64k-row floor
    // (below it either route is fine and the table-rows agg is skipped);
    // drop the floor so the 100-row scenario exercises the cap
    val noFloor = Mutations.DvLimits(fractionCheckMinRows = 0L)
    val log = DeltaLog.forPath(spark, dir)
    TransactionWriter.overwrite(log,
      (0 until 100).map(i => (i.toLong, s"r_$i")).toDF("id", "s").repartition(2))
    // deleting 90% of rows exceeds the default 0.5 matched-fraction cap:
    // the DV path must refuse (no driver bitmap) and route through the
    // targeted rewrite — same visible result, no deletion vector written
    val v1 = Mutations.deleteWithDv(log, col("id") >= 10L, noFloor)
    assert(v1 == 1L)
    val snap1 = log.snapshot
    assert(snap1.read().select("id").as[Long].collect().sorted.toSeq ==
      (0L until 10L))
    assert(snap1.activeFiles.forall(_.deletionVector.isEmpty),
      "broad delete must not materialize deletion vectors")
    assert(snap1.activeFiles.map(_.path).toSet !=
      log.snapshotAt(0).activeFiles.map(_.path).toSet,
      "broad delete must rewrite the touched files")

    // a selective delete on the same table still takes the DV path
    val v2 = Mutations.deleteWithDv(log, col("id") === 3L, noFloor)
    assert(v2 == 2L)
    val snap2 = log.snapshot
    assert(snap2.read().select("id").as[Long].collect().sorted.toSeq ==
      (0L until 10L).filterNot(_ == 3L))
    assert(snap2.activeFiles.exists(_.deletionVector.exists(_.cardinality > 0)),
      "selective delete must write a deletion vector")
    assert(snap2.activeFiles.map(_.path).toSet == snap1.activeFiles.map(_.path).toSet,
      "selective DV delete must not rewrite data files")

    // the absolute cap works too (set lower than the match count)
    val before = log.snapshot.activeFiles
      .count(_.deletionVector.exists(_.cardinality > 0))
    Mutations.deleteWithDv(log, col("id").isin(4L, 5L),
      noFloor.copy(maxMatchedRows = 1L))
    val after = log.snapshot
    assert(after.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 2L, 6L, 7L, 8L, 9L))
    assert(after.activeFiles.count(_.deletionVector.exists(_.cardinality > 0))
      <= before, "capped delete must not add new deletion vectors")
  }

  test("updateWithDv: no rewrite of old files, updated rows in new files") {
    val dir = tmpDir()
    import spark.implicits._
    val df = (0 until 100).map(i => (i.toLong, s"v_$i")).toDF("id", "v")
      .repartition(2)
    val log = DeltaLog.forPath(spark, dir)
    TransactionWriter.overwrite(log, df)
    val before = log.snapshot.activeFiles.map(_.path).toSet

    val v1 = Mutations.updateWithDv(log, col("id") % 10 === 0,
      Map("v" -> concat(lit("upd_"), col("id"))))
    assert(v1 == 1L)
    val snap = log.snapshot
    // every original file survives path-identical (now DV'd), plus new
    // files holding only the 10 updated rows
    val after = snap.activeFiles.map(_.path).toSet
    assert(before.subsetOf(after), "DV update must not rewrite old files")
    assert((after -- before).nonEmpty, "updated rows must land in new files")
    val got = snap.read().select("id", "v").as[(Long, String)].collect().sorted
    val want = (0L until 100L).map(i =>
      (i, if (i % 10 == 0) s"upd_$i" else s"v_$i"))
    assert(got.toSeq == want)
    // time travel preserves the pre-update values
    assert(log.snapshotAt(0).read().where(col("v").startsWith("upd_")).count() == 0)

    // a second DV update touching already-updated rows merges correctly
    Mutations.updateWithDv(log, col("v") === "upd_0", Map("v" -> lit("twice")))
    val got2 = log.snapshot.read().where(col("id") === 0L)
      .select("v").as[String].collect().toSeq
    assert(got2 == Seq("twice"))

    // no-match update commits nothing; unknown SET column refuses
    assert(Mutations.updateWithDv(log, col("id") === -1L,
      Map("v" -> lit("x"))) == log.snapshot.version)
    intercept[IllegalArgumentException] {
      Mutations.updateWithDv(log, col("id") === 1L, Map("nope" -> lit("x")))
    }
  }

  test("vacuum keeps live DV files and reclaims orphaned ones") {
    val dir = tmpDir()
    import spark.implicits._
    val log = DeltaLog.forPath(spark, dir)
    TransactionWriter.overwrite(log,
      (0 until 100).map(i => (i.toLong, s"r$i")).toDF("id", "s").coalesce(1))
    Mutations.deleteWithDv(log, col("id") < 10L)                      // v1: live DV
    def dvFiles(): Set[String] = log.fs.listStatus(log.rootPath)
      .map(_.getPath.getName)
      .filter(n => n.startsWith("deletion_vector_") && n.endsWith(".bin")).toSet
    val liveDv = dvFiles()
    assert(liveDv.size == 1)
    // Live DV must survive an aggressive vacuum.
    Maintenance.vacuum(log, retentionMs = 0L, allowZeroRetention = true)
    assert(dvFiles() == liveDv, "vacuum must never delete a referenced DV")
    assert(log.snapshot.read().count() == 90L)
    // Rewrite the table (compaction drops the (file, DV) pair) — the DV
    // file is now orphaned and an aggressive vacuum reclaims it.
    Maintenance.compact(log)
    assert(log.snapshot.read().count() == 90L)
    val deleted = Maintenance.vacuum(log, retentionMs = 0L, allowZeroRetention = true)
    assert(dvFiles().isEmpty, "orphaned DV file should be vacuumed")
    assert(deleted.exists(_.contains("deletion_vector_")))
    assert(log.snapshot.read().count() == 90L)
  }

  test("purgeDeletionVectors rewrites only DV'd files; clean files survive") {
    val dir = tmpDir()
    import spark.implicits._
    val log = DeltaLog.forPath(spark, dir)
    TransactionWriter.overwrite(log,
      (0 until 100).map(i => (i.toLong, s"r$i")).toDF("id", "s").coalesce(1)) // v0
    TransactionWriter.append(log,
      (100 until 200).map(i => (i.toLong, s"r$i")).toDF("id", "s").coalesce(1)) // v1
    Mutations.deleteWithDv(log, col("id") < 10L)                      // v2: DV on file 0
    assert(log.snapshot.activeFiles.count(_.deletionVector.exists(_.cardinality > 0)) == 1)
    val cleanPath = log.snapshot.activeFiles
      .find(!_.deletionVector.exists(_.cardinality > 0)).map(_.path)

    val v = Maintenance.purgeDeletionVectors(log)                     // v3: REORG
    assert(v == 3L)
    val after = log.snapshot
    assert(after.activeFiles.forall(_.deletionVector.forall(_.cardinality == 0L)),
      "no active file may reference a DV after purge")
    // the untouched clean file is still in the active set, same path
    assert(after.activeFiles.map(_.path).exists(p => cleanPath.contains(p)),
      "purge must not rewrite DV-free files")
    assert(after.read().count() == 190L)
    assert(after.read().where(col("id") < 10L).count() == 0L)
    // time travel to the DV version still honors the bitmap
    assert(log.snapshotAt(2).read().count() == 190L)
    // purge on a DV-free table is a no-op (no commit)
    assert(Maintenance.purgeDeletionVectors(log) == 3L)
    // the orphaned DV bitmap is now reclaimable
    Maintenance.vacuum(log, retentionMs = 0L, allowZeroRetention = true)
    val dvLeft = log.fs.listStatus(log.rootPath).map(_.getPath.getName)
      .filter(n => n.startsWith("deletion_vector_") && n.endsWith(".bin"))
    assert(dvLeft.isEmpty, "purged DV should be vacuumable")
    assert(log.snapshot.read().count() == 190L)
  }

  test("inline ('i') deletion vectors and unsupported features still refuse") {
    val dir = tmpDir()
    import spark.implicits._
    val log = DeltaLog.forPath(spark, dir)
    TransactionWriter.overwrite(log, (0 until 50).map(i => (i.toLong, s"v$i")).toDF("id", "s")
      .coalesce(1))
    val snap0 = log.snapshot
    val f = snap0.activeFiles.head
    // inline DV deleting rows 0, 2, 4 of the single file; z85 needs
    // 4-byte groups so pad and record the true size in sizeInBytes
    val data = DeletionVectors.serialize(Array(0L, 2L, 4L))
    val padded = data ++ Array.fill((4 - data.length % 4) % 4)(0.toByte)
    val inline = DeletionVectorDescriptor(
      "i", DeletionVectors.z85Encode(padded), None, data.length, 3L)
    log.commit(1L, Seq(
      CommitInfoAction(CommitInfo(System.currentTimeMillis(), "DELETE")),
      ProtocolAction(Protocol(3, 7, Set("deletionVectors"),
        Set("deletionVectors", "appendOnly", "invariants"))),
      AddAction(f.copy(deletionVector = Some(inline))),
      RemoveAction(RemoveFile(f.path, System.currentTimeMillis()))))
    val ids = log.snapshot.read().select("id").as[Long].collect().sorted
    assert(ids.toSeq == (0L until 50L).filterNot(Set(0L, 2L, 4L)))

    // unsupported reader feature: still refused, loudly
    log.commit(2L, Seq(ProtocolAction(Protocol(3, 7,
      Set("deletionVectors", "somethingNew"), Set("deletionVectors")))))
    val e = intercept[IllegalArgumentException] { log.snapshot }
    assert(e.getMessage.contains("somethingNew"))
  }
}
