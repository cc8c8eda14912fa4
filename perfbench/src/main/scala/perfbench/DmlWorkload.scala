package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Levi
import graft.delta._

/** `levi_dml`: the levi data-quality and warehouse calls over a Delta
  * table of generated `lineitem`-shaped rows, partitioned by
  * `l_shipmode`, laid out in a dozen files clustered on `l_orderkey`,
  * with `delta.checkpointInterval`; plus an SCD2 dimension of generated
  * `customer`-shaped rows.
  *
  * A cycle is two rounds, 11 writes and 6 reads. Each write injects or
  * removes a slice of orders and a later one restores it, so
  * after a cycle the table holds the source rows again; the cycle ends
  * with `Maintenance.compact`, so the file count levels off. The reads
  * are pruned scans (`Skipping.readWhere(...).count()`) with the
  * expected row count: one on a snapshot just after a commit, then two
  * on the same snapshot, twice per cycle. The slices are drawn once per
  * run from the seed (see `slices`). */
final class DmlWorkload(spark: SparkSession, rec: Recorder, seed: Long) extends Workload {
  import DmlWorkload._

  private val rnd = new java.util.SplittableRandom(seed)
  private var tablePath: String = _
  private var dimPath: String = _
  private var anatomy: Anatomy = _
  private var compactTarget = 0L
  /** Set by a write; the next read resolves a fresh snapshot. */
  private var dirty = false
  private var cycle = 0
  private var half = 0

  /** Source rows with ids in `[from, until)`: 4 lines per order, order
    * keys from 1. Every column is a pure function of (id, seed). */
  private def lineitem(from: Long, until: Long): DataFrame = {
    def h(salt: Int) = pmod(xxhash64(col("id"), lit(seed + salt)), lit(Int.MaxValue.toLong))
    spark.range(from, until).select(
      col("id").as("row_id"),
      (floor(col("id") / 4) + 1).as("l_orderkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (h(1) % 50 + 1).cast("double").as("l_quantity"),
      ((h(2) % 10000000) / 100.0).as("l_extendedprice"),
      ((h(3) % 11) / 100.0).as("l_discount"),
      date_add(lit(java.sql.Date.valueOf("1992-01-01")), (h(4) % 2500).cast("int")).as("l_shipdate"),
      element_at(array(ShipModes.map(lit): _*), (h(5) % ShipModes.size + 1).cast("int")).as("l_shipmode"),
      concat(lit("c"), col("id")).as("l_comment"))
  }

  private def customer(): DataFrame = {
    def h(salt: Int) = pmod(xxhash64(col("id"), lit(seed + salt)), lit(Int.MaxValue.toLong))
    spark.range(1, Customers + 1).select(
      col("id").as("c_custkey"),
      element_at(array(Segments.map(lit): _*), (h(6) % Segments.size + 1).cast("int")).as("c_mktsegment"),
      (h(7) % 25).cast("int").as("c_nationkey"),
      lit(true).as("is_current"),
      lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("effective_time"),
      lit(null).cast("timestamp").as("end_time"))
  }

  def setup(dir: Path): Unit = {
    tablePath = dir.resolve("lineitem").toString
    dimPath = dir.resolve("customer_scd2").toString
    val log = DeltaLog.forPath(spark, tablePath)
    TransactionWriter.overwrite(log,
      lineitem(0, Rows).repartitionByRange(Tasks, col("l_orderkey")),
      partitionBy = Some(Seq("l_shipmode")),
      configuration = Map("delta.checkpointInterval" -> CheckpointInterval.toString))
    TransactionWriter.overwrite(DeltaLog.forPath(spark, dimPath), customer().repartition(4))
    anatomy = new Anatomy(spark, rec, tablePath)
    val files = DeltaLog.forPath(spark, tablePath).snapshot.planFiles()
    compactTarget = math.max(64L << 10, files.map(_.size).sum / CompactFiles)
    anatomy.reset(files.map(_.path).toSet)
    cycle = 0
  }

  /** A seeded slice of `n` whole orders: order keys `[a, a + n)`. */
  private def slice(n: Int): (Long, Long) = {
    val a = 1 + rnd.nextLong(Rows / 4 - n)
    (a, a + n)
  }

  /** The run's slices, one per role, drawn once from the seed. Spark
    * compiles numeric literals into its generated code, so fresh bounds
    * every cycle would make each call compile new classes and keep the
    * JIT busy; with fixed ones the warm-up cycle compiles what the
    * measured cycles run. */
  private lazy val slices: Slices = {
    val (exact, pkey, kill) = (slice(DupOrders), slice(DupOrders), slice(DupOrders))
    var delete = slice(DeleteOrders)
    while (delete._1 < kill._2 && kill._1 < delete._2) delete = slice(DeleteOrders)
    Slices(exact, pkey, kill, delete, slice(MergeOrders), Vector.fill(5)(slice(ScanOrders)))
  }
  private def ids(s: (Long, Long)): (Long, Long) = ((s._1 - 1) * 4, (s._2 - 1) * 4)
  private def inSlice(s: (Long, Long)) = col("l_orderkey") >= s._1 && col("l_orderkey") < s._2

  private def table() = DeltaLog.forPath(spark, tablePath)

  private def write[T](name: String)(body: DeltaLog => T): Unit = {
    anatomy.write(rec.op(name, "write")(rec.span(name)(body(table()))))
    dirty = true
  }

  private def append(df: => DataFrame): Unit =
    write("TransactionWriter.append")(l => TransactionWriter.append(l, df, partitionBy = Some(Seq("l_shipmode"))))

  /** A pruned scan over a seeded slice; checks the row count, and when
    * `comment` is given, that every row of the slice reads it back. */
  private def scan(s: (Long, Long), comment: Option[String] = None): Unit = {
    val fresh = dirty
    val filters = Seq(("l_orderkey", ">=", s._1), ("l_orderkey", "<", s._2))
    val got = rec.op("Skipping.readWhere", "read", fresh) {
      val snap = if (fresh) LogPlane.freshSnapshot(rec, table())
        else rec.span("DeltaLog.snapshot")(table().snapshot)
      dirty = false
      rec.span("Skipping.readWhere") {
        val df = Skipping.readWhere(snap, filters)
        comment match {
          case None => (df.count(), 0L)
          case Some(c) => val r = df.agg(count(lit(1)), sum(when(col("l_comment") === c, 1L).otherwise(0L))).head()
            (r.getLong(0), r.getLong(1))
        }
      }
    }
    got.foreach { case (n, matched) =>
      val want = (s._2 - s._1) * 4
      rec.check(n == want, s"readWhere $filters: $n rows != $want")
      comment.foreach(c => rec.check(matched == want, s"merged value $c read back on $matched of $want rows"))
    }
  }

  private val keys = Seq("l_orderkey", "l_linenumber")

  /** Exact copies, removed keeping one survivor per key. */
  private def dropExactCopies(): Unit = {
    val a = ids(slices.exact)
    append(lineitem(a._1, a._2))
    write("Levi.dropDuplicates")(Levi.dropDuplicates(_, keys, Seq("row_id")))
  }

  /** Copies with new row ids, removed keeping the smallest row id. */
  private def dropPkeyCopies(): Unit = {
    val b = ids(slices.pkey)
    append(lineitem(b._1, b._2).withColumn("row_id", col("row_id") + Rows))
    write("Levi.dropDuplicatesPkey")(Levi.dropDuplicatesPkey(_, "row_id", keys))
  }

  /** Copies removed together with their originals, then a deleted slice;
    * one append restores both. */
  private def killAndDelete(): Unit = {
    val c = ids(slices.kill)
    append(lineitem(c._1, c._2))
    write("Levi.killDuplicates")(Levi.killDuplicates(_, keys))
    // the delete slice is disjoint from the killed one, so restoring
    // both adds each row once
    write("Mutations.delete")(Mutations.delete(_, inSlice(slices.delete)))
    val d = ids(slices.delete)
    append(lineitem(c._1, c._2).union(lineitem(d._1, d._2)))
  }

  /** A matched update of one slice, read back. */
  private def mergeAndReadBack(): Unit = {
    val m = slices.merge
    val tag = s"m$seed-$cycle"
    val src = lineitem(ids(m)._1, ids(m)._2).select(col("l_orderkey"), col("l_linenumber"), lit(tag).as("c"))
    write("Merge.execute")(l => Merge.into(l, src,
      col("t.l_orderkey") === col("s.l_orderkey") && col("t.l_linenumber") === col("s.l_linenumber"))
      .whenMatchedUpdate(Map("l_comment" -> col("s.c"))).execute())
    scan(m, Some(tag))
    scan(slices.scans(0))
    scan(slices.scans(1))
  }

  /** SCD2: new attributes for a seeded set of customers. */
  private def scd2(): Unit = {
    val changed = Seq.fill(ScdKeys)(1 + rnd.nextLong(Customers)).distinct
    val eff = java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2024, 1, 2, 0, 0).plusDays(cycle))
    val updates = spark.createDataFrame(changed.map(k =>
      (k, Segments(rnd.nextInt(Segments.size)), rnd.nextInt(25), eff)))
      .toDF("c_custkey", "c_mktsegment", "c_nationkey", "effective_time")
    rec.op("Levi.type2ScdUpsert", "write")(rec.span("Levi.type2ScdUpsert")(
      Levi.type2ScdUpsert(DeltaLog.forPath(spark, dimPath), updates, "c_custkey", Seq("c_mktsegment", "c_nationkey"))))
  }

  /** The cycle's small files compacted away: every cycle ends on the
    * same layout, so the file count levels off. Then a fresh scan and a
    * second one on the same, now cached, snapshot. */
  private def compact(): Unit = {
    write("Maintenance.compact")(Maintenance.compact(_, compactTarget))
    scan(slices.scans(2))
    scan(slices.scans(3))
    scan(slices.scans(4))
  }

  /** One whole cycle, on the slices the measured cycles use. */
  def warmup(): Unit = { round(); round() }

  override def roundsPerCycle: Int = 2

  /** Half a cycle: the three dedups with the delete, or the merge, SCD2
    * and compaction with the scans. Each half leaves the source rows in
    * the table; the checks run after the second. */
  def round(): Unit =
    if (half == 0) {
      dropExactCopies(); dropPkeyCopies(); killAndDelete()
      half = 1
    } else {
      mergeAndReadBack(); scd2(); compact()
      rec.untimed(checkCycle())
      cycle += 1
      half = 0
    }

  /** After a cycle: the source row count, no duplicate key, exactly one
    * current SCD2 row per customer. */
  private def checkCycle(): Unit = {
    val perKey = table().snapshot.read().groupBy("l_orderkey", "l_linenumber").count()
      .agg(coalesce(sum("count"), lit(0L)), coalesce(max("count"), lit(0L))).head()
    val (n, most) = (perKey.getLong(0), perKey.getLong(1))
    rec.check(n == Rows, s"cycle $cycle: $n rows != $Rows")
    rec.check(most <= 1, s"cycle $cycle: a key has $most rows")
    val cur = DeltaLog.forPath(spark, dimPath).snapshot.read().where(col("is_current"))
      .agg(count(lit(1)), countDistinct(col("c_custkey"))).head()
    rec.check(cur.getLong(0) == Customers && cur.getLong(1) == Customers,
      s"cycle $cycle: ${cur.getLong(0)} current SCD2 rows over ${cur.getLong(1)} keys, want $Customers")
  }

  def finish(): Unit = {
    rec.values("table.active_files") = table().snapshot.planFiles().size.toDouble
    rec.values("table.bytes_on_disk") = Layout.bytesOnDisk(Path.of(tablePath)).toDouble
  }
}

object DmlWorkload {
  /** Slices of order keys by role: the exact, primary-key and killed
    * copies, the deleted slice (disjoint from the killed one), the
    * merged slice, and the scanned ones. */
  final case class Slices(exact: (Long, Long), pkey: (Long, Long), kill: (Long, Long),
      delete: (Long, Long), merge: (Long, Long), scans: Vector[(Long, Long)])

  val Rows = 12000L
  val Tasks = 3
  val CheckpointInterval = 10
  val CompactFiles = 112L
  val DupOrders = 20
  val MergeOrders = 40
  val DeleteOrders = 40
  val ScanOrders = 200
  val Customers = 1000L
  val ScdKeys = 30
  val ShipModes = Seq("AIR", "MAIL", "RAIL", "SHIP")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
}
