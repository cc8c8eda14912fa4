package graft.tools

import graft.delta.{DeltaLog, TransactionWriter}

/** End-to-end drive of column-mapping writes:
  * `runMain graft.tools.ColumnMappingDemo [tableDir]`.
  *
  * Creates a name-mode mapped partitioned table through the writer,
  * appends to it, shows that the DATA FILES and log entries live under
  * physical `col-<uuid>` names while every read surfaces logical names,
  * then repeats in id mode and proves footer field-id resolution by
  * reading a data file under deliberately wrong names. */
object ColumnMappingDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    import spark.implicits._
    try {
      val base = if (args.nonEmpty) args(0)
        else java.nio.file.Files.createTempDirectory("graft-cm-demo").toString

      // -- name mode: create + append, physical layout, logical reads --
      val nameDir = s"$base/name-mode"
      val log = DeltaLog.forPath(spark, nameDir)
      TransactionWriter.overwrite(log,
        Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("n", "s", "p"),
        partitionBy = Some(Seq("p")),
        configuration = Map("delta.columnMapping.mode" -> "name"))
      TransactionWriter.append(log,
        Seq((3L, "c", "p1")).toDF("n", "s", "p"))
      val snap = DeltaLog.forPath(spark, nameDir).snapshot
      println(s"== name-mode mapped table at $nameDir ==")
      println(s"protocol: ${snap.protocol}  mode: ${snap.columnMappingMode}")
      println(s"logical schema: ${snap.schema.simpleString}")
      val f0 = snap.activeFiles.head
      println(s"add.partitionValues keys: ${f0.partitionValues.keys.mkString(",")}")
      println(s"add.stats: ${f0.stats.getOrElse("").take(80)}…")
      val raw = spark.read.parquet(snap.absolutePath(f0))
      println(s"raw file columns: ${raw.schema.fieldNames.mkString(", ")}")
      val rows = snap.read().orderBy("n")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      println(s"logical read: $rows")
      require(rows == Seq((1L, "a", "p1"), (2L, "b", "p2"), (3L, "c", "p1")),
        "mapped read returned wrong rows")
      require(f0.partitionValues.keys.forall(_.startsWith("col-")),
        "partitionValues must be physically keyed")
      require(raw.schema.fieldNames.forall(_.startsWith("col-")),
        "data files must carry physical names")

      // -- id mode: field ids in the footer --
      val idDir = s"$base/id-mode"
      val idLog = DeltaLog.forPath(spark, idDir)
      TransactionWriter.overwrite(idLog, Seq((7L, "x")).toDF("n", "s"),
        configuration = Map("delta.columnMapping.mode" -> "id"))
      val idSnap = DeltaLog.forPath(spark, idDir).snapshot
      val fid = idSnap.activeFiles.head
      import org.apache.spark.sql.types._
      def withId(id: Long) = new MetadataBuilder().putLong("parquet.field.id", id).build()
      val wrongNames = StructType(Seq(
        StructField("whatever_a", LongType, nullable = true, withId(1)),
        StructField("whatever_b", StringType, nullable = true, withId(2))))
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      val byId = spark.read.schema(wrongNames).parquet(idSnap.absolutePath(fid))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      println(s"== id-mode at $idDir: read under WRONG names via field ids: $byId")
      require(byId == Seq((7L, "x")), "footer field ids must resolve the read")

      // -- ALTER evolution: upgrade an UNMAPPED table in place, then
      // rename/drop/add as metadata-only commits --
      val evDir = s"$base/evolve"
      val evLog = DeltaLog.forPath(spark, evDir)
      TransactionWriter.overwrite(evLog,
        Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "name", "score"))
      graft.delta.SchemaEvolution.enableColumnMapping(evLog)
      graft.delta.SchemaEvolution.renameColumn(evLog, "score", "points")
      graft.delta.SchemaEvolution.dropColumn(evLog, "name")
      graft.delta.SchemaEvolution.addColumn(evLog, "tag",
        org.apache.spark.sql.types.StringType)
      val evSnap = DeltaLog.forPath(spark, evDir).snapshot
      println(s"== evolved schema: ${evSnap.schema.simpleString} " +
        s"(physical of points: ${evSnap.physicalNameOf("points")}) ==")
      evSnap.read().orderBy("id").show()
      val ev = evSnap.read().orderBy("id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.isNullAt(2))).toSeq
      require(ev == Seq((1L, 10L, true), (2L, 20L, true)),
        s"evolved read wrong: $ev")
      require(evSnap.physicalNameOf("points") == "score",
        "rename must keep the physical name pinned")

      // -- generated columns: declared schema computes the omitted
      // partition column during the write --
      val genDir = s"$base/generated"
      val genLog = DeltaLog.forPath(spark, genDir)
      val genSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType),
        graft.delta.GeneratedColumns.field("day",
          org.apache.spark.sql.types.DateType, "CAST(ts AS DATE)")))
      TransactionWriter.overwriteWithSchema(genLog,
        Seq((1L, java.sql.Timestamp.valueOf("2026-02-01 08:00:00")),
          (2L, java.sql.Timestamp.valueOf("2026-02-02 09:30:00")))
          .toDF("id", "ts"),
        genSchema, partitionBy = Some(Seq("day")))
      val genSnap = DeltaLog.forPath(spark, genDir).snapshot
      println(s"== generated-column table (writer v${genSnap.protocol.minWriterVersion}): " +
        s"partitions ${genSnap.activeFiles.map(_.partitionValues).mkString(", ")} ==")
      genSnap.read().orderBy("id").show()
      require(genSnap.activeFiles.flatMap(_.partitionValues.values).toSet ==
        Set("2026-02-01", "2026-02-02"),
        "omitted generated partition column must be computed on write")
      println("ColumnMappingDemo OK")
    } finally spark.stop()
  }
}
