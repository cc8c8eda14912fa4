package graft.tools

import org.apache.spark.sql.types._
import graft.delta.{DeltaLog, IdentityColumns, TransactionWriter}

/** End-to-end demo of identity columns:
  * `runMain graft.tools.IdentityDemo [dir]` — create with GENERATED
  * ALWAYS AS IDENTITY, append twice, show generated ids + the
  * high-water mark advancing in the log.
  */
object IdentityDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("id-demo").toString)
    val spark = graft.GraftSession.local()
    import spark.implicits._
    try {
      val log = DeltaLog.forPath(spark, s"$dir/id_table")
      TransactionWriter.overwriteWithSchema(log,
        Seq("alpha", "beta", "gamma").toDF("payload"),
        StructType(Seq(
          IdentityColumns.field("id", start = 1000L, step = 1L),
          StructField("payload", StringType))))
      TransactionWriter.append(log, Seq("delta", "epsilon").toDF("payload"))
      println("== table with generated identity ids ==")
      log.snapshot.read().orderBy("id").show(truncate = false)
      val spec = IdentityColumns.of(log.snapshot.metadata.schema).head
      println(s"== identity spec: start=${spec.start} step=${spec.step} " +
        s"hwm=${spec.highWaterMark} protocol=${log.snapshot.protocol} ==")
      val ids = log.snapshot.read().select("id").as[Long].collect()
      require(ids.distinct.length == 5, "ids must be unique")
      require(ids.forall(i => i >= 1000L), "ids on the lattice beyond start")
      require(spec.highWaterMark.contains(ids.max), "hwm tracks the max")

      // a plain overwrite keeps the declaration and allocates onward
      TransactionWriter.overwrite(log, Seq("reset").toDF("payload"))
      val spec2 = IdentityColumns.of(log.snapshot.metadata.schema)
      require(spec2.nonEmpty, "overwrite must keep the identity declaration")
      val afterId = log.snapshot.read().select("id").as[Long].head()
      require(afterId > ids.max, s"post-overwrite id beyond hwm: $afterId")
      println(s"== after overwrite: id=$afterId hwm=${spec2.head.highWaterMark} ==")

      // MERGE insert generates the omitted identity value
      graft.delta.Merge.into(log,
          Seq("from-merge").toDF("pv"),
          org.apache.spark.sql.functions.col("t.payload") ===
            org.apache.spark.sql.functions.col("s.pv"))
        .whenNotMatchedInsert(Map(
          "payload" -> org.apache.spark.sql.functions.col("s.pv")))
        .execute()
      val mergedId = log.snapshot.read()
        .where(org.apache.spark.sql.functions.col("payload") === "from-merge")
        .select("id").as[Long].head()
      require(mergedId > afterId, s"merge-inserted id beyond hwm: $mergedId")
      println(s"== MERGE insert generated id=$mergedId ==")
      println("IdentityDemo OK")
    } finally spark.stop()
  }
}
