package graft.tools

/** Dump a single SparkEntry query's result to parquet + its oracle SQL:
  * `runMain graft.tools.VerifyOne <name> [sfDir] [outDir]` — the
  * one-query counterpart of graft.Verify for fast local iteration. */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: VerifyOne <queryName> [sfDir] [outDir]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) args(2) else "/tmp/verify_one"
    val spark = graft.GraftSession.local()
    val fn = graft.SparkEntry.queries(name)
    fn(spark, sfDir).write.mode("overwrite").parquet(s"$outDir/$name")
    val sql = graft.SparkEntry.oracleSql.map { case (k, v) =>
      "\"" + k + "\": " + com.fasterxml.jackson.databind.json.JsonMapper.builder()
        .build().writeValueAsString(v)
    }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), sql)
    println(s"wrote $outDir/$name")
    spark.stop()
  }
}
