package graft.tools

import graft.delta.DeltaLog

/** CLI inspector for a Delta table read through graft's native log
  * reader: `runMain graft.tools.DeltaShow <tablePath> [version]`.
  * Prints version, schema, active files, and the table content.
  */
object DeltaShow {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: DeltaShow <tablePath> [version]")
    val spark = graft.GraftSession.local()
    try {
      val log = DeltaLog.forPath(spark, args(0))
      val snap =
        if (args.length > 1) log.snapshotAt(args(1).toLong) else log.snapshot
      println(s"table         : ${args(0)}")
      println(s"version       : ${snap.version} (latest ${log.latestVersion()})")
      println(s"protocol      : ${snap.protocol}")
      println(s"partition cols: ${snap.metadata.partitionColumns.mkString(", ")}")
      println(s"schema        : ${snap.schema.simpleString}")
      println(s"active files  : ${snap.numFiles}")
      snap.addsFlat.show(20, truncate = false)
      snap.read().show(20, truncate = false)
    } finally spark.stop()
  }
}
