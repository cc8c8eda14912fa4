package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: set-up, warm-up, and a closed loop of
  * rounds. A single client issues each call after the previous returned. */
trait Workload {
  /** Builds the inputs under `dir` from the seed. Called several times
    * per run, each into a fresh directory; the last build is measured. */
  def setup(dir: Path): Unit
  /** Untimed-by-the-loop calls that let JIT, caches and lazy state settle. */
  def warmup(): Unit
  /** One round of the closed loop. */
  def round(): Unit
  /** The loop ends on a cycle boundary: after a multiple of this many rounds. */
  def roundsPerCycle: Int = 1
  /** Figures taken once the loop has ended (table layout). */
  def finish(): Unit
}

/** Entry point, started by run.py:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --scratch DIR --out FILE`.
  * Writes the raw run record (see [[Recorder]]) to `--out`. */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val scratch = Paths.get(args("scratch")).toAbsolutePath
    val out = Paths.get(args("out"))

    val started = System.nanoTime()
    def phase(name: String): Unit = println(f"perfbench: $name at ${(System.nanoTime() - started) / 1e9}%.1f s")
    val spark = session(scratch)
    phase("session ready")
    val rec = new Recorder(spark)
    val w: Workload = workload match {
      case "levi_log" => new LogWorkload(spark, rec, seed)
      case "levi_dml" => new DmlWorkload(spark, rec, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // the inputs are built several times, each into a fresh directory;
    // the warm-up and the loop then run on the last build
    val buildS = (0 until SetupReps).map { i =>
      if (i > 0) deleteTree(scratch.resolve(s"tables-${i - 1}"))
      val t0 = System.nanoTime()
      w.setup(Files.createDirectories(scratch.resolve(s"tables-$i")))
      (System.nanoTime() - t0) / 1e9
    }
    phase("inputs built")
    val w0 = System.nanoTime()
    rec.discard(rec.round(trace = false)(w.warmup()))
    val warmupS = (System.nanoTime() - w0) / 1e9

    phase("warmed up")
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var r = 0
    var heapMb = 0.0
    // whole cycles only; a traced run needs one ABBA group of rounds
    while (System.nanoTime() < deadline || r % w.roundsPerCycle != 0 || (trace && r < 4)) {
      rec.round(tracedRound(trace, r))(w.round())
      r += 1
      // after a fixed amount of work, not after as many rounds as the
      // host's speed allowed; outside the rounds, so untimed
      if (r == w.roundsPerCycle) heapMb = retainedHeapMb()
    }
    phase(s"$r rounds done")
    w.finish()

    import Json._
    val extra = Seq(
      "workload" -> str(workload), "seed" -> num(seed), "trace" -> bool(trace),
      "rounds_per_cycle" -> num(w.roundsPerCycle),
      "build_s" -> arr(buildS.map(num(_))), "warmup_s" -> num(warmupS),
      "retained_heap_mb" -> num(heapMb))
    Files.writeString(out, rec.toJson(extra))
    phase("record written")
    spark.stop()
  }

  /** A traced run traces rounds in the order untraced, traced, traced,
    * untraced, and so on (ABBA), so that the tracing overhead is measured
    * on the same inputs and JVM without either side always going first. */
  def tracedRound(trace: Boolean, r: Int): Boolean = trace && (r % 4 == 1 || r % 4 == 2)

  /** Heap in use after full collections; the pause between them lets
    * Spark's ContextCleaner drop the blocks of unreachable datasets. */
  def retainedHeapMb(): Double = {
    System.gc(); Thread.sleep(250); System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  def session(scratch: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().min(4).toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.locality.wait", "0")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
