package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw records of one run. The benchmark keeps everything in memory and
  * writes it out once at the end; `run.py` turns it into metrics.
  *
  * Times are epoch microseconds. Spans come from `System.nanoTime`
  * anchored to the wall clock once; Spark's own events (jobs, planning
  * phases) only carry epoch milliseconds. */
final class Recorder(spark: SparkSession) {
  import Recorder._

  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNano) / 1000L

  val ops = ArrayBuffer.empty[Op]
  val spans = ArrayBuffer.empty[Span]
  val rounds = ArrayBuffer.empty[Round]
  val errors = ArrayBuffer.empty[String]
  /** Named samples measured by the workload (ratios, byte counts). */
  val samples = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val values = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  var checksAttempted = 0L
  var checksFailed = 0L

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer.empty) += v

  private var traced = false
  def tracing: Boolean = traced
  private var open: List[Int] = Nil
  private var currentOp = -1
  private var currentRound = -1

  // ---- Spark, observed from outside ----------------------------------------

  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Seq[Int])]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long, Long, Long)]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      group.filter(_.startsWith("op-")).foreach(g =>
        jobs.add((e.jobId, g, e.time * 1000L, e.stageIds)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time * 1000L)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) stages.add((si.stageId, si.numTasks, m.executorRunTime,
        m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten))
    }
  }
  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add((name, p.startTimeMs * 1000L, p.endTimeMs * 1000L))
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private def drain(): Unit =
    org.apache.spark.sql.graftshims.SqlShims.drainListenerBus(spark.sparkContext)

  // ---- rounds, ops and spans -----------------------------------------------

  /** Runs one round of the closed loop. A traced round attaches the Spark
    * listeners for its duration; an untraced one records only op times. */
  def round(trace: Boolean)(body: => Unit): Unit = {
    traced = trace
    if (trace) {
      spark.sparkContext.addSparkListener(jobListener)
      spark.listenerManager.register(queryListener)
    }
    val cpu0 = Recorder.processCpuNs()
    val (jit0, gc0, cg0) = (Recorder.jitCpuNs(), Recorder.gcMs(), Recorder.codegens())
    checkUs = 0L
    checkCpuNs = 0L
    currentRound = rounds.size
    val t0 = nowUs
    try body finally {
      val t1 = nowUs
      val cpu = Recorder.processCpuNs() - cpu0
      if (trace) {
        drain()
        spark.sparkContext.removeSparkListener(jobListener)
        spark.listenerManager.unregister(queryListener)
      }
      rounds += Round(rounds.size, trace, t0, t1, cpu, checkUs, checkCpuNs,
        Recorder.jitCpuNs() - jit0, Recorder.gcMs() - gc0, Recorder.codegens() - cg0)
      traced = false
    }
  }

  private var checkUs = 0L
  private var checkCpuNs = 0L

  /** Untimed work inside a round (correctness checks, traced-run
    * bookkeeping): its wall and CPU time are subtracted from the round's. */
  def untimed[T](body: => T): T = {
    val t0 = nowUs
    val cpu0 = Recorder.processCpuNs() - Recorder.jitCpuNs()
    try body finally {
      checkUs += nowUs - t0
      // less the JIT's share, which the round accounts for on its own
      checkCpuNs += Recorder.processCpuNs() - Recorder.jitCpuNs() - cpu0
    }
  }

  /** Times one closed-loop operation. A thrown exception marks it failed
    * and is recorded; the loop goes on. Returns None on failure. */
  def op[T](name: String, kind: String, fresh: Boolean = false)(body: => T): Option[T] = {
    val id = ops.size
    if (traced) spark.sparkContext.setJobGroup(s"op-$id", name, interruptOnCancel = false)
    currentOp = id
    val t0 = nowUs
    val res = try Some(body) catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        errors += s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        None
    }
    val t1 = nowUs
    if (traced) spark.sparkContext.clearJobGroup()
    ops += Op(id, currentRound, name, kind, fresh, t0, t1, res.isDefined)
    currentOp = -1
    res
  }

  /** Times one call into a layer, as a child of the innermost open span
    * (or of the op). A no-op wrapper when the round is untraced. */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = spans.size
      val parent = open.headOption.getOrElse(-1)
      spans += null // reserve the id; filled in when the call returns
      open = id :: open
      val t0 = nowUs
      try body finally {
        open = open.tail
        spans(id) = Span(id, parent, currentOp, name, t0, nowUs)
      }
    }

  /** Runs `body` (the warm-up) and then forgets its ops, spans, rounds
    * and checks. Errors are kept: a call that fails in the warm-up fails
    * the run. */
  def discard(body: => Unit): Unit = {
    body
    ops.clear(); spans.clear(); rounds.clear(); samples.clear()
    checksAttempted = 0; checksFailed = 0
  }

  /** Records a correctness check. A failed one is an error and marks the
    * latest op failed: a wrong answer counts like a thrown exception. */
  def check(ok: Boolean, what: => String): Unit = {
    checksAttempted += 1
    if (!ok) {
      checksFailed += 1
      errors += s"check failed: $what"
      if (ops.nonEmpty) ops(ops.size - 1) = ops.last.copy(ok = false)
    }
  }

  // ---- output --------------------------------------------------------------

  def toJson(extra: Seq[(String, String)]): String = {
    import Json._
    drain()
    val jobRows = jobs.asScala.toSeq.map { case (id, g, t0, st) =>
      obj("id" -> num(id), "op" -> num(g.stripPrefix("op-").toLong), "t0" -> num(t0),
        "t1" -> num(jobEnds.getOrDefault(id, t0)),
        "stages" -> arr(st.map(num(_))))
    }
    val stageRows = stages.asScala.toSeq.map { case (id, n, run, cpu, sh) =>
      obj("id" -> num(id), "tasks" -> num(n), "run_ms" -> num(run),
        "cpu_ns" -> num(cpu), "shuffle_bytes" -> num(sh))
    }
    val phaseRows = phases.asScala.toSeq.map { case (n, t0, t1) =>
      obj("name" -> str(n), "t0" -> num(t0), "t1" -> num(t1))
    }
    obj(extra ++ Seq(
      "rounds" -> arr(rounds.toSeq.map(r => obj("id" -> num(r.id), "traced" -> bool(r.traced),
        "t0" -> num(r.t0), "t1" -> num(r.t1), "cpu_ns" -> num(r.cpuNs),
        "check_us" -> num(r.checkUs), "check_cpu_ns" -> num(r.checkCpuNs),
        "jit_cpu_ns" -> num(r.jitCpuNs), "gc_ms" -> num(r.gcMs), "codegens" -> num(r.codegens)))),
      "ops" -> arr(ops.toSeq.map(o => obj("id" -> num(o.id), "round" -> num(o.round),
        "name" -> str(o.name), "kind" -> str(o.kind), "fresh" -> bool(o.fresh),
        "t0" -> num(o.t0), "t1" -> num(o.t1), "ok" -> bool(o.ok)))),
      "spans" -> arr(spans.toSeq.filter(_ != null).map(s => obj("id" -> num(s.id),
        "parent" -> num(s.parent), "op" -> num(s.op), "name" -> str(s.name),
        "t0" -> num(s.t0), "t1" -> num(s.t1)))),
      "jobs" -> arr(jobRows),
      "stages" -> arr(stageRows),
      "phases" -> arr(phaseRows),
      "samples" -> obj(samples.toSeq.map { case (k, v) => k -> arr(v.toSeq.map(num(_))) }: _*),
      "values" -> obj(values.toSeq.map { case (k, v) => k -> num(v) }: _*),
      "checks" -> obj("attempted" -> num(checksAttempted), "failed" -> num(checksFailed)),
      "errors" -> arr(errors.toSeq.map(str))): _*)
  }
}

object Recorder {
  /** One timed call to graft: an op root (parent -1) or a layer call. */
  final case class Span(id: Int, parent: Int, op: Int, name: String, t0: Long, t1: Long)
  /** One closed-loop operation as the client sees it. */
  final case class Op(id: Int, round: Int, name: String, kind: String,
      fresh: Boolean, t0: Long, t1: Long, ok: Boolean)
  /** One round of the closed loop: traced or not, with the JVM's CPU time,
    * the JIT compiler threads' share of it, the GC time and the codegen
    * compiles (the last three say how warm the JVM was). */
  final case class Round(id: Int, traced: Boolean, t0: Long, t1: Long, cpuNs: Long,
      checkUs: Long, checkCpuNs: Long, jitCpuNs: Long, gcMs: Long,
      codegens: Long)

  /** CPU time of the JIT compiler threads so far, read from
    * /proc/self/task (Linux; 0 elsewhere). run.py starts the JVM with a
    * fixed set of compiler threads, so none exits and takes its time along. */
  def jitCpuNs(): Long = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) 0L else tasks.iterator.map { t =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("stat")))
        val close = stat.lastIndexOf(')')
        val comm = stat.substring(stat.indexOf('(') + 1, close)
        if (!comm.startsWith("C1 CompilerThre") && !comm.startsWith("C2 CompilerThre")) 0L
        else {
          // fields 14 and 15 of stat: utime and stime, in clock ticks of 10 ms
          val f = stat.substring(close + 2).split(' ')
          (f(11).toLong + f(12).toLong) * 10000000L
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum
  }

  /** Whole-stage codegen classes Spark has compiled so far (cache misses). */
  def codegens(): Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  /** Time the collectors have spent so far. */
  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}

/** Minimal JSON rendering for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
