package graft.operators

import org.apache.spark.sql.DataFrame

/** Scale-adaptive parallelism for the CPU-heavy kernel projections
  * (shingle/minhash, media decode, embedding math).
  *
  * The pre-round-13 spelling widened narrow inputs to
  * `defaultParallelism` unconditionally. That is right at scale (a
  * few-file scan must not run a corpus kernel single-threaded) but a
  * CONSTANT at the bottom end: at bench scale every widened stage
  * carries 32 tiny tasks, and a per-job profile shows task-launch
  * cost is real while the data per task rounds to nothing. Guide §2:
  * derive partitioning from input size, not from a constant tuned for
  * either local mode or the cluster.
  *
  * `widen` derives the target from the optimizer's size estimate for
  * the input plan (file-size-based for scans — free, no job):
  * `clamp(bytes / bytesPerTask + 1, 2, defaultParallelism)`. Unknown
  * estimates (checkpointed RDDs report the default huge size) keep
  * the old behavior — full width. At cluster scale the estimate
  * exceeds `defaultParallelism × bytesPerTask`, so the target is
  * exactly the old one; only genuinely small inputs get fewer, fuller
  * tasks.
  *
  * Partition COUNT never affects results here: every consumer is an
  * aggregate / join keyed on content (the cross-engine DuckDB oracle
  * could not replay a layout-dependent result, and the driver already
  * benches at a different core count — i.e. a different
  * defaultParallelism — against the same oracle hashes). */
object Adaptive {

  /** Default per-task input budget for kernel projections: small
    * enough that a kernel task has real work (~tens of ms) before
    * task-launch overhead matters, large enough that bench-scale
    * inputs stop fanning to one task per core. */
  val KernelBytesPerTask: Long = 256L << 10

  // Round-14 note: the round-13 `DenseBytesPerTask` (16 KiB) special
  // case for the interpreted gram feeds is GONE — the feeds' HOF
  // pipelines were fused into codegen kernels (WordNgrams), their
  // per-byte CPU fell back in line with the other kernels, and the
  // default budget re-measured faster at every site (A/B in
  // OPTIMIZATION_r14.md).

  /** The widen target for `df` — `defaultParallelism` when the size
    * estimate is unknown or large, proportionally fewer partitions
    * for provably small inputs. */
  def kernelTarget(df: DataFrame, bytesPerTask: Long = KernelBytesPerTask): Int = {
    val maxP = df.sparkSession.sparkContext.defaultParallelism
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // treat absent/absurd estimates (LogicalRDD defaults to
    // spark.sql.defaultSizeInBytes = Long.MaxValue) as unknown → wide
    if (est <= 0 || est > BigInt(1L << 50)) maxP
    else math.max(2L, math.min(maxP.toLong,
      est.toLong / math.max(1L, bytesPerTask) + 1L)).toInt
  }

  /** Widen a narrow input to [[kernelTarget]] before a CPU-heavy
    * projection; wide inputs pass through unchanged (at scale this
    * no-ops, exactly like the old spelling). Pass-through has a
    * hysteresis band — an input already at ≥ half the target keeps its
    * partitioning rather than paying a full reshuffle for a marginal
    * width gain (the pre-round-13 behavior, restored per the round-13
    * advice). The partition count is read off the SAME QueryExecution
    * [[kernelTarget]] already touched (`df.rdd` would build a second
    * QueryExecution per call just to count partitions). */
  def widen(df: DataFrame, bytesPerTask: Long = KernelBytesPerTask): DataFrame = {
    val target = kernelTarget(df, bytesPerTask)
    val current = df.queryExecution.toRdd.getNumPartitions
    if (current >= math.max(2, target / 2)) df else df.repartition(target)
  }
}
