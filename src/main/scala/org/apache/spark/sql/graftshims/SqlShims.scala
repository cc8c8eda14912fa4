package org.apache.spark.sql.graftshims

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, LongType}

/** Spark 4 moved the Expression↔Column bridge and several expression
  * support types (`AbstractDataType`, ...) behind `private[sql]`.
  * Libraries that ship custom Catalyst expressions conventionally place
  * them in the sql namespace — the same move delta-spark/iceberg/sedona
  * make. These are the ONLY files outside the `graft` namespace; the
  * public facade is [[graft.functions.VectorExpressions]].
  */
object SqlShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Drain the Spark listener bus — task-metric listeners (the IO
    * probes proving a remap read no data bytes) receive events
    * asynchronously; without a drain a measurement taken right after
    * an action can miss its own tail tasks. `listenerBus` is
    * `private[spark]`, hence this shim. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Total input bytes read by every task that runs inside `f` —
    * measured via a scoped task-end listener, drained before detach.
    * The meter is per-JVM (concurrent foreign jobs would pollute it);
    * callers run it around exclusive sections. */
  def measureBytesRead(sc: org.apache.spark.SparkContext)(f: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          acc.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    sc.addSparkListener(l)
    try { f; sc.listenerBus.waitUntilEmpty() }
    finally sc.removeSparkListener(l)
    acc.get
  }

  /** The value a sort expression orders by: `col("x").asc` →
    * `col("x")`; a plain column passes through. Sort direction lives in
    * a ColumnNode-level SortOrder wrapper in Spark 4 (not a Catalyst
    * SortOrder), so unwrapping needs this sql-internal view. */
  def sortChild(c: Column): Column = c.node match {
    case so: org.apache.spark.sql.internal.SortOrder => Column(so.child)
    case _ => c
  }

  /** Register the native vector kernels as session SQL functions so the
    * SQL-text queries get the same codegen'd tight loops as the Column
    * API (`aggregate(zip_with(...))` HOFs are CodegenFallback, and a
    * fully unrolled element_at sum costs ~130 expression nodes per use
    * in analysis + janino time). Idempotent per session. */
  /** N-ary union as ONE logical Union node. Folding `unionByName`
    * pairwise re-analyzes a monotonically growing plan per step —
    * O(n²) analyzer work for n children (visible in batched scan
    * planning, where n can be hundreds of sub-scans). Schemas must
    * already agree positionally (the batched-scan case: every child is
    * the same readFiles shape). */
  def unionAll(dfs: Seq[org.apache.spark.sql.DataFrame]): org.apache.spark.sql.DataFrame = {
    require(dfs.nonEmpty, "unionAll needs at least one frame")
    if (dfs.size == 1) dfs.head
    else {
      val classic = dfs.head.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      org.apache.spark.sql.classic.Dataset.ofRows(
        classic.sparkSession,
        org.apache.spark.sql.catalyst.plans.logical.Union(dfs.map(
          _.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan)))
    }
  }

  def registerVectorFunctions(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "vec_dot", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "vec_l2norm", exprs => L2Norm(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "vec_hash28", exprs => Hash28Array(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "vec_simhash16", exprs => Simhash16(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "vec_simhash_bands", exprs => SimhashMd5Bands(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "hashed_shingles", {
        case Seq(t, n) => HashedShingles(t,
          n.eval().asInstanceOf[Number].intValue())
        case args => throw new IllegalArgumentException(
          s"hashed_shingles(text, n) takes 2 arguments, got ${args.size}")
      }, "built-in")
  }

  /** Register a fused k-entry MinHash signature function with the given
    * coefficient vectors bound (SQL can't pass long-array literals
    * cheaply). */
  def registerMinHash(
      spark: org.apache.spark.sql.SparkSession, name: String,
      a: Seq[Long], b: Seq[Long], p: Long): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => MinHashSignatures(exprs(0), a, b, p), "built-in")

  /** Bloom-filter membership kernels — Spark's own runtime-filter
    * expressions (`BloomFilterAggregate` / `BloomFilterMightContain`,
    * the machinery behind `spark.sql.optimizer.runtime.bloomFilter`),
    * surfaced for [[graft.operators.Dedup.dedupAgainstCorpus]] and as
    * session SQL functions. The aggregate builds an
    * `org.apache.spark.util.sketch.BloomFilter` with map-side partial
    * merges; the membership probe is codegen-compiled. Inputs must be
    * LONG — hash first (`xxhash64`). */
  def bloomFilterAgg(values: Column, expectedItems: Long): Column =
    column(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(expression(values), expectedItems)
      .toAggregateExpression())

  /** Bounded-state bottom-k sample aggregate ([[BottomKSketchAgg]]):
    * `array<struct<h,id,v>>` of the k smallest `(h, id)` triples per
    * group — the streaming-capable quantile-sketch state. */
  def bottomKSketchAgg(h: Column, id: Column, v: Column, k: Int): Column =
    column(BottomKSketchAgg(expression(h), expression(id), expression(v), k)
      .toAggregateExpression())

  /** Per-path (max version, row count) map aggregate
    * ([[PathStatsAgg]]) — file-count-bounded state; the sidecar
    * coverage summary observed during the generation write itself. */
  def pathStatsAgg(path: Column, version: Column): Column =
    column(PathStatsAgg(expression(path), expression(version))
      .toAggregateExpression())

  def mightContain(bloom: Array[Byte], value: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal
        .create(bloom, org.apache.spark.sql.types.BinaryType),
      expression(value)))

  /** SQL surface: `bloom_filter_agg(xxhash64(x)[, items[, bits]])` and
    * `might_contain(bloom, xxhash64(x))` (bloom side must be foldable
    * or a scalar subquery — same rule as Spark's runtime filters). */
  def registerBloomFunctions(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("bloom_filter_agg", {
      case Seq(c) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
      case Seq(c, n) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n)
      case Seq(c, n, b) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n, b)
      case args => throw new IllegalArgumentException(
        s"bloom_filter_agg takes 1-3 arguments, got ${args.size}")
    }, "built-in")
    reg.createOrReplaceTempFunction("might_contain",
      exprs => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(exprs(0), exprs(1)), "built-in")
  }

  /** Build the streaming-tagged DataFrame a DSv1 `Source.getBatch` must
    * return (MicroBatchExecution asserts `isStreaming`); same move as
    * delta-spark's DeltaSource. */
  def asStreamingDataFrame(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val classicDf = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val spark = classicDf.sparkSession
    spark.internalCreateDataFrame(
      classicDf.queryExecution.toRdd, classicDf.schema, isStreaming = true)
  }
}

/** `Σ a[i]*b[i]` over two `array<double>` values, compiled by
  * whole-stage codegen to a tight primitive loop (Spark's own
  * `aggregate(zip_with(...))` HOF form is CodegenFallback: interpreted
  * lambda dispatch per element plus a materialized zipped array).
  * Accumulation is sequential in index order — bit-identical to the
  * left-fold HOF form and the oracle's index-ordered list_sum.
  *
  * NULL semantics intentionally match the HOF fold exactly, so
  * [[graft.plans.VectorKernelRule]]'s rewrite is semantics-preserving:
  * null array → null; unequal lengths → null (`zip_with` pads the
  * shorter side with nulls, poisoning the sum); any null element →
  * null. The element null checks are emitted only when the input types
  * admit nulls — packed `containsNull=false` arrays keep the branchless
  * loop. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"
  override def nullable: Boolean = true

  private def leftMayHoldNulls: Boolean = left.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }
  private def rightMayHoldNulls: Boolean = right.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val elemNullCheck =
        if (leftMayHoldNulls || rightMayHoldNulls)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $elemNullCheck
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** 28-bit md5-prefix hash of every string element of an array in one
  * codegen'd pass — replaces the CodegenFallback
  * `transform(arr, s -> conv(substring(md5(s), 1, 7), 16, 10))` lambda
  * walk. The value is the integer of the leading 7 hex digits of the
  * md5, i.e. the first 28 bits of the digest, computed with bit math
  * (no hex-string round trip): identical to the HOF form and to the
  * DuckDB oracle's `('0x' || substr(md5(s), 1, 7))::BIGINT`.
  * Null array → null; a null ELEMENT maps to a null element (as
  * `transform` does). */
case class Hash28Array(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(org.apache.spark.sql.types.StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "vec_hash28"
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Any](n)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        val d = md.digest(arr.getUTF8String(i).getBytes)
        out(i) = Hash28Array.first28Bits(d)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val md = ctx.addMutableState("java.security.MessageDigest", "graftMd5",
      v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
              |catch (java.security.NoSuchAlgorithmException e) { throw new RuntimeException(e); }
              |""".stripMargin)
    val i = ctx.freshName("i")
    val n = ctx.freshName("n")
    val out = ctx.freshName("out")
    val d = ctx.freshName("digest")
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |int $n = $v.numElements();
         |Object[] $out = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$v.isNullAt($i)) {
         |    $md.reset();
         |    byte[] $d = $md.digest($v.getUTF8String($i).getBytes());
         |    $out[$i] = Long.valueOf(org.apache.spark.sql.graftshims.Hash28Array.first28Bits($d));
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Hash28Array =
    copy(child = newChild)
}

object Hash28Array {
  /** Integer value of the md5's leading 7 hex digits = the digest's
    * first 28 bits, big-endian. */
  def first28Bits(d: Array[Byte]): Long =
    ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
      ((d(2) & 0xffL) << 4) | ((d(3) & 0xffL) >>> 4)
}

/** All `k` MinHash signature entries in one codegen'd pass over the
  * hashed-shingle array: entry j = `min_h ((a(j)*h + b(j)) % p)` —
  * replaces k separate CodegenFallback `array_min(transform(...))`
  * walks. Null array → null; null ELEMENTS are skipped (as `array_min`
  * skips the nulls `transform` produced); an empty/all-null array
  * yields null entries (array_min of nothing). */
case class MinHashSignatures(
    child: Expression, a: Seq[Long], b: Seq[Long], p: Long)
    extends UnaryExpression with ExpectsInputTypes {

  require(a.length == b.length && a.nonEmpty, "coefficient arrays must match")

  // Seq parameters (not Array) so case-class equality is structural:
  // semanticEquals/CSE/cache plan matching would always miss on
  // reference-compared Array fields.
  @transient private lazy val aArr: Array[Long] = a.toArray
  @transient private lazy val bArr: Array[Long] = b.toArray

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "vec_minhash"
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val k = a.length
    val mins = Array.fill(k)(Long.MaxValue)
    var any = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        val h = arr.getLong(i)
        var j = 0
        while (j < k) { val x = (aArr(j) * h + bArr(j)) % p; if (x < mins(j)) mins(j) = x; j += 1 }
      }
      i += 1
    }
    if (!any) new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](k))
    else org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mhA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("mhB", bArr, "long[]")
    val k = a.length
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val n = ctx.freshName("n")
    val h = ctx.freshName("h")
    val x = ctx.freshName("x")
    val mins = ctx.freshName("mins")
    val any = ctx.freshName("any")
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |int $n = $v.numElements();
         |long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |boolean $any = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$v.isNullAt($i)) {
         |    $any = true;
         |    long $h = $v.getLong($i);
         |    for (int $j = 0; $j < $k; $j++) {
         |      long $x = ($aRef[$j] * $h + $bRef[$j]) % ${p}L;
         |      if ($x < $mins[$j]) $mins[$j] = $x;
         |    }
         |  }
         |}
         |if (!$any) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[$k]);
         |} else {
         |  ${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($mins);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignatures =
    copy(child = newChild)
}

/** All `bands` sign-LSH band keys of a vector in ONE codegen'd pass:
  * element b of the result is `Σ_p (round(v·plane[b*P+p], 6) >= 0 ?
  * 1<<p : 0)` — the same arithmetic as the per-plane
  * `when(round(DotProduct(v, plane), 6) >= 0, ...)` Column spelling
  * (`java.math.BigDecimal.valueOf(x).setScale(6, HALF_UP)` is exactly
  * Spark's `Round` on DoubleType), but with the plane matrix shipped
  * once as a reference object instead of `bands × P` separate literal
  * arrays, and one Janino method instead of ~128 inlined loop bodies.
  * Null array → null; null element → null (the HOF-equivalent
  * semantics the other kernels follow).
  *
  * `planes` is indexed `[band * planesPerBand + p][dim]`; vectors
  * shorter than a plane project on the overlapping prefix (unlike
  * [[DotProduct]], which since the HOF-parity change returns null on
  * length mismatch — callers validate dims up front). */
case class BandedLshKeys(
    child: Expression, planes: Seq[Seq[Double]],
    bands: Int, planesPerBand: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(planes.length == bands * planesPerBand,
    s"need ${bands * planesPerBand} planes, got ${planes.length}")

  // Seq parameters for structural case-class equality (see
  // MinHashSignatures); dense arrays only at eval/codegen time.
  @transient private lazy val planesArr: Array[Array[Double]] =
    planes.map(_.toArray).toArray

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "vec_lsh_bands"
  override def nullable: Boolean = true

  private def mayHoldNulls: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  /** round-half-up at 6 decimals, then sign test — bit-identical to
    * `Round(proj, 6) >= 0`. */
  private def signBit(proj: Double): Boolean =
    java.math.BigDecimal.valueOf(proj)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() >= 0

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var k = 0L
      var p = 0
      while (p < planesPerBand) {
        val plane = planesArr(b * planesPerBand + p)
        val m = math.min(n, plane.length)
        var s = 0.0
        var i = 0
        while (i < m) {
          if (x.isNullAt(i)) return null
          s += x.getDouble(i) * plane(i)
          i += 1
        }
        if (signBit(s)) k |= (1L << p)
        p += 1
      }
      out(b) = k
      b += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("lshPlanes", planesArr, "double[][]")
    val b = ctx.freshName("b")
    val p = ctx.freshName("p")
    val i = ctx.freshName("i")
    val m = ctx.freshName("m")
    val s = ctx.freshName("s")
    val k = ctx.freshName("k")
    val out = ctx.freshName("out")
    val plane = ctx.freshName("plane")
    nullSafeCodeGen(ctx, ev, v => {
      val check =
        if (mayHoldNulls)
          s"if ($v.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |long[] $out = new long[$bands];
         |for (int $b = 0; $b < $bands && !${ev.isNull}; $b++) {
         |  long $k = 0L;
         |  for (int $p = 0; $p < $planesPerBand && !${ev.isNull}; $p++) {
         |    double[] $plane = $planesRef[$b * $planesPerBand + $p];
         |    int $m = java.lang.Math.min($v.numElements(), $plane.length);
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $m; $i++) {
         |      $check
         |      $s += $v.getDouble($i) * $plane[$i];
         |    }
         |    if (!${ev.isNull} &&
         |        java.math.BigDecimal.valueOf($s)
         |          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() >= 0) {
         |      $k |= (1L << $p);
         |    }
         |  }
         |  $out[$b] = $k;
         |}
         |if (!${ev.isNull}) {
         |  ${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): BandedLshKeys =
    copy(child = newChild)
}

/** L2 norm of an `array<double>` — `sqrt(Σ v[i]²)` fused in one
  * codegen'd pass. Null semantics match `sqrt(aggregate(...))`: null
  * array → null, any null element → null (checked only when the input
  * type admits element nulls). */
case class L2Norm(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_l2norm"
  override def nullable: Boolean = true

  private def mayHoldNulls: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      val e = x.getDouble(i)
      s += e * e
      i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val e = ctx.freshName("e")
      val elemNullCheck =
        if (mayHoldNulls)
          s"if ($v.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $v.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $elemNullCheck
         |  double $e = $v.getDouble($i);
         |  $s += $e * $e;
         |}
         |if (!${ev.isNull}) {
         |  ${ev.value} = java.lang.Math.sqrt($s);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): L2Norm =
    copy(child = newChild)
}

/** Hilbert curve index of a d-dimensional point (coordinates already
  * scaled to `[0, 2^bits)` longs) as ONE compiled kernel call per row.
  * Replaces the aggregate-HOF walk of [[graft.functions.Hilbert]] on
  * the clustering hot path: the HOF form is CodegenFallback — an
  * interpreted per-row lambda walk measured at ~10 µs/row (it made
  * q_hilbert3_read the suite's slowest gate) — while this expression
  * whole-stage-compiles to a single static call into the same
  * bit-twiddling walks. Bit-identical to the HOF forms by
  * construction AND by spec (HilbertSpec fuzzes native ≡ HOF ≡ the
  * driver-side reference): d = 2 runs the classic xy2d recurrence
  * ([[graft.functions.Hilbert.index2]]'s walk), d ≥ 3 Skilling's
  * transform ([[graft.functions.Hilbert.indexD]]'s) — the same routing
  * [[graft.delta.Maintenance.hilbertCluster]] always applied. Any null
  * coordinate → null (the clustering path scales through coalesce, so
  * nulls never reach it there). */
case class HilbertIndexExpr(children: Seq[Expression], bits: Int)
    extends Expression with ExpectsInputTypes {

  require(children.size >= 2 && children.size <= 6,
    s"hilbert index takes 2-6 coordinates, got ${children.size}")
  require(bits >= 1 && children.size * bits <= 62,
    s"d*bits must fit a positive long: ${children.size}*$bits > 62")

  override def inputTypes: Seq[AbstractDataType] =
    Seq.fill(children.size)(LongType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "hilbert_index"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val d = children.size
    val arr = new Array[Long](d)
    var i = 0
    while (i < d) {
      val v = children(i).eval(input)
      if (v == null) return null
      arr(i) = v.asInstanceOf[Long]
      i += 1
    }
    HilbertIndexExpr.compute(bits, arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val evals = children.map(_.genCode(ctx))
    val arr = ctx.freshName("hilbertCoords")
    val childEval = evals.map(_.code).reduce(_ + _)
    val fill = evals.zipWithIndex.map { case (e, i) =>
      s"if (${e.isNull}) { ${ev.isNull} = true; } else { $arr[$i] = ${e.value}; }"
    }.mkString("\n")
    ev.copy(code = childEval +
      code"""
         |boolean ${ev.isNull} = false;
         |long[] $arr = new long[${children.size}];
         |$fill
         |long ${ev.value} = -1L;
         |if (!${ev.isNull}) {
         |  ${ev.value} = org.apache.spark.sql.graftshims.HilbertIndexExpr.compute($bits, $arr);
         |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HilbertIndexExpr =
    copy(children = newChildren)
}

object HilbertIndexExpr {
  /** d = 2 → the classic xy2d walk, d ≥ 3 → Skilling's transform (the
    * HOF forms' routing). Mutates `coords` — callers pass a fresh
    * per-row array. */
  def compute(bits: Int, coords: Array[Long]): Long =
    if (coords.length == 2)
      graft.functions.Hilbert.xy2d(bits, coords(0), coords(1))
    else graft.functions.Hilbert.axesToIndexInPlace(bits, coords)
}

/** The whole MinHash shingle front-end — tokenize → word n-grams →
  * distinct → 28-bit md5-prefix hash — fused into ONE codegen'd kernel
  * call per row. The composed form
  * (`Hash28Array(array_distinct(wordNgrams(text, n)))`) pins the HOF
  * `transform(sequence(...))` ngram walk in the plan, which is
  * CodegenFallback: the surrounding projection drops to interpreted
  * mode, loses subexpression elimination (round 8 measured the kernel
  * re-running 16× under an element_at unroll), and materializes every
  * n-gram STRING. This kernel builds each n-gram, dedups, and hashes
  * in one compiled pass — and because it is codegen-capable, downstream
  * projections stay in whole-stage codegen where CSE applies.
  *
  * Bit-identical semantics to the composed form (MinHashShingleSpec
  * fuzzes the equivalence): single-space tokenizer keeping trailing
  * empties (Spark `split(text, " ")` = Java split limit -1), empty
  * array when fewer than n tokens, n-grams joined with single spaces,
  * first-occurrence-order distinct on the n-gram STRINGS (dedup before
  * hashing — a 28-bit hash collision must keep both spellings' single
  * shared value exactly as the composed form does), md5-first-28-bits
  * per surviving n-gram. Null text → null. */
case class HashedShingles(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(org.apache.spark.sql.types.StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashed_shingles"
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(v: Any): Any =
    HashedShingles.compute(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      s"${ev.value} = org.apache.spark.sql.graftshims.HashedShingles.compute($t, $n);"
    })

  override protected def withNewChildInternal(newChild: Expression): HashedShingles =
    copy(child = newChild)
}

object HashedShingles {
  def compute(text: org.apache.spark.unsafe.types.UTF8String,
      n: Int): ArrayData = {
    // Java split with limit -1 = Spark's split(text, " "): single-space
    // regex, trailing empty tokens kept ("a b " → [a, b, ""])
    val toks = text.toString.split(" ", -1)
    if (toks.length < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Long](0))
    // distinct on the n-gram STRING, first-occurrence order — exactly
    // array_distinct before hashing
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(i + k))
        k += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Long](seen.size())
    val md = java.security.MessageDigest.getInstance("MD5")
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) {
      md.reset()
      out(j) = Hash28Array.first28Bits(
        md.digest(it.next().getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

/** The first `k` elements of `array_sort(arr)` (ascending, nulls last)
  * in one codegen'd pass — replaces `slice(array_sort(hs), 1, k)`,
  * whose `array_sort` is a CodegenFallback higher-order function: one
  * occurrence in a projection drops the WHOLE projection out of
  * whole-stage codegen, and each interpreted evaluation pays the boxed
  * lambda comparator per element comparison (the containment anchor
  * stage's dominant cost at round-13 profile). Primitive
  * `java.util.Arrays.sort` on the non-null values instead; value- and
  * order-identical to the composed form on every input
  * (BottomKExprSpec). Null array → null. */
case class BottomK(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(k >= 1, s"k must be >= 1, got $k")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = child.dataType match {
    case ArrayType(_, cn) => ArrayType(LongType, containsNull = cn)
    case _ => ArrayType(LongType)
  }
  override def prettyName: String = "vec_bottomk"
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any =
    BottomK.compute(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      s"${ev.value} = org.apache.spark.sql.graftshims.BottomK.compute($v, $k);"
    })

  override protected def withNewChildInternal(newChild: Expression): BottomK =
    copy(child = newChild)
}

object BottomK {
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    var nulls = 0
    var i = 0
    while (i < n) { if (arr.isNullAt(i)) nulls += 1; i += 1 }
    val m = math.min(k, n)
    if (nulls == 0) {
      val vals = arr.toLongArray()
      java.util.Arrays.sort(vals)
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        java.util.Arrays.copyOfRange(vals, 0, m))
    } else {
      // array_sort's default comparator orders nulls LAST; only a
      // shorter-than-k non-null prefix lets them into the slice.
      val vals = new Array[Long](n - nulls)
      var j = 0
      i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) { vals(j) = arr.getLong(i); j += 1 }
        i += 1
      }
      java.util.Arrays.sort(vals)
      val out = new Array[Any](m)
      i = 0
      while (i < m) { out(i) = if (i < vals.length) vals(i) else null; i += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }
}

/** All `bands` MinHash band-bucket keys in one codegen'd pass over the
  * signature array: element b = the `rowsPerBand` signature entries of
  * band b cast to decimal strings and joined with "," (null entries
  * skipped, exactly as `concat_ws` skips them — an empty/all-null
  * signature yields "" keys, never null). Replaces the
  * `aggregate(sequence(...))` fold ([[graft.operators.MinHashLsh
  * .bandKeysOf]]'s composed form, kept as the BandKeysExprSpec
  * cross-check), which is a CodegenFallback HOF: it forced the whole
  * prior-side projection interpreted, where the md5-shingle + minhash
  * kernel re-evaluated once per reference (no subexpression
  * elimination outside codegen) — the dominant cost of every
  * LSH-index create/refresh and live-prior dedup pass. A NULL
  * signature array also yields `bands` empty-string keys — identical
  * to the composed form (`element_at(null, i)` → null, all skipped) —
  * so this expression is never null. */
case class MinHashBandKeys(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(bands >= 1 && rowsPerBand >= 1,
    s"bands/rowsPerBand must be >= 1, got $bands/$rowsPerBand")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "vec_bandkeys"
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    MinHashBandKeys.compute(
      v.asInstanceOf[ArrayData], bands, rowsPerBand)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        |${c.code}
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        |  org.apache.spark.sql.graftshims.MinHashBandKeys.compute(
        |    ${c.isNull} ? null : ${c.value}, $bands, $rowsPerBand);
        |""".stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBandKeys =
    copy(child = newChild)
}

object MinHashBandKeys {
  /** `sig` may be null (treated as all-null entries — the composed
    * form's `element_at(null, i)` → skipped). */
  def compute(sig: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val n = if (sig == null) 0 else sig.numElements()
    val out = new Array[Any](bands)
    val sb = new java.lang.StringBuilder()
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      var first = true
      var r = 0
      while (r < rowsPerBand) {
        val idx = b * rowsPerBand + r
        if (idx < n && !sig.isNullAt(idx)) {
          if (!first) sb.append(',')
          sb.append(sig.getLong(idx))
          first = false
        }
        r += 1
      }
      out(b) = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `Σ (a[i]-b[i])²` over two `array<double>` values — the squared-L2
  * sibling of [[DotProduct]], replacing the CodegenFallback
  * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0.0, acc+x)` fold
  * on the PQ/ANN hot paths (k-means assignment, exact re-rank).
  * Accumulation is sequential in index order — bit-identical to the
  * left fold and the oracle's index-ordered list_sum. NULL semantics
  * match the fold exactly: null array → null; unequal lengths → null
  * (zip_with pads with nulls, poisoning the sum); any null element →
  * null. */
case class L2SqDist(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_l2sq"
  override def nullable: Boolean = true

  private def leftMayHoldNulls: Boolean = left.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }
  private def rightMayHoldNulls: Boolean = right.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getDouble(i) - y.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      val elemNullCheck =
        if (leftMayHoldNulls || rightMayHoldNulls)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $elemNullCheck
         |    double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $s += $d * $d;
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SqDist =
    copy(left = newLeft, right = newRight)
}

/** Round-4 squared-L2 distances from one slice of a vector to EVERY
  * centroid of a codebook, in ONE codegen'd pass — replaces the PQ
  * encode/probe spelling `transform(bookLit, c -> round(l2sq(
  * asDouble(slice(vec, off+1, dsub)), c), 4))`, a CodegenFallback HOF
  * whose one occurrence dropped the whole corpus-encode projection out
  * of whole-stage codegen (and with it subexpression elimination — the
  * round-13-profiled dominant cost of every PQ/ANN gate). The centroid
  * matrix ships once as a codegen reference object.
  *
  * Value-identical to the composed form on every input
  * (PqKernelSpec): element i of the result is
  * `round(Σ_d (vec[off+d] − c_i[d])², 4)` with HALF_UP rounding
  * (Spark's Round on double), accumulated in index order; a slice
  * shorter than the centroid (vector too short), a slice longer than
  * it (impossible here — centroids share one length), or any null
  * element poisons THAT distance to null (zip_with padding semantics);
  * a NULL vector yields k null distances (the outer transform runs
  * over the non-null book literal), so the expression itself is never
  * null. */
case class CentroidDists(
    child: Expression, centroids: Seq[Seq[Double]], offset: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  require(centroids.nonEmpty, "codebook must not be empty")
  require(centroids.forall(_.length == centroids.head.length),
    "centroids must share one dimensionality")
  require(offset >= 0, s"offset must be >= 0, got $offset")

  // Seq parameters for structural case-class equality (see
  // MinHashSignatures); dense arrays only at eval/codegen time.
  @transient private lazy val centArr: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "vec_centroid_dists"
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    CentroidDists.compute(
      child.eval(input).asInstanceOf[ArrayData], centArr, offset)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val centRef = ctx.addReferenceObj("pqCentroids", centArr, "double[][]")
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        |${c.code}
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        |  org.apache.spark.sql.graftshims.CentroidDists.compute(
        |    ${c.isNull} ? null : ${c.value}, $centRef, $offset);
        |""".stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidDists =
    copy(child = newChild)
}

object CentroidDists {
  /** Spark's `Round(d, 4)` on DoubleType: NaN/Infinity pass through,
    * otherwise HALF_UP at 4 decimals via BigDecimal. */
  def round4(s: Double): Double =
    if (s.isNaN || s.isInfinite) s
    else java.math.BigDecimal.valueOf(s)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  def compute(vec: ArrayData, cents: Array[Array[Double]],
      offset: Int): ArrayData = {
    val k = cents.length
    val out = new Array[Any](k)
    if (vec == null)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    val dsub = cents(0).length
    val n = vec.numElements()
    // slice(vec, offset+1, dsub) yields fewer than dsub elements when
    // the vector is short — zip_with then pads with nulls and the fold
    // poisons to null, exactly like a null element inside the slice
    val whole = offset + dsub <= n
    var ci = 0
    while (ci < k) {
      if (whole) {
        val c = cents(ci)
        var s = 0.0
        var i = 0
        var ok = true
        while (ok && i < dsub) {
          if (vec.isNullAt(offset + i)) ok = false
          else {
            val d = vec.getDouble(offset + i) - c(i)
            s += d * d
            i += 1
          }
        }
        if (ok) out(ci) = java.lang.Double.valueOf(round4(s))
      }
      ci += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `Σ (a[i]-b[i])²` over two `array<long>` code vectors as one exact
  * BIGINT — the integer sibling of [[L2SqDist]], replacing the SQ
  * serving path's CodegenFallback `aggregate(zip_with(...), 0L, ...)`
  * fold on the query×candidate pair loop. Same NULL semantics as the
  * fold (null array / unequal lengths / null element → null). */
case class CodeDistLong(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_codedist"
  override def nullable: Boolean = true

  private def leftMayHoldNulls: Boolean = left.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }
  private def rightMayHoldNulls: Boolean = right.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getLong(i) - y.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      val elemNullCheck =
        if (leftMayHoldNulls || rightMayHoldNulls)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $elemNullCheck
         |    long $d = $a.getLong($i) - $b.getLong($i);
         |    $s += $d * $d;
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CodeDistLong =
    copy(left = newLeft, right = newRight)
}

/** Scalar-quantization encode — `code[i] = clamp(⌊(x[i] − mn[i]) ·
  * (levels−1) / (mx[i] − mn[i])⌋, 0, levels−1)`, degenerate dims
  * (mn = mx) encoding 0 — in one codegen'd pass, replacing the
  * CodegenFallback `zip_with(vec, bounds, ...)` spelling
  * ([[graft.operators.Sq.sqCodes]]'s composed form, kept as the
  * SqKernelSpec cross-check). Operation order `((x − mn) · s) / w`
  * matches the composed form and the oracle exactly.
  *
  * NULL semantics replicate the composed zip_with/when/least/greatest
  * stack on EVERY input (SqKernelSpec fuzzes it): null vector → null;
  * output length = max(|vec|, dims); a null/missing element or a
  * missing bound falls through `least`'s null-skipping to the
  * levels−1 clamp (never a null element) unless its dim is degenerate
  * (mn = mx, NaN-equal like Spark's `===`), which yields 0 first. */
case class SqEncode(
    child: Expression, mns: Seq[Double], mxs: Seq[Double], levels: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  require(levels > 1, s"levels must be > 1, got $levels")
  require(mns.length == mxs.length, "bounds arrays must match")

  @transient private lazy val mnArr: Array[Double] = mns.toArray
  @transient private lazy val mxArr: Array[Double] = mxs.toArray

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "vec_sq_encode"
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any =
    SqEncode.compute(v.asInstanceOf[ArrayData], mnArr, mxArr, levels)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mnRef = ctx.addReferenceObj("sqMns", mnArr, "double[]")
    val mxRef = ctx.addReferenceObj("sqMxs", mxArr, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      s"""${ev.value} = org.apache.spark.sql.graftshims.SqEncode.compute(
         |  $v, $mnRef, $mxRef, $levels);""".stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SqEncode =
    copy(child = newChild)
}

object SqEncode {
  def compute(vec: ArrayData, mns: Array[Double], mxs: Array[Double],
      levels: Int): ArrayData = {
    val dims = mns.length
    val vn = vec.numElements()
    val n = math.max(vn, dims)
    val hi = (levels - 1).toLong
    val scale = (levels - 1).toDouble
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val boundOk = i < dims
      // Spark `===` double equality: NaN equals NaN, -0.0 equals 0.0
      val degenerate = boundOk && {
        val mn = mns(i); val mx = mxs(i)
        (java.lang.Double.isNaN(mn) && java.lang.Double.isNaN(mx)) || mn == mx
      }
      if (degenerate) out(i) = 0L
      else if (!boundOk || i >= vn || vec.isNullAt(i)) {
        // composed form: a null operand slides through least/greatest's
        // null-skipping to the upper clamp
        out(i) = hi
      } else {
        val f = math.floor(
          (vec.getDouble(i) - mns(i)) * scale / (mxs(i) - mns(i))).toLong
        out(i) = math.max(0L, math.min(hi, f))
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

/** Element-wise scale of a vector by a fixed weight profile —
  * `out[i] = vec[i] · (i < |w| ? w[i] : default)` — in one codegen'd
  * pass, replacing the CodegenFallback indexed-lambda
  * `transform(vec, (x, i) -> x * CASE ... END)` (the OPQ gate's skew
  * projection; kept as the VecScaleSpec cross-check). The HOF form
  * did more than run interpreted: 64 `element_at` references to it in
  * the downstream permutation projection re-evaluated the whole
  * lambda walk per reference (no subexpression elimination outside
  * codegen). Null element → null element; null vector → null. */
case class VecScale(
    child: Expression, weights: Seq[Double], defaultWeight: Double)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  @transient private lazy val wArr: Array[Double] = weights.toArray

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = child.dataType match {
    case ArrayType(_, cn) => ArrayType(DoubleType, containsNull = cn)
    case _ => ArrayType(DoubleType)
  }
  override def prettyName: String = "vec_scale"
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any =
    VecScale.compute(v.asInstanceOf[ArrayData], wArr, defaultWeight)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("scaleW", wArr, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      s"""${ev.value} = org.apache.spark.sql.graftshims.VecScale.compute(
         |  $v, $wRef, $defaultWeight);""".stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): VecScale =
    copy(child = newChild)
}

object VecScale {
  def compute(vec: ArrayData, w: Array[Double],
      defaultWeight: Double): ArrayData = {
    val n = vec.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!vec.isNullAt(i))
        out(i) = java.lang.Double.valueOf(
          vec.getDouble(i) * (if (i < w.length) w(i) else defaultWeight))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** 16-bit SimHash over an `array<long>` of token hashes in ONE
  * codegen'd pass — bit j of the result is set iff strictly more than
  * half the NON-NULL hashes have bit j set (null elements count toward
  * the denominator but never the numerator — `filter`'s null-predicate
  * drop). Replaces the `aggregate(transform(sequence(0,15), j ->
  * ...size(filter(...))...))` spelling (CodegenFallback, 16
  * interpreted passes over the array per row; kept in
  * Round14KernelSpec as the cross-check). The composed bit test is
  * `floor(v / pow(2, j)) % 2 = 1`, which for the non-negative < 2^53
  * hash domain equals `(v >> j) & 1` — negative or huge values fall
  * back to the exact floating walk so the kernel is value-identical
  * on EVERY input. Null array → 0 (the fold's when(NULL)→0 arms). */
case class Simhash16(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_simhash16"
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    Simhash16.compute(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        |${c.code}
        |long ${ev.value} = org.apache.spark.sql.graftshims.Simhash16.compute(
        |  ${c.isNull} ? null : ${c.value});
        |""".stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Simhash16 =
    copy(child = newChild)
}

object Simhash16 {
  /** The composed form's bit test on one value: `floor(v / 2^j) % 2 = 1`
    * (kept exact for any long — shift only when provably equal). */
  private def bitSet(v: Long, j: Int): Boolean =
    if (v >= 0) ((v >> j) & 1L) == 1L
    else {
      val q = math.floor(v.toDouble / java.lang.Math.pow(2.0, j.toDouble)).toLong
      q % 2 == 1
    }

  def compute(hs: ArrayData): Long = {
    if (hs == null) return 0L
    val n = hs.numElements()
    val counts = new Array[Int](16)
    var i = 0
    while (i < n) {
      if (!hs.isNullAt(i)) {
        val v = hs.getLong(i)
        var j = 0
        while (j < 16) { if (bitSet(v, j)) counts(j) += 1; j += 1 }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 16) { if (2 * counts(j) > n) out |= (1L << j); j += 1 }
    out
  }
}

/** The SimHash near-dup gate's whole per-doc fingerprint — md5 per
  * token, four disjoint 16-bit digest slices as band hashes, per-band
  * 16-bit majority vector — fused into ONE codegen'd pass over the
  * token array (the composed spelling runs FIVE interpreted HOF walks
  * per row: one md5 transform plus four aggregate/filter majorities;
  * Round14KernelSpec pins value identity). Band b's per-token hash is
  * the integer of md5 hex chars [4b, 4b+4) = digest bits [16b,
  * 16b+16); a null token contributes to every band's denominator but
  * no numerator (transform maps null → null, filter drops it). Null
  * array → [0, 0, 0, 0] (each band's fold collapses like
  * [[Simhash16]]). */
case class SimhashMd5Bands(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(org.apache.spark.sql.types.StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "vec_simhash_bands"
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    SimhashMd5Bands.compute(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        |${c.code}
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        |  org.apache.spark.sql.graftshims.SimhashMd5Bands.compute(
        |    ${c.isNull} ? null : ${c.value});
        |""".stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): SimhashMd5Bands =
    copy(child = newChild)
}

object SimhashMd5Bands {
  def compute(toks: ArrayData): ArrayData = {
    val n = if (toks == null) 0 else toks.numElements()
    val total = n
    // counts(b)(j): tokens whose band-b hash has bit j set
    val counts = Array.ofDim[Int](4, 16)
    if (toks != null) {
      val md = java.security.MessageDigest.getInstance("MD5")
      var i = 0
      while (i < n) {
        if (!toks.isNullAt(i)) {
          md.reset()
          val d = md.digest(toks.getUTF8String(i).getBytes)
          var b = 0
          while (b < 4) {
            // hex chars [4b, 4b+4) = digest bytes [2b, 2b+2), big-endian
            val h = ((d(2 * b) & 0xffL) << 8) | (d(2 * b + 1) & 0xffL)
            var j = 0
            while (j < 16) {
              if (((h >> j) & 1L) == 1L) counts(b)(j) += 1
              j += 1
            }
            b += 1
          }
        }
        i += 1
      }
    }
    val out = new Array[Long](4)
    var b = 0
    while (b < 4) {
      var v = 0L
      var j = 0
      while (j < 16) { if (2 * counts(b)(j) > total) v |= (1L << j); j += 1 }
      out(b) = v
      b += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

/** md5-prefix hashes of a text's word n-grams in ONE codegen'd pass —
  * the [[HashedShingles]] shape generalized for the other gram feeds:
  * `hexDigits` picks the 28-bit (7) or 60-bit (15) md5 prefix, no
  * dedup (callers distinct where the composed form did), and `minOne`
  * replicates the curation feeds' `greatest(len-n+1, 1)` truncation
  * (one gram of ALL tokens when the doc is shorter than n). With
  * minOne=false a shorter-than-n doc yields an empty array — callers
  * there pre-filter on token count, so the descending-sequence edge of
  * the composed spelling is unreachable (Round14KernelSpec pins both
  * variants on the composed forms' shared domain). Null text → null. */
case class NgramHashes(
    child: Expression, n: Int, hexDigits: Int, minOne: Boolean)
    extends UnaryExpression with ExpectsInputTypes {

  require(n >= 1, s"ngram width must be >= 1, got $n")
  require(hexDigits == 7 || hexDigits == 15,
    s"hexDigits must be 7 (hash28) or 15 (hash60), got $hexDigits")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(org.apache.spark.sql.types.StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_hashes"
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(v: Any): Any =
    NgramHashes.compute(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      n, hexDigits, minOne)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      s"""${ev.value} = org.apache.spark.sql.graftshims.NgramHashes.compute(
         |  $t, $n, $hexDigits, $minOne);""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NgramHashes =
    copy(child = newChild)
}

object NgramHashes {
  /** Integer value of the md5's leading 15 hex digits = the digest's
    * first 60 bits, big-endian (TextFunctions.hash60's arithmetic). */
  def first60Bits(d: Array[Byte]): Long =
    ((d(0) & 0xffL) << 52) | ((d(1) & 0xffL) << 44) |
      ((d(2) & 0xffL) << 36) | ((d(3) & 0xffL) << 28) |
      ((d(4) & 0xffL) << 20) | ((d(5) & 0xffL) << 12) |
      ((d(6) & 0xffL) << 4) | ((d(7) & 0xffL) >>> 4)

  def compute(text: org.apache.spark.unsafe.types.UTF8String,
      n: Int, hexDigits: Int, minOne: Boolean): ArrayData = {
    val toks = text.toString.split(" ", -1)
    val count =
      if (toks.length >= n) toks.length - n + 1
      else if (minOne) 1
      else 0
    val out = new Array[Long](count)
    if (count > 0) {
      val md = java.security.MessageDigest.getInstance("MD5")
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i < count) {
        sb.setLength(0)
        // slice(t, i+1, n) clamps at the array end — the minOne
        // truncated gram is simply every token
        val hi = math.min(i + n, toks.length)
        var k = i
        while (k < hi) {
          if (k > i) sb.append(' ')
          sb.append(toks(k))
          k += 1
        }
        md.reset()
        val d = md.digest(
          sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out(i) =
          if (hexDigits == 7) Hash28Array.first28Bits(d) else first60Bits(d)
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

/** Word n-grams of a single-space-tokenized text — the UN-hashed,
  * UN-deduped front half of [[HashedShingles]] as its own codegen'd
  * kernel, for the feeds that need the gram STRINGS (CMS terms, HLL
  * keys, DSIR bucket hashing, kn-bigram pairs). Replaces the
  * CodegenFallback `transform(sequence(1, size(t)-(n-1)), i ->
  * concat_ws(' ', element_at...))` walk
  * ([[graft.functions.TextFunctions.wordNgramsComposed]], kept as the
  * WordNgramsSpec cross-check), which forced every gram feed's
  * projection interpreted. Bit-identical semantics: single-space
  * tokenizer keeping trailing empties, empty array when fewer than n
  * tokens, grams joined with single spaces, null text → null. */
case class WordNgrams(child: Expression, n: Int, minOne: Boolean = false)
    extends UnaryExpression with ExpectsInputTypes {

  require(n >= 1, s"ngram width must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(org.apache.spark.sql.types.StringType)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(v: Any): Any =
    WordNgrams.compute(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n, minOne)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      s"${ev.value} = org.apache.spark.sql.graftshims.WordNgrams.compute($t, $n, $minOne);"
    })

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

object WordNgrams {
  def compute(text: org.apache.spark.unsafe.types.UTF8String,
      n: Int, minOne: Boolean): ArrayData = {
    // Java split with limit -1 = Spark's split(text, " "): single-space
    // regex, trailing empty tokens kept (the HashedShingles contract)
    val toks = text.toString.split(" ", -1)
    val count =
      if (toks.length >= n) toks.length - n + 1
      // the gopher/curation feeds' `greatest(len-n+1, 1)` truncation:
      // one gram of ALL tokens when the doc is shorter than n
      else if (minOne) 1
      else 0
    val out = new Array[Any](count)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < count) {
      sb.setLength(0)
      val hi = math.min(i + n, toks.length)
      var k = i
      while (k < hi) {
        if (k > i) sb.append(' ')
        sb.append(toks(k))
        k += 1
      }
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
