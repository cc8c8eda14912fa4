package graft.tools

import org.apache.spark.sql.functions._

/** Self-checking plan audit for the round-9 kernels: the fused shingle
  * front-end and the compiled Hilbert index must sit INSIDE a
  * WholeStageCodegen span (no CodegenFallback anywhere in their
  * stage), and the minhash signature projection over the fused kernel
  * must CSE (one kernel evaluation feeding both hs and the unrolls). */
object KernelPlanCheck {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.01")
    val s = graft.GraftSession.local()
    graft.queries.Queries.registerViews(s, sf)
    var failures = 0
    def check(name: String)(ok: Boolean, detail: => String): Unit = {
      println(f"$name%-46s ${if (ok) "OK" else "FAIL"}")
      if (!ok) { failures += 1; println(detail) }
    }

    // 1. fused shingles: the projection whole-stage-compiles
    val shingled = s.table("documents").select(col("doc_id"),
      graft.functions.VectorExpressions.hashedShingles(col("text"), 3).as("hs"))
    val p1 = shingled.queryExecution.executedPlan.toString
    // whole-stage spans print as "*(n) Op" in executedPlan strings
    check("hashedShingles inside WholeStageCodegen")(
      p1.contains("*("), p1)
    // the OLD composed form, for contrast, must show the fallback
    val composed = s.table("documents").select(
      graft.functions.VectorExpressions.hash28Array(array_distinct(
        graft.functions.TextFunctions.wordNgramsComposed(col("text"), 3))).as("hs"))
    val p1b = composed.queryExecution.executedPlan.toString
    // the scan keeps its own codegen span; the CONTRAST is the Project
    // carrying the HOF pipeline sitting OUTSIDE any span (no "*(" on
    // its own line)
    val hofProject = p1b.linesIterator.find(_.contains("Project")).getOrElse("")
    check("composed HOF form's Project falls back (the contrast)")(
      hofProject.nonEmpty && !hofProject.trim.startsWith("*("), p1b)

    // 2. shingles + signature + 16 unrolls: still ONE codegen stage,
    // and subexpression elimination keeps the kernel evaluated once —
    // observable as ONE generated subExpr function, not 17 kernel calls
    val sig = graft.functions.VectorExpressions.minhashSignatures(
      graft.functions.VectorExpressions.hashedShingles(col("text"), 3),
      graft.queries.Queries.MinhashA, graft.queries.Queries.MinhashB,
      graft.queries.Queries.MinhashP)
    val unrolled = s.table("documents").select(
      (0 until 16).map(j => element_at(sig, j + 1).as(s"mh$j")): _*)
    val p2 = unrolled.queryExecution.executedPlan.toString
    check("16-way signature unroll whole-stage-compiles")(
      p2.contains("*("), p2)
    val gen = org.apache.spark.sql.execution.debug.codegenString(
      unrolled.queryExecution.executedPlan)
    val kernelCalls = "HashedShingles\\.compute".r.findAllIn(gen).size
    check(s"CSE: fused kernel compiled ONCE in codegen ($kernelCalls call site)")(
      kernelCalls == 1, s"expected 1 compute() call site, got $kernelCalls")

    // 3. hilbert index over long coords: codegen'd, one compute call
    val hil = s.table("lineitem").select(
      graft.functions.VectorExpressions.hilbertIndex(
        Seq(col("l_orderkey"), col("l_partkey"), col("l_suppkey")), 16).as("h"))
    val p3 = hil.queryExecution.executedPlan.toString
    check("hilbertIndex inside WholeStageCodegen")(
      p3.contains("*("), p3)

    println(if (failures == 0) "ALL KERNEL PLAN CHECKS PASSED"
      else s"$failures CHECK(S) FAILED")
    if (failures > 0) sys.exit(1)
  }
}
