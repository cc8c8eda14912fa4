package graft.delta

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Min/max data-skipping predicate compiler.
  *
  * Reference semantics: `filter_to_sql` / `filters_to_sql`
  * (/root/reference/levi/__init__.py:27-47) rewrite a `(col, op, val)`
  * predicate into the interval-overlap test over a file's `[min, max]`
  * stats — a file may contain matching rows iff its interval intersects
  * the predicate. The reference only *simulates* skipping
  * (`skipped_stats`); here the same expression is promoted to execution:
  * [[prunedFiles]] picks the surviving file set fed to the parquet scan,
  * so skipping actually prunes IO (SURVEY.md §4).
  */
object Skipping {

  /** One `(column, op, value)` conjunct over the flattened adds frame
    * (`min.<col>` / `max.<col>` columns). Unknown op →
    * IllegalArgumentException (mirrors the reference's ValueError). */
  def filterToColumn(c: String, op: String, value: Any): Column = {
    val lo = col(s"min.$c")
    val hi = col(s"max.$c")
    op match {
      case "=" => lo <= lit(value) && hi >= lit(value)
      case "<" => lo < lit(value)
      case "<=" => lo <= lit(value)
      case ">" => hi > lit(value)
      case ">=" => hi >= lit(value)
      case other => unsupported(other)
    }
  }

  /** `lhs op value` on one row (or one partition value). */
  private def compare(lhs: Column, op: String, value: Any): Column =
    op match {
      case "=" => lhs === lit(value)
      case "<" => lhs < lit(value)
      case "<=" => lhs <= lit(value)
      case ">" => lhs > lit(value)
      case ">=" => lhs >= lit(value)
      case other => unsupported(other)
    }

  private def unsupported(op: String): Nothing =
    throw new IllegalArgumentException(
      s"filter operator '$op' is not supported (=, <, <=, >, >=)")

  /** Conjunction of filters (the reference joins with " and "). */
  def filtersToColumn(filters: Seq[(String, String, Any)]): Column =
    filters.map { case (c, op, v) => filterToColumn(c, op, v) }
      .reduceLeft(_ && _)

  /** String form, for parity with `filter_to_sql`'s output contract. */
  def filterToSql(c: String, op: String, value: Any): String = {
    val v = value match {
      case s: String => s"'$s'"
      case other => other.toString
    }
    op match {
      case "=" => s"(`min.$c` <= $v and `max.$c` >= $v)"
      case "<" => s"(`min.$c` < $v)"
      case "<=" => s"(`min.$c` <= $v)"
      case ">" => s"(`max.$c` > $v)"
      case ">=" => s"(`max.$c` >= $v)"
      case other => unsupported(other)
    }
  }

  def filtersToSql(filters: Seq[(String, String, Any)]): String =
    filters.map { case (c, op, v) => filterToSql(c, op, v) }.mkString(" and ")

  /** Execute skipping: the active files that may contain matches —
    * partition columns prune EXACTLY on the log's `partitionValues`
    * (delta-style partition pruning: a partition predicate eliminates
    * whole partitions before any IO), other columns prune on the
    * min/max stats interval (files without stats are conservatively
    * kept — an absent min/max proves nothing). */
  def prunedFiles(snap: Snapshot, filters: Seq[(String, String, Any)]): Seq[AddFile] = {
    if (filters.isEmpty) return snap.planFiles()
    val partCols = snap.metadata.partitionColumns.toSet
    val (partFilters, statsFilters) = filters.partition(f => partCols.contains(f._1))
    val partPredicate: Option[Column] =
      if (partFilters.isEmpty) None
      else Some(partFilters.map { case (c, op, v) =>
        compare(partValue(snap, c), op, v)
      }.reduceLeft(_ && _))
    val statsPredicate: Option[Column] =
      if (statsFilters.isEmpty) None
      else {
        // addsFlat exposes stats under LOGICAL names (it casts the
        // physical-keyed JSON positionally), so logical filter names are
        // correct here even across column mapping and ALTER RENAME
        val mayMatch = filtersToColumn(statsFilters)
        val haveStats = statsFilters.map { case (c, _, _) =>
          col(s"min.$c").isNotNull && col(s"max.$c").isNotNull
        }.reduceLeft(_ && _)
        Some(!haveStats || mayMatch)
      }
    snap.planFilesPruned(
      (partPredicate.toSeq ++ statsPredicate.toSeq).reduceLeft(_ && _))
  }

  /** A partition column's value in [[Snapshot.addsFlat]], cast from
    * its string encoding to the declared type. */
  private def partValue(snap: Snapshot, c: String): Column =
    element_at(col("partition_values"), snap.physicalNameOf(c))
      .cast(snap.schema(c).dataType)

  /** Best-effort translation of a ROW predicate (an arbitrary
    * `Column`, e.g. a DELETE/UPDATE WHERE clause) into a FILE-pruning
    * predicate over [[Snapshot.addsFlat]] (`min.<c>` / `max.<c>` /
    * `null_count.<c>` / `partition_values`). Soundness rule: a file may
    * be excluded only when NO row in it can satisfy the predicate —
    * untranslatable conjuncts prune nothing (dropped from an AND), an
    * untranslatable OR branch poisons the whole OR, files without stats
    * are kept. Returns None when nothing is translatable (caller plans
    * over all files). This is what lets a targeted mutation on a
    * 10⁷-file table plan against the handful of files whose stats
    * interval straddles the predicate. */
  def pruningPredicate(
      snap: Snapshot, rowPredicate: Column): Option[Column] = try {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    val partCols = snap.metadata.partitionColumns.toSet
    val statsFields: Set[String] = {
      val mm = Snapshot.statsSchema(snap.schema)("minValues").dataType
      mm match {
        case s: org.apache.spark.sql.types.StructType => s.fieldNames.toSet
        case _ => Set.empty
      }
    }
    // ---- generated-column partition pruning ------------------------------
    // A table partitioned on a GENERATED column g = f(base) can prune
    // partitions from predicates on `base` (the delta-spark
    // generated-partition-column optimization; the classic shape is
    // day = CAST(ts AS DATE)). Equality maps through ANY deterministic
    // f (evaluate f at the literal); ranges map only through the known
    // MONOTONIC shapes (cast-to-date, to_date, year, date_trunc/trunc)
    // where lo <= base <= hi implies f(lo) <= g <= f(hi).
    val spark0 = snap.log.spark
    val genPartsByBase: Map[String, Seq[(String, String, Boolean)]] =
      GeneratedColumns.of(snap.schema)
        .filter { case (name, _) => partCols.contains(name) }
        .toSeq
        .flatMap { case (name, exprStr) =>
          try {
            val pe = spark0.sessionState.sqlParser.parseExpression(exprStr)
            val attrs = pe.collect {
              case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                a.name
            }.distinct
            val monotonicShape = pe match {
              case c: ce.Cast =>
                c.dataType == org.apache.spark.sql.types.DateType
              case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
                Set("year", "to_date", "date_trunc", "trunc")
                  .contains(f.nameParts.last.toLowerCase(java.util.Locale.ROOT))
              case _ => false
            }
            if (attrs.size == 1) {
              // the shape alone is not enough: to_date/CAST over a
              // STRING base is NOT monotonic in the base's string
              // order (e.g. 'MM/dd/yyyy' text), so range mapping
              // would prune files that contain matching rows. Only a
              // temporal base orders consistently with the derived
              // value; anything else falls back to equality-only.
              val baseType =
                try snap.schema(attrs.head).dataType
                catch { case scala.util.control.NonFatal(_) =>
                  org.apache.spark.sql.types.NullType }
              val monotonic = monotonicShape &&
                (baseType == org.apache.spark.sql.types.DateType ||
                  baseType == org.apache.spark.sql.types.TimestampType ||
                  baseType == org.apache.spark.sql.types.TimestampNTZType)
              Some(attrs.head -> (name, exprStr, monotonic))
            } else None
          } catch { case scala.util.control.NonFatal(_) => None }
        }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    def evalGenAt(exprStr: String, base: String, v: Any): Option[Any] =
      try Option(spark0.range(1)
        .select(lit(v).cast(snap.schema(base).dataType).as(base))
        .selectExpr(exprStr).head().get(0))
      catch { case scala.util.control.NonFatal(_) => None }
    /** extra partition conjunct derived from `base op v` via the
      * generated partition columns of `base` (true = no constraint) */
    def genConstraint(base: String, op: String, v: Any): Column =
      genPartsByBase.getOrElse(base, Nil).map { case (g, exprStr, mono) =>
        lazy val fv = evalGenAt(exprStr, base, v)
        op match {
          case "=" =>
            fv.map(x => partValue(snap, g) === lit(x)).getOrElse(lit(true))
          case "<" | "<=" if mono =>
            fv.map(x => partValue(snap, g) <= lit(x)).getOrElse(lit(true))
          case ">" | ">=" if mono =>
            fv.map(x => partValue(snap, g) >= lit(x)).getOrElse(lit(true))
          case _ => lit(true)
        }
      }.foldLeft(lit(true))(_ && _)
    def attrOf(e: ce.Expression): Option[String] = (e match {
      case a: ce.AttributeReference => Some(a.name)
      case _ => None
    }).filter(c => partCols.contains(c) || statsFields.contains(c) ||
      genPartsByBase.contains(c))
    def litOf(e: ce.Expression): Option[Any] = e match {
      case l: ce.Literal if l.value != null =>
        Some(CatalystTypeConverters.convertToScala(l.value, l.dataType))
      // the analyzer's implicit type-coercion cast around a literal is
      // itself foldable — evaluate it to the coerced value
      case c: ce.Cast if c.foldable =>
        Option(c.eval(org.apache.spark.sql.catalyst.InternalRow.empty))
          .map(v => CatalystTypeConverters.convertToScala(v, c.dataType))
      case _ => None
    }
    def cmp(c: String, op: String, v: Any): Column =
      if (partCols.contains(c)) compare(partValue(snap, c), op, v)
      else {
        val statsMay =
          if (!statsFields.contains(c)) lit(true)
          else {
            val have = col(s"min.$c").isNotNull && col(s"max.$c").isNotNull
            !have || filterToColumn(c, op, v)
          }
        statsMay && genConstraint(c, op, v)
      }
    // attr-op-lit in either order ("5 > n" prunes as "n < 5")
    def binary(l: ce.Expression, r: ce.Expression,
        op: String, flipped: String): Option[Column] =
      (attrOf(l), litOf(r), attrOf(r), litOf(l)) match {
        case (Some(c), Some(v), _, _) => Some(cmp(c, op, v))
        case (_, _, Some(c), Some(v)) => Some(cmp(c, flipped, v))
        case _ => None
      }
    def walk(e: ce.Expression): Option[Column] = e match {
      case ce.And(l, r) => (walk(l), walk(r)) match {
        case (Some(a), Some(b)) => Some(a && b)
        case (a, b) => a.orElse(b)
      }
      case ce.Or(l, r) => for { a <- walk(l); b <- walk(r) } yield a || b
      case ce.EqualTo(l, r) => binary(l, r, "=", "=")
      case ce.EqualNullSafe(l, r) => binary(l, r, "=", "=")
      case ce.LessThan(l, r) => binary(l, r, "<", ">")
      case ce.LessThanOrEqual(l, r) => binary(l, r, "<=", ">=")
      case ce.GreaterThan(l, r) => binary(l, r, ">", "<")
      case ce.GreaterThanOrEqual(l, r) => binary(l, r, ">=", "<=")
      case ce.In(a, list) if list.nonEmpty && list.forall(litOf(_).nonEmpty) =>
        attrOf(a).map(c => list.flatMap(litOf).map(v => cmp(c, "=", v))
          .reduce(_ || _))
      case ce.IsNull(a) => attrOf(a).map { c =>
        if (partCols.contains(c)) partValue(snap, c).isNull
        else if (!statsFields.contains(c)) lit(true) // gen-base only: no null stats
        else !col(s"null_count.$c").isNotNull || col(s"null_count.$c") > 0
      }
      case ce.IsNotNull(a) => attrOf(a).map { c =>
        if (partCols.contains(c)) partValue(snap, c).isNotNull
        else if (!statsFields.contains(c)) lit(true)
        else {
          val have = col(s"null_count.$c").isNotNull && col("num_records").isNotNull
          !have || col(s"null_count.$c") < col("num_records")
        }
      }
      // a != literal excludes only single-value files pinned to that value
      case ce.Not(ce.EqualTo(l, r)) =>
        (attrOf(l), litOf(r), attrOf(r), litOf(l)) match {
          case (Some(c), Some(v), _, _)
              if !partCols.contains(c) && statsFields.contains(c) =>
            Some(!(col(s"min.$c") === lit(v) && col(s"max.$c") === lit(v)))
          case (_, _, Some(c), Some(v))
              if !partCols.contains(c) && statsFields.contains(c) =>
            Some(!(col(s"min.$c") === lit(v) && col(s"max.$c") === lit(v)))
          case (Some(c), Some(v), _, _) if !partCols.contains(c) => None
          case (_, _, Some(c), Some(v)) if !partCols.contains(c) => None
          case (Some(c), Some(v), _, _) => Some(!(partValue(snap, c) === lit(v)))
          case (_, _, Some(c), Some(v)) => Some(!(partValue(snap, c) === lit(v)))
          case _ => None
        }
      case _ => None
    }
    // Spark 4 Columns are ColumnNode-backed (unresolved function nodes,
    // not Catalyst comparisons) — resolve the predicate against the
    // TABLE schema via an empty-frame analysis first. This also applies
    // type coercion, so the literals compared against min/max are
    // already the column's type. Any resolution failure → no pruning.
    val spark = snap.log.spark
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), snap.schema)
    empty.where(rowPredicate).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.flatMap(walk)
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Pruned scan: stats-based file pruning + row-level predicate pushed
    * to the parquet reader by Catalyst. */
  def readWhere(snap: Snapshot, filters: Seq[(String, String, Any)]) = {
    val df = snap.readFiles(prunedFiles(snap, filters))
    if (filters.isEmpty) df
    else df.where(filters.map { case (c, op, v) => compare(col(c), op, v) }
      .reduceLeft(_ && _))
  }
}
