package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the library's custom
  * Catalyst expressions for SQL use
  * (`--conf spark.sql.extensions=graft.functions.GraftExtensions`, or
  * `.withExtensions(new GraftExtensions)`), so `SELECT
  * long_array_dot(a, b)` works from plain SQL, not only the Scala
  * Column API. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.scalars.foreach { case (name, cls, builder) =>
      e.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
    // band joins (abs(l.ts - r.ts) <= c) rewrite to bucketed equi joins
    e.injectOptimizerRule(_ => graft.plans.BandJoinRule)
    // the AsOfJoin logical operator lowers to the slice-parallel
    // carry plan (never a one-task-per-key window)
    e.injectOptimizerRule(_ => graft.plans.AsOfJoinExpansion)
    // SQL surface for the operator: SELECT * FROM asof_join('l', 'r',
    // 'k1,k2', 'left_ts', 'right_ts', 'c1,c2') — the table function
    // parses to an UnresolvedAsOfJoin marker, which the injected
    // resolution rule lowers to the typed AsOfJoin once the two
    // relations resolve
    e.injectTableFunction((
      new FunctionIdentifier("asof_join"),
      new ExpressionInfo(classOf[graft.plans.AsOfJoin].getName, "asof_join"),
      (exprs: Seq[Expression]) =>
        graft.plans.AsOfJoinOps.sqlTableFunction(exprs)))
    e.injectResolutionRule(_ => graft.plans.AsOfJoinResolution)
    // every entry of the table-function table — the reference get.*
    // entry points, the grid/sequential operators and the pipeline —
    // macro-expanded at resolution time to the exact Scala API plan
    graft.plans.GraftTableFunctions.all.foreach { f =>
      e.injectTableFunction((new FunctionIdentifier(f.name),
        new ExpressionInfo(
          graft.plans.GraftTableFunctions.getClass.getName, f.name),
        f.parse _))
    }
    e.injectResolutionRule(_ => graft.plans.GraftCallResolution)
  }
}

object GraftExtensions {
  /** The custom scalar expressions: (SQL name, class, builder). */
  private val scalars: Seq[(String, Class[_], Seq[Expression] => Expression)] =
    Seq(
      ("long_array_dot", classOf[LongArrayDot],
        exprs => LongArrayDot(exprs(0), exprs(1))),
      ("string_poly_hash", classOf[StringPolyHash],
        exprs => StringPolyHash(exprs(0))),
      ("long_array_max_abs", classOf[LongArrayMaxAbs],
        exprs => LongArrayMaxAbs(exprs(0))),
      ("quantize_int8", classOf[QuantizeInt8],
        exprs => QuantizeInt8(exprs(0))),
      ("float_array_milli", classOf[FloatArrayMilli],
        exprs => FloatArrayMilli(exprs(0))))
}
