package graft

import graft.functions.{DotProductL, QuantizeL, RollingHash}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL-surface registration of the engine's custom Catalyst expressions —
  * `Sessions.builder(app).withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.GraftExtensions`) makes them first-class
  * SQL functions, so `spark.sql("SELECT graft_dot(a, b) …")` reaches the
  * same codegen'd kernels the DataFrame API uses. This is the plugin
  * mechanism a Spark deployment enables cluster-wide without touching
  * application code; extraction from literal arguments happens here so
  * the expressions themselves stay plain-constructor Catalyst nodes.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(array<bigint>, array<bigint>) — integer dot product"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot takes (a, b)")
        DotProductL(args.head, args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_quantize"),
      info("graft_quantize",
        "graft_quantize(array<float>, scale) — round(x*scale) as bigint, per element"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_quantize takes (vec, scale)")
        QuantizeL(args.head, intLit(args(1), "scale"))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_rolling_hash"),
      info("graft_rolling_hash",
        "graft_rolling_hash(string) — the engine's document fingerprint"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_rolling_hash takes (text)")
        RollingHash(args.head)
      }))
    // table function: the dedup layer's shingle generator as a SQL TVF —
    // literal argument, rows materialise as a LocalRelation at plan time
    ext.injectTableFunction((
      FunctionIdentifier("graft_shingles"),
      info("graft_shingles",
        "graft_shingles('text') — the distinct word-3-gram shingles d2/d3 hash"),
      (args: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.InternalRow
        import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal}
        import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
        import org.apache.spark.sql.types.StringType
        import org.apache.spark.unsafe.types.UTF8String
        val text = args match {
          case Seq(Literal(s: UTF8String, StringType)) => s.toString
          case other => throw new IllegalArgumentException(
            s"graft_shingles takes one string literal, got $other")
        }
        LocalRelation(
          Seq(AttributeReference("s", StringType, nullable = false)()),
          graft.operators.Dedup.shinglesOf(text)
            .map(x => InternalRow(UTF8String.fromString(x))))
      }))
  }
}
