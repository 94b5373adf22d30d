package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{BpeTokens, MinHashAgg, SimHashAgg, VectorDot, VectorLshBuckets, VectorMatDot}

/** Session extensions registering this engine's native expressions —
  * wire up with `spark.sql.extensions=graft.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`). Currently:
  *
  *  - `vec_dot(array<float>, array<float>) -> double`: codegen'd dot
  *    product (see [[graft.functions.VectorDot]]); usable from SQL and
  *    via `functions.call_function("vec_dot", a, b)`.
  *  - `vec_mat_dot(array<float>, array<array<float>>) -> array<double>`:
  *    one vector against a bank of constant vectors in a single
  *    codegen'd nested loop (see [[graft.functions.VectorMatDot]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // SQL UPDATE / MERGE INTO over catalog-resolved graft tables — the
    // row-level DML verbs DSv2 has no V1-fallback bridge for; rewritten
    // post-resolution into the library's copy-on-write paths
    // (sources/GraftDml.scala)
    ext.injectPostHocResolutionRule(spark => new graft.sources.GraftDmlRule(spark))
    // Column-NDV statistics bridge for CBO (X88): re-attach the graft
    // scan's log-derived statistics in the window between scan
    // pushdown (which wraps V1 scans opaquely) and the cost-based
    // reorder batch; the injected strategy plans the stats leaf away
    ext.injectPreCBORule(spark => graft.plans.GraftCboStatsRule(spark))
    ext.injectPlannerStrategy(_ => new graft.plans.GraftStatsStrategy)
    // metadata-only aggregate answers collect without a Spark job
    ext.injectPlannerStrategy(_ => new graft.plans.LocalScanFold)
    // CDC as a table-valued function: SELECT * FROM
    // graft_changes('/path/to/table', fromVersion [, toVersion]) —
    // every logical change in the window as rows with
    // _change_type/_commit_version (X15's change feed, SQL-addressable
    // without a library call; a batch version of the
    // readStream.format("graft") source)
    ext.injectTableFunction((
      FunctionIdentifier("graft_changes"),
      new ExpressionInfo(classOf[graft.table.IncrementalTable].getName, "graft_changes"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(args.length == 2 || args.length == 3,
          "graft_changes(path, fromVersion [, toVersion])")
        def litOf(e: org.apache.spark.sql.catalyst.expressions.Expression): Any = {
          require(e.foldable, s"graft_changes arguments must be literals (got $e)")
          val v = e.eval(null)
          require(v != null, s"graft_changes arguments must not be NULL (got $e)")
          v
        }
        def longOf(e: org.apache.spark.sql.catalyst.expressions.Expression): Long =
          litOf(e) match {
            case n: java.lang.Number => n.longValue()
            case other => throw new IllegalArgumentException(
              s"graft_changes version arguments must be integers (got $other)")
          }
        val path = String.valueOf(litOf(args.head))
        val from = longOf(args(1))
        val spark = org.apache.spark.sql.SparkSession.active
        val t = graft.table.IncrementalTable(spark, path)
        // a typo'd path must error, not read as an empty change feed
        require(t.exists, s"graft_changes: no graft table at '$path'")
        val to = if (args.length == 3) longOf(args(2)) else t.latestVersion
        t.changes(from, to).queryExecution.logical
      }))
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vec_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        VectorDot(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("vec_mat_dot"),
      new ExpressionInfo(classOf[VectorMatDot].getName, "vec_mat_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        VectorMatDot(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("vec_lsh_buckets"),
      new ExpressionInfo(classOf[VectorLshBuckets].getName, "vec_lsh_buckets"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        VectorLshBuckets(children.head, children(1), children(2))))
    ext.injectFunction((
      FunctionIdentifier("bpe_tokens"),
      new ExpressionInfo(classOf[BpeTokens].getName, "bpe_tokens"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        BpeTokens(children.head)))
    ext.injectFunction((
      FunctionIdentifier("minhash_agg"),
      new ExpressionInfo(classOf[MinHashAgg].getName, "minhash_agg"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        MinHashAgg(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("simhash_agg"),
      new ExpressionInfo(classOf[SimHashAgg].getName, "simhash_agg"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SimHashAgg(children.head)))
    // catalyst's runtime-filter probe, surfaced for graft.operators
    // BloomJoin (the optimizer injects it itself only inside one query;
    // a library-built bloom needs it as a callable function)
    ext.injectFunction((
      FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children.head, children(1))))
  }
}
