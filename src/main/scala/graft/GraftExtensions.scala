package graft

import graft.functions.QuantizedVec
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression

/** `SparkSessionExtensions` installer: exposes the engine's custom Catalyst
  * expressions to SQL users.
  *
  * Usage: `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`; afterwards
  * `SELECT qdot(a.embedding, b.embedding)` and `qnormsq(embedding)` work in
  * plain SQL with full whole-stage codegen.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def requireArity(name: String, args: Seq[Expression], n: Int): Unit =
    if (args.length != n)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name, "expectedNum" -> n.toString,
          "actualNum" -> args.length.toString, "docroot" -> ""))

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("qdot"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[QuantizedVec.QuantizedDot].getName, "qdot"),
        (args: Seq[Expression]) => {
          requireArity("qdot(arr, arr)", args, 2)
          QuantizedVec.QuantizedDot(args.head, args(1))
        }))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("qnormsq"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[QuantizedVec.QuantizedNormSq].getName, "qnormsq"),
        (args: Seq[Expression]) => {
          requireArity("qnormsq(arr)", args, 1)
          QuantizedVec.QuantizedNormSq(args.head)
        }))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("zorder2"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[graft.functions.ZOrder.ZOrder2].getName, "zorder2"),
        (args: Seq[Expression]) => {
          requireArity("zorder2(x, y, bits)", args, 3)
          val bits = args(2) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
            case other => throw new IllegalArgumentException(
              s"zorder2: bits must be an integer literal, got $other")
          }
          graft.functions.ZOrder.ZOrder2(args.head, args(1), bits)
        }))
    // Runtime-filter building blocks, exposed as user-callable SQL: Spark
    // applies its internal bloom machinery only through the optimizer's
    // InjectRuntimeFilter rule; registering the same expressions lets a
    // query author build an explicit semi-join prune (build a filter over
    // the small side's keys, test it before the exact join — false
    // positives removed by the join, no false negatives by construction).
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("bloom_agg"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
          "bloom_agg"),
        (args: Seq[Expression]) => {
          requireArity("bloom_agg(key, n_items)", args, 2)
          val n = args(1) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
            case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
            case other => throw new IllegalArgumentException(
              s"bloom_agg: n_items must be an integer literal, got $other")
          }
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
            new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(args.head)), n)
            .toAggregateExpression()
        }))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("bloom_contains"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
          "bloom_contains"),
        (args: Seq[Expression]) => {
          requireArity("bloom_contains(filter, key)", args, 2)
          org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(args.head,
            new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(args(1))))
        }))
    // Custom TABLE function (the fourth extension point, next to scalar
    // expressions, aggregates, and SQL-name injection): a frame-timeline
    // generator usable directly in FROM —
    //   SELECT * FROM graft_frames(duration_ms, step_ms, cap)
    // producing (frame_idx, ts_ms) rows. Plans as a native Range + Project
    // (the same operator Spark's own range() TVF uses), so it parallelizes
    // and codegens like any relational source.
    e.injectTableFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("graft_frames"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "org.apache.spark.sql.catalyst.plans.logical.Range", "graft_frames"),
        (args: Seq[Expression]) => {
          requireArity("graft_frames(duration_ms, step_ms, cap)", args, 3)
          def longLit(e: Expression, what: String): Long = e match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
            case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
            case other => throw new IllegalArgumentException(
              s"graft_frames: $what must be an integer literal, got $other")
          }
          val duration = longLit(args.head, "duration_ms")
          val step = longLit(args(1), "step_ms")
          val cap = longLit(args(2), "cap")
          require(step > 0 && cap > 0, "graft_frames: step_ms and cap must be positive")
          val n = math.min(duration / step + 1, cap)
          val range = org.apache.spark.sql.catalyst.plans.logical.Range(0L, n, 1L, None)
          val id = range.output.head
          org.apache.spark.sql.catalyst.plans.logical.Project(Seq(
            org.apache.spark.sql.catalyst.expressions.Alias(id, "frame_idx")(),
            org.apache.spark.sql.catalyst.expressions.Alias(
              org.apache.spark.sql.catalyst.expressions.Multiply(id,
                org.apache.spark.sql.catalyst.expressions.Literal(step)), "ts_ms")()),
            range)
        }))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("kmv_distinct"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[graft.functions.KmvSketch.KmvDistinct].getName, "kmv_distinct"),
        (args: Seq[Expression]) => {
          requireArity("kmv_distinct(str, k)", args, 2)
          val k = args(1) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
            case other => throw new IllegalArgumentException(
              s"kmv_distinct: k must be an integer literal, got $other")
          }
          graft.functions.KmvSketch.KmvDistinct(args.head, k).toAggregateExpression()
        }))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("hll_distinct"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[graft.functions.HllSketch.HllDistinct].getName, "hll_distinct"),
        (args: Seq[Expression]) => {
          requireArity("hll_distinct(str)", args, 1)
          graft.functions.HllSketch.HllDistinct(args.head).toAggregateExpression()
        }))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("bottomk_sample"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[graft.functions.SampleSketch.BottomKSample].getName, "bottomk_sample"),
        (args: Seq[Expression]) => {
          requireArity("bottomk_sample(value, idstr, k)", args, 3)
          val k = args(2) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
            case other => throw new IllegalArgumentException(
              s"bottomk_sample: k must be an integer literal, got $other")
          }
          graft.functions.SampleSketch.BottomKSample(args.head, args(1), k)
            .toAggregateExpression()
        }))
  }
}
