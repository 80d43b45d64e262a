package graft.plans

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one way graft's native functions and its planner strategy reach a
  * session. `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`
  * names this class, and Spark applies every provider it finds there to
  * each session it builds, `newSession()` included. So a bare
  * `SparkSession.builder().getOrCreate()` resolves `vec_dot` and plans
  * [[BroadcastAsOfJoin]] with no graft call, and no operator has to ask
  * its caller to register anything first. None of the injected names is
  * a Spark builtin, so nothing is shadowed.
  *
  * Setting `spark.sql.extensions=graft.plans.GraftExtensions` is
  * redundant: it applies the same injections a second time, which
  * changes nothing.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.injections.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => GraftStrategy)
  }
}

object GraftExtensions {

  /** Plan-time int-literal extraction for functions whose tuning
    * constants must be fixed at registration (winnow_fps k/w,
    * pcm_frames frame size — values only comparable across rows
    * under ONE setting). */
  private def intLit(fn: String, e: Expression, name: String): Int = e match {
    case lit if lit.foldable =>
      lit.eval() match {
        case i: Int => i
        case other => throw new IllegalArgumentException(
          s"$fn: $name must be an int literal, got $other")
      }
    case _ => throw new IllegalArgumentException(
      s"$fn: $name must be a literal")
  }

  private[graft] val injections: Seq[
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))),
    (
      new FunctionIdentifier("jpeg_dims"),
      new ExpressionInfo(classOf[JpegDimsExpr].getName, "jpeg_dims"),
      (children: Seq[Expression]) => JpegDimsExpr(children(0))),
    (
      new FunctionIdentifier("jpeg_dims_wh"),
      new ExpressionInfo(classOf[JpegDimsStructExpr].getName, "jpeg_dims_wh"),
      (children: Seq[Expression]) => JpegDimsStructExpr(children(0))),
    (
      new FunctionIdentifier("vec_q8"),
      new ExpressionInfo(classOf[VecQuantize].getName, "vec_q8"),
      (children: Seq[Expression]) => VecQuantize(children(0))),
    (
      new FunctionIdentifier("vec_dot_q8"),
      new ExpressionInfo(classOf[VecDotQ8].getName, "vec_dot_q8"),
      (children: Seq[Expression]) => VecDotQ8(children(0), children(1))),
    (
      new FunctionIdentifier("vec_sum"),
      new ExpressionInfo(classOf[VecSum].getName, "vec_sum"),
      (children: Seq[Expression]) => VecSum(children(0))),
    (
      new FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowFpsExpr].getName, "winnow_fps"),
      (children: Seq[Expression]) => WinnowFpsExpr(children(0),
        intLit("winnow_fps", children(1), "k"),
        intLit("winnow_fps", children(2), "w"))),
    (
      new FunctionIdentifier("pcm_frames"),
      new ExpressionInfo(classOf[PcmFramesExpr].getName, "pcm_frames"),
      (children: Seq[Expression]) => PcmFramesExpr(children(0),
        intLit("pcm_frames", children(1), "frameSamples"))),
    (
      new FunctionIdentifier("vec_argmax_dot"),
      new ExpressionInfo(classOf[VecArgmaxDot].getName, "vec_argmax_dot"),
      (children: Seq[Expression]) =>
        VecArgmaxDot(children(0), children(1), children(2))),
    // Spark's OWN bloom machinery (what InjectRuntimeFilter plans
    // internally), surfaced as callable functions for explicit
    // semi-join reduction: bloom_filter_agg(xxhash64(k), items, bits)
    // builds one binary sketch; might_contain(bf, xxhash64(k)) is the
    // codegen'd probe (bloom first). False-positive-only, so an exact
    // join AFTER the prefilter keeps results exact.
    (
      new FunctionIdentifier("bitmap_distinct"),
      new ExpressionInfo(classOf[BitmapDistinct].getName, "bitmap_distinct"),
      (children: Seq[Expression]) => BitmapDistinct(children(0))),
    (
      new FunctionIdentifier("bitmap_agg"),
      new ExpressionInfo(classOf[BitmapAgg].getName, "bitmap_agg"),
      (children: Seq[Expression]) => BitmapAgg(children(0))),
    (
      new FunctionIdentifier("bitmap_or_count"),
      new ExpressionInfo(classOf[BitmapOrCount].getName, "bitmap_or_count"),
      (children: Seq[Expression]) => BitmapOrCount(children(0))),
    (
      new FunctionIdentifier("bitmap_and_count"),
      new ExpressionInfo(classOf[BitmapAndCount].getName, "bitmap_and_count"),
      (children: Seq[Expression]) => BitmapAndCount(children(0), children(1))),
    (
      new FunctionIdentifier("bitmap_or"),
      new ExpressionInfo(classOf[BitmapOr].getName, "bitmap_or"),
      (children: Seq[Expression]) => BitmapOr(children(0), children(1))),
    (
      new FunctionIdentifier("topk_by"),
      new ExpressionInfo(classOf[TopKByAgg].getName, "topk_by"),
      (children: Seq[Expression]) =>
        TopKByAgg(children(0), children(1), children(2))),
    (
      new FunctionIdentifier("qsketch_agg"),
      new ExpressionInfo(classOf[QSketchAgg].getName, "qsketch_agg"),
      (children: Seq[Expression]) => QSketchAgg(children(0))),
    (
      new FunctionIdentifier("qsketch_combine"),
      new ExpressionInfo(classOf[QSketchCombine].getName, "qsketch_combine"),
      (children: Seq[Expression]) => QSketchCombine(children(0))),
    (
      new FunctionIdentifier("qsketch_estimate"),
      new ExpressionInfo(classOf[QSketchEstimate].getName, "qsketch_estimate"),
      (children: Seq[Expression]) => QSketchEstimate(children(0), children(1))),
    (
      new FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_filter_agg"),
      (children: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children(0), children(1), children(2))),
    (
      new FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))))
}
