package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

import java.nio.ByteBuffer

/** Single-pass fixed-width histogram as a native Catalyst aggregate — the
  * engine's custom-sketch extension point (SURVEY.md §2.7/§4: custom
  * `TypedImperativeAggregate` for drift sketches; the quantile sketch is
  * Spark's built-in KLL, see [[Kll]]).
  *
  * vs `groupBy(bin).count()`: ONE aggregation with a bins-sized mutable
  * buffer per partition — no per-bin shuffle rows, works inside any
  * `groupBy` (e.g. per-`source` histograms in the same job as other
  * aggregates), and the buffer merges associatively (partial aggregation +
  * tree reduction at 1000 executors).
  *
  * Values below `lo`/at-or-above `hi` clamp into the edge bins (mass is
  * conserved), NULLs are skipped — same contract as
  * [[graft.stats.Drift.histogram]].
  */
case class HistogramSketch(
    child: Expression,
    lo: Double,
    hi: Double,
    bins: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  require(bins > 0 && hi > lo, s"need bins>0 and hi>lo, got bins=$bins lo=$lo hi=$hi")
  private val width = (hi - lo) / bins

  // input must already be DoubleType (AbstractDataType is private[sql], so
  // ImplicitCastInputTypes is unavailable outside Spark; the Column wrapper
  // casts, and checkInputDataTypes enforces it for SQL callers)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == DoubleType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"histogram_sketch needs a DOUBLE input, got ${child.dataType.sql} (cast it)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] = new Array[Long](bins)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val raw = ((v.asInstanceOf[Double] - lo) / width).toInt
      val b = math.min(math.max(raw, 0), bins - 1)
      buf(b) += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < bins) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * bins)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bins)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HistogramSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HistogramSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HistogramSketch =
    copy(child = newChild)
  override def prettyName: String = "histogram_sketch"
}

object HistogramSketch {

  private def doubleOf(e: Expression, what: String): Double = e.eval() match {
    case d: Double => d
    case i: Int => i.toDouble
    case l: Long => l.toDouble
    case other => throw new IllegalArgumentException(s"$what must be a numeric literal, got $other")
  }

  /** Expression-list constructor shared by the per-session [[register]]
    * and the application-wide [[graft.GraftExtensions]] injection. */
  def fromExpressions(exprs: Seq[Expression]): HistogramSketch =
    HistogramSketch(
      exprs(0),
      doubleOf(exprs(1), "lo"),
      doubleOf(exprs(2), "hi"),
      doubleOf(exprs(3), "bins").toInt)

  /** Register `histogram_sketch(col, lo, hi, bins)` for SQL and
    * `call_function` use in this session. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "histogram_sketch", fromExpressions, "built-in")

  /** Column form (requires [[register]] once per session). */
  def histogramSketch(c: Column, lo: Double, hi: Double, bins: Int): Column =
    call_function("histogram_sketch", c.cast("double"), lit(lo), lit(hi), lit(bins))
}
