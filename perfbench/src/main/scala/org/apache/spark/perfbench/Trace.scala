// Lives under org.apache.spark so the probes can drain the listener bus
// before reading their counters; the engine itself is not touched.
package org.apache.spark.perfbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed call into a layer. Spans of one operation share `op`;
  * `parent` is the enclosing span's id, or -1 for an operation's root. */
final case class Span(id: Int, op: Int, parent: Int, name: String, start: Long) {
  var end: Long = start
  def seconds: Double = (end - start) / 1e9
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder. While a span is open its id rides on the
  * `perfbench.span` local property, so the Spark jobs it starts (and their
  * stages and tasks) are attributed to it by [[Probes]]. Disabled, it only
  * runs the body. */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  var enabled = false
  private var stack: List[Span] = Nil
  private var opId = 0

  /** Root span of a new operation. */
  def op[T](name: String)(body: => T): T = { opId += 1; span(name)(body) }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, opId, stack.headOption.fold(-1)(_.id), name, System.nanoTime())
      spans += s
      stack ::= s
      spark.sparkContext.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        spark.sparkContext.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Seconds per layer of the spans' own time: each span's duration minus
    * the part of it its children cover. */
  def selfSeconds(of: Iterable[Span]): Map[String, Double] = {
    val kids = of.groupBy(_.parent)
    of.toSeq.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)
      s.layer -> (s.end - s.start - covered) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def union(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, hi), (s, e)) =>
      if (e <= hi) (acc, hi) else (acc + e - math.max(s, hi), e)
    }._1
}

object Tracer { val SpanKey = "perfbench.span" }

/** Spark-side work of one span. */
final class Work {
  var jobs, stages, tasks, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, input = 0L
  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill; input += o.input
  }
}

/** Counters read from Spark's own listener APIs: scheduler work per span,
  * Catalyst phase times and round-robin exchanges per executed query,
  * streaming progress, and the codegen compile histogram. */
final class Probes(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  val work = mutable.Map.empty[Int, Work]
  private val stageSpan = mutable.Map.empty[Int, Int]
  var analysisMs, optimizationMs, planningMs, roundRobin = 0L
  var batches, stateCommitMs = 0L
  val triggerMs = mutable.ArrayBuffer.empty[Long]

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey))).fold(-1)(_.toInt)
  private def at(id: Int) = work.getOrElseUpdate(id, new Work)

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probes.this.synchronized {
      at(spanOf(e.properties)).jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Probes.this.synchronized {
      val s = spanOf(e.properties)
      stageSpan(e.stageInfo.stageId) = s
      at(s).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probes.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val w = at(stageSpan.getOrElse(e.stageId, -1))
        w.tasks += 1
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.input += m.inputMetrics.bytesRead
      }
    }
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Probes.this.synchronized {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).fold(0L)(_.durationMs)
        analysisMs += ms("analysis")
        optimizationMs += ms("optimization")
        planningMs += ms("planning")
        roundRobin += collectWithSubqueries(qe.executedPlan) {
          case s: ShuffleExchangeExec if s.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => 1
        }.size
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probes.this.synchronized {
        batches += 1
        Option(e.progress.durationMs.get("triggerExecution")).foreach(triggerMs += _.longValue)
        stateCommitMs += e.progress.stateOperators.map(_.commitTimeMs).sum
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streaming)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streaming)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Work of the given spans, summed. */
  def workOf(ids: Iterable[Int]): Work = synchronized {
    val w = new Work
    ids.foreach(i => work.get(i).foreach(w += _))
    w
  }
}

object Codegen {
  /** (compiles so far, estimated compile seconds so far). The compile-time
    * histogram keeps a sample, so seconds are count × sampled mean. */
  def snapshot(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean / 1e3)
  }
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
