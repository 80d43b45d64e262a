package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into a graft layer. Times are epoch microseconds, so
  * they line up with the planning phases Spark stamps in epoch millis. */
final class Span(val id: Int, val name: String, val parent: Int, val startUs: Long) {
  var endUs: Long = startUs
  val counters: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  /** Intervals during which at least one task of this span ran. */
  val taskIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  def seconds: Double = (endUs - startUs) / 1e6
}

/** Wraps calls into graft with spans. Untraced runs use [[Tracer.off]],
  * which runs the body and records nothing, so end-to-end timings carry
  * no listener or job-group cost. */
trait Tracer {
  def span[T](name: String)(body: => T): T
  /** Adds to a counter of the innermost open span. */
  def count(key: String, v: Double): Unit
  def spans: Seq[Span]
}

object Tracer {
  val off: Tracer = new Tracer {
    def span[T](name: String)(body: => T): T = body
    def count(key: String, v: Double): Unit = ()
    def spans: Seq[Span] = Nil
  }

  def nowUs: Long = anchorMs * 1000L + (System.nanoTime() - anchorNs) / 1000L
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
}

/** Records spans in memory. Each span sets the Spark job group to its id,
  * so the listener can charge every job, stage and task to the span that
  * launched it; planning phases are charged to the innermost span whose
  * interval holds them. */
final class SpanTracer(spark: SparkSession) extends Tracer {
  private val all = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val sc = spark.sparkContext
  private val listener = new SpanListener(this)
  sc.addSparkListener(listener)
  spark.listenerManager.register(new PlanListener(this))

  def spans: Seq[Span] = { drain(); all.toSeq }

  def byId(id: Int): Option[Span] = synchronized(all.lift(id))

  /** The innermost span open at `us` (spans nest, so it is the latest
    * started one whose interval holds `us`). */
  def at(us: Long): Option[Span] = synchronized {
    all.reverseIterator.find(s => s.startUs <= us && (s.endUs >= us || open.contains(s)))
  }

  def span[T](name: String)(body: => T): T = {
    val s = synchronized {
      val s = new Span(all.size, name, open.headOption.map(_.id).getOrElse(-1), Tracer.nowUs)
      all += s
      open = s :: open
      s
    }
    sc.setJobGroup(s"span-${s.id}", name)
    try body
    finally {
      synchronized {
        s.endUs = Tracer.nowUs
        open = open.tail
      }
      open.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  def count(key: String, v: Double): Unit =
    synchronized(open.headOption.foreach(s => s.counters(key) += v))

  /** Waits until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)
}

/** Charges job, stage and task metrics to spans through the job group.
  * Counters are updated under the tracer's lock, which the caller's
  * thread also takes to add its own counts. */
final class SpanListener(t: SpanTracer) extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Span]

  override def onJobStart(e: SparkListenerJobStart): Unit = t.synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith("span-")).flatMap(g => t.byId(g.stripPrefix("span-").toInt)).foreach { s =>
      s.counters("jobs") += 1
      e.stageIds.foreach(id => stageSpan(id) = s)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = t.synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach { s =>
      // skipped stages never complete, so only stages that ran count
      s.counters("stages") += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = t.synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val c = s.counters
      c("tasks") += 1
      if (e.taskInfo != null) {
        val i = e.taskInfo
        s.taskIntervals += ((i.launchTime * 1000L, i.finishTime * 1000L))
        if (!i.successful) c("failed_tasks") += 1
      }
      val m = e.taskMetrics
      if (m != null) {
        c("executor_run_s") += m.executorRunTime / 1e3
        c("executor_cpu_s") += m.executorCpuTime / 1e9
        c("gc_s") += m.jvmGCTime / 1e3
        c("input_mb") += m.inputMetrics.bytesRead / 1e6
        c("output_mb") += m.outputMetrics.bytesWritten / 1e6
        c("output_rows") += m.outputMetrics.recordsWritten.toDouble
        c("shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
        c("shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / 1e6
        c("spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    // a localCheckpoint stores RDD blocks; removals arrive as invalid levels
    if (b.blockId.isRDD && b.storageLevel.isValid) t.synchronized {
      t.at(Tracer.nowUs).foreach(_.counters("persisted_blocks") += 1)
    }
  }
}

/** Charges Catalyst phase times and broadcast sizes to spans. */
final class PlanListener(t: SpanTracer) extends QueryExecutionListener {
  private object Plans extends AdaptiveSparkPlanHelper

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    phases.get("analysis").foreach { p =>
      val bytes = Plans.collectWithSubqueries(qe.executedPlan) {
        case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
      }.sum
      t.synchronized(t.at(p.startTimeMs * 1000L).foreach { s =>
        def ms(name: String) = phases.get(name).map(_.durationMs.toDouble).getOrElse(0.0)
        s.counters("analysis_ms") += ms("analysis")
        s.counters("optimizer_ms") += ms("optimization")
        s.counters("planning_ms") += ms("planning")
        s.counters("broadcast_mb") += bytes / 1e6
      })
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
