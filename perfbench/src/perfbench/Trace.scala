package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters recorded around the benchmark's calls into the
  * program. Spans stay in memory and are written out when the run ends.
  *
  * Every span names a bucket. A `SparkListener` and a
  * `QueryExecutionListener` add the jobs, stages, tasks, shuffle bytes,
  * plan-phase times and exchanges they see to the bucket of the span that
  * is open when they fire. The benchmark drives the program from one
  * thread, and the listener bus is drained at every span boundary, so each
  * event lands in the bucket of the span that caused it.
  *
  * With tracing off every method still runs its body but records nothing
  * and installs no listener, so the untraced run pays none of this. */
final class Trace(spark: SparkSession, val enabled: Boolean) {

  final case class Span(name: String, bucket: String, parent: Int,
      startNs: Long, var endNs: Long = 0L)

  val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.HashMap.empty[String, Double]
  private var open = List.empty[Int]
  @volatile private var bucket = "idle"

  def add(key: String, v: Double): Unit =
    if (enabled) counts.synchronized { counts(key) = counts.getOrElse(key, 0.0) + v }

  /** The counter `key` summed over every bucket that starts with `prefix`. */
  def sum(prefix: String, key: String): Double = counts.synchronized {
    counts.collect { case (k, v) if k.startsWith(prefix) && k.endsWith("|" + key) => v }.sum
  }

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Runs `f` inside a span whose events count toward `bucketName`. */
  def span[A](name: String, bucketName: String)(f: => A): A =
    if (!enabled) f
    else {
      drain()
      val prevBucket = bucket
      spans += Span(name, bucketName, open.headOption.getOrElse(-1), System.nanoTime())
      val idx = spans.size - 1
      open = idx :: open
      bucket = bucketName
      try f
      finally {
        drain()
        spans(idx).endNs = System.nanoTime()
        add(s"$bucketName|wall_s", (spans(idx).endNs - spans(idx).startNs) / 1e9)
        open = open.tail
        bucket = prevBucket
      }
    }

  /** Switches the bucket that later events count toward, without a span:
    * the work `DagRunner.runAs` does for a model after its `build` returns
    * (write, stats harvest, join advice, commit) has no call of its own to
    * wrap, so it is attributed to the model whose build ran last. */
  def switchTo(bucketName: String): Unit =
    if (enabled) { drain(); bucket = bucketName }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(flatten)
  }

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add(s"$bucket|jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val b = bucket
      val info = e.stageInfo
      add(s"$b|stages", 1)
      add(s"$b|tasks", info.numTasks)
      Option(info.taskMetrics).foreach { m =>
        add(s"$b|shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(s"$b|executor_run_s", m.executorRunTime / 1e3)
        add(s"$b|executor_cpu_s", m.executorCpuTime / 1e9)
      }
    }
  }

  private object QeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val b = bucket
      qe.tracker.phases.foreach { case (phase, s) => add(s"$b|${phase}_s", s.durationMs / 1e3) }
      val nodes = flatten(qe.executedPlan)
      add(s"$b|plan_nodes", nodes.size)
      add(s"$b|shuffle_exchanges", nodes.count(_.isInstanceOf[ShuffleExchangeLike]))
      add(s"$b|broadcast_exchanges", nodes.count(_.isInstanceOf[BroadcastExchangeLike]))
      add(s"$b|reused_exchanges", nodes.count(_.isInstanceOf[ReusedExchangeExec]))
      add(s"$b|queries", 1)
      add(s"$b|qe_s", durationNs / 1e9)
      if (nodes.exists(n => n.isInstanceOf[DataWritingCommandExec] || n.isInstanceOf[V2TableWriteExec]))
        add(s"$b|write_s", durationNs / 1e9)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(Listener)
    spark.listenerManager.register(QeListener)
  }

  def stop(): Unit = if (enabled) {
    drain()
    spark.listenerManager.unregister(QeListener)
    spark.sparkContext.removeSparkListener(Listener)
  }

  /** The spans as JSON-ready rows, times in seconds from the first span. */
  def spanRows: Seq[Map[String, Any]] = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.toSeq.map(s => Map("name" -> s.name, "bucket" -> s.bucket,
      "parent" -> s.parent, "start_s" -> (s.startNs - t0) / 1e9,
      "end_s" -> (s.endNs - t0) / 1e9))
  }
}
