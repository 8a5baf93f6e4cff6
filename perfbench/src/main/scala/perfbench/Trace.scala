package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around the layer calls the benchmark makes. A span has
  * a name, start, end, parent and the id of the operation it belongs to;
  * nothing inside the engine is instrumented. Disabled spans cost one
  * branch. */
final class Spans {
  final case class Span(name: String, op: String, parent: Int, start: Long, startMs: Long,
      var end: Long = 0L, var endMs: Long = 0L)

  val all = mutable.ArrayBuffer.empty[Span]
  @volatile var on = false
  var op = ""
  private var stack: List[Int] = Nil

  def apply[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val i = all.size
      all += Span(name, op, stack.headOption.getOrElse(-1), System.nanoTime(), System.currentTimeMillis())
      stack = i :: stack
      try f
      finally {
        all(i).end = System.nanoTime()
        all(i).endMs = System.currentTimeMillis()
        stack = stack.tail
      }
    }
}

/** Counters one operation accumulates from Spark's listeners. */
final class OpCounters {
  var jobs, jobsEnded, stages, tasks, oneTaskStages = 0L
  var taskRunMs, taskCpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  var schedWaitMs = 0L
  var planMs, exchanges, fallbackExprs = 0L
  var filesRead, bytesRead, rowsScanned, scanMs = 0L
  var batches, batchMs = 0L
}

/** SparkListener + QueryExecutionListener + StreamingQueryListener whose
  * events are tagged with the operation that caused them. Each operation
  * runs its jobs under job group `pb-<op>`; jobs from threads the engine
  * starts itself (streaming micro-batches) fall back to the operation
  * that is running, which is exact because the client is single-threaded
  * and [[settle]] drains the bus before the next operation starts. */
final class Listeners(spark: SparkSession) {
  val byOp = mutable.Map.empty[String, OpCounters]
  val jobStartMs = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
  @volatile var current = ""
  private val stageOp = mutable.Map.empty[Int, String]
  private val jobOp = mutable.Map.empty[Int, String]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val stageFirstLaunch = mutable.Set.empty[Int]

  private def counters(op: String): OpCounters = synchronized(byOp.getOrElseUpdate(op, new OpCounters))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("pb-")).map(_.stripPrefix("pb-")).getOrElse(current)
      synchronized {
        jobStartMs.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += e.time
        jobOp(e.jobId) = g
        e.stageIds.foreach(stageOp(_) = g)
      }
      counters(g).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized(jobOp.get(e.jobId)).foreach(counters(_).jobsEnded += 1)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized(stageSubmitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
      if (stageFirstLaunch.add(e.stageId))
        stageSubmitted.get(e.stageId).foreach { t0 =>
          opOfStage(e.stageId).schedWaitMs += math.max(0L, e.taskInfo.launchTime - t0)
        }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = synchronized(opOfStage(e.stageId))
      val m = e.taskMetrics
      c.tasks += 1
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = synchronized(opOfStage(e.stageInfo.stageId))
      c.stages += 1
      if (e.stageInfo.numTasks == 1) c.oneTaskStages += 1
    }
  }

  private def opOfStage(stage: Int): OpCounters = counters(stageOp.getOrElse(stage, current))

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = counters(current)
      c.planMs += qe.tracker.phases.values.map(_.durationMs).sum
      val nodes = Listeners.nodes(qe.executedPlan)
      c.exchanges += nodes.count(_.isInstanceOf[ShuffleExchangeLike])
      c.fallbackExprs += nodes.map(_.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum).sum
      nodes.filter(_.children.isEmpty).foreach { leaf =>
        val m = leaf.metrics
        m.get("numFiles").foreach(x => c.filesRead += x.value)
        m.get("filesSize").foreach(x => c.bytesRead += x.value)
        m.get("numOutputRows").foreach(x => c.rowsScanned += x.value)
        m.get("scanTime").foreach(x => c.scanMs += x.value)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val c = counters(current)
      c.batches += 1
      c.batchMs += e.progress.batchDuration
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every job the operation started has ended and every
    * listener event it caused has been delivered. */
  def settle(op: String): Unit = {
    var tries = 0
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
    while (synchronized(byOp.get(op).exists(c => c.jobsEnded < c.jobs)) && tries < 1000) {
      org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
      tries += 1
    }
  }
}

object Listeners {
  /** Every node of the final physical plan, descending into adaptive
    * query stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }
}
