package perfbench

import org.apache.spark.perfbenchshim.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One traced interval around a call into a module's public function. */
final class Span(val id: Int, val name: String, val parent: Int, val runId: String) {
  var start = 0L
  var end = 0L
  /** Spark task/job counters of jobs submitted while this span was innermost. */
  val spark: mutable.Map[String, Double] = mutable.Map.empty
  /** Executed plans of the SQL actions run while this span was innermost. */
  val plans: ArrayBuffer[QueryExecution] = ArrayBuffer.empty
  /** Per stage: task durations (ms) and stage wall (ms), for task skew. */
  val stageTasks: mutable.Map[Int, ArrayBuffer[Long]] = mutable.Map.empty
  val stageWall: mutable.Map[Int, Long] = mutable.Map.empty

  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder for the traced run.
  *
  * Each span sets a Spark job group `pb-span-<id>`; a [[SparkListener]] maps
  * stages to spans through that group and sums task metrics per span, and a
  * [[QueryExecutionListener]] keeps the executed plans so the workloads can
  * read operator `SQLMetric`s. The bus is drained at every span end, so a
  * span's counters are complete when it closes. Spans are written as JSON
  * when the run ends.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val epoch = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private val byGroup = mutable.Map.empty[String, Span]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val pendingPlans = ArrayBuffer.empty[QueryExecution]
  private var stack: List[Span] = Nil
  private var runId = "run-0"

  private def group(p: java.util.Properties): Option[Span] =
    Option(p).flatMap(pp => Option(pp.getProperty("spark.jobGroup.id"))).flatMap(byGroup.get)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      group(e.properties).foreach(s => add(s, "jobs", 1))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      group(e.properties).foreach(s => stageSpan(e.stageInfo.stageId) = s)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      for (s <- stageSpan.get(si.stageId); a <- si.submissionTime; b <- si.completionTime)
        s.stageWall(si.stageId) = b - a
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        add(s, "tasks", 1)
        if (e.taskInfo.failed || e.reason != org.apache.spark.Success) add(s, "failed_tasks", 1)
        s.stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          add(s, "executor_run_s", m.executorRunTime / 1e3)
          add(s, "executor_cpu_s", m.executorCpuTime / 1e9)
          add(s, "jvm_gc_s", m.jvmGCTime / 1e3)
          add(s, "deserialize_s", m.executorDeserializeTime / 1e3)
          add(s, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(s, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add(s, "shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
          add(s, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          s.spark("peak_execution_memory_bytes") = math.max(
            s.spark.getOrElse("peak_execution_memory_bytes", 0.0), m.peakExecutionMemory.toDouble)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized { pendingPlans += qe }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Start recording Spark counters and plans for new spans. */
  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Stop recording; spans stay for [[toJson]], their plans are released. */
  def detach(): Unit = {
    ListenerBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    sc.clearJobGroup()
    synchronized { spans.foreach(_.plans.clear()); pendingPlans.clear() }
  }

  private def add(s: Span, k: String, v: Double): Unit =
    s.spark(k) = s.spark.getOrElse(k, 0.0) + v

  /** Start a new request: later spans share this run id. */
  def newRun(id: String): Unit = runId = id

  /** A span around `body`; returns the body's result and the closed span. */
  def traced[T](name: String)(body: => T): (T, Span) = {
    val s = synchronized {
      val sp = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), runId)
      spans += sp
      byGroup(s"pb-span-${sp.id}") = sp
      sp
    }
    stack = s :: stack
    sc.setJobGroup(s"pb-span-${s.id}", name, interruptOnCancel = false)
    s.start = System.nanoTime() - epoch
    try (body, s)
    finally {
      ListenerBus.drain(sc)
      s.end = System.nanoTime() - epoch
      synchronized { s.plans ++= pendingPlans; pendingPlans.clear() }
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"pb-span-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def span[T](name: String)(body: => T): T = traced(name)(body)._1

  /** A span around `body`, returned so callers can read its time and counters. */
  def run(name: String)(body: => Unit): Span = traced(name)(body)._2

  /** A ladder rung: `body` runs once as `<name>.warm`, so its generated code
    * is as warm as the job's, then again as the measured span.
    */
  def rung(name: String)(body: => Unit): Span = {
    run(s"$name.warm")(body)
    run(name)(body)
  }

  def subtree(s: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == s.id)
    s +: kids.toSeq.flatMap(subtree)
  }

  def plans(s: Span): Seq[QueryExecution] = subtree(s).flatMap(_.plans)

  /** Spark counters summed over a span and its children. `task_skew` is max
    * over median task time in the stage with the longest wall time.
    */
  def sparkTotals(s: Span): Map[String, Double] = synchronized {
    val tree = subtree(s)
    val sums = Tracer.SparkCounters.map { k =>
      k -> (if (k == "peak_execution_memory_bytes") tree.map(_.spark.getOrElse(k, 0.0)).max
            else tree.map(_.spark.getOrElse(k, 0.0)).sum)
    }.toMap
    val stages = tree.flatMap(sp => sp.stageWall.toSeq.map { case (st, w) =>
      (w, sp.stageTasks.getOrElse(st, ArrayBuffer.empty[Long]).toSeq) })
    val skew =
      if (stages.isEmpty) 0.0
      else {
        val ts = stages.maxBy(_._1)._2.sorted
        if (ts.isEmpty) 0.0 else ts.last.toDouble / math.max(1L, ts(ts.size / 2))
      }
    sums + ("task_skew" -> skew)
  }

  /** Self time of a span: its duration minus what its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def toJson: Any = synchronized {
    spans.toSeq.map { s =>
      Json.Obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> s.runId,
        "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9, "self_s" -> selfSeconds(s),
        "spark" -> Json.Obj(s.spark.toSeq.sortBy(_._1): _*))
    }
  }
}

object Tracer {
  val SparkCounters: Seq[String] = Seq("jobs", "tasks", "failed_tasks", "executor_run_s",
    "executor_cpu_s", "jvm_gc_s", "deserialize_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "shuffle_fetch_wait_s", "spill_bytes", "peak_execution_memory_bytes")
}

/** Walks executed physical plans, through adaptive and query-stage wrappers. */
object Plans {
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case p => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  def all(qes: Seq[QueryExecution]): Seq[SparkPlan] = qes.flatMap(q => nodes(q.executedPlan))

  def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)
}
