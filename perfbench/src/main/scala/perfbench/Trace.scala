package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Task metrics summed over a set of Spark tasks. */
final class TaskSums {
  var tasks = 0L
  var failures = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L

  def add(o: TaskSums): Unit = {
    tasks += o.tasks; failures += o.failures; cpuNs += o.cpuNs; runMs += o.runMs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
  }

  def cpuS: Double = cpuNs / 1e9
  def shuffleWriteMb: Double = shuffleWriteBytes / 1048576.0
}

/** One Spark job: the span that submitted it and the action's call site. */
final case class JobInfo(jobId: Int, span: String, callSite: String, stages: Int)

/** Listener that sums task metrics since the last [[reset]], per job and in
  * total. Each job is tagged with the `perfbench.span` local property the
  * [[Tracer]] sets around a layer call, so task CPU and shuffle bytes can be
  * attributed to the layer that caused them.
  */
final class SparkMeter extends SparkListener {
  private var total = new TaskSums
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobSums = mutable.LinkedHashMap.empty[Int, TaskSums]
  private val jobInfos = mutable.ArrayBuffer.empty[JobInfo]
  // SQL execution id -> the action's call site ("parquet at WaveLoop.scala:410")
  private val execSites = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { execSites(s.executionId) = s.description }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    jobSums(e.jobId) = new TaskSums
    // SQL jobs (also those AQE submits from its own threads) name the
    // action of their execution; other jobs name their result stage
    val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSites.get(id.toLong))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    jobInfos += JobInfo(e.jobId, prop(Tracer.SpanProperty), site, e.stageIds.size)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = new TaskSums
    s.tasks = 1
    if (e.reason != org.apache.spark.Success) s.failures = 1
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs = m.executorCpuTime
      s.runMs = m.executorRunTime
      s.gcMs = m.jvmGCTime
      s.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
      s.fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime
      s.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
    }
    total.add(s)
    stageJob.get(e.stageId).flatMap(jobSums.get).foreach(_.add(s))
  }

  /** Waits for the listener bus, so every finished task is counted. */
  def drain(sc: SparkContext): Unit = org.apache.spark.graftbridge.ListenerBridge.drain(sc)

  def reset(): Unit = synchronized {
    total = new TaskSums
    stageJob.clear(); jobSums.clear(); jobInfos.clear()
  }

  def totals: TaskSums = synchronized { val t = new TaskSums; t.add(total); t }

  def jobs: Seq[(JobInfo, TaskSums)] = synchronized {
    jobInfos.toSeq.map(j => (j, jobSums.getOrElse(j.jobId, new TaskSums)))
  }

  /** Task sums of the jobs submitted under spans with this name. */
  def bySpan(name: String): TaskSums = synchronized {
    val t = new TaskSums
    jobInfos.filter(_.span == name).foreach(j => jobSums.get(j.jobId).foreach(t.add))
    t
  }
}

/** In-memory span recorder for the traced run. A span covers one call into
  * a layer; spans nest, and a span's self time is its duration minus the
  * time its child spans cover. Spans are written once, at the end of the
  * run. When disabled, [[span]] only runs its body.
  */
final class Tracer(val runId: String, sc: SparkContext, var enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, parent, runId, System.nanoTime(), 0L)
      stack = id :: stack
      val prevProp = sc.getLocalProperty(SpanProperty)
      sc.setLocalProperty(SpanProperty, name)
      try body
      finally {
        sc.setLocalProperty(SpanProperty, prevProp)
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Self seconds per span name, summed over its calls. */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    // children of one parent run one after another on the driver thread,
    // so the time they cover is the sum of their durations
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.durNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.durNs - childNs(s.id)).toDouble / 1e9).sum
    }
  }

  def seconds(name: String): Double =
    spans.filter(_.name == name).map(_.durNs / 1e9).sum

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""run":${Json.str(s.run)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, run: String,
      startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }
}
