package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call the benchmark made into a layer: `name` is
  * `layer.function`, `req` ties the spans of one request together. */
final case class Span(id: Long, name: String, parent: Long, req: Long,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Off (the untraced run) it only evaluates
  * the body. On, each span also tags the calling thread's Spark jobs
  * with its id (a local property), so the listener can attribute jobs
  * submitted from the benchmark's own threads exactly. */
object Trace {
  @volatile var on = false
  val SpanProp = "perfbench.span"
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val reqs = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private var spark: SparkSession = _

  def enable(s: SparkSession): Unit = { spark = s; on = true }

  /** A fresh request id for the spans of one operation. */
  def newRequest(): Long = reqs.incrementAndGet()

  def span[T](name: String, req: Long = 0L)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanProp, id.toString)
      val m0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      try f
      finally {
        val n1 = System.nanoTime(); val m1 = System.currentTimeMillis()
        stack.set(outer)
        sc.setLocalProperty(SpanProp, outer.headOption.map(_.toString).orNull)
        spans.add(Span(id, name, outer.headOption.getOrElse(0L), req,
          n0, n1, m0, m1))
      }
    }

  /** Name of the spans that only measure the cost of a span. */
  val Calibrate = "bench.calibrate"

  def all: Seq[Span] =
    spans.asScala.toSeq.filter(_.name != Calibrate).sortBy(_.startNs)

  /** Self time per span: its duration minus the union of its
    * children's intervals (children never outlive their parent). */
  def selfMs(ss: Seq[Span]): Map[Long, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val cs = kids.getOrElse(s.id, Nil).sortBy(_.startNs)
      var covered = 0L; var end = s.startNs
      cs.foreach { c =>
        val a = math.max(c.startNs, end); val b = math.min(c.endNs, s.endNs)
        if (b > a) { covered += b - a; end = b }
      }
      s.id -> (s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }

  /** Spans as JSON lines, with self times, for the span file. */
  def jsonLines(ss: Seq[Span]): Seq[String] = {
    val self = selfMs(ss)
    ss.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_ms":${Json.num(s.ms)},""" +
        s""""self_ms":${Json.num(self(s.id))}}"""
    }
  }
}

/** What one Spark job did: wall time, its stages, and who submitted it (span property, job group and
  * the call site of its final stage). `execution` is the root SQL
  * execution id: jobs an execution spawns asynchronously (broadcasts,
  * adaptive stages) carry no user call site but share it. */
final case class JobRec(id: Int, startMs: Long, endMs: Long, span: Long,
    group: String, callSite: String, stages: Seq[Int], execution: String) {
  def wallMs: Double = (endMs - startMs).toDouble
}
final case class StageRec(id: Int, tasks: Int, taskMs: Double,
    shuffleBytes: Long, spillBytes: Long, outBytes: Long)
/** Catalyst phase times of one executed query; `startMs` is when its
  * optimization began (analysis may have run eagerly, long before). */
final case class QeRec(startMs: Long, analysisMs: Double,
    optimizationMs: Double, planningMs: Double) {
  def catalystMs: Double = analysisMs + optimizationMs + planningMs
}

/** Listener pair on the benchmark's own session. Registered for every
  * run (the /metrics and job counts the untraced run reports come from
  * it too); the spans it is matched against exist only when traced. */
final class Recorder(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int,
    (Long, Long, String, String, Seq[Int], String)]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  /** SQL execution id -> the call site that started it. */
  private val execSites =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  spark.sparkContext.addSparkListener(this)
  watch(spark)

  /** Query listeners are per session: register on each one used. */
  def watch(s: SparkSession): Unit = s.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(Trace.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val site = e.stageInfos.sortBy(_.stageId).lastOption
      .map(_.details).getOrElse("")
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.root.id"))
      .orElse(Option(x.getProperty("spark.sql.execution.id")))).getOrElse("")
    starts.put(e.jobId, (e.time, span, group, site, e.stageIds, exec))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execSites.put(x.executionId.toString, x.details)
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = starts.remove(e.jobId)
    if (s != null)
      jobs.add(JobRec(e.jobId, s._1, e.time, s._2, s._3, s._4, s._5, s._6))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages.put(i.stageId, StageRec(i.stageId, i.numTasks,
        m.executorRunTime.toDouble,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def d(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val start = ph.get("optimization").orElse(ph.get("planning"))
      .map(_.startTimeMs).getOrElse(System.currentTimeMillis())
    qes.add(QeRec(start, d("analysis"), d("optimization"), d("planning")))
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Waits until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drain(spark.sparkContext)

  def jobList: Seq[JobRec] = jobs.asScala.toSeq.sortBy(_.id)
  /** A job's own call site if it names repo code, else that of the
    * root SQL execution it belongs to. */
  def siteOf(j: JobRec): String =
    if (j.callSite.contains("graft.")) j.callSite
    else Option(execSites.get(j.execution)).getOrElse(j.callSite)

  def stagesOf(j: JobRec): Seq[StageRec] =
    j.stages.flatMap(id => Option(stages.get(id)))
  def taskMs(j: JobRec): Double = stagesOf(j).map(_.taskMs).sum
  def tasks(j: JobRec): Int = stagesOf(j).map(_.tasks).sum
  def shuffle(j: JobRec): Long = stagesOf(j).map(_.shuffleBytes).sum
  def outBytes(j: JobRec): Long = stagesOf(j).map(_.outBytes).sum
  def spill: Long = stages.values.asScala.map(_.spillBytes).sum

  /** Jobs as JSON lines: the span file's second half. */
  def jsonLines: Seq[String] = jobList.map { j =>
    Json.obj(Seq("job" -> j.id.toString, "span" -> j.span.toString,
      "group" -> Json.str(j.group), "execution" -> Json.str(j.execution),
      "site" -> Json.str(j.callSite.linesIterator.take(6).mkString(" | ")),
      "start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString,
      "task_ms" -> Json.num(taskMs(j))))
  }

  /** Forget everything recorded so far (end of set-up); execution
    * call sites stay, later jobs may belong to earlier executions. */
  def reset(): Unit = {
    drain(); jobs.clear(); stages.clear(); qes.clear()
  }
}
