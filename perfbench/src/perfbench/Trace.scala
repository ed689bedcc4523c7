package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Whole-stage and expression code Spark has compiled in this JVM: one per
  * miss of its codegen cache. */
object Codegen {
  def compiles: Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** One node of the trace tree: op → pipeline stage or query → Spark job
  * → Spark stage. `counts` hold everything observed beneath the span. */
final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
    val startMs: Long) {
  private[perfbench] var startNs = System.nanoTime()
  private[perfbench] var endMs = 0L
  private[perfbench] var wallS = 0.0
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** Wall-clock intervals (epoch ms) of the Spark jobs run under this span. */
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty

  def apply(k: String): Double = counts.getOrElse(k, 0.0)

  /** Wall time not covered by any Spark job: listing, footers, renames,
    * publish, driver-side planning and the fetcher's loop. */
  def driverS: Double = {
    val clipped = jobIntervals.map { case (s, e) => (s max startMs, e min endMs) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var reach = Long.MinValue
    for ((s, e) <- clipped) {
      val from = s max reach
      if (e > from) covered += e - from
      reach = reach max e
    }
    (wallS - covered / 1000.0) max 0.0
  }
}

/** Observes the library from outside through Spark's public
  * `SparkListener` and `QueryExecutionListener`, and writes every closed
  * span as one JSONL line with its parent id and counts.
  *
  * Jobs are attributed to the span open when they start (a local
  * property set on the driver thread); catalyst phases to the span open
  * when the query finishes. Closing a span drains the listener bus, so
  * every event of a span is counted before the span's totals are read. */
final class Tracer(spark: SparkSession, out: PrintWriter)
    extends SparkListener with QueryExecutionListener {

  private val SpanProp = "perfbench.span"
  private val spans = mutable.HashMap.empty[Int, Span]
  private val jobSpans = mutable.HashMap.empty[Int, Span]
  private val stageJobs = mutable.HashMap.empty[Int, Span]
  private var open: List[Span] = Nil
  private var nextId = 0
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val gcStart = mutable.HashMap.empty[Int, Long]
  private val codegenStart = mutable.HashMap.empty[Int, Long]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def stop(): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
    out.close()
  }

  private def gcMs: Long = gcBeans.map(_.getCollectionTime max 0L).sum

  private def newSpan(parent: Int, kind: String, name: String, startMs: Long): Span =
    synchronized {
      nextId += 1
      val s = new Span(nextId, parent, kind, name, startMs)
      spans(s.id) = s
      s
    }

  /** Add `v` to counter `k` of the span and of every span above it. */
  private def add(from: Span, k: String, v: Double): Unit = synchronized {
    var s = from
    while (s != null) {
      s.counts(k) = s(k) + v
      s = spans.getOrElse(s.parent, null)
    }
  }

  private def addInterval(from: Span, iv: (Long, Long)): Unit = synchronized {
    var s = from
    while (s != null) {
      s.jobIntervals += iv
      s = spans.getOrElse(s.parent, null)
    }
  }

  private def current: Span = synchronized(open.headOption.orNull)

  /** Run `body` inside a new span of `kind`; returns its result and the
    * closed span (also when `body` throws: the span is closed, then the
    * exception propagates). */
  def within[A](kind: String, name: String)(body: => A): (A, Span) = {
    val parent = current
    val span = newSpan(if (parent == null) 0 else parent.id, kind, name, System.currentTimeMillis)
    synchronized { open = span :: open }
    gcStart(span.id) = gcMs
    codegenStart(span.id) = Codegen.compiles
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanProp, span.id.toString)
    span.startNs = System.nanoTime()
    def close(): Unit = {
      span.wallS = (System.nanoTime() - span.startNs) / 1e9
      span.endMs = System.currentTimeMillis
      org.apache.spark.PerfbenchBridge.drain(sc)
      span.counts("gc_s") = (gcMs - gcStart.remove(span.id).get) / 1000.0
      span.counts("codegen_compiles") = (Codegen.compiles - codegenStart.remove(span.id).get).toDouble
      synchronized { open = open.tail }
      sc.setLocalProperty(SpanProp, if (parent == null) null else parent.id.toString)
      write(span)
    }
    val r = try body catch { case e: Throwable => close(); throw e }
    close()
    (r, span)
  }

  /** The pipeline stages or queries directly under `s`. */
  def childrenOf(s: Span): Seq[Span] =
    synchronized(spans.values.filter(c => c.parent == s.id && (c.kind == "stage" || c.kind == "query")).toSeq)

  /** The catalyst and spark layer metrics of one op span, named
    * `catalyst.<infix><metric>` and `spark.<infix><metric>`. */
  def sparkLayers(op: Span, infix: String = ""): Map[String, Double] = {
    val cores = spark.sparkContext.defaultParallelism
    (Seq("analysis_s", "optimization_s", "planning_s", "codegen_compiles").map(k => s"catalyst.$infix$k" -> op(k)) ++
      (Seq("jobs", "stages", "tasks", "task_s", "gc_s", "shuffle_write_bytes", "shuffle_records",
        "input_bytes", "output_bytes").map(k => s"spark.$infix$k" -> op(k)) :+
        (s"spark.${infix}busy_frac" -> op("task_s") / (op.wallS * cores)))).toMap
  }

  def timed[A](kind: String, name: String)(body: => A): A = within(kind, name)(body)._1

  private def owner(props: java.util.Properties): Span = synchronized {
    Option(props).flatMap(p => Option(p.getProperty(SpanProp)))
      .flatMap(id => spans.get(id.toInt)).getOrElse(current)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val o = owner(e.properties)
    if (o != null) {
      val job = newSpan(o.id, "job", s"job ${e.jobId}", e.time)
      synchronized {
        jobSpans(e.jobId) = job
        e.stageIds.foreach(stageJobs(_) = job)
      }
      add(job, "jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized(jobSpans.remove(e.jobId)).foreach { job =>
      job.endMs = e.time
      job.wallS = (e.time - job.startMs) / 1000.0
      addInterval(job, (job.startMs, e.time))
      write(job)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    synchronized(stageJobs.remove(info.stageId)).foreach { job =>
      val st = newSpan(job.id, "spark_stage", s"stage ${info.stageId}", info.submissionTime.getOrElse(0L))
      st.endMs = info.completionTime.getOrElse(st.startMs)
      st.wallS = (st.endMs - st.startMs) / 1000.0
      val m = info.taskMetrics
      Seq(
        "stages" -> 1.0,
        "tasks" -> info.numTasks.toDouble,
        "task_s" -> m.executorRunTime / 1000.0,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "shuffle_records" -> m.shuffleWriteMetrics.recordsWritten.toDouble,
        "input_bytes" -> m.inputMetrics.bytesRead.toDouble,
        "output_bytes" -> m.outputMetrics.bytesWritten.toDouble,
      ).foreach { case (k, v) => add(st, k, v) }
      write(st)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val s = current
    if (s != null) {
      val phases = qe.tracker.phases
      for ((phase, key) <- Seq("analysis" -> "analysis_s",
          "optimization" -> "optimization_s", "planning" -> "planning_s"))
        add(s, key, phases.get(phase).map(_.durationMs / 1000.0).getOrElse(0.0))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def write(s: Span): Unit = synchronized {
    val counts = s.counts.map { case (k, v) => s""""$k":${Report.num(v)}""" }.mkString("{", ",", "}")
    out.println(s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
      s""""name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
      s""""wall_s":${Report.num(s.wallS)},"counts":$counts}""")
  }
}
