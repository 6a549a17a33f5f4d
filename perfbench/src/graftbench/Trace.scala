package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** One timed interval at a layer boundary. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      startMs: Double, endMs: Double)

/** In-memory span store; written out once the run ends. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val buf = new ConcurrentLinkedQueue[Span]()

  def add(parent: Long, name: String, layer: String,
          startMs: Double, endMs: Double): Long = {
    val id = ids.incrementAndGet()
    if (enabled) buf.add(Span(id, parent, name, layer, startMs, endMs))
    id
  }

  /** Times `body` as a span; the span is recorded only when tracing. */
  def span[T](name: String, layer: String, parent: Long = 0L)(body: => T): T =
    spanId(name, layer, parent)(_ => body)

  /** [[span]], passing the span's id to `body` so children can name it. */
  def spanId[T](name: String, layer: String, parent: Long = 0L)(body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = System.currentTimeMillis().toDouble
    try body(id)
    finally if (enabled)
      buf.add(Span(id, parent, name, layer, t0, System.currentTimeMillis().toDouble))
  }

  def spans: Seq[Span] = buf.iterator().asScala.toSeq

  /** Self time per layer: each span's duration minus the union of its
    * children's intervals, clipped to the span.
    */
  def selfTimeByLayer: Map[String, Double] = {
    val all = spans
    val children = all.groupBy(_.parent)
    all.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var (curA, curB) = (Double.NaN, Double.NaN)
      kids.foreach { case (a, b) =>
        if (curA.isNaN) { curA = a; curB = b }
        else if (a <= curB) curB = math.max(curB, b)
        else { covered += curB - curA; curA = a; curB = b }
      }
      if (!curA.isNaN) covered += curB - curA
      s.layer -> math.max(0.0, s.endMs - s.startMs - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""layer":${Json.str(s.layer)},"start_ms":${s.startMs},"end_ms":${s.endMs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Everything one Spark job did, as seen from the listener bus. */
final class JobRecord(val jobId: Int, val startMs: Long, val group: String,
                      val queryId: String, val batchId: Long,
                      val executionId: Long, val callSite: String) {
  @volatile var endMs: Long = -1L
  val cpuNs = new AtomicLong(0)
  val shuffleWriteBytes = new AtomicLong(0)
  val spillBytes = new AtomicLong(0)
  val outputBytes = new AtomicLong(0)
  def durationMs: Long = if (endMs < 0) 0L else endMs - startMs
}

/** One streaming progress event, reduced to what the benchmark reads. */
final case class Progress(query: String, queryId: String, batchId: Long,
                          startMs: Long, durations: Map[String, Long],
                          inputRows: Long, startOffset: String,
                          endOffset: String, stateRows: Long,
                          stateMemoryBytes: Long, stateCommitMs: Long) {
  def commitMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** Progress events are needed in every run (latency is computed from
  * batch commits); job records only in traced runs.
  */
final class Listeners(traceJobs: Boolean) extends SparkListener {
  val progress = new ConcurrentLinkedQueue[Progress]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRecord]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  /** SQL execution id -> output path of the write it runs, if any. */
  val writeTargets = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val src = p.sources.headOption
      val states = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
      progress.add(Progress(
        query = Option(p.name).getOrElse(p.id.toString),
        queryId = p.id.toString,
        batchId = p.batchId,
        startMs = java.time.Instant.parse(p.timestamp).toEpochMilli,
        durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        inputRows = p.numInputRows,
        startOffset = src.map(_.startOffset).orNull,
        endOffset = src.map(_.endOffset).orNull,
        stateRows = states.map(_.numRowsTotal).sum,
        stateMemoryBytes = states.map(_.memoryUsedBytes).sum,
        stateCommitMs = states.map(_.commitTimeMs).sum))
      ()
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traceJobs) {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val site = prop("callSite.short").getOrElse(
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    val rec = new JobRecord(e.jobId, e.time, prop("spark.jobGroup.id").orNull,
      prop("sql.streaming.queryId").orNull,
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), site)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traceJobs) {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traceJobs) {
    val m = e.taskMetrics
    if (m != null) Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
      .foreach { r =>
        r.cpuNs.addAndGet(m.executorCpuTime)
        r.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        r.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        r.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if traceJobs =>
      Listeners.writePath(s.physicalPlanDescription)
        .foreach(p => writeTargets.put(s.executionId, p))
    case _ =>
  }

  def jobRecords: Seq[JobRecord] = jobs.values().asScala.toSeq.sortBy(_.jobId)
  def progressOf(queryId: java.util.UUID): Seq[Progress] =
    progress.iterator().asScala.filter(_.queryId == queryId.toString).toSeq.sortBy(_.batchId)

  /** Micro-batch spans (from progress) with their Spark jobs as children. */
  def emitStreamingSpans(t: Tracer, layerOf: JobRecord => String): Unit = {
    val byBatch = jobRecords.filter(_.batchId >= 0)
      .groupBy(j => (j.queryId, j.batchId))
    progress.iterator().asScala.foreach { p =>
      val id = t.add(0L, s"${p.query}#${p.batchId}", "microbatch",
        p.startMs.toDouble, p.commitMs.toDouble)
      byBatch.getOrElse((p.queryId, p.batchId), Nil).foreach { j =>
        t.add(id, s"job ${j.jobId} ${j.callSite}", layerOf(j),
          j.startMs.toDouble, math.max(j.startMs, j.endMs).toDouble)
      }
    }
  }
}

object Listeners {
  // formatted plans list the command's path on its "Arguments:" line;
  // simple-mode plans print it right after the command name
  private val InsertRes = Seq(
    """(?s)\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n.*?Arguments: ((?:file:|/)[^,\s]+)""".r,
    """InsertIntoHadoopFsRelationCommand ((?:file:|/)[^,\s]+)""".r)

  /** Output path of a file-writing SQL execution, from its plan text. */
  def writePath(plan: String): Option[String] = Option(plan).flatMap(p =>
    InsertRes.iterator.flatMap(_.findFirstMatchIn(p)).map(_.group(1)).nextOption())
}

/** Order statistics over measured samples. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
