package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.json4s.{DefaultFormats, Extraction, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods.{compact, render}

/** The one place the in-repo harnesses (Bench, ScaleBench, ScaleBench100,
  * ProfileQuery) time a query, and their one session builder. [[run]]
  * produces one [[Record]] per query run — the batch counterpart of the
  * per-trigger progress record Structured Streaming reports:
  *
  *  - CONSTRUCTION: `fn(spark, dir)` — analysis plus every eager job an
  *    operator runs while building its frame (checkpoints, CC rounds,
  *    trainer loops, persisted-index builds);
  *  - EXECUTION: a noop-sink write of the whole output. Not `count()`:
  *    under a count Catalyst prunes projected expressions, so a pure
  *    projection would time its scan and skip its compute.
  *
  * Metrics come from one `SparkListener` per `SparkContext`, keyed by the
  * unique job group each run sets on its thread (every job the run
  * submits, including broadcast and AQE stage jobs, carries it), so runs
  * on concurrent threads each get only their own jobs.
  */
object QueryTrace {

  /** One query run. `error` is None for an ok run; otherwise the failure
    * with its cause chain. `stages` counts the stages that ran tasks
    * (skipped stages reuse earlier output); spill is memory + disk bytes,
    * peak execution memory the largest task's, and `stageRows` maps each
    * stage id to the rows it read (input records from files or cached
    * blocks plus shuffle records).
    */
  final case class Record(name: String, constructS: Double, execS: Double,
                          jobs: Int, constructJobs: Int, stages: Int,
                          tasks: Int, executorCpuS: Double,
                          shuffleReadRecords: Long, shuffleReadBytes: Long,
                          shuffleWriteRecords: Long, shuffleWriteBytes: Long,
                          spillBytes: Long, peakExecutionMemoryBytes: Long,
                          stageRows: ListMap[String, Long], error: Option[String]) {
    def ok: Boolean = error.isEmpty

    /** End-to-end seconds (construction + execution); -1 if the run failed. */
    def seconds: Double = if (ok) constructS + execS else -1.0

    /** `outcome` ("ok"/"failed") then every field, keys in snake_case. */
    def toJson: JValue = JObject("outcome" -> JString(if (ok) "ok" else "failed"))
      .merge(Extraction.decompose(this)(DefaultFormats).snakizeKeys)

    def json: String = compact(render(toJson))
  }

  /** Local parallelism of the harness session: `SPARK_GRAFT_CPUS`, else
    * every available processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The harness session: `local[cpus]`, as many shuffle partitions as
    * cores, no UI. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** JVM, codegen and scheduler warm-up, so the first timed query is not
    * charged seconds of session start-up. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      Tables.load(spark, sfDir, "lineitem").count()
    } catch { case NonFatal(e) =>
      System.err.println(s"[trace] warm-up on $sfDir failed: ${e.getMessage}") }

  /** Build `fn(spark, dir)` and write its whole output to the noop sink,
    * under a fresh job group. A non-fatal failure becomes the failed
    * record; a fatal error propagates. `onGroup` receives the job group
    * before construction starts (a caller's timer can cancel it).
    */
  def run(spark: SparkSession, name: String, dir: String,
          fn: (SparkSession, String) => DataFrame,
          onGroup: String => Unit = _ => ()): Record = {
    val sc = spark.sparkContext
    val listener = listenerOf(sc)
    val group = s"graft-trace-${runIds.incrementAndGet()}-$name"
    val acc = new Acc
    listener.active.put(group, acc)
    try {
      val t0 = System.nanoTime()
      var built = 0L
      val error =
        try {
          sc.setJobGroup(group, s"trace $name", interruptOnCancel = true)
          sc.setLocalProperty(PhaseKey, Construct)
          onGroup(group)
          val df = fn(spark, dir)
          built = System.nanoTime()
          sc.setLocalProperty(PhaseKey, null)
          df.write.format("noop").mode("overwrite").save()
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[trace] $name @ $dir failed: ${e.getMessage}")
          Some(causes(e))
        } finally {
          sc.setLocalProperty(PhaseKey, null)
          sc.clearJobGroup()
        }
      val t1 = System.nanoTime()
      val constructEnd = if (built > 0) built else t1
      // a bus that never empties (waitUntilEmpty gives up after 10 s)
      // costs the record its late events, not the measurement
      try GraftShim.drainListenerBus(sc)
      catch { case e: java.util.concurrent.TimeoutException =>
        System.err.println(s"[trace] $name: listener bus busy, record may be partial: ${e.getMessage}") }
      acc.synchronized {
        val ms = acc.tasks.map(_._2)
        def sum(f: TaskMetrics => Long) = ms.map(f).sum
        val rows = acc.tasks.groupMapReduce(_._1)(t =>
          t._2.inputMetrics.recordsRead + t._2.shuffleReadMetrics.recordsRead)(_ + _)
        Record(name, (constructEnd - t0) / 1e9, (t1 - constructEnd) / 1e9,
          acc.jobs, acc.constructJobs, rows.size, ms.size,
          sum(_.executorCpuTime) / 1e9,
          sum(_.shuffleReadMetrics.recordsRead), sum(_.shuffleReadMetrics.totalBytesRead),
          sum(_.shuffleWriteMetrics.recordsWritten), sum(_.shuffleWriteMetrics.bytesWritten),
          sum(m => m.memoryBytesSpilled + m.diskBytesSpilled),
          (0L +: ms.map(_.peakExecutionMemory)).max,
          ListMap.from(rows.toSeq.sorted.map { case (s, n) => s.toString -> n }),
          error)
      }
    } finally listener.detach(group, acc)
  }

  private def causes(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .map(_.toString).mkString("; caused by: ")

  private val PhaseKey = "graft.trace.phase"
  // the local property SparkContext.setJobGroup sets (private in Spark)
  private val JobGroupKey = "spark.jobGroup.id"
  private val Construct = "construct"
  private val runIds = new AtomicLong

  /** One run's jobs and (stage id, task metrics); written by the listener
    * thread, read after the bus drains, both under the instance lock. */
  private final class Acc {
    var jobs, constructJobs = 0
    val tasks = ArrayBuffer.empty[(Int, TaskMetrics)]
  }

  private final class Listener extends SparkListener {
    val active = new ConcurrentHashMap[String, Acc]
    private val byStage = new ConcurrentHashMap[Int, Acc]

    def detach(group: String, acc: Acc): Unit = {
      active.remove(group)
      byStage.values.removeIf(_ eq acc)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      for {
        props <- Option(e.properties)
        group <- Option(props.getProperty(JobGroupKey))
        acc <- Option(active.get(group))
      } {
        acc.synchronized {
          acc.jobs += 1
          if (props.getProperty(PhaseKey) == Construct) acc.constructJobs += 1
        }
        e.stageIds.foreach(byStage.putIfAbsent(_, acc))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for {
        acc <- Option(byStage.get(e.stageId))
        m <- Option(e.taskMetrics)
      } acc.synchronized { acc.tasks += e.stageId -> m }
  }

  private val listeners = new java.util.WeakHashMap[SparkContext, Listener]

  /** The context's trace listener, installed on first use. */
  private def listenerOf(sc: SparkContext): Listener = listeners.synchronized {
    listeners.computeIfAbsent(sc, _ => { val l = new Listener; sc.addSparkListener(l); l })
  }
}
