package graftbench

import org.apache.spark.sql.SparkSession

/** Shared measurement of the open-loop streaming workloads.
  *
  * Every input row has a due time (its scheduled `dt_update`). The
  * `graft-jdbc` source releases a row once its due time has passed, so a
  * row's latency is measured from its due time to the commit of the
  * micro-batch whose offset range `(start, end]` covers it — the wait a
  * stall imposes on later rows is counted.
  */
object Streams {
  private val MsRe = """"ms":(-?\d+)""".r

  /** Due-time bound of a `graft-jdbc` offset; the initial offset is -inf. */
  def offsetMs(json: String): Long =
    if (json == null || json.contains("\"start\"")) Long.MinValue
    else MsRe.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(Long.MinValue)

  /** Number of elements of ascending `xs` that are <= x. */
  def countLE(xs: Array[Long], x: Long): Int = {
    var lo = 0; var hi = xs.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (xs(m) <= x) lo = m + 1 else hi = m }
    lo
  }

  def dataBatches(ps: Seq[Progress]): Seq[Progress] =
    ps.filter(p => p.inputRows > 0 && p.endOffset != null)

  /** Latency (ms) of each row due at or after `liveFrom`, per batch commit. */
  def latencies(ps: Seq[Progress], due: Array[Long], liveFrom: Long): Seq[Double] =
    dataBatches(ps).flatMap { p =>
      val from = countLE(due, offsetMs(p.startOffset))
      val to = countLE(due, offsetMs(p.endOffset))
      (from until to).iterator.map(due).filter(_ >= liveFrom)
        .map(d => (p.commitMs - d).toDouble)
    }

  /** Time from `t0` until the batch holding the row due at `lastDue` commits. */
  def drainMs(ps: Seq[Progress], lastDue: Long, t0: Long): Option[Double] =
    dataBatches(ps).find(p => offsetMs(p.endOffset) >= lastDue)
      .map(p => (p.commitMs - t0).toDouble)

  def delivered(ps: Seq[Progress]): Long = ps.map(_.inputRows).sum

  /** Rows due by a batch's commit but not yet read, at the worst batch. */
  def lagRowsMax(ps: Seq[Progress], due: Array[Long]): Double =
    dataBatches(ps).map(p => countLE(due, p.commitMs) - countLE(due, offsetMs(p.endOffset)))
      .foldLeft(0)(math.max).toDouble

  /** Layer metrics read from progress events of the given sink queries. */
  def microbatchLayer(r: Result, ps: Seq[Progress], jobs: Seq[JobRecord],
                      due: Array[Long]): Unit = {
    val data = dataBatches(ps)
    def d(p: Progress, k: String) = p.durations.getOrElse(k, 0L).toDouble
    val trig = data.map(d(_, "triggerExecution"))
    r.layer("sources.poll_ms_p50") = Stats.median(data.map(d(_, "latestOffset")))
    r.layer("sources.lag_rows_max") = lagRowsMax(ps, due)
    r.layer("microbatch.trigger_ms_p50") = Stats.median(trig)
    r.layer("microbatch.trigger_ms_p95") = Stats.quantile(trig, 0.95)
    r.layer("microbatch.planning_ms_p50") = Stats.median(data.map(d(_, "queryPlanning")))
    r.layer("microbatch.checkpoint_ms_p50") =
      Stats.median(data.map(p => d(p, "walCommit") + d(p, "commitOffsets")))
    r.layer("microbatch.add_batch_ms_p50") = Stats.median(data.map(d(_, "addBatch")))
    val ids = ps.map(_.queryId).toSet
    val batchJobs = jobs.count(j => j.batchId >= 0 && ids.contains(j.queryId))
    r.layer("microbatch.jobs_per_batch") =
      if (data.isEmpty) 0.0 else batchJobs.toDouble / data.size
    r.layer("microbatch.batches") = data.size.toDouble
    r.layer("microbatch.rows_per_batch_mean") = Stats.mean(data.map(_.inputRows.toDouble))
  }

  /** Attributes each job of a `referenceTopologyBatch` micro-batch to its
    * phase. Call sites inside a streaming query all name the query's
    * `start`, so phases are told apart by the path each SQL execution
    * writes and by program order: probes run before the stage write, the
    * copy-on-write upsert after the manifest write.
    */
  def curationLayers(jobs: Seq[JobRecord],
                     writes: java.util.concurrent.ConcurrentHashMap[Long, String]): Map[Int, String] =
    jobs.filter(_.batchId >= 0).groupBy(j => (j.queryId, j.batchId)).values.flatMap { js =>
      var afterManifest = false
      js.groupBy(_.executionId).toSeq.sortBy(_._2.map(_.jobId).min).flatMap { case (exec, ej) =>
        val target = Option(writes.get(exec)).getOrElse("")
        val layer =
          if (target.contains("/dead_letter/")) "curation.dead_letter"
          else if (target.contains("/stage/")) "curation.stage"
          else if (target.contains("/manifest/")) { afterManifest = true; "curation.manifest" }
          else if (afterManifest || target.contains("/snapshot")) "cdc"
          else "curation.probe"
        ej.map(_.jobId -> layer)
      }
    }.toMap

  /** Times `body` (ms) `n` times and returns the median. */
  def probeMs(n: Int)(body: => Unit): Double = Stats.median((1 to n).map { _ =>
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  })

  /** Polls every 50 ms until `cond` holds or `timeoutMs` passes. */
  def await(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
    cond
  }

  def drainBus(spark: SparkSession): Unit =
    org.apache.spark.BenchBus.drain(spark.sparkContext)
}
