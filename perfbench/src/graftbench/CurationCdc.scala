package graftbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.functions.{AvroCodec, GraftFunctions, StaticRegistry}
import graft.operators.TextAnalysis
import graft.sources.{GraftJdbcStream, SnapshotChunkSource}
import graft.streaming.{CdcSnapshot, Pipelines}

/** One generated record of the curation topic. */
final case class DocRecord(docId: Long, text: String, source: String, dueMs: Long,
                           schemaId: Int, kind: String) {
  /** Accepted by the topology's gates: English, good quality, not a copy. */
  def accepted: Boolean = kind == "new" || kind == "update"
}

/** `curation_cdc`: `Pipelines.startReferenceTopology`, open loop.
  *
  * The topic interleaves two writer schemas and carries malformed records,
  * non-English and junk documents, exact copies of earlier texts (within
  * and across batches) and updates of existing `doc_id`s. Copies only
  * repeat documents that are never updated, and updates carry new unique
  * texts, so the expected snapshot does not depend on batch boundaries.
  */
final class CurationCdc(spark: SparkSession, args: Args, setup: Setup,
                        listeners: Listeners, tracer: Tracer, r: Result) {
  import CurationCdc._

  private val work = new File(args.work).getAbsolutePath

  /** The generator: kinds drawn by `Mix`, content from the seed alone. */
  def generate(seed: Long, t0: Long, backlog: Int, live: Int): Vector[DocRecord] = {
    val rnd = new SplittableRandom(seed)
    def words(pool: Seq[String], markers: Seq[String], n: Int): String =
      Seq.fill(n)(if (rnd.nextDouble() < 0.3) markers(rnd.nextInt(markers.size))
        else pool(rnd.nextInt(pool.size))).mkString(" ")
    val copyable = mutable.ArrayBuffer[DocRecord]() // never updated
    val updatable = mutable.ArrayBuffer[Long]()     // never copied
    var nextId = seed * 1000000L
    val out = Vector.newBuilder[DocRecord]
    (0 until backlog + live).foreach { i =>
      val due = if (i < backlog) t0 - (backlog - i) * 2L
        else t0 + LeadMs + (i - backlog).toLong * 1000L / Rate
      val source = Sources(rnd.nextInt(Sources.size))
      val sid = 1 + rnd.nextInt(2)
      val u = rnd.nextDouble()
      val kind = Mix.find(_._2 > u).map(_._1).getOrElse("new") match {
        case "dup_near" if copyable.size < 50 => "new"
        case "dup_far" | "dup_near" if copyable.isEmpty => "new"
        case "update" if updatable.isEmpty => "new"
        case k => k
      }
      def fresh(): Long = { nextId += 1; nextId }
      val rec = kind match {
        case "new" =>
          val d = DocRecord(fresh(), words(English, EnMarkers, 70 + rnd.nextInt(60)),
            source, due, sid, "new")
          if (d.docId % 2 == 0) copyable += d else updatable += d.docId
          d
        case "dup_near" =>
          val o = copyable(copyable.size - 1 - rnd.nextInt(50))
          DocRecord(fresh(), o.text, source, due, sid, "dup")
        case "dup_far" =>
          DocRecord(fresh(), copyable(rnd.nextInt(copyable.size)).text, source, due, sid, "dup")
        case "update" =>
          DocRecord(updatable(rnd.nextInt(updatable.size)),
            words(English, EnMarkers, 70 + rnd.nextInt(60)), source, due, sid, "update")
        case "foreign" =>
          DocRecord(fresh(), words(English, DeMarkers, 70 + rnd.nextInt(60)), source, due, sid, "foreign")
        case "junk" =>
          DocRecord(fresh(), Seq.fill(3 + rnd.nextInt(6))(Junk(rnd.nextInt(Junk.size))).mkString(" "),
            source, due, sid, "junk")
        case "malformed" =>
          DocRecord(fresh(), "", source, due, 99, "malformed")
      }
      out += rec
    }
    out.result()
  }

  /** Confluent-framed Avro under each record's writer schema. */
  def encode(recs: Seq[DocRecord]): DataFrame = {
    import spark.implicits._
    val good = recs.filter(_.schemaId != 99)
      .map(d => (d.docId, d.text, d.source, d.dueMs, "en", d.schemaId)).toDF(
        "doc_id", "text", "source", "dt_update", "lang", "sid")
    def framed(sid: Int, schema: StructType) = good.filter(col("sid") === sid).select(
      AvroCodec.avroEncode(struct(schema.fieldNames.toSeq.map(col): _*), schema, Some(sid)).as("value"),
      timestamp_millis(col("dt_update")).as("dt_update"))
    // an unregistered schema id: the dead-letter path
    val bad = recs.filter(_.schemaId == 99)
      .map(d => (Array[Byte](0, 0, 0, 0, 99, 7, 7, 7), d.dueMs)).toDF("value", "ms")
      .select(col("value"), timestamp_millis(col("ms")).as("dt_update"))
    framed(1, WireV1).unionByName(framed(2, WireV2)).unionByName(bad)
  }

  private def start(handle: String, dir: String, maxRowsPerPoll: Option[Int] = None) =
    tracer.span("start topology", "curation") {
    val reader = spark.readStream.format("graft-jdbc").option("sourceHandle", handle)
      .option("delayIntervalMs", "1")
    Pipelines.startReferenceTopology(
      maxRowsPerPoll.fold(reader)(n => reader.option("maxRowsPerPoll", n.toString)).load(),
      WireV2, Registry, Seq(1, 2), s"$dir/out", s"$dir/ckpt",
      buckets = Buckets, queryName = s"curation_$handle",
      trigger = Trigger.ProcessingTime("500 milliseconds"))
  }

  def run(): Unit = {
    // warm-up in two batches: the first creates the snapshot, the second
    // runs the copy-on-write merge path the measured batches take
    setup.start {
      val t = System.currentTimeMillis()
      val warm = encode(generate(args.seed + 1, t, WarmRows, 0)).cache()
      warm.count()
      GraftJdbcStream.registry.put("curation_warm", new SnapshotChunkSource(() => warm))
      val q = start("curation_warm", s"$work/warm", maxRowsPerPoll = Some(WarmRows / 2))
      q.processAllAvailable()
      q.stop()
      warm.unpersist()
    }
    val liveRows = args.seconds * Rate
    var recs: Vector[DocRecord] = null
    var table: DataFrame = null
    (1 to Main.Reps).foreach { _ =>
      if (table != null) table.unpersist()
      setup.prep {
        recs = generate(args.seed, System.currentTimeMillis(), Backlog, liveRows)
        table = encode(recs).cache()
        table.count()
      }
    }
    GraftJdbcStream.registry.put("curation_live", new SnapshotChunkSource(() => table))
    val dir = s"$work/run"
    val t0 = System.currentTimeMillis()
    val q = setup.start(start("curation_live", dir))
    val due = recs.map(_.dueMs).toArray
    Streams.await(due.last - System.currentTimeMillis() + 60000L)(
      System.currentTimeMillis() > due.last + 20)
    tracer.span("drain", "microbatch")(q.processAllAvailable())
    q.stop()
    Streams.drainBus(spark)

    val ps = listeners.progressOf(q.id)
    val lat = Streams.latencies(ps, due, due(Backlog))
    val drain = Streams.drainMs(ps, due(Backlog - 1), t0)
    r.e2e("latency_p50_ms") = Stats.median(lat)
    r.e2e("latency_p95_ms") = Stats.quantile(lat, 0.95)
    r.e2e("work_s") = drain.getOrElse(Double.NaN) / 1000.0
    r.info("latency_samples") = lat.size.toString
    r.info("offered_rows") = recs.size.toString
    r.info("delivered_rows") = Streams.delivered(ps).toString
    r.info("backlog_rows") = Backlog.toString
    r.info("live_rows") = liveRows.toString
    r.info("live_rate_rows_per_s") = Rate.toString
    r.info("mix") = recs.groupBy(_.kind).map { case (k, v) => s""""$k":${v.size}""" }
      .mkString("{", ",", "}")

    val offered = recs.size.toLong + (if (args.corrupts("delivery")) 1 else 0)
    r.attempted = offered
    val missing = offered - Streams.delivered(ps)
    r.check("delivery", missing == 0, s"offered $offered, delivered ${Streams.delivered(ps)}")
    r.failed += math.abs(missing)
    r.check("backlog_drained", drain.isDefined, "backlog never committed")
    val out = s"$dir/out"
    tracer.span("check outputs", "checks")(checkOutputs(recs, out))
    if (args.trace) traceLayers(ps, due, recs, out, table)
  }

  private def checkOutputs(recs: Seq[DocRecord], out: String): Unit = {
    import spark.implicits._
    // latest-wins state of the accepted documents
    val accepted = recs.filter(_.accepted)
    var expected = accepted.groupBy(_.docId).map { case (id, vs) =>
      val d = vs.maxBy(_.dueMs); id -> ((d.text, d.source, d.dueMs)) }
    if (args.corrupts("snapshot")) expected = expected - expected.keys.head
    val got = CdcSnapshot.readUpsert(spark, s"$out/snapshot")
      .select(col("doc_id"), col("text"), col("source"), unix_millis(col("dt_update")))
      .as[(Long, String, String, Long)].collect()
      .map { case (id, t, s, ms) => id -> ((t, s, ms)) }
    val gotMap = got.toMap
    val wrong = (expected.keySet ++ gotMap.keySet).count(k => expected.get(k) != gotMap.get(k)) +
      (got.length - gotMap.size)
    r.check("snapshot", wrong == 0, s"$wrong doc_ids differ from the expected snapshot")
    r.failed += wrong

    val malformed = recs.count(_.kind == "malformed") + (if (args.corrupts("dead_letter")) 1 else 0)
    val dead = if (new File(s"$out/dead_letter").exists())
      spark.read.parquet(s"$out/dead_letter").count() else 0L
    r.check("dead_letter", dead == malformed, s"dead letters $dead, malformed $malformed")
    r.failed += math.abs(dead - malformed)

    // manifest: per source, released documents and tokens add up
    val expM = accepted.groupBy(_.source).map { case (s, ds) =>
      s -> ((ds.size.toLong + (if (args.corrupts("manifest")) 1 else 0),
        ds.map(_.text.split(' ').length.toLong).sum)) }
    val gotM = spark.read.parquet(s"$out/manifest").groupBy(col("source"))
      .agg(sum(col("n_docs")), sum(col("n_tokens"))).as[(String, Long, Long)].collect()
      .map { case (s, n, t) => s -> ((n, t)) }.toMap
    val badM = (expM.keySet ++ gotM.keySet).count(k => expM.get(k) != gotM.get(k))
    r.check("manifest", badM == 0, s"manifest totals differ for $badM sources: $gotM vs $expM")
    r.failed += badM
  }

  private def traceLayers(ps: Seq[Progress], due: Array[Long], recs: Seq[DocRecord],
                          out: String, table: DataFrame): Unit = {
    val jobs = listeners.jobRecords
    Streams.microbatchLayer(r, ps, jobs, due)
    r.layer("sources.catchup_rows_per_s") = Backlog / r.e2e("work_s")
    val layers = Streams.curationLayers(jobs, listeners.writeTargets)
    val layer = (j: JobRecord) => layers.getOrElse(j.jobId, "other")
    val mine = jobs.filter(j => j.batchId >= 0 && ps.headOption.exists(_.queryId == j.queryId))
    val byBatch = mine.groupBy(_.batchId)
    def perBatchMs(l: String) = byBatch.values.toSeq
      .map(_.filter(j => layer(j) == l).map(_.durationMs.toDouble).sum).filter(_ > 0)
    r.layer("curation.probe_ms_p50") = Stats.median(perBatchMs("curation.probe"))
    r.layer("curation.stage_ms_p50") = Stats.median(perBatchMs("curation.stage"))
    r.layer("curation.manifest_ms_p50") = Stats.median(perBatchMs("curation.manifest"))
    val staged = spark.read.parquet(s"$out/stage").count()
    val decoded = recs.count(_.kind != "malformed")
    r.layer("curation.kept_ratio") = staged.toDouble / decoded

    // copy-on-write upsert: wall span of its jobs per batch, by live-phase quarter
    val upsert = byBatch.toSeq.sortBy(_._1).flatMap { case (b, js) =>
      val c = js.filter(j => layer(j) == "cdc")
      if (c.isEmpty) None else Some(b -> (c.map(_.endMs).max - c.map(_.startMs).min).toDouble)
    }
    val liveFrom = due(Backlog)
    val liveBatches = Streams.dataBatches(ps).filter(p => Streams.offsetMs(p.endOffset) >= liveFrom)
      .map(_.batchId).toSet
    val live = upsert.filter(u => liveBatches.contains(u._1)).map(_._2)
    val quarter = math.max(1, live.size / 4)
    r.layer("cdc.upsert_ms_p50") = Stats.median(upsert.map(_._2))
    r.layer("cdc.upsert_ms_first_quarter") = Stats.median(live.take(quarter))
    r.layer("cdc.upsert_ms_last_quarter") = Stats.median(live.takeRight(quarter))
    val cdcBytes = mine.filter(j => layer(j) == "cdc").map(_.outputBytes.get).sum
    r.layer("cdc.rewrite_bytes_per_row") = cdcBytes.toDouble / math.max(1L, staged)
    val snap = s"$out/snapshot"
    r.layer("cdc.snapshot_rows_end") = CdcSnapshot.readUpsert(spark, snap).count().toDouble
    r.layer("cdc.snapshot_files_end") =
      KsqlLive.allFiles(new File(snap)).count(_.getName.endsWith(".parquet")).toDouble
    listeners.emitStreamingSpans(tracer, layer)

    // direct-call probes, after the measured window
    val changes = CdcSnapshot.readUpsert(spark, snap).orderBy(col("doc_id")).limit(ProbeChanges)
      .withColumn("text", concat(col("text"), lit(" probe")))
      .select(col("doc_id").as("key"), (unix_millis(col("dt_update")) + 1).as("seq"),
        col("doc_id"), col("text"), col("source"), col("dt_update"), col("fp"))
      .cache()
    changes.count()
    r.layer("cdc.apply_upsert_probe_ms") = Streams.probeMs(3) {
      tracer.span("probe applyUpsert", "cdc")(CdcSnapshot.applyUpsert(spark, snap, changes, Buckets))
    }
    changes.unpersist()
    val backlog = table.orderBy(col("dt_update")).limit(Backlog).cache()
    backlog.count()
    val decodedBacklog = backlog.select(AvroCodec.avroDecodeEvolving(col("value"), WireV2,
      Registry, Seq(1, 2)).as("r"))
    r.layer("functions.avro_decode_evolving_ns_per_row") = Streams.probeMs(3) {
      tracer.span("probe avro_decode_evolving", "functions") {
        decodedBacklog.write.format("noop").mode("overwrite").save()
      }
    } * 1e6 / Backlog
    val docs = decodedBacklog.filter(col("r").isNotNull).select(col("r.*")).cache()
    val nDocs = docs.count()
    r.layer("functions.gates_ns_per_row") = Streams.probeMs(3) {
      tracer.span("probe gates", "functions") {
        TextAnalysis.withPredLangAndQuality(docs)
          .withColumn("fp", GraftFunctions.fingerprint(col("text")))
          .write.format("noop").mode("overwrite").save()
      }
    } * 1e6 / math.max(1L, nDocs)
    docs.unpersist()
    backlog.unpersist()
    r.layer("trace.latency_p50_ms") = r.e2e("latency_p50_ms")
  }
}

object CurationCdc {
  val Backlog = 3000
  val Rate = 100
  val LeadMs = 5000L
  val WarmRows = 400
  val Buckets = 4
  val ProbeChanges = 200

  /** Cumulative shares of record kinds (see BENCHMARK.json). */
  val Mix: Seq[(String, Double)] = Seq(
    "new" -> 0.64, "dup_near" -> 0.69, "dup_far" -> 0.74, "update" -> 0.84,
    "foreign" -> 0.93, "junk" -> 0.99, "malformed" -> 1.0)

  val WireV1: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType), StructField("dt_update", LongType)))
  val WireV2: StructType = WireV1.add(StructField("lang", StringType))
  val Registry = StaticRegistry(Map(1 -> WireV1, 2 -> WireV2))

  val Sources = Seq("web", "api", "crawl", "books")
  val EnMarkers: Seq[String] = TextAnalysis.langMarkers.toMap.apply("en")
  val DeMarkers: Seq[String] = TextAnalysis.langMarkers.toMap.apply("de")
  val English = Seq("data", "model", "river", "green", "window", "stream", "table",
    "quick", "brown", "fox", "light", "house", "garden", "paper", "music", "story",
    "market", "train", "city", "road", "cloud", "stone", "water", "bird", "tree",
    "night", "morning", "school", "letter", "engine", "value", "signal", "number",
    "orange", "silver", "winter", "summer", "island", "bridge", "forest")
  val Junk = Seq("!!!", "???", "#$%", "...", "!?", "@@", "***", "~~")
}
