package graftbench

import java.io.File
import java.time.OffsetDateTime

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.KsqlDdl
import graft.functions.AvroCodec
import graft.sources.{FakeData, GraftJdbcStream, SnapshotChunkSource}
import graft.streaming.Pipelines

/** `ksql_live`: the reference pipeline, open loop.
  *
  * A seeded customer table (FakeData → epoch records → Confluent-framed
  * Avro) holds a backlog due in the past and live rows due at `Rate` rows/s
  * for the run's length. The `graft-jdbc` source releases each row at its
  * due time; the README's ksqlDB statements run through `KsqlDdl`, and
  * `jovens` / `idadecont` go to the Connect-layout parquet and JSON sinks
  * on 500 ms triggers.
  */
final class KsqlLive(spark: SparkSession, args: Args, setup: Setup,
                     listeners: Listeners, tracer: Tracer, r: Result) {
  import KsqlLive._

  private val work = new File(args.work).getAbsolutePath

  /** Typed generator rows. Each row's `dt_update` is its due time: the
    * backlog 1 ms apart ending before `t0`, then live rows from
    * `t0 + LeadMs` at `Rate` rows/s. The seed enters through the row key.
    */
  private def customers(t0: Long, backlog: Int, live: Int): DataFrame = {
    val id = col("id")
    val due = when(id < backlog, lit(t0 - backlog) + id)
      .otherwise(lit(t0 + LeadMs) + (id - backlog) * 1000L / Rate)
    spark.range(backlog + live).select(due.cast("long").as("due"), id)
      .select((col("due") +: FakeData.customerColumns(
        lit(args.seed * 1000000000L) + col("id"))): _*)
      .withColumn("dt_update", timestamp_millis(col("due")))
  }

  /** The source table: (value = framed Avro record, dt_update = due time). */
  private def encoded(typed: DataFrame): DataFrame = {
    val wire = FakeData.toEpochRecords(typed.drop("due"))
    val fields = AvroCodec.customerWireSchema.fieldNames.toSeq.map(col)
    wire.select(
      AvroCodec.avroEncode(struct(fields: _*), AvroCodec.customerWireSchema, Some(1)).as("value"),
      timestamp_millis(col("dt_update")).as("dt_update"))
  }

  private def topic(handle: String): DataFrame =
    spark.readStream.format("graft-jdbc")
      .option("sourceHandle", handle)
      .option("delayIntervalMs", "1")
      .load()
      .select(AvroCodec.avroDecode(col("value"), AvroCodec.customerWireSchema,
        confluentFraming = true).as("r"))
      .select(col("r.*"))

  /** The README's statements, verbatim, then the two Connect sinks. */
  private def start(handle: String, dir: String): Seq[StreamingQuery] = {
    val frame = topic(handle)
    val ks = KsqlDdl.session(spark, t => if (t == "psg-customers") Some(frame) else None)
    Statements.foreach(s => tracer.span("ksql: " + s.split("\\s+").take(3).mkString(" "), "ksql")(ks.execute(s)))
    val trigger = Trigger.ProcessingTime("500 milliseconds")
    tracer.span("start sinks", "sinks") {
      Seq(
        Pipelines.startConnectParquetSink(spark.table("jovens").drop("ROWTIME"),
          s"$dir/s3", "jovens", s"$dir/ckpt/jovens", trigger = trigger),
        Pipelines.startConnectJsonSink(spark.table("idadecont"), s"$dir/s3",
          "idadecont", Seq("idadecat", "window_start", "window_end"),
          s"$dir/ckpt/idadecont", trigger = trigger))
    }
  }

  private def register(handle: String, table: DataFrame): Unit =
    GraftJdbcStream.registry.put(handle, new SnapshotChunkSource(() => table))

  def run(): Unit = {
    // warm-up: the same pipeline over a small past-due table, so the
    // measured batches do not pay first-use compilation
    setup.start {
      val warm = encoded(customers(System.currentTimeMillis(), WarmRows, 0)).cache()
      warm.count()
      register("ksql_warm", warm)
      val qs = start("ksql_warm", s"$work/warm")
      qs.foreach(_.processAllAvailable())
      qs.foreach(_.stop())
      warm.unpersist()
    }
    // generation: repeated, the median counts toward set-up time
    val liveRows = args.seconds * Rate
    var due: Array[Long] = null
    var typed: DataFrame = null
    var table: DataFrame = null
    (1 to Main.Reps).foreach { _ =>
      if (table != null) table.unpersist()
      setup.prep {
        typed = customers(System.currentTimeMillis(), Backlog, liveRows)
        table = encoded(typed).cache()
        table.count()
        due = typed.select(col("due")).collect().map(_.getLong(0)).sorted
      }
    }
    register("ksql_live", table)
    val dir = s"$work/run"
    val t0 = System.currentTimeMillis()
    val queries = setup.start(start("ksql_live", dir))
    val lastDue = due.last
    Streams.await(lastDue - System.currentTimeMillis() + 60000L)(
      System.currentTimeMillis() > lastDue + 20)
    tracer.span("drain", "microbatch")(queries.foreach(_.processAllAvailable()))
    queries.foreach(_.stop())
    Streams.drainBus(spark)

    val ps = queries.map(q => listeners.progressOf(q.id))
    val liveFrom = due(Backlog)
    val lat = ps.flatMap(Streams.latencies(_, due, liveFrom))
    val drains = ps.map(Streams.drainMs(_, due(Backlog - 1), t0))
    r.e2e("latency_p50_ms") = Stats.median(lat)
    r.e2e("latency_p95_ms") = Stats.quantile(lat, 0.95)
    r.e2e("work_s") = drains.map(_.getOrElse(Double.NaN)).max / 1000.0
    r.info("latency_samples") = lat.size.toString
    r.info("offered_rows") = due.length.toString
    r.info("delivered_rows") = ps.map(Streams.delivered).mkString("[", ",", "]")
    r.info("backlog_rows") = Backlog.toString
    r.info("live_rows") = liveRows.toString
    r.info("live_rate_rows_per_s") = Rate.toString

    val offered = due.length.toLong + (if (args.corrupts("delivery")) 1 else 0)
    r.attempted = offered * queries.size
    ps.foreach { p =>
      val missing = offered - Streams.delivered(p)
      r.check("delivery", missing == 0, s"offered $offered, delivered ${Streams.delivered(p)}")
      r.failed += math.abs(missing)
    }
    r.check("backlog_drained", drains.forall(_.isDefined), "backlog never committed")
    tracer.span("check outputs", "checks")(checkOutputs(typed, s"$dir/s3/raw-data/kafka"))

    if (args.trace) traceLayers(ps.flatten, due, dir, table)
  }

  private def checkOutputs(typed: DataFrame, topics: String): Unit = {
    // jovens: rows born on or after 2000-01-01, formatted as the README's CSAS
    val expected = typed
      .filter(col("nascimento") >= lit(java.sql.Date.valueOf("2000-01-01")))
      .select(col("nome"), col("sexo"), col("telefone"), col("email"), col("profissao"),
        date_format(col("nascimento"), "yyyy-MM-dd").as("dt_nascimento"),
        date_format(col("dt_update"), "yyyy-MM-dd HH:mm:ss.SSS").as("dt_updt"))
    val cols = expected.columns.toSeq.map(col)
    def bag(rows: Array[Seq[Any]]): Map[Seq[Any], Int] =
      rows.groupBy(identity).map { case (k, v) => k -> v.length }
    val jExp = bag(expected.collect().map(_.toSeq))
    val expRows = if (args.corrupts("jovens_rows")) jExp - jExp.keys.head else jExp
    val jdir = s"$topics/jovens/partition=0"
    val got = bag(spark.read.parquet(jdir).select(cols: _*).collect().map(_.toSeq))
    val diff = (expRows.keySet ++ got.keySet).toSeq
      .map(k => math.abs(expRows.getOrElse(k, 0) - got.getOrElse(k, 0))).sum
    r.check("jovens_rows", diff == 0, s"$diff rows differ from the generator's jovens")
    r.failed += diff

    val flush = if (args.corrupts("object_size")) FlushSize / 2 else FlushSize
    val perObject = spark.read.parquet(jdir).groupBy(input_file_name()).count()
      .collect().map(_.getLong(1))
    val oversized = perObject.count(_ > flush)
    r.check("object_size", oversized == 0, s"$oversized objects over $flush records")
    r.failed += oversized

    val topicName = if (args.corrupts("object_names")) "jovens_" else "jovens"
    val jNames = new File(jdir).list().filterNot(n => n.startsWith(".") || n.startsWith("_"))
    val badJ = jNames.count(n => !n.matches(java.util.regex.Pattern.quote(topicName) + """\+0\+\d+\.parquet"""))
    r.check("object_names", badJ == 0 && jNames.nonEmpty, s"$badJ of ${jNames.length} jovens names off-pattern")
    r.failed += badJ

    // idadecont: the latest count per (idadecat, window) and its key sidecar
    val mapper = new ObjectMapper()
    val latest = scala.collection.mutable.Map[(String, Long), (Long, Long)]()
    var misaligned = 0
    val cdir = new File(s"$topics/idadecont")
    val parts = Option(cdir.listFiles()).getOrElse(Array.empty[File]).filter(_.isDirectory)
    val ObjRe = """idadecont\+(\d+)\+(\d+)\.json""".r
    parts.flatMap(_.listFiles()).map(_.getName)
      .filterNot(n => n.startsWith(".") || n.endsWith(".keys.json")).foreach { n =>
      if (!n.matches("""idadecont\+\d+\+\d+\.json""")) misaligned += 1
    }
    for (p <- parts; f <- p.listFiles(); ObjRe(_, off) <- Some(f.getName)) {
      val values = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
      val keyFile = new File(p, f.getName.stripSuffix(".json") + ".keys.json")
      val keys = if (keyFile.exists()) scala.io.Source.fromFile(keyFile, "UTF-8").getLines().toVector
        else Vector.empty
      if (keys.size != values.size) misaligned += 1
      values.zipWithIndex.foreach { case (v, i) =>
        val j = mapper.readTree(v)
        val cat = j.get("idadecat").asText()
        val ws = OffsetDateTime.parse(j.get("window_start").asText()).toInstant.toEpochMilli
        val keyOk = i < keys.size && {
          val k = mapper.readTree(keys(i))
          val keyCat = if (args.corrupts("keys_sidecar")) cat + "_" else cat
          k.get("idadecat").asText() == keyCat &&
            k.get("window_start").asText() == j.get("window_start").asText() &&
            k.get("window_end").asText() == j.get("window_end").asText()
        }
        if (!keyOk) misaligned += 1
        val pos = off.toLong * 100000L + i
        if (latest.get((cat, ws)).forall(_._1 < pos))
          latest((cat, ws)) = (pos, j.get("contagem").asLong())
      }
    }
    r.check("keys_sidecar", misaligned == 0, s"$misaligned misaligned key lines or objects")
    r.failed += misaligned

    val cat = when(col("nascimento") >= lit(java.sql.Date.valueOf("2000-01-01")), "JOVEM")
      .otherwise("ADULTO")
    val exp = typed.groupBy(cat.as("c"), (floor(col("due") / WindowMs) * WindowMs).as("w"))
      .count().collect().map(x => (x.getString(0), x.getLong(1)) -> x.getLong(2)).toMap
    val expCounts = if (args.corrupts("idadecont_counts"))
      exp.updated(exp.keys.head, exp(exp.keys.head) + 1) else exp
    val gotCounts = latest.map { case (k, (_, c)) => k -> c }.toMap
    val wrong = (expCounts.keySet ++ gotCounts.keySet).count(k => expCounts.get(k) != gotCounts.get(k))
    r.check("idadecont_counts", wrong == 0, s"$wrong (idadecat, window) counts differ")
    r.failed += wrong
  }

  private def traceLayers(ps: Seq[Progress], due: Array[Long], dir: String,
                          table: DataFrame): Unit = {
    val jobs = listeners.jobRecords
    Streams.microbatchLayer(r, ps, jobs, due)
    r.layer("sources.catchup_rows_per_s") = Backlog / r.e2e("work_s")
    val contQ = ps.filter(_.stateRows > 0)
    r.layer("state.rows_total") = contQ.lastOption.map(_.stateRows.toDouble).getOrElse(0.0)
    r.layer("state.memory_bytes") = contQ.lastOption.map(_.stateMemoryBytes.toDouble).getOrElse(0.0)
    r.layer("state.commit_ms_p50") = Stats.median(contQ.map(_.stateCommitMs.toDouble))
    // every job of a ksql micro-batch is a sink write with the decode,
    // projection and aggregation fused into it
    val layer = (_: JobRecord) => "sinks"
    val sinkJobs = jobs.filter(_.batchId >= 0)
    r.layer("sinks.write_ms_p50") = Stats.median(
      sinkJobs.groupBy(j => (j.queryId, j.batchId)).values.map(_.map(_.durationMs).sum.toDouble).toSeq)
    val objects = new File(s"$dir/s3/raw-data/kafka").listFiles().toSeq
      .flatMap(t => t.listFiles().toSeq.flatMap(_.listFiles().toSeq))
      .filterNot(f => f.getName.endsWith(".keys.json") || f.getName.startsWith("."))
    val batches = objects.map(f => f.getName.split("\\+")(2).takeWhile(_.isDigit).toLong / 1000000L)
    r.layer("sinks.objects_per_batch_mean") =
      objects.size.toDouble / math.max(1, batches.distinct.size)
    r.layer("sinks.bytes_written") = new File(s"$dir/s3").listFiles().toSeq
      .flatMap(allFiles).map(_.length().toDouble).sum
    listeners.emitStreamingSpans(tracer, layer)

    // direct-call probe: decode of the backlog frame into a noop sink
    val backlog = table.orderBy(col("dt_update")).limit(Backlog).cache()
    backlog.count()
    val decodeMs = Streams.probeMs(3) {
      tracer.span("probe avro_decode", "functions") {
        backlog.select(AvroCodec.avroDecode(col("value"), AvroCodec.customerWireSchema,
          confluentFraming = true).as("r")).select(col("r.*"))
          .write.format("noop").mode("overwrite").save()
      }
    }
    backlog.unpersist()
    r.layer("functions.avro_decode_ns_per_row") = decodeMs * 1e6 / Backlog
    r.layer("trace.latency_p50_ms") = r.e2e("latency_p50_ms")
  }
}

object KsqlLive {
  val Backlog = 15000
  val Rate = 200
  val LeadMs = 5000L
  val WarmRows = 2000
  val FlushSize = 10
  val WindowMs = 30000L

  /** The reference README's ksqlDB statements, verbatim. */
  val Statements: Seq[String] = Seq(
    "create stream custstream WITH (kafka_topic='psg-customers', value_format='AVRO');",
    """create stream jovens WITH (kafka_topic='jovens', value_format='AVRO') AS
      |select nome, sexo, telefone, email, profissao,
      |DATETOSTRING(nascimento, 'yyyy-MM-dd') as dt_nascimento,
      |TIMESTAMPTOSTRING(dt_update, 'yyyy-MM-dd HH:mm:ss.SSS', 'UTC') as dt_updt
      |from custstream
      |WHERE DATETOSTRING(nascimento, 'yyyy-MM-dd') >= '2000-01-01'
      |emit changes;""".stripMargin,
    """create stream idadeclass WITH (kafka_topic='idadeclass', value_format='AVRO') AS
      |select nome, telefone, email, profissao,
      |CASE
      |WHEN DATETOSTRING(nascimento, 'yyyy-MM-dd') >= '2000-01-01' THEN 'JOVEM'
      |ELSE 'ADULTO' END AS idadecat,
      |TIMESTAMPTOSTRING(dt_update, 'yyyy-MM-dd HH:mm:ss.SSS', 'UTC') as dt_updt
      |from custstream
      |emit changes;""".stripMargin,
    """create table idadecont WITH (kafka_topic='idadecont', value_format='AVRO') AS
      |select idadecat, count(idadecat) as contagem
      |from idadeclass
      |window tumbling (size 30 seconds)
      |group by idadecat
      |emit changes;""".stripMargin)

  def allFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(allFiles) else Seq(f)
}
