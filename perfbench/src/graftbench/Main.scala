package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line options passed by `perfbench/run.py`. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, launchMs: Long, genS: Double,
                      data: String, corrupt: String) {
  /** Whether `check`'s expected output is to be corrupted (chaos runs). */
  def corrupts(check: String): Boolean = corrupt.split(",").contains(check)
}

/** What one run measured and checked; serialized for `run.py`. */
final class Result {
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  val info = mutable.LinkedHashMap[String, String]()
  var attempted = 0L
  var failed = 0L

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] check failed: $name: $detail")
  }

  def toJson: String = {
    def obj(m: Iterable[(String, String)]) =
      m.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    val cs = checks.map { case (n, ok, d) =>
      s"""{"name":${Json.str(n)},"ok":$ok,"detail":${Json.str(d)}}""" }
    "{" + Seq(
      s""""e2e":${obj(e2e.map { case (k, v) => k -> Json.num(v) })}""",
      s""""layer":${obj(layer.map { case (k, v) => k -> Json.num(v) })}""",
      s""""checks":${cs.mkString("[", ",", "]")}""",
      s""""attempted":$attempted""",
      s""""failed":$failed""",
      s""""info":${obj(info)}""").mkString(",") + "}\n"
  }
}

/** Set-up time as the contract defines it: JVM launch to the first timed
  * operation. The repeatable part (input generation and registration) runs
  * several times and contributes its median.
  */
final class Setup(args: Args) {
  private var bootS = 0.0
  private val prepS = mutable.ArrayBuffer[Double]()
  private var startS = 0.0
  def booted(): Unit = bootS = (System.currentTimeMillis() - args.launchMs) / 1000.0
  def prep[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally prepS += (System.nanoTime() - t0) / 1e9
  }
  def start[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally startS += (System.nanoTime() - t0) / 1e9
  }
  def total: Double = args.genS + bootS + Stats.median(prepS.toSeq) + startS
  def report(r: Result): Unit = {
    r.e2e("setup_s") = total
    r.info("setup") = s"""{"gen_s":${Json.num(args.genS)},"boot_s":${Json.num(bootS)},""" +
      s""""prep_s":${prepS.map(Json.num).mkString("[", ",", "]")},"start_s":${Json.num(startS)}}"""
  }
}

object Main {
  val Reps = 3

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("launch-ms").toLong, m.getOrElse("gen-s", "0").toDouble,
      m.getOrElse("data", ""), m.getOrElse("corrupt", ""))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val setup = new Setup(args)
    val work = new File(args.work).getAbsolutePath
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listeners = new Listeners(traceJobs = args.trace)
    spark.sparkContext.addSparkListener(listeners)
    spark.streams.addListener(listeners.streaming)
    val tracer = new Tracer(args.trace)
    setup.booted()
    val result = new Result
    try {
      args.workload match {
        case "ksql_live" => new KsqlLive(spark, args, setup, listeners, tracer, result).run()
        case "curation_cdc" => new CurationCdc(spark, args, setup, listeners, tracer, result).run()
        case "batch_ops" => new BatchOps(spark, args, setup, listeners, tracer, result).run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      setup.report(result)
      result.e2e("peak_rss_mb") = peakRssMb
      if (args.trace) {
        result.layer("jvm.gc_ms") = java.lang.management.ManagementFactory
          .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum
        tracer.selfTimeByLayer.toSeq.sortBy(_._1).foreach { case (l, ms) =>
          result.info(s"self_ms.$l") = Json.num(ms)
        }
        write(s"$work/spans.json", tracer.toJson)
      }
      write(s"$work/result.json", result.toJson)
    } finally {
      spark.streams.active.foreach(q => scala.util.Try(q.stop()))
      spark.stop()
    }
  }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def write(path: String, s: String): Unit =
    Files.write(new File(path).toPath, s.getBytes(StandardCharsets.UTF_8))
}
