package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration;
    // the driver always runs the full set)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = QueryTrace.session()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    new java.io.File(outDir).mkdirs()
    // small concurrent pool: single tiny queries underuse the session
    // (same rationale as Bench) and the dump isn't timing-sensitive.
    // Java futures: get() rethrows whatever a task threw, so a fatal
    // error ends the run instead of leaving the wait stranded.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val fs = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      pool.submit(new Runnable { def run(): Unit = {
        // a failed query must leave NO dump: when the caller reuses an
        // outDir, a stale dump from a previous run would silently pass
        // the oracle and mask the failure (chaos-tested — see
        // tools/CHAOS_CHECK.md)
        val dump = new java.io.File(s"$outDir/$name")
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(dump.getPath)
        catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
          }
          rm(dump)
        }
      }})
    }
    try fs.foreach(_.get()) finally pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
