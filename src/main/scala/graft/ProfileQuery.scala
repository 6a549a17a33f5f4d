package graft

/** Per-query cost profile — a diagnostic, not a contract main. Runs each
  * named registered query `SPARK_GRAFT_PROFILE_REPS` times (default 3)
  * through [[QueryTrace.run]] and prints one JSON record per rep:
  * construction vs noop-sink execution seconds, jobs (construction jobs
  * apart), stages, tasks, executor CPU, shuffle records and bytes, spill,
  * peak execution memory and rows per stage. Construction is where loop
  * operators spend driver time (checkpoints, CC rounds, trainer loops);
  * execution produces the whole output. Executed plans come from
  * [[PlanDump]].
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... \
  *     sbt "runMain graft.ProfileQuery q1_pricing_summary dedup_clusters"
  * No args profiles every registered query (slow — name what you need).
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "3").toInt
    val spark = QueryTrace.session()
    QueryTrace.warmUp(spark, sfDir)
    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    for (name <- names; rep <- 1 to reps) {
      val r = QueryTrace.run(spark, name, sfDir, SparkEntry.queries(name))
      println(org.json4s.jackson.JsonMethods.compact(
        org.json4s.JObject("rep" -> org.json4s.JInt(rep)).merge(r.toJson)))
    }
    spark.stop()
  }
}
