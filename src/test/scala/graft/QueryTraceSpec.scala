package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.functions.{col, udf}

/** [[QueryTrace]], the one runner every harness times queries through:
  * construction jobs apart from execution jobs, shuffle accounting, an
  * execution that computes the whole output (no `count()` pruning),
  * per-thread records under concurrency, and the failure contract.
  */
class QueryTraceSpec extends SparkSpec {

  test("eager construction jobs are counted apart from execution jobs") {
    val r = QueryTrace.run(spark, "ckpt", "", (s, _) =>
      s.range(100).toDF("id").localCheckpoint(true).select(col("id") * 2))
    assert(r.ok, r.json)
    assert(r.constructJobs >= 1, s"construction ran a checkpoint job: ${r.json}")
    assert(r.jobs > r.constructJobs, s"execution ran its own job: ${r.json}")
  }

  test("a repartition reports every shuffled record, written and read") {
    val r = QueryTrace.run(spark, "shuffle", "", (s, _) =>
      s.range(1000).repartition(4).toDF())
    assert(r.ok, r.json)
    assert(r.shuffleWriteRecords == 1000, r.json)
    assert(r.shuffleReadRecords == 1000, r.json)
    assert(r.stages >= 2 && r.tasks >= 4, r.json)
  }

  test("execution computes a pure projection for every row") {
    // under count() Catalyst prunes the projection and the UDF never runs
    val calls = spark.sparkContext.longAccumulator("trace_udf_calls")
    val plusOne = udf((x: Long) => { calls.add(1); x + 1 })
    val r = QueryTrace.run(spark, "projection", "", (s, _) =>
      s.range(500).select(plusOne(col("id")).as("y")))
    assert(r.ok, r.json)
    assert(calls.value == 500L, s"UDF ran ${calls.value} times for 500 rows")
  }

  test("traces on two threads at once keep their own job counts") {
    def chain(checkpoints: Int, gate: CountDownLatch): SparkEntry.Q = (s, _) => {
      gate.countDown()
      gate.await(60, TimeUnit.SECONDS) // both constructions run together
      (1 to checkpoints).foldLeft(s.range(200).toDF("id"))((df, _) =>
        df.localCheckpoint(true))
    }
    val solo3 = QueryTrace.run(spark, "three", "", chain(3, new CountDownLatch(0)))
    val solo1 = QueryTrace.run(spark, "one", "", chain(1, new CountDownLatch(0)))
    assert(solo3.constructJobs > solo1.constructJobs,
      s"${solo3.json} vs ${solo1.json}")
    val gate = new CountDownLatch(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      def submit(name: String, n: Int) =
        pool.submit(new Callable[QueryTrace.Record] {
          def call() = QueryTrace.run(spark, name, "", chain(n, gate))
        })
      val (f3, f1) = (submit("three", 3), submit("one", 1))
      val (c3, c1) = (f3.get(120, TimeUnit.SECONDS), f1.get(120, TimeUnit.SECONDS))
      assert((c3.jobs, c3.constructJobs) == ((solo3.jobs, solo3.constructJobs)),
        s"concurrent ${c3.json} vs solo ${solo3.json}")
      assert((c1.jobs, c1.constructJobs) == ((solo1.jobs, solo1.constructJobs)),
        s"concurrent ${c1.json} vs solo ${solo1.json}")
    } finally pool.shutdown()
  }

  test("a non-fatal failure is the failed outcome; a fatal error propagates") {
    val failed = QueryTrace.run(spark, "boom", "", (_, _) =>
      throw new RuntimeException("boom"))
    assert(!failed.ok && failed.seconds == -1.0)
    assert(failed.error.exists(_.contains("boom")), failed.json)
    assert(failed.json.contains("\"outcome\":\"failed\""), failed.json)
    intercept[OutOfMemoryError] {
      QueryTrace.run(spark, "oom", "", (_, _) =>
        throw new OutOfMemoryError("simulated"))
    }
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null,
      "the trace's job group outlived the run")
  }
}
