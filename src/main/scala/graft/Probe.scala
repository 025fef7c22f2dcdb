package graft

/** Dev scratch main: time one named query repeatedly and print its plan.
  * Usage: runMain graft.Probe <queryName> [sfDir] [reps] [explain], on
  * `local[$SPARK_GRAFT_CPUS]` (default: the host's core count). */
object Probe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    // the Bench session (AQE off): the plans a probe prints are the plans
    // Bench runs
    val spark = Bench.buildSession()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count() // warm the session
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      // SAME sink as Bench: noop forces full evaluation of every output
      // column. count() let Catalyst prune q01's decimal aggregates, so the
      // round-4 probe "measured" 0.3s against a real 9s bench — and the
      // regression was mis-adjudicated as host noise (VERDICT r5).
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      println(f"[probe] $name rep$i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    if (args.length > 3 && args(3) == "explain")
      SparkEntry.queries(name)(spark, dir).explain("formatted")
    spark.stop()
  }
}
