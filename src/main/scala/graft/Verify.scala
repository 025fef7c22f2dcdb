package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hardened (round 7) after CORRECTNESS_r06 landed as `{}`: the serial
  * local[4] run took ~18 min at sf0.01 on this host (300-600 ms scheduling
  * floor per job, see PLANS.md §Bench-degradation), so a driver-side
  * timeout voided the whole round's correctness. Now:
  *
  *   - `oracle_sql.json` is written FIRST, so a kill at any point leaves
  *     every completed query dir + the oracle map — partial correctness
  *     instead of an empty artifact.
  *   - The session uses every host core (SPARK_GRAFT_CPUS defaults to
  *     availableProcessors, not 4) with AQE off — at sf0.01 AQE's
  *     per-query-stage scheduling rounds dominate the useful work.
  *   - Queries run SERIALLY by default (SPARK_GRAFT_VERIFY_THREADS=1):
  *     measured r7, 4-way concurrency was NET SLOWER (15 min vs 11) — cold
  *     planning+JIT contend and heavy queries blow watchdogs. One query at
  *     a time over all 32 cores finishes each fastest.
  *   - A per-query watchdog (SPARK_GRAFT_VERIFY_QUERY_TIMEOUT_SEC, default
  *     600) cancels the query's job group and records a failure line, so
  *     one pathological query can't hang the dump. The timeout is generous
  *     on purpose: it exists to stop a HANG from eating the run, not to
  *     cap slow-but-finishing queries — a timeout here is a lost
  *     correctness row.
  *   - One `[verify] <name> ok|failed (N.NNs)` stderr line per query as it
  *     completes keeps the run attributable from the log alone.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.buildSession()
    new java.io.File(outDir).mkdirs()

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

    val queryTimeoutSec =
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_QUERY_TIMEOUT_SEC", "600").toLong
    val threads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "1").toInt
    val pool = Executors.newFixedThreadPool(threads, r => {
      val th = new Thread(r, "verify"); th.setDaemon(true); th
    })
    val t0 = System.nanoTime()
    // dev-only subset: SPARK_GRAFT_VERIFY_ONLY=d15,s16 runs just those
    // queries (the driver never sets it — all queries run)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          val group = s"verify-$name"
          @volatile var err: Option[String] = None
          val qt0 = System.nanoTime()
          val th = new Thread(() => {
            try {
              spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
              fn(spark, sfDir).coalesce(1).write.mode("overwrite")
                .parquet(s"$outDir/$name")
            } catch { case e: Throwable => err = Some(String.valueOf(e.getMessage)) }
            finally spark.sparkContext.clearJobGroup()
          }, group)
          th.setDaemon(true)
          th.start()
          th.join(queryTimeoutSec * 1000L)
          if (th.isAlive) {
            spark.sparkContext.cancelJobGroup(group)
            th.join(15000L)
            if (th.isAlive) th.interrupt()
            err = Some(s"timed out after ${queryTimeoutSec}s")
          }
          val sec = (System.nanoTime() - qt0) / 1e9
          val status = err.map(m => s"failed: $m").getOrElse("ok")
          System.err.println(f"[verify] $name $status ($sec%.2fs)")
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(2, TimeUnit.HOURS)
    System.err.println(f"[verify] all done (${(System.nanoTime() - t0) / 1e9}%.1fs)")
    spark.stop()
  }
}
