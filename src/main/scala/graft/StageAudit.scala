package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import scala.collection.mutable.ArrayBuffer

/** Dev diagnostic: run one SparkEntry query N times and print, per stage,
  * wall/CPU/GC time and task counts — separates "the plan is wrong" from
  * "the runtime is degraded" (VERDICT r5/r6: q04-class queries measured
  * ~10× round-4 numbers with unchanged code and data; this prints where
  * the seconds actually go).
  *
  * Usage: runMain graft.StageAudit <query> [sfDir] [reps] [cpus] (cpus
  * defaults to `$SPARK_GRAFT_CPUS`, else the host's core count)
  */
object StageAudit {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q04_region_revenue")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = if (args.length > 3) args(3) else Bench.defaultCpus
    // optional A/B overrides: arg 5 = "key=value,key=value"
    val extra = if (args.length > 4)
      args(4).split(",").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }.toSeq
    else Seq.empty
    // the Bench session, so the audited stages are the stages it runs
    val spark = Bench.buildSession(cpus)
    extra.foreach { case (k, v) => spark.conf.set(k, v) }
    if (extra.nonEmpty) println(s"[stage-audit] extra conf: ${extra.mkString(", ")}")

    case class Row(stage: Int, nTasks: Int, wallMs: Long, cpuMs: Long,
        gcMs: Long, deserMs: Long, site: String)
    val rows = ArrayBuffer.empty[Row]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val tm = si.taskMetrics
        rows.synchronized {
          rows += Row(si.stageId, si.numTasks,
            si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
            tm.executorCpuTime / 1000000, tm.jvmGCTime,
            tm.executorDeserializeTime, si.name.takeWhile(_ != '\n'))
        }
      }
    })

    for (rep <- 1 to reps) {
      rows.synchronized(rows.clear())
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async; let stage events drain before printing
      Thread.sleep(1500)
      println(f"[stage-audit] $name rep$rep total=$wall%.2f s")
      val snap = rows.synchronized(rows.toVector).sortBy(-_.wallMs)
      for (r <- snap.take(12))
        println(f"[stage-audit]   stage=${r.stage}%4d tasks=${r.nTasks}%3d wall=${r.wallMs}%6d ms cpu=${r.cpuMs}%6d ms gc=${r.gcMs}%5d ms deser=${r.deserMs}%5d ms  ${r.site.take(70)}")
      val totW = snap.map(_.wallMs).sum
      println(f"[stage-audit]   sum(stage wall)=$totW ms over ${snap.size} stages")
    }
    spark.stop()
  }
}
