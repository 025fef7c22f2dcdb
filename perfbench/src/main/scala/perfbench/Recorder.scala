package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ops.ManifestFileIndex

/** Spark-side totals of one job group (one benchmark operation). */
final class GroupStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var schedDelayMs = 0L; var deserMs = 0L; var runMs = 0L
  var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var input = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
}

/** What the executed physical plans of one operation did. */
final case class PlanStats(queries: Int, planMs: Double, exchanges: Int,
    codegenStages: Int, zFilesListed: Long, zFilesTotal: Long,
    phases: Seq[(String, Long, Long)])

/** Outside-in recorder for the traced run: a SparkListener keyed by the
  * job group each operation runs under, plus a QueryExecutionListener that
  * keeps the executed plans delivered since the last [[takePlans]]. It
  * reads only what Spark publishes; graft's own code is not touched. */
final class Recorder(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def stats(g: String) = groups.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        val s = stats(g)
        s.synchronized { s.jobs += 1 }
        jobGroup.put(e.jobId, g); jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(stageGroup.put(_, g))
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.get(e.jobId)).foreach { g =>
      val s = stats(g)
      s.synchronized { s.jobSpans += ((jobStart.get(e.jobId), e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val s = stats(g); s.synchronized { s.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val s = stats(g)
      val m = e.taskMetrics
      val i = e.taskInfo
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.deserMs += m.executorDeserializeTime
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.input += m.inputMetrics.bytesRead
          // the Spark UI's definition of scheduler delay
          val gettingResult = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
          s.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plans.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Wait until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Totals of group `g` and its sub groups (`g/...`). */
  def group(g: String): GroupStats = {
    val out = new GroupStats
    groups.asScala.foreach { case (k, s) =>
      if (k == g || k.startsWith(g + "/")) s.synchronized {
        out.jobs += s.jobs; out.stages += s.stages; out.tasks += s.tasks
        out.schedDelayMs += s.schedDelayMs; out.deserMs += s.deserMs; out.runMs += s.runMs
        out.cpuNs += s.cpuNs; out.gcMs += s.gcMs; out.shuffleWrite += s.shuffleWrite
        out.shuffleRead += s.shuffleRead; out.spill += s.spill; out.input += s.input
        out.jobSpans ++= s.jobSpans
      }
    }
    out
  }

  /** Plans of the queries that finished since the last call. */
  def takePlans(): PlanStats = {
    val qes = Iterator.continually(plans.poll()).takeWhile(_ != null).toSeq
    var planMs = 0.0; var ex = 0; var cg = 0; var listed = 0L; var total = 0L
    val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
    qes.foreach { qe =>
      qe.tracker.phases.foreach { case (name, p) =>
        planMs += p.durationMs; phases += ((name, p.startTimeMs, p.endTimeMs))
      }
      val plan: SparkPlan = qe.executedPlan
      ex += plan.collectWithSubqueries {
        case x: ShuffleExchangeLike => x; case x: BroadcastExchangeLike => x
      }.size
      cg += plan.collectWithSubqueries { case x: WholeStageCodegenExec => x }.size
      // z-tables are read through graft's manifest-backed file index;
      // `numFiles` is what its listFiles kept after span/bloom pruning
      plan.collectWithSubqueries {
        case s: FileSourceScanExec if s.relation.location.isInstanceOf[ManifestFileIndex] => s
      }.foreach { s =>
        listed += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        total += s.relation.location.inputFiles.length
      }
    }
    PlanStats(qes.size, planMs, ex, cg, listed, total, phases.toSeq)
  }
}

object Recorder {
  /** Driver-side storage held by cached blocks (memory + disk), in MB. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0

  def jitMs: Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  def codeHeapMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1048576.0

  /** Live driver heap after a full collection, in MB. */
  def heapLiveMb(): Double = {
    val rt = Runtime.getRuntime
    def used = { System.gc(); Thread.sleep(200); (rt.totalMemory - rt.freeMemory) / 1048576.0 }
    // Spark's ContextCleaner drops broadcasts and shuffles whose handles
    // a GC found dead on its own thread, so collect until the figure
    // settles (at most ten rounds)
    var (prev, cur, n) = (Double.MaxValue, used, 1)
    while (prev - cur > 1.0 && n < 10) { prev = cur; cur = used; n += 1 }
    cur
  }
}
