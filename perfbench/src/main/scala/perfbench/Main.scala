package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command-line options; `run.py` fills in the directories. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: String, work: String, cores: Int, traceOut: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") == "1", get("data"), get("work"), get("cores").toInt,
      get("trace-out"))
  }
}

sealed trait Role
case object Read extends Role
case object Write extends Role

/** One workload: set-up (repeated to time it), warm-up, then the closed
  * loop of `step`s the harness times. */
trait Workload {
  /** Bring the system to its ready state from scratch. */
  def setup(rep: Int): Unit
  /** Timed set-ups after the first, cold one; `setup_s` is their median,
    * or the cold one's time where there are none. */
  def setupReps: Int
  /** Operations run after set-up and before timing, until steady. */
  def warm(): Unit
  /** One closed-loop step: one or more operations through [[Harness.op]]. */
  def step(): Unit
  /** True between cycles of the workload's operation mix; timing stops at
    * the first cycle boundary after the deadline, so every run measures
    * whole cycles. */
  def cycleDone: Boolean = true
  /** Whole cycles the timed loop runs at least, however long they take. */
  def minCycles: Int = 1
  /** Layer counts only the workload can read (traced run), e.g. z-table state. */
  def finalLayers(): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

/** Several workloads in one process: set up and warmed up one after the
  * other, then their cycles take turns. A cycle of the whole is one cycle
  * of each part. */
final class Mixed(parts: Seq[Workload]) extends Workload {
  private var cur = 0
  def setup(rep: Int): Unit = parts.foreach(_.setup(rep))
  val setupReps: Int = parts.map(_.setupReps).min
  override val minCycles: Int = parts.map(_.minCycles).max
  def warm(): Unit = parts.foreach(_.warm())
  def step(): Unit = {
    val p = parts(cur)
    p.step()
    if (p.cycleDone) cur = (cur + 1) % parts.size
  }
  override def cycleDone: Boolean = cur == 0 && parts.head.cycleDone
  override def finalLayers(): Map[String, Double] = parts.flatMap(_.finalLayers()).toMap
  override def close(): Unit = parts.foreach(_.close())
}

/** Times operations, checks their outputs and, in the traced run,
  * attributes Spark work and plans to each operation by job group. */
final class Harness(val spark: SparkSession, val args: Args) {
  val tracer = new Tracer(args.trace)
  val rec: Option[Recorder] = if (args.trace) Some(new Recorder(spark)) else None
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Measured latencies per operation kind (the name given to [[op]]). */
  private val byKind = mutable.LinkedHashMap.empty[String, (Role, mutable.ArrayBuffer[Double])]
  var attempted = 0L
  var failed = 0L
  var measuring = false
  private var measuredOps = 0L
  private var opSeq = 0
  private var group = ""
  /** Wall time of the last operation, ms. */
  var lastMs = 0.0

  def sample(name: String, v: Double): Unit =
    if (measuring) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Run `body` under a sub job group of the current operation, so its
    * Spark jobs can be told apart (batch: building vs executing a plan). */
  def subGroup[T](suffix: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = group
    sc.setJobGroup(s"$outer/$suffix", suffix, interruptOnCancel = false)
    try body finally sc.setJobGroup(outer, outer, interruptOnCancel = false)
  }
  def currentGroup: String = group

  /** One operation: `run` is timed, `check` (untimed) compares its output
    * with the benchmark's own expectation. An exception or a wrong answer
    * counts as a failed operation. */
  def op[T](name: String, role: Role)(run: => T)(check: T => Boolean): Option[T] = {
    opSeq += 1
    group = s"op$opSeq"
    tracer.beginOp(opSeq)
    val sc = spark.sparkContext
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val res = try Right(tracer.span("op." + name)(run)) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    sc.clearJobGroup()
    val ok = res match {
      case Right(v) => try check(v) catch { case NonFatal(e) =>
        System.err.println(s"# check of $name threw: $e"); false }
      case Left(e) =>
        System.err.println(s"# op $name threw: $e"); e.printStackTrace(); false
    }
    attempted += 1
    if (!ok) { failed += 1; println(s"# FAILED op=$name seq=$opSeq") }
    lastMs = ms
    if (measuring) {
      measuredOps += 1
      byKind.getOrElseUpdate(name, (role, mutable.ArrayBuffer.empty))._2 += ms
    }
    rec.foreach(r => attribute(r, group, ms))
    res.toOption
  }

  private def attribute(r: Recorder, g: String, wallMs: Double): Unit = {
    r.drain()
    val s = r.group(g)
    sample("spark.jobs", s.jobs); sample("spark.stages", s.stages); sample("spark.tasks", s.tasks)
    sample("spark.sched_delay_ms", s.schedDelayMs); sample("spark.deser_ms", s.deserMs)
    sample("spark.task_cpu_s", s.cpuNs / 1e9); sample("spark.gc_s", s.gcMs / 1e3)
    sample("spark.shuffle_write_mb", s.shuffleWrite / 1048576.0)
    sample("spark.shuffle_read_mb", s.shuffleRead / 1048576.0)
    sample("spark.spill_mb", s.spill / 1048576.0)
    sample("spark.input_mb", s.input / 1048576.0)
    sample("spark.busy_frac", s.runMs / math.max(wallMs * args.cores, 1e-9))
    s.jobSpans.foreach { case (a, b) =>
      tracer.addAfter("spark.job", tracer.fromEpochMs(a), tracer.fromEpochMs(b)) }
    val p = r.takePlans()
    if (p.queries > 0) {
      sample("query.plan_ms", p.planMs)
      sample("query.exchanges", p.exchanges)
      sample("query.codegen_stages", p.codegenStages)
      p.phases.foreach { case (ph, a, b) =>
        tracer.addAfter(s"query.$ph", tracer.fromEpochMs(a), tracer.fromEpochMs(b)) }
    }
    if (p.zFilesTotal > 0) {
      sample("ztable.files_listed", p.zFilesListed)
      sample("ztable.files_total", p.zFilesTotal)
      sample("ztable.prune_frac", 1.0 - p.zFilesListed.toDouble / p.zFilesTotal)
    }
  }

  /** Time a call into a layer: a span in the traced run plus a per-op
    * sample of its wall time in ms. */
  def timed[T](metric: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val v = tracer.span(metric.stripSuffix("_ms"))(body)
    sample(metric, (System.nanoTime() - t0) / 1e6)
    v
  }

  /** Progress comment with the JVM's uptime, for tuning run length. */
  def phase(name: String): Unit =
    println(f"# ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $name")

  def run(w: Workload): String = {
    phase("workload ready")
    // set-up from scratch: once cold (JIT, first plans), then the timed
    // reps, each from a collected heap so none pays for its predecessor's
    // garbage
    val setupS = (0 to w.setupReps).map { rep =>
      if (rep > 0) System.gc()
      val t0 = System.nanoTime(); w.setup(rep); (System.nanoTime() - t0) / 1e9
    }
    println(s"# setup_s cold ${"%.3f".format(setupS.head)}, timed: " +
      setupS.tail.map(x => f"$x%.3f").mkString(" "))
    val storage0 = Recorder.storageMb(spark)
    phase("set up")
    w.warm()
    // the timed loop starts from a collected heap, so it does not pay for
    // the warm-up's garbage
    System.gc()
    phase("warmed up")
    val jit0 = Recorder.jitMs
    measuring = true
    tracer.recording = true
    val t0 = System.nanoTime()
    val deadline = t0 + args.seconds * 1000000000L
    var cycles = 0
    while (System.nanoTime() < deadline || !w.cycleDone || cycles < w.minCycles) {
      w.step()
      if (w.cycleDone) cycles += 1
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    measuring = false
    tracer.recording = false
    val jitMs = Recorder.jitMs - jit0
    val layers = if (args.trace) w.finalLayers() else Map.empty[String, Double]
    w.close()
    val storageHeld = Recorder.storageMb(spark) - storage0
    val heap = Recorder.heapLiveMb()
    phase("measured")
    def count(role: Role) = byKind.values.collect { case (r, v) if r == role => v.size }.sum
    println(s"# measured ${measuredOps} ops in ${"%.2f".format(elapsed)} s: " +
      s"${count(Read)} reads, ${count(Write)} writes; attempted=$attempted failed=$failed")
    byKind.toSeq.sortBy(_._1).foreach { case (n, (_, v)) =>
      println(f"# op $n%-14s n=${v.size}%3d  p50 ${Stats.median(v.toSeq)}%9.1f ms  max ${v.max}%9.1f ms") }
    // each kind's median, so that neither the kinds' share of a run's
    // samples nor a single slow sample moves a figure
    def kindP50(role: Role): Seq[Double] =
      byKind.values.collect { case (r, v) if r == role => Stats.median(v.toSeq) }.toSeq
    val kindMs = byKind.values.map { case (_, v) => v.size * Stats.median(v.toSeq) }.sum
    val metrics: Seq[(String, Double)] =
      if (!args.trace) Seq(
        "setup_s" -> Stats.median(if (w.setupReps > 0) setupS.tail else setupS),
        // closed loop, one client: the measured operations per second of
        // the time they take at their kinds' medians (the untimed output
        // checks are left out)
        "ops_per_s" -> measuredOps / (kindMs / 1e3),
        "read_p50_ms" -> Stats.geomean(kindP50(Read)),
        "write_p50_ms" -> Stats.geomean(kindP50(Write)),
        "heap_live_mb" -> heap)
      else {
        val got = samples.map { case (k, v) => k -> Stats.mean(v.toSeq) }.toMap ++ layers ++ Map(
          "jvm.jit_ms" -> jitMs,
          "jvm.codeheap_mb" -> Recorder.codeHeapMb,
          "ops_failed_frac" -> failed.toDouble / math.max(attempted, 1L),
          "storage_held_mb" -> storageHeld,
          "trace.read_p50_ms" -> Stats.geomean(kindP50(Read)),
          "trace.write_p50_ms" -> Stats.geomean(kindP50(Write)))
        tracer.write(java.nio.file.Paths.get(args.traceOut))
        selfTimeSummary()
        Metrics.perLayer.map { case (n, _) => n -> got.getOrElse(n, 0.0) }
      }
    val units = (Metrics.endToEnd ++ Metrics.perLayer).toMap
    val body = metrics.map { case (n, v) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(units(n))}}" }
    s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {${body.mkString(", ")}}}"""
  }

  /** Per-layer self time of the measured operations, printed as comments. */
  private def selfTimeSummary(): Unit = {
    val st = tracer.selfTimes
    val total = st.filter(_._1.name.startsWith("op.")).map(_._1.dur).sum.toDouble
    println(s"# trace: ${st.size} spans in ${tracer.all.map(_.op).distinct.size} ops -> ${args.traceOut}")
    st.groupBy(_._1.layer).toSeq.sortBy(-_._2.map(_._2).sum).foreach { case (layer, xs) =>
      val self = xs.map(_._2).sum
      println(f"# self time  $layer%-8s ${self / 1e6}%10.1f ms  ${100 * self / math.max(total, 1)}%5.1f%%")
    }
  }
}

/** The generator's plain-text copies of its inputs (`<data>/expect`). */
object Expect {
  def rows(data: String, name: String): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(s"$data/expect/$name.tsv", "UTF-8")
    try src.getLines().map(_.split('\t')).toVector finally src.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  /** Linear-interpolated percentile (numpy's default); NaN for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val r = (s.size - 1) * p / 100.0
      val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
  /** Geometric mean: every kind weighs the same, whatever its latency. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  /** A metric value; NaN or infinite (a metric without samples) is null,
    * which `run.py` refuses. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
}

/** Every metric the benchmark prints, with its unit. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "read_p50_ms" -> "ms",
    "write_p50_ms" -> "ms", "heap_live_mb" -> "MB")

  val batchJobs: Seq[String] = Seq("p03_curation", "near_dups", "bm25",
    "pagerank", "hop_distances", "triangles", "order_counts")

  val perLayer: Seq[(String, String)] = Seq(
    "query.compile_ms" -> "ms", "query.plan_ms" -> "ms",
    "query.exchanges" -> "count", "query.codegen_stages" -> "count",
    "engine.mutate_ms" -> "ms", "engine.snapshot_rebuild_ms" -> "ms",
    "engine.rows_collected" -> "count",
    "engine.append_ms" -> "ms", "engine.increment_ms" -> "ms",
    "engine.rows_landed" -> "count",
    "ztable.files_listed" -> "count", "ztable.files_total" -> "count",
    "ztable.prune_frac" -> "fraction", "ztable.bytes_written_per_commit" -> "KiB",
    "ztable.files_written_per_commit" -> "count", "ztable.live_files" -> "count",
    "ztable.dv_rows" -> "count", "ztable.write_amp" -> "ratio") ++
    batchJobs.flatMap(j => Seq(s"batch.$j.s" -> "s", s"batch.$j.build_jobs" -> "count")) ++ Seq(
    "batch.curation_s" -> "s", "batch.graph_s" -> "s",
    "dedup.candidates" -> "count", "dedup.verified" -> "count", "dedup.kept" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.sched_delay_ms" -> "ms", "spark.deser_ms" -> "ms", "spark.task_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB", "spark.busy_frac" -> "fraction",
    "jvm.jit_ms" -> "ms", "jvm.codeheap_mb" -> "MB",
    "ops_failed_frac" -> "fraction", "storage_held_mb" -> "MB",
    "trace.read_p50_ms" -> "ms", "trace.write_p50_ms" -> "ms")
}

object Main {
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the same settings as graft.Bench: AQE off (every adaptive stage is
      // its own scheduling round at this scale) and a codegen cache large
      // enough that warm passes never re-run Janino
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Spark's status store keeps the last 1000 jobs and queries by
      // default, so the live heap at the end of a run would grow with the
      // operations it got through; the traced run reads its own listener
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val spark = session(a.cores, a.work)
    val h = new Harness(spark, a)
    h.phase("session ready")
    val w: Workload = a.workload match {
      case "oltp" => new Oltp(h)
      // the batch job list rides in the warehouse workload: its own
      // process per run cost more set-up and warm-up than the run budget
      // leaves for measuring (see README, "Workloads")
      case "warehouse" => new Mixed(Seq(new WarehouseLoad(h), new Batch(h)))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = h.run(w)
    spark.stop()
    h.phase("stopped")
    println(out)
  }
}
