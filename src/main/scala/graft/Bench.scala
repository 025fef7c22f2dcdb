package graft

import org.apache.spark.sql.SparkSession

import java.io.File
import java.util.Locale
import java.util.concurrent.TimeUnit
import scala.collection.mutable

/** Driver-run benchmark: every SparkEntry query at SPARK_GRAFT_SF_DIR.
  *
  * Execution model (round 6 — designed so the artifact can never again be
  * voided by a timeout; BENCH_r05 was rc=124 with ZERO numbers recorded):
  *
  *   1. ONE FORKED CHILD JVM, WARMUP THEN MEASURE. The parent forks a single
  *      child that first runs the whole battery once as warmup (pass 0) —
  *      against SPARK_GRAFT_WARMUP_DIR, which DEFAULTS TO THE TARGET SF dir:
  *      a tiny-sf warmup loads code but leaves the data-sized hot loops
  *      under JIT thresholds (measured r6 — pass 1 after an sf0.001 warmup
  *      still ran 5-20× slow) — and then runs SPARK_GRAFT_REPS measured
  *      passes at the target SF.
  *      Why not fresh-JVM-per-pass: a cold JVM pays ~300-450 s of
  *      driver-side warmup (Catalyst analysis + Janino + JIT of the Spark
  *      stack itself) spread over the first ~30 queries — measured r6 at
  *      sf0.01: first-quartile queries 9-42 s cold vs 0.5-3 s warm — so
  *      every-pass-cold records numbers incomparable to BASELINE.md and 3×
  *      the wall-clock. The warmup battery pays that cost ONCE against
  *      trivial data (executor work ~0), then every measured pass is warm.
  *   2. THE ROUND-5 PATHOLOGY IS FIXED AT THE MECHANISM. q01 ran 402 s
  *      in-battery (one task, 370+ CPU-s interpreted Decimal.toPrecision)
  *      because (a) the JDK17 default 240 MB code cache's profiled segment
  *      (~117 MB) fills after ~1.5 batteries of Janino classes — measured
  *      r6: ONE battery = 68 MB profiled — and a full segment silently
  *      disables the JIT; and (b) the 11 MB single-row-group lineitem scan
  *      gave the degraded stage exactly one task to crawl on. Fixes:
  *      -XX:ReservedCodeCacheSize=512m on the child (and sbt javaOptions),
  *      and SparkEntry.tPar fans tiny CPU-heavy scans out to all cores.
  *      The jvmstate telemetry lines (CodeHeap occupancy + cumulative JIT
  *      ms at every pass boundary) keep the mechanism attributable from
  *      the artifact alone if it ever recurs.
  *   3. INCREMENTAL OUTPUT. One JSON line per (query, pass) is printed the
  *      moment the query finishes — a kill at any point preserves every
  *      completed measurement (round 5 printed everything at the end, so
  *      rc=124 destroyed ~400 completed numbers).
  *   4. PER-QUERY WATCHDOG. Each query runs on a cancellable thread; past
  *      SPARK_GRAFT_QUERY_TIMEOUT_SEC (default 120) its job group is
  *      cancelled (interruptOnCancel) and the entry records -1 — one
  *      pathological query degrades one number instead of voiding the run.
  *      A query that times out in 2 passes (warmup included) is SKIPPED in
  *      later passes (instant -1): r6 spent its entire budget re-timing-out
  *      the same queries at 75 s wall each until the parent deadline killed
  *      pass 1 mid-flight, voiding half the battery. The warmup pass
  *      additionally has a global budget (SPARK_GRAFT_WARMUP_BUDGET_SEC,
  *      default 900): past it, remaining warmup queries are skipped so
  *      warmup can never eat the measured passes' window.
  *   5. PARENT BUDGET + ONE RETRY. The parent kills a child that exceeds
  *      the overall budget (SPARK_GRAFT_TOTAL_BUDGET_SEC, default
  *      warmup + reps × SPARK_GRAFT_PASS_TIMEOUT_SEC (300) + slack) and, if
  *      enough budget remains, re-forks once starting at the first
  *      incomplete pass (the new child re-warms). Entries no child reached
  *      stay -1; per-rep arrays are pass-indexed so partial passes land in
  *      the right slot.
  *
  * Measured passes are round-robin by construction (pass N runs every query
  * once), keeping the round-4 noise rationale: host-load spikes on this
  * shared box arrive as multi-second bursts, and passes are minutes apart,
  * so a spike poisons at most one pass per query and the per-query MEDIAN
  * discards it. One-time ON-DISK builds (StarWarehouse bucketed tables) land
  * in the warmup pass, so measured passes reflect steady state; the pass-0
  * lines keep the cold numbers visible in the log.
  *
  * The aggregate median is over non-negative entries; -1 only when every
  * pass failed. The per_rep line keeps every raw entry, -1s included, so
  * instability is attributable from the artifact alone.
  *
  * Child mode is selected by SPARK_GRAFT_BENCH_PASS in the env (the first
  * measured pass the child should run); fork can be disabled with
  * SPARK_GRAFT_FORK=0 (in-process warmup + passes, same streaming lines,
  * same watchdogs — also the automatic fallback if forking fails).
  */
object Bench {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  // values rounded to 4 dp: keeps lines short enough that a tail-capture
  // of stdout can't truncate entries (BENCH_r03 lost its head).
  // Locale.ROOT so a comma-decimal default locale can't corrupt the JSON.
  private def r4(v: Double): String =
    if (v < 0) "-1.0"
    else String.format(Locale.ROOT, "%.4f", Double.box(v))

  // 2-dp variant for the full median map on the canonical total line: ~25%
  // fewer bytes keeps the whole map inside the driver's tail capture
  // (BENCH_r08 overflowed it at 4 dp with 91 entries); the split family
  // lines below still carry 4-dp values for anyone who needs them.
  private def r2(v: Double): String =
    if (v < 0) "-1.0"
    else String.format(Locale.ROOT, "%.2f", Double.box(v))

  private def env(k: String, d: String): String = sys.env.getOrElse(k, d)

  def main(args: Array[String]): Unit =
    if (sys.env.contains("SPARK_GRAFT_BENCH_PASS")) childMain() else parentMain()

  // ------------------------------------------------------------------ child

  /** Spark 4.x on JDK 17+ module opens — mirrors build.sbt / the list in
    * org.apache.spark.launcher.JavaModuleOptions (spark-submit injects these;
    * a plain `java` child must carry them itself). */
  private val jdk17AddOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** `$SPARK_GRAFT_CPUS`, else every host core: r1-4 baselines were
    * recorded at local[32] and a silent fall-back to local[4] (the old
    * default) makes every number 4-8× worse and blows the pass budgets. */
  def defaultCpus: String =
    env("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)

  /** The session every main-scope main runs (Bench, Verify, StageAudit,
    * CodegenAudit, Probe, ScaleProbe, IngestProbe, Demo), so the plans an
    * audit or probe captures are the plans the bench runs. `warehouseDir`
    * is the one static conf a main may need to differ in. */
  def buildSession(cpus: String = defaultCpus,
      warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Bench sessions run with AQE off (r6, measured): at bench scale every
      // AQE query stage is a separate job whose scheduling round costs
      // 300-600 ms on this host, and AQE's runtime re-planning buys nothing
      // here — stats are known, small sides are explicitly broadcast, no
      // skew. q04 warm: 14-18 s with AQE, 5 s without (StageAudit).
      // Production guidance unchanged: AQE on for real clusters, where a
      // scheduling round is noise and skew/coalesce decisions matter.
      .config("spark.sql.adaptive.enabled", "false")
      // The 88-query battery generates ~300 whole-stage-codegen classes; the
      // default 100-entry codegen cache evicts across every pass, so each
      // pass re-runs Janino on ~200 stages AND loads fresh classes whose
      // arrival deoptimizes profiled framework code — jvmstate telemetry
      // measured 25 CPU-MINUTES of JIT churn in one warmup battery (r6).
      // Sized to hold every stage of every query with headroom. Read once
      // at CodeGenerator static init, hence set before any query runs.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
    val spark = warehouseDir.fold(b)(b.config("spark.sql.warehouse.dir", _)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run one query under a watchdog. Returns elapsed seconds, or -1 on
    * error/timeout. The noop sink forces FULL evaluation of every output
    * column — count() would let Catalyst prune projection-only work down to
    * a row count (round 4's Probe made exactly that mistake and
    * mis-adjudicated a real 9 s q01 as host noise). */
  /** Per-JVM count of watchdog timeouts per query: at [[skipAfterTimeouts]]
    * the query is skipped for the rest of this JVM's passes. Each timeout
    * costs up to (timeout + 15 s) WALL — r6 burned its whole parent budget
    * re-timing-out the same queries pass after pass. */
  private val timeoutCounts = scala.collection.concurrent.TrieMap.empty[String, Int]
  /** One measured-pass watchdog kill evicts the query for the rest of this
    * JVM (r8, was 2): with warmup kills exempt (countTimeout = pass > 0) a
    * threshold of 2 could never fire before the final pass, so a
    * perpetually-hanging query burned (timeout + 15 s) wall in EVERY
    * measured pass. The 120 s per-query watchdog is ~15× any healthy
    * query's warm time on this host, so a measured-pass kill means a hang,
    * not a spike; evicting on the first one caps the damage at one
    * timeout's wall and the median over the remaining passes still reports
    * the query if any pass completed. */
  private val skipAfterTimeouts = 1

  /** Default budget envelope (r8): warm battery passes measure ~40-200 s at
    * sf0.1 since the memoized scans + GraphX bridge landed (BENCH_r07:
    * 86 queries, 85.2 s summed medians), so three measured passes fit the
    * driver's ~36-38 min outer window with room: 660 s warmup + 3×600 s
    * pass ceilings + slack ≈ worst-case 42 min, but the per-pass deadline
    * (enforced in [[runPass]] since r8) turns a pathological pass into
    * skipped -1 entries instead of a child kill, and a NORMAL run finishes
    * in ~15-20 min. Three reps make the per-query median a true outlier
    * filter — with two, the median equals the mean and a one-pass host
    * spike is only diluted 2×, which is exactly the q19/t12 variance r7
    * recorded. */
  private val defaultReps = "3"
  private val defaultWarmupBudgetSec = "600"
  private val defaultPassTimeoutSec = "600"

  private def timedRun(spark: SparkSession, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      sfDir: String, timeoutSec: Long, countTimeout: Boolean = true): Double = {
    @volatile var out = -1.0
    val group = s"bench-$name"
    val th = new Thread(() => {
      try {
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        out = (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => out = -1.0 }
      finally spark.sparkContext.clearJobGroup()
    }, group)
    th.setDaemon(true)
    th.start()
    th.join(timeoutSec * 1000L)
    if (th.isAlive) {
      // cancel running stages (tasks get Thread.interrupt via
      // interruptOnCancel) and give the action thread a moment to unwind;
      // a thread stuck driver-side gets a plain interrupt as last resort
      spark.sparkContext.cancelJobGroup(group)
      th.join(15000L)
      if (th.isAlive) th.interrupt()
      if (countTimeout) timeoutCounts.updateWith(name) { c => Some(c.getOrElse(0) + 1) }
      -1.0
    } else out
  }

  /** Warmup (pass-0) queries that actually completed, in THIS JVM: bumped
    * by the in-process path here and by the parent's reader for relayed
    * child lines — so the total line's "warmed" field reports what
    * happened, not what the env requested. */
  private val pass0Done = new java.util.concurrent.atomic.AtomicInteger(0)

  private def emitQueryLine(name: String, pass: Int, sec: Double): Unit = {
    if (pass == 0 && sec >= 0) pass0Done.incrementAndGet()
    println(s"""{"metric":"query","name":"$name","pass":$pass,"sec":${r4(sec)}}""")
    System.out.flush()
  }

  /** JIT/code-cache telemetry line, emitted at every pass boundary.
    * CodegenAudit (round 6) showed every generated method is ≤698
    * bytecodes — far under HotSpot's 8000-bytecode JIT refusal — so the
    * round-5 in-battery degradation was accumulated JVM state, and the
    * measured growth (68 MB profiled code heap per battery vs the default
    * segment cap of ~117 MB) names code-cache exhaustion as the mechanism.
    * These lines keep codeheap occupancy in the artifact per pass. */
  private def emitJvmState(spark: SparkSession, pass: Int, where: String): Unit = {
    import scala.jdk.CollectionConverters._
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
      .map { p =>
        val u = p.getUsage
        "\"" + p.getName.replace("CodeHeap '", "").replace("'", "").replace(" ", "_") +
          "\":" + (u.getUsed / 1024 / 1024)
      }
      .mkString("{", ",", "}")
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    // Storage telemetry (r17, additions-only): persisted RDD/cache blocks
    // held at the pass boundary. A leak shows as monotonic growth across
    // passes (the r16 verdict's d-family contention hypothesis); healthy
    // passes return to the owner caches' steady state. Best-effort: never
    // fail the bench over telemetry.
    val storage = try {
      val infos = spark.sparkContext.getRDDStorageInfo
      val mem = infos.map(_.memSize).sum / 1024 / 1024
      val disk = infos.map(_.diskSize).sum / 1024 / 1024
      s""","storage_rdds":${infos.length},"storage_mem_mb":$mem,"storage_disk_mb":$disk"""
    } catch { case scala.util.control.NonFatal(_) => "" }
    println(s"""{"metric":"jvmstate","pass":$pass,"at":"$where","codeheap_used_mb":$pools,"jit_ms":${jit.getTotalCompilationTime}$storage}""")
    System.out.flush()
  }

  /** One full battery pass in THIS JVM, streaming one line per query.
    * Queries starting after `deadlineNanos` are skipped as -1 (used to
    * bound the warmup pass — measured passes get Long.MaxValue). */
  private def runPass(spark: SparkSession, sfDir: String, pass: Int,
      timeoutSec: Long, record: (String, Int, Double) => Unit,
      deadlineNanos: Long = Long.MaxValue): Unit = {
    // warm the session: one trivial job + one small parquet read, so the
    // first measured query isn't charged Spark/scheduler bring-up
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    emitJvmState(spark, pass, "start")
    // SPARK_GRAFT_ONLY: optional anchored regex over query names — runs a
    // subset battery. Diagnostic (family bisection) and harmless in
    // production runs where it is unset.
    val only = env("SPARK_GRAFT_ONLY", ".*").r
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if only.pattern.matcher(name).matches()) {
      val sec =
        if (System.nanoTime() > deadlineNanos) -1.0
        else if (timeoutCounts.getOrElse(name, 0) >= skipAfterTimeouts) -1.0
        // a COLD (warmup) watchdog kill must not count toward eviction: a
        // heavy-but-finishing query that is 2× slower cold would otherwise
        // burn one of its two strikes before any measured pass ran
        else timedRun(spark, name, fn, sfDir, timeoutSec, countTimeout = pass > 0)
      emitQueryLine(name, pass, sec)
      record(name, pass, sec)
    }
    emitJvmState(spark, pass, "end")
  }

  /** Warmup battery + measured passes firstPass..reps, in THIS JVM. */
  private def runAll(spark: SparkSession, firstPass: Int,
      record: (String, Int, Double) => Unit): Unit = {
    val sfDir = env("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = env("SPARK_GRAFT_REPS", defaultReps).toInt
    val queryTimeoutSec = env("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "120").toLong
    if (env("SPARK_GRAFT_WARMUP", "1") != "0") {
      // warmup at the TARGET sf by default: a tiny-sf warmup loads code but
      // leaves the data-sized hot loops under JIT thresholds (measured r6 —
      // pass 1 after an sf0.001 warmup still ran 5-20× slow), and the
      // measured passes then pay the residue. Pass 0 at the target sf is
      // exactly round-4's "median discards the cold pass", made explicit.
      // SERIAL (r7; r6 ran warmup 4-way concurrent and the round's numbers
      // died): under contention the heavy queries blow the per-query
      // watchdog, so exactly the queries that most need JIT warmth get
      // cancelled mid-flight — and each cancellation can strand an
      // interrupt-insensitive task on an executor slot for good. A serial
      // cold pass at local[allcores] fits the 900 s budget and leaves the
      // JVM clean; the budget deadline still skips stragglers.
      val warmupDir = env("SPARK_GRAFT_WARMUP_DIR", sfDir)
      val budget = env("SPARK_GRAFT_WARMUP_BUDGET_SEC", defaultWarmupBudgetSec).toLong
      val deadline = System.nanoTime() + budget * 1000000000L
      runPass(spark, warmupDir, 0, queryTimeoutSec, (_, _, _) => (), deadline)
    }
    // measured passes get a REAL per-pass deadline (r8): before this, the
    // pass ceiling only existed in the parent's total-budget arithmetic, so
    // an overrunning pass ran until the parent killed the whole child —
    // exactly the r6 failure mode. Queries starting past the deadline are
    // skipped as -1 within the pass; the next pass starts fresh, and the
    // median over completed passes still covers every skipped query.
    val passTimeoutSec = env("SPARK_GRAFT_PASS_TIMEOUT_SEC", defaultPassTimeoutSec).toLong
    for (pass <- firstPass to reps) {
      val passDeadline = System.nanoTime() + passTimeoutSec * 1000000000L
      runPass(spark, sfDir, pass, queryTimeoutSec, record, passDeadline)
    }
  }

  private def childMain(): Unit = {
    val firstPass = env("SPARK_GRAFT_BENCH_PASS", "1").toInt
    val spark = buildSession()
    runAll(spark, firstPass, (_, _, _) => ())
    spark.stop()
    // leaked watchdog threads are daemon, but a cancelled-but-stuck Spark
    // action must not keep the child JVM alive past its useful life
    sys.exit(0)
  }

  // ----------------------------------------------------------------- parent

  /** Classpath for child JVMs: the inherited one when it already carries
    * Spark (sbt forked run passes the full application classpath); otherwise
    * this class's code source + the Spark jars dir (covers being launched
    * from an sbt in-process runner whose java.class.path is only the sbt
    * launcher). */
  private def childClasspath(): String = {
    val inherited = sys.props.getOrElse("java.class.path", "")
    if (inherited.contains("spark-core"))  inherited
    else {
      val codeSrc = new File(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
      codeSrc.getAbsolutePath + File.pathSeparator + "/opt/spark/jars/*"
    }
  }

  /** Fork a child that warms up and runs passes firstPass..reps; stream its
    * per-query lines through to stdout as they arrive, recording each.
    * Returns false if the fork could not even start (caller falls back to
    * in-process). */
  private def runForkedChild(firstPass: Int, deadlineNanos: Long,
      record: (String, Int, Double) => Unit): Boolean = {
    val javaBin = new File(new File(sys.props("java.home"), "bin"), "java").getAbsolutePath
    val cmd: Seq[String] =
      Seq(javaBin) ++ jdk17AddOpens ++ Seq(
        s"-Xmx${env("SPARK_DRIVER_MEM", "8g")}",
        // 2× the JDK17 default (240m): ONE battery fills 68 MB of the
        // ~117 MB profiled segment, so multi-pass runs on the default size
        // exhaust it and HotSpot silently disables the JIT — the mechanism
        // behind round-5's in-battery degradation (see PLANS.md)
        "-XX:ReservedCodeCacheSize=512m",
        // ParallelGC over default G1 (r6, measured): G1 charged 1.7-3.6 s of
        // GC to a 6 s join stage on this host; ParallelGC + AQE-off took q04
        // from 14-18 s to 5 s warm (StageAudit). Throughput GC fits batch
        // queries with no latency SLO.
        "-XX:+UseParallelGC",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", childClasspath(),
        "graft.Bench")
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_BENCH_PASS", firstPass.toString)
    pb.redirectErrorStream(false)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val proc =
      try pb.start()
      catch { case _: java.io.IOException => return false }
    val lineRe = """"name":"([^"]+)","pass":(\d+),"sec":(-?[0-9.]+)""".r.unanchored
    val reader = new Thread(() => {
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
      var line = in.readLine()
      while (line != null) {
        line match {
          case lineRe(name, pass, sec) =>
            println(line); System.out.flush() // relay verbatim, incrementally
            if (pass.toInt == 0 && sec.toDouble >= 0) pass0Done.incrementAndGet()
            record(name, pass.toInt, sec.toDouble)
          case _ if line.startsWith("{\"metric\":\"jvmstate\"") =>
            println(line); System.out.flush() // telemetry: relay, don't record
          case _ => // non-protocol stdout noise (logging): drop, keep JSON clean
        }
        line = in.readLine()
      }
    }, s"bench-child-$firstPass-reader")
    reader.setDaemon(true)
    reader.start()
    val finished = proc.waitFor(
      math.max(1L, deadlineNanos - System.nanoTime()), TimeUnit.NANOSECONDS)
    if (!finished) {
      System.err.println(s"[bench] child (from pass $firstPass) exceeded the total budget — killing")
      proc.destroyForcibly()
      proc.waitFor(30, TimeUnit.SECONDS)
    }
    reader.join(10000L)
    true
  }

  private def parentMain(): Unit = {
    val sfDir = env("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = env("SPARK_GRAFT_REPS", defaultReps).toInt
    val queryTimeoutSec = env("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "120").toLong
    val passTimeoutSec = env("SPARK_GRAFT_PASS_TIMEOUT_SEC", defaultPassTimeoutSec).toLong
    val warmupBudgetSec =
      if (env("SPARK_GRAFT_WARMUP", "1") != "0")
        env("SPARK_GRAFT_WARMUP_BUDGET_SEC", defaultWarmupBudgetSec).toLong + 60L
      else 60L
    // overall budget: warmup + measured passes + startup slack. Sized so the
    // worst case still lands inside the driver's outer timeout (round 5 was
    // killed at ~38 min with nothing printed; this harness streams, so even
    // an outer kill now preserves every completed line).
    val totalBudgetSec = env("SPARK_GRAFT_TOTAL_BUDGET_SEC",
      (warmupBudgetSec + reps * passTimeoutSec + 120L).toString).toLong
    val deadline = System.nanoTime() + totalBudgetSec * 1000000000L
    val fork = env("SPARK_GRAFT_FORK", "1") != "0"

    val only = env("SPARK_GRAFT_ONLY", ".*").r
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.pattern.matcher(n).matches())
    // pass-indexed slots so a partial pass lands in the right column and
    // unreached (query, pass) cells stay NaN → reported -1
    val times = mutable.LinkedHashMap(names.map(_ -> Array.fill(reps)(Double.NaN)): _*)
    def record(name: String, pass: Int, sec: Double): Unit =
      if (pass >= 1 && pass <= reps) times.synchronized { times(name)(pass - 1) = sec }
    def firstIncompletePass: Int = {
      val done = (1 to reps).takeWhile(p =>
        times.synchronized(times.valuesIterator.forall(arr => !arr(p - 1).isNaN)))
      done.lastOption.getOrElse(0) + 1
    }

    var forkWorks = fork
    var attempts = 0
    // one child normally covers warmup + all passes; on a budget kill,
    // re-fork once from the first incomplete pass if time remains for at
    // least a re-warm and one pass
    while (forkWorks && firstIncompletePass <= reps && attempts < 2 &&
        (attempts == 0 ||
          deadline - System.nanoTime() > (warmupBudgetSec + passTimeoutSec) * 1000000000L)) {
      attempts += 1
      forkWorks = runForkedChild(firstIncompletePass, deadline, record)
    }
    // last resort: forking unavailable, or children died without covering a
    // single pass (instant crash) — run in-process while budget remains.
    // Per-query watchdogs still bound each entry and lines still stream.
    var ranInProcess = false
    if (firstIncompletePass <= reps &&
        (!forkWorks || times.synchronized(times.valuesIterator.forall(_.forall(_.isNaN)))) &&
        deadline - System.nanoTime() > 60L * 1000000000L) {
      ranInProcess = true
      val spark = buildSession()
      runAll(spark, firstIncompletePass, record) // runPass already emits lines
      spark.stop()
    }

    // median over the passes that succeeded; -1 only if none did. A
    // watchdogged or killed pass degrades one array entry, never the run.
    val results = times.toSeq.map { case (name, arr) =>
      val ok = arr.toSeq.filter(v => !v.isNaN && v >= 0)
      name -> (if (ok.isEmpty) -1.0 else median(ok))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r2(v) }
      .mkString("{", ",", "}")
    val perRep = times.toSeq
      .map { case (k, arr) =>
        "\"" + k + "\":" + arr.map(v => r4(if (v.isNaN) -1.0 else v)).mkString("[", ",", "]")
      }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // forked/warmed report what HAPPENED, not what the env requested: a
    // fork failure or budget-skipped warmup must be readable from the
    // artifact alone (r6 advice). pass0Done counts completed warmup queries
    // — relayed child lines and the in-process path both bump it.
    val forkedActual = fork && !ranInProcess
    val warmedActual = pass0Done.get() > 0
    // emission order matters: the driver tail-captures the END of stdout and
    // truncation eats from the HEAD of the window — BENCH_r08's 91-entry
    // 4-dp map overflowed it and lost the alphabetically-first (d/e/g)
    // medians, and r09's two-line split still overflowed the 67-entry
    // q/s/t/w/x line from its head. r10: the medians are emitted as SHORT
    // CHUNKS of ≤36 entries each (every line ~1 KB, far under any capture
    // window), ordered q/s/t/w/x families first and d/e/g LAST (nearest
    // EOF = survives longest, the historically-lost families). Bulky
    // per_rep stays FIRST so it is eaten before any median; the 2-dp full
    // map on the total line remains for one-line consumers.
    val (degFams, restFams) = results.partition { case (k, _) =>
      k.headOption.exists(c => c == 'd' || c == 'e' || c == 'g') }
    def medJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + r4(v) }.mkString("{", ",", "}")
    val chunks = (restFams ++ degFams).grouped(36).toSeq
    // The full medians+per-rep map ALSO lands on disk (r11 verdict item 6):
    // the driver artifact tail-captures ~2000 chars of stdout, which holds
    // only ~41 of the 150+ medians — the judge diffs round-over-round from
    // this file instead. Default cwd/BENCHLOG.json; SPARK_GRAFT_BENCHLOG
    // overrides. Best-effort: a read-only cwd must not fail the bench.
    try {
      val logPath = sys.env.getOrElse("SPARK_GRAFT_BENCHLOG", "BENCHLOG.json")
      val body = s"""{"sf":"$sfDir","reps":$reps,"total_sec":${r4(total)},""" +
        s""""n_queries":${results.size},"forked":$forkedActual,""" +
        s""""warmed":$warmedActual,"medians_sec":${medJson(restFams ++ degFams)},""" +
        s""""per_rep_sec":$perRep}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(logPath),
        body.getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(e) =>
      // NonFatal, not just IOException: a malformed SPARK_GRAFT_BENCHLOG
      // throws InvalidPathException from Paths.get — best-effort means the
      // log can never fail the bench for any recoverable reason
      System.err.println(s"[bench] BENCHLOG write failed: $e")
    }
    println(s"""{"metric":"per_rep","unit":"sec","times":$perRep,"sf":"$sfDir","reps":$reps}""")
    println(s"""{"metric":"total","value":${r4(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","reps":$reps,"forked":$forkedActual,"warmed":$warmedActual,"warmup_queries_done":${pass0Done.get()},"cpus":"$defaultCpus","query_timeout_sec":$queryTimeoutSec}""")
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      println(s"""{"metric":"medians_${i + 1}of${chunks.size}","unit":"sec","queries":${medJson(chunk)},"sf":"$sfDir","reps":$reps}""")
    }
    println(s"""{"metric":"total_compact","value":${r4(total)},"unit":"sec","n_queries":${results.size},"median_lines":${chunks.size},"sf":"$sfDir","reps":$reps}""")
  }
}
