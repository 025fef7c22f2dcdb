package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import scala.util.Random

/** Randomized CONCURRENT-WRITER torture for the maintained-table commit
  * protocol — the [[graft.engine.UndoPropertySpec]] treatment applied to
  * [[Layout]]: N threads race append/maintain, upsert, vectored delete,
  * small-file compaction, bloom builds, replication, vacuum, AND simulated
  * writer kills (crash debris injected under the table lock — exactly the
  * artifacts a process dying between stage and commit leaves), over a
  * seeded random interleaving. Invariants, every round:
  *
  *   1. no operation throws (the lock + heal discipline must make every
  *      interleaving safe, not just the ones individual tests pin);
  *   2. the final table holds EXACTLY base ∪ appended − deleted (every
  *      committed write lands once, every delete lands, nothing vanishes);
  *   3. data/ ≡ the union of retained manifests (+ DV files) — crash
  *      debris and aged generations never survive the final heal;
  *   4. a replica synced after the storm equals the primary.
  *
  * On failure the per-thread op trace prints — the interleaving IS the
  * reproduction (seeds are fixed, so a red run replays exactly). */
class LayoutPropertySpec extends AnyFunSuite with SparkSpec {

  /** Every regular file under data/ must be referenced by some retained
    * manifest (spans or DV) — rule 3 above. */
  private def assertDataEqualsManifests(dir: String, label: String): Unit = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir).toAbsolutePath
    val referenced = Layout.retainedGens(dir)
      .map(g => Layout.readManifest(dir, g))
      .flatMap(m => m.spans.map(_.file) ++ m.dv.toSeq).toSet
    val dataDir = root.resolve("data")
    val walk = java.nio.file.Files.walk(dataDir)
    val onDisk = try walk.iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p.toAbsolutePath).toString).toSet
      finally walk.close()
    assert(onDisk == referenced,
      s"$label: data/ ≢ retained manifests — orphans: " +
        s"${onDisk.diff(referenced)}, missing: ${referenced.diff(onDisk)}")
  }

  test("concurrent append/upsert/delete/compact/mirror/kill interleavings always heal to exactly the committed rows (seeded)") {
    import spark.implicits._
    for (round <- 0 until 2) {
      val seed = 1400L + round
      val rng = new Random(seed)
      val dir = java.nio.file.Files.createTempDirectory(s"graft_ztor$round")
        .toString + "/t"
      val rep = java.nio.file.Files.createTempDirectory(s"graft_ztorr$round")
        .toString + "/t"
      // base keys 0..4095; torture keys start at 1_000_000, globally
      // unique per (thread, op, row) so expectations are exact sets
      val base = spark.range(4096L)
        .select((col("id") / 64).cast("long").as("a"),
          (col("id") % 64).as("b"), col("id").as("k"))
      Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 8,
        keepGenerations = 3)

      val nThreads = 4
      val opsPerThread = 5
      val appended = new ConcurrentLinkedQueue[Long]()
      val deleted = new ConcurrentLinkedQueue[Long]()
      val errs = new ConcurrentLinkedQueue[(String, Throwable)]()
      val trace = new ConcurrentLinkedQueue[String]()
      val gate = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(nThreads)
      val threadSeeds = Seq.fill(nThreads)(rng.nextLong())
      for (t <- 0 until nThreads) pool.submit(new Runnable {
        override def run(): Unit = {
          val r = new Random(threadSeeds(t))
          val mine = scala.collection.mutable.ArrayBuffer.empty[Long]
          gate.await()
          for (op <- 0 until opsPerThread) {
            val kind = r.nextInt(8)
            trace.add(s"t$t op$op kind$kind")
            try kind match {
              case 0 | 1 => // append + maintain (the common writer)
                val keys = (0 until 24).map(i =>
                  1000000L + t * 100000L + op * 1000L + i)
                val slab = keys.map(k => (k % 64, (k / 64) % 64, k))
                  .toDF("a", "b", "k")
                Layout.zorderAppend(slab, dir)
                Layout.zorderMaintain(spark, dir)
                keys.foreach { k => appended.add(k); mine += k }
              case 2 => // upsert: MERGE-INTO keyed on (a, b) — use layout
                // keys no other writer (and no base row) ever touches, so
                // every upsert is a pure insert and the expected set stays
                // exact (base a ∈ [0,64), appends a ∈ [0,64); upserts claim
                // a = 100+t, b unique per (op, row))
                val rows = (0 until 12).map(i =>
                  (100L + t, op * 12L + i,
                    2000000L + t * 100000L + op * 1000L + i))
                Layout.zorderUpsert(spark, rows.toDF("a", "b", "k"), dir)
                rows.foreach { case (_, _, k) => appended.add(k); mine += k }
              case 3 if mine.nonEmpty => // vectored delete of OWN keys
                val victims = mine.take(math.max(1, mine.size / 2)).toSeq
                Layout.zorderDeleteVectoredByKey(spark, dir, "k", victims)
                victims.foreach(deleted.add)
                mine --= victims
              case 4 => // bin-pack small files
                Layout.zorderCompactSmall(spark, dir, targetRows = 2048L)
                ()
              case 5 => // bloom sidecar build
                Layout.zorderBloomBuild(spark, dir, "k")
                ()
              case 6 => // replicate mid-storm (lock-free primary snapshot)
                Layout.zorderMirror(dir, rep)
                ()
              case 7 => // KILLED WRITER: debris a process dying between
                // stage and commit leaves, injected under the table lock
                // (a real victim would have held it when it died)
                Layout.withTableLock(dir) {
                  val g = Layout.currentGen(dir).get + 1
                  java.nio.file.Files.write(
                    java.nio.file.Paths.get(dir, s"manifest-$g.tsv"),
                    "#colA\ta\n#colB\tb\n#aLo\t0\n#aHi\t1\n#bLo\t0\n#bHi\t1"
                      .getBytes("UTF-8"))
                  val gd = java.nio.file.Paths.get(dir, "data", s"g$g")
                  java.nio.file.Files.createDirectories(gd)
                  java.nio.file.Files.write(gd.resolve("junk.parquet"),
                    Array[Byte](9, 9, 9))
                  val st = java.nio.file.Paths.get(dir, "data", s"g$g.staging")
                  java.nio.file.Files.createDirectories(st)
                  java.nio.file.Files.write(st.resolve("part-dead.parquet"),
                    Array[Byte](1))
                }
              case _ => // delete with nothing appended yet: vacuum instead
                Layout.zorderVacuum(dir)
            } catch {
              case e: Throwable => errs.add((s"t$t op$op kind$kind", e))
            }
          }
        }
      })
      // a RACING READER alongside the writers: every successful
      // planner-integrated read must see a consistent committed snapshot
      // (all 4096 base keys are never deleted, so any snapshot counts
      // >= 4096). Reads that lose their snapshot to generation aging are
      // the documented retention contract (size keepGenerations to the
      // reader lifetime), tolerated here — but a WRONG count never is.
      val readerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
      val badReads = new ConcurrentLinkedQueue[Long]()
      val goodReads = new java.util.concurrent.atomic.AtomicInteger(0)
      val reader = new Thread(() => {
        gate.await()
        while (!readerDone.get()) {
          try {
            val n = ZTable.dataFrame(spark, dir).count()
            goodReads.incrementAndGet()
            if (n < 4096L) badReads.add(n)
          } catch { case _: Throwable => () } // aged-out snapshot: allowed
        }
      })
      reader.setDaemon(true)
      reader.start()
      gate.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(600, TimeUnit.SECONDS), "torture hung")
      readerDone.set(true)
      reader.join(60000)
      assert(badReads.isEmpty,
        s"seed=$seed racing reader saw an inconsistent count: ${badReads.peek()}")
      assert(goodReads.get() > 0, "the racing reader never completed a read")
      import scala.jdk.CollectionConverters._
      val traceStr = trace.iterator().asScala.mkString(", ")
      val firstErr = Option(errs.peek())
        .map { case (at, e) => s"$at → $e" }.getOrElse("")
      assert(errs.isEmpty,
        s"seed=$seed trace=[$traceStr] first error: $firstErr")

      // the storm is over: one maintain folds any straggler landing,
      // one vacuum sweeps debris, then the exact-set invariants
      Layout.zorderMaintain(spark, dir)
      Layout.zorderVacuum(dir)
      val expect = (0L until 4096L).toSet ++
        appended.iterator().asScala.toSet --
        deleted.iterator().asScala.toSet
      val got = Layout.zorderRead(spark, dir)
        .select("k").collect().map(_.getLong(0)).toSet
      assert(got == expect,
        s"seed=$seed trace=[$traceStr] rows diverged — unexpected: " +
          s"${got.diff(expect).take(8)}, lost: ${expect.diff(got).take(8)}")
      assertDataEqualsManifests(dir, s"seed=$seed primary")

      // post-storm sync: the replica equals the primary exactly
      Layout.zorderMirror(dir, rep)
      val gotRep = Layout.zorderRead(spark, rep)
        .select("k").collect().map(_.getLong(0)).toSet
      assert(gotRep == expect, s"seed=$seed replica diverged")
      assertDataEqualsManifests(rep, s"seed=$seed replica")
    }
  }

  test("CDC crash-point torture: a poll killed at ANY phase, with racing primary commits in the crash window, always converges exactly (seeded)") {
    import spark.implicits._
    for (seed <- Seq(1500L, 1501L)) {
      val rng = new Random(seed)
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_zcdct$seed")
      val pri = s"$tmp/pri"; val fol = s"$tmp/fol"
      var nextKey = 512L
      def frame(rows: Seq[(Long, String)]) =
        rows.map { case (k, v) => (k / 8, k % 8, k, v) }.toDF("a", "b", "k", "v")
      Layout.zorderInit(spark,
        frame((0L until 512L).map(k => (k, s"v$k"))), pri, "a", "b",
        nFiles = 4, keepGenerations = 64) // retention >> rounds × commits
      Layout.zorderCdcSeed(spark, pri, fol, nFiles = 4)
      def rows(path: String): Set[(Long, String)] =
        Layout.zorderRead(spark, path).select("k", "v")
          .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      def liveKeys(): Seq[Long] = Layout.zorderRead(spark, pri)
        .select("k").collect().map(_.getLong(0)).toSeq
      def primaryCommit(): Unit = rng.nextInt(3) match {
        case 0 => // fresh keys arrive
          val ks = (0 until 1 + rng.nextInt(16)).map { _ => nextKey += 1; nextKey }
          Layout.zorderAppend(frame(ks.map(k => (k, s"v$k"))), pri)
          Layout.zorderMaintain(spark, pri); ()
        case 1 => // some existing keys vanish
          val doomed = rng.shuffle(liveKeys()).take(1 + rng.nextInt(8))
          if (doomed.nonEmpty) {
            Layout.zorderDeleteVectoredByKey(spark, pri, "k", doomed); ()
          }
        case 2 => // some existing keys update (delete+insert in the feed)
          val up = rng.shuffle(liveKeys()).take(1 + rng.nextInt(8))
          if (up.nonEmpty) {
            Layout.zorderUpsert(spark,
              frame(up.map(k => (k, s"u$k-${rng.nextInt(99)}"))), pri); ()
          }
      }
      def cursor(): Long = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(fol, "cdc-cursor")), "UTF-8").trim.toLong
      for (round <- 0 until 8) {
        primaryCommit()
        if (rng.nextBoolean()) primaryCommit()
        // crash ∈ 0..4 = the poll dies after phase N (0: intent written;
        // 1: +delete; 2: +append landed; 3: +maintain; 4: +cursor, intent
        // leftover); 5 = clean poll. The simulation replays zorderCdcApply's
        // EXACT phase order against the same file markers.
        val crash = rng.nextInt(6)
        if (crash == 5) {
          Layout.zorderCdcApply(spark, pri, fol, "k",
            collectThreshold = if (rng.nextBoolean()) 100000L else 0L)
          ()
        } else {
          val cur0 = cursor()
          val target = Layout.currentGen(pri).get
          if (target != cur0) {
            Layout.zorderMaintain(spark, fol) // the apply's first step
            val feed = Layout.zorderChanges(spark, pri, cur0, target)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              if (feed.count() > 0) {
                java.nio.file.Files.write(
                  java.nio.file.Paths.get(fol, "cdc-intent"),
                  target.toString.getBytes("UTF-8"))
                if (crash >= 1) {
                  val ks = feed.select(col("k").cast("long")).distinct()
                    .collect().map(_.getLong(0)).toSeq
                  Layout.zorderDeleteVectoredByKey(spark, fol, "k", ks); ()
                }
                if (crash >= 2)
                  Layout.zorderAppend(feed
                    .filter(col("change_type") === "insert")
                    .drop("change_type"), fol)
                if (crash >= 3) { Layout.zorderMaintain(spark, fol); () }
                if (crash >= 4)
                  java.nio.file.Files.write(
                    java.nio.file.Paths.get(fol, "cdc-cursor"),
                    target.toString.getBytes("UTF-8"))
              }
            } finally { feed.unpersist(); () }
          }
          // the ADVICE hazard: the primary commits INSIDE the crash window
          // (a canceling commit is what an unpinned replay would miss)
          primaryCommit()
        }
        // recovery: one poll replays any pinned crash, one more reaches
        // the primary's CURRENT; a third must be a caught-up no-op
        Layout.zorderCdcApply(spark, pri, fol, "k")
        Layout.zorderCdcApply(spark, pri, fol, "k",
          collectThreshold = if (rng.nextBoolean()) 100000L else 0L)
        val (i3, d3, c3) = Layout.zorderCdcApply(spark, pri, fol, "k")
        assert(i3 == 0L && d3 == 0L && c3 == Layout.currentGen(pri).get,
          s"seed=$seed round=$round crash=$crash: not caught up")
        assert(rows(fol) == rows(pri),
          s"seed=$seed round=$round crash=$crash: follower diverged")
        assert(!java.nio.file.Files.isRegularFile(
          java.nio.file.Paths.get(fol, "cdc-intent")),
          s"seed=$seed round=$round: intent must clear after convergence")
      }
      graft.engine.WarehouseMeta.deleteRecursively(tmp)
    }
  }

  test("persisted schema ≡ footer schema under randomized shuffled-column appends (seeded)") {
    import spark.implicits._
    // the schema-in-manifest fast path asserts that left-biased
    // unionByName keeps the committed column order through every
    // rewrite; feed maintains/upserts whose INPUT column order is
    // randomly shuffled (same column set → still homogeneous) and pin
    // manifest schema == head-file footer schema after each commit
    val rng = new Random(77)
    val dir = java.nio.file.Files.createTempDirectory("graft_zscho").toString + "/t"
    val base = spark.range(256L)
      .select(col("id").as("a"), (col("id") % 16).as("b"),
        concat(lit("v"), col("id")).as("v"), (col("id") * 7).as("w"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 2)
    val cols = Seq("a", "b", "v", "w")
    for (step <- 1 to 6) {
      val shuffled = rng.shuffle(cols)
      val slab = spark.range(1000L + step * 100, 1000L + step * 100 + 20)
        .select(col("id").as("a"), (col("id") % 16).as("b"),
          concat(lit("v"), col("id")).as("v"), (col("id") * 7).as("w"))
        .select(shuffled.map(col): _*)
      if (rng.nextBoolean()) {
        Layout.zorderAppend(slab, dir)
        Layout.zorderMaintain(spark, dir)
      } else Layout.zorderUpsert(spark, slab, dir)
      val (_, man) = Layout.currentManifest(dir)
      assert(!man.mixedSchema && man.schemaJson.isDefined,
        s"step $step (input order $shuffled): still homogeneous")
      val viaManifest = ZTable.dataFrame(spark, dir).schema
      val headFile = java.nio.file.Paths.get(dir).toAbsolutePath
        .resolve(Layout.currentSpans(dir).head.file).toString
      val viaFooter = spark.read.parquet(headFile).schema
      assert(viaManifest == viaFooter,
        s"step $step (input order $shuffled): manifest schema " +
          s"${viaManifest.fieldNames.toSeq} != footer " +
          s"${viaFooter.fieldNames.toSeq}")
    }
    assert(ZTable.dataFrame(spark, dir).count() >= 256L)
  }

  test("object-store model: the full lifecycle runs rename-free (finalize = copy+delete; atomicity only from whole-object PUT)") {
    import spark.implicits._
    Layout.Store.noRename = true
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_znr")
        .toString + "/t"
      val rep = java.nio.file.Files.createTempDirectory("graft_znrr")
        .toString + "/t"
      val base = spark.range(2048L)
        .select((col("id") / 32).cast("long").as("a"),
          (col("id") % 64).as("b"), col("id").as("k"))
      Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 4,
        keepGenerations = 2)
      // append → maintain (the w26 flow)
      val extra = (3000L until 3100L).map(k => (k % 64, (k / 64) % 64, k))
        .toDF("a", "b", "k")
      Layout.zorderAppend(extra, dir)
      val (merged, _, _) = Layout.zorderMaintain(spark, dir)
      assert(merged == 100L)
      // batch-append loop commit marker (intent → commit finalize)
      assert(Layout.zorderAppendBatch(spark,
        Seq((7L, 7L, 4001L)).toDF("a", "b", "k"), dir, batchId = 1L) == 1L)
      Layout.zorderMaintain(spark, dir)
      // the finalize-as-copy+delete CRASH WINDOW: commit copied, intent's
      // delete lost — the next locked op must GC the landed intent (the
      // batch IS committed) and must NOT roll the landing back
      locally {
        import scala.jdk.CollectionConverters._
        val log = java.nio.file.Paths.get(dir, "batchlog")
        java.nio.file.Files.write(log.resolve("9.intent"),
          Array.empty[Byte]) // empty snapshot: a rollback would wipe landing
        java.nio.file.Files.write(log.resolve("9.commit"), Array.empty[Byte])
        Layout.zorderAppend(Seq((8L, 8L, 4002L)).toDF("a", "b", "k"), dir)
        Layout.zorderMaintain(spark, dir) // runs the rollback sweep
        val ls = java.nio.file.Files.list(log)
        val intents = try ls.iterator().asScala
          .count(_.getFileName.toString.endsWith(".intent"))
          finally ls.close()
        assert(intents == 0, "landed intents must be GC'd, not linger")
        assert(Layout.zorderRead(spark, dir).filter(col("k") === 4002L)
          .count() == 1L, "a landed intent must never trigger a rollback")
      }
      // vectored delete (DV write path), bin-pack, bloom, mirror
      val (nDel, _) = Layout.zorderDeleteVectoredByKey(spark, dir, "k",
        (0L until 32L).toSeq)
      assert(nDel == 32L)
      Layout.zorderCompactSmall(spark, dir, targetRows = 1024L)
      Layout.zorderBloomBuild(spark, dir, "k")
      Layout.zorderMirror(dir, rep)
      // scan correctness after the whole rename-free lifecycle (w27 flow)
      val expect = ((0L until 2048L).toSet ++ (3000L until 3100L) +
        4001L + 4002L) -- (0L until 32L).toSet
      val got = Layout.zorderRead(spark, dir)
        .select("k").collect().map(_.getLong(0)).toSet
      assert(got == expect, "rename-free lifecycle must commit exactly")
      assert(Layout.zorderRead(spark, rep)
        .select("k").collect().map(_.getLong(0)).toSet == expect)
      // planner-integrated read + band scan still prune and answer
      assert(ZTable.dataFrame(spark, dir).filter(col("k") >= 3000L)
        .count() == 102L)
      assertDataEqualsManifests(dir, "no-rename primary")
    } finally Layout.Store.noRename = false
  }

  test("key verbs, integral and string keys, with and without a bloom sidecar: rows match a plain model, explicit lookups open exactly the planner's files, empty key lists open nothing (seeded)") {
    import spark.implicits._
    for (round <- 0 until 2; withBloom <- Seq(false, true)) {
      val seed = 1800L + round
      val rng = new Random(seed * 2 + (if (withBloom) 1 else 0))
      val label = s"seed $seed, bloom $withBloom"
      val dir = java.nio.file.Files.createTempDirectory(s"graft_zkey$round")
        .toString + "/t"
      // k: unique integral ids in shuffled order (decorrelated from the
      // layout, so only a bitset can prune them); s: a string key, null
      // on some rows (a NULL key never matches and never deletes)
      val n = 300 + rng.nextInt(300)
      val ids = rng.shuffle((0 until n).map(i => 1000L + 7L * i))
      val rows = ids.zipWithIndex.map { case (k, i) =>
        val s = if (rng.nextInt(20) == 0) None else Some(s"u-${k * 31 % 9973}-$k")
        (i.toLong / 16, i.toLong % 16, k, s)
      }
      Layout.zorderInit(spark, rows.toDF("a", "b", "k", "s"), dir, "a", "b",
        nFiles = 4 + rng.nextInt(3))
      if (withBloom) {
        Layout.zorderBloomBuild(spark, dir, "k")
        Layout.zorderBloomBuild(spark, dir, "s")
      }
      var live: Map[Long, Option[String]] = rows.map(r => r._3 -> r._4).toMap
      def model(keyCol: String, vs: Seq[Any]): Set[Long] = live.collect {
        case (k, s) if (if (keyCol == "k") vs.contains(k) else s.exists(vs.contains)) => k
      }.toSet
      def keysOf(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.select("k").collect().map(_.getLong(0)).toSet
      def probes(keyCol: String): Seq[Any] = {
        val present = rng.shuffle(live.toSeq).take(1 + rng.nextInt(4))
        val hit = if (keyCol == "k") present.map(_._1) else present.flatMap(_._2)
        val miss = if (keyCol == "k") Seq(-5L, 999999L) else Seq("u-absent")
        rng.shuffle(hit ++ miss.take(rng.nextInt(2) + 1))
      }
      def checkLookups(step: String): Unit =
        for (keyCol <- Seq("k", "s")) {
          val vs = probes(keyCol)
          val (open, total, used) = Layout.zorderLookupFiles(dir, keyCol, vs)
          assert(used == withBloom, s"$label $step $keyCol: bloomUsed")
          assert(withBloom || open == total, s"$label $step $keyCol: unpruned")
          val want = model(keyCol, vs)
          assert(keysOf(Layout.zorderPointLookup(spark, dir, keyCol, vs)) == want,
            s"$label $step $keyCol: point lookup of $vs")
          // the planner's listing for the same IN-list: one admission
          val (df, fi) = ZTable.dataFrameWithIndex(spark, dir)
          assert(keysOf(df.filter(col(keyCol).isin(vs: _*))) == want,
            s"$label $step $keyCol: planner read of $vs")
          assert(fi.lastListed == open,
            s"$label $step $keyCol: explicit opens $open, planner lists " +
              s"${fi.lastListed} of $total for $vs")
          assert(Layout.zorderLookupFiles(dir, keyCol, Seq.empty)._1 == 0,
            s"$label $step $keyCol: an empty key list opens no file")
          assert(Layout.zorderPointLookup(spark, dir, keyCol, Seq.empty)
            .isEmpty)
        }
      def checkDelete(step: String, keyCol: String, vs: Seq[Any],
          run: () => Long): Unit = {
        val doomed = model(keyCol, vs)
        assert(run() == doomed.size.toLong, s"$label $step: rows deleted")
        live --= doomed
        assert(run() == 0L, s"$label $step: repeat must be an exact no-op")
        assert(keysOf(Layout.zorderRead(spark, dir)) == live.keySet,
          s"$label $step: table after deleting $vs")
      }
      checkLookups("init")
      val (cowCol, dvCol, dfCol) =
        if (round % 2 == 0) ("k", "s", "k") else ("s", "k", "s")
      val cowKeys = probes(cowCol)
      checkDelete("copy-on-write", cowCol, cowKeys,
        () => Layout.zorderDeleteByKey(spark, dir, cowCol, cowKeys)._1)
      assert(Layout.zorderDeleteByKey(spark, dir, cowCol, Seq.empty)._2 == 0)
      checkLookups("after copy-on-write")
      val dvKeys = probes(dvCol)
      checkDelete("vectored", dvCol, dvKeys,
        () => Layout.zorderDeleteVectoredByKey(spark, dir, dvCol, dvKeys)._1)
      assert(Layout.zorderDeleteVectoredByKey(spark, dir, dvCol, Seq.empty)
        == ((0L, 0)))
      val dfKeys = probes(dfCol)
      val keyFrame =
        if (dfCol == "k") dfKeys.map(_.asInstanceOf[Long]).toDF("x")
        else dfKeys.map(_.asInstanceOf[String]).toDF("x")
      checkDelete("vectored, distributed keys", dfCol, dfKeys,
        () => Layout.zorderDeleteVectoredByKey(spark, dir, dfCol, keyFrame)._1)
      checkLookups("after vectored")
    }
  }
}
