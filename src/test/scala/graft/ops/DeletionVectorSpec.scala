package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Correctness of deletion vectors applied as a scan filter
  * ([[Layout.liveFilter]]): tombstoned positions are parquet physical row
  * indexes, so they must stay exact when the scan skips row groups, must
  * never hide rows of a file rewritten since, and every reader must agree
  * with a plain-Scala model of the live rows through any mix of deletes,
  * maintenance, materialization and time travel. */
class DeletionVectorSpec extends AnyFunSuite with SparkSpec {

  private def grid(n: Int): DataFrame =
    spark.range(n.toLong * n)
      .select((col("id") / n).cast("long").as("a"), (col("id") % n).as("b"),
        col("id").as("k"))

  private def rows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select("a", "b", "k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted

  test("row positions stay physical when a pushed filter skips row groups") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dvrg").toString + "/t"
    val conf = spark.sparkContext.hadoopConfiguration
    val prior = Option(conf.get("parquet.block.size"))
    conf.set("parquet.block.size", "2048")
    try Layout.zorderInit(spark, grid(64), dir, "a", "b", nFiles = 1)
    finally prior match {
      case Some(v) => conf.set("parquet.block.size", v)
      case None => conf.unset("parquet.block.size")
    }
    val (gen, man) = Layout.currentManifest(dir)
    val file = new org.apache.hadoop.fs.Path(java.nio.file.Paths.get(dir)
      .toAbsolutePath.resolve(man.spans.head.file).toUri)
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    val groups = try footer.getRowGroups.size finally footer.close()
    assert(man.spans.size == 1 && groups >= 4, s"want many row groups, got $groups")

    // tombstones in the last z quadrant (a, b >= 32): a later row group
    val (deleted, _) = Layout.zorderDeleteVectored(spark, dir, (40L, 47L), (40L, 47L))
    assert(deleted == 64L && Layout.currentGen(dir).contains(gen + 1))
    val want = rows(grid(64).filter(col("a") >= 32 &&
      !(col("a").between(40, 47) && col("b").between(40, 47))))
    // a >= 32 skips the first row groups (the a < 32 quadrants) in the scan
    val read = ZTable.dataFrame(spark, dir).filter(col("a") >= 32)
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(a,32)"), s"filter must push:\n$plan")
    assert(rows(read) == want)
    assert(rows(Layout.zorderRead(spark, dir).filter(col("a") >= 32)) == want)
  }

  test("DV rows of a file rewritten since never hide rows of the rewrite") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dvrw").toString + "/t"
    Layout.zorderInit(spark, grid(64), dir, "a", "b", nFiles = 16)
    // tombstones in two tiles, then an append into ONE of them: maintain
    // rewrites that tile (its tombstones materialize) and carries the
    // other, so the carried DV still holds rows of the rewritten file
    Layout.zorderDeleteVectored(spark, dir, (0L, 3L), (0L, 3L))
    Layout.zorderDeleteVectored(spark, dir, (60L, 63L), (60L, 63L))
    val before = Layout.currentManifest(dir)._2.spans.map(_.file).toSet
    Layout.zorderAppend(Seq((1L, 1L, 100000L)).toDF("a", "b", "k"), dir)
    Layout.zorderMaintain(spark, dir)
    val (_, man) = Layout.currentManifest(dir)
    val live = man.spans.map(_.file).toSet
    val dvNames = spark.read.parquet(java.nio.file.Paths.get(dir).toAbsolutePath
      .resolve(man.dv.get).toString).select("fname").distinct().as[String]
      .collect().toSet
    val rewrittenAway = before.diff(live)
      .map(f => java.nio.file.Paths.get(f).getFileName.toString)
    assert(rewrittenAway.nonEmpty && dvNames.intersect(rewrittenAway).nonEmpty,
      s"the DV must still carry rows of a rewritten file: $dvNames vs $rewrittenAway")
    val want = rows(grid(64).filter(
      !(col("a").between(0, 3) && col("b").between(0, 3)) &&
      !(col("a").between(60, 63) && col("b").between(60, 63)))
      .unionByName(Seq((1L, 1L, 100000L)).toDF("a", "b", "k")))
    assert(rows(ZTable.dataFrame(spark, dir)) == want)
    assert(rows(Layout.zorderRead(spark, dir)) == want)
  }

  test("readers equal a plain-Scala model through seeded deletes, maintains, materializes and time travel") {
    import spark.implicits._
    for (seed <- Seq(31L, 32L)) {
      val rng = new Random(seed)
      val dir = java.nio.file.Files.createTempDirectory(s"graft_dvmod$seed")
        .toString + "/t"
      Layout.zorderInit(spark, grid(32), dir, "a", "b", nFiles = 8,
        keepGenerations = 3)
      var live: Set[(Long, Long, Long)] =
        (for (a <- 0L until 32L; b <- 0L until 32L) yield (a, b, a * 32 + b)).toSet
      val byGen = scala.collection.mutable.Map(Layout.currentGen(dir).get -> live)
      var nextK = 10000L
      def check(step: String): Unit = {
        val want = live.toSeq.sorted
        assert(rows(ZTable.dataFrame(spark, dir)) == want, s"$step: dataFrame")
        assert(rows(Layout.zorderRead(spark, dir)) == want, s"$step: zorderRead")
        val (aLo, bLo) = (rng.nextInt(24).toLong, rng.nextInt(24).toLong)
        assert(rows(Layout.zorderScan(spark, dir, (aLo, aLo + 8), (bLo, bLo + 8))) ==
          want.filter { case (a, b, _) =>
            a >= aLo && a <= aLo + 8 && b >= bLo && b <= bLo + 8 },
          s"$step: zorderScan from ($aLo, $bLo)")
        Layout.retainedGens(dir).filter(byGen.contains).foreach { g =>
          assert(rows(Layout.zorderReadAsOf(spark, dir, g)) == byGen(g).toSeq.sorted,
            s"$step: zorderReadAsOf($g)")
        }
      }
      for (i <- 0 until 8) {
        val step = rng.nextInt(4) match {
          case 0 =>
            val (a, b) = (rng.nextInt(28).toLong, rng.nextInt(28).toLong)
            Layout.zorderDeleteVectored(spark, dir, (a, a + 3), (b, b + 3))
            live = live.filterNot { case (x, y, _) =>
              x >= a && x <= a + 3 && y >= b && y <= b + 3 }
            s"band delete ($a, $b)"
          case 1 =>
            val keys = rng.shuffle(live.toSeq.map(_._3)).take(5) :+ 999999L
            Layout.zorderDeleteVectoredByKey(spark, dir, "k", keys)
            live = live.filterNot(r => keys.contains(r._3))
            s"key delete ${keys.mkString(",")}"
          case 2 =>
            val add = (0 until 3).map { _ =>
              nextK += 1
              (rng.nextInt(32).toLong, rng.nextInt(32).toLong, nextK)
            }
            Layout.zorderAppend(add.toDF("a", "b", "k"), dir)
            Layout.zorderMaintain(spark, dir)
            live = live ++ add
            s"append + maintain ${add.mkString(",")}"
          case _ =>
            Layout.zorderDvMaterialize(spark, dir)
            "materialize"
        }
        byGen(Layout.currentGen(dir).get) = live
        check(s"seed $seed step $i: $step")
      }
      assert(byGen.size > 3, s"seed $seed committed too few generations")
    }
  }

  test("the generation memo: readers equal a plain-Scala model through seeded commits, deletes, bloom builds, time travel and re-inits") {
    import spark.implicits._
    val keep = 3
    var kinds = Set.empty[String] // the step kinds the seeds ran
    for (seed <- Seq(41L, 42L)) {
      val rng = new Random(seed)
      val dir = java.nio.file.Files.createTempDirectory(s"graft_memo$seed").toString + "/t"
      val all = (for (a <- 0L until 16L; b <- 0L until 16L) yield (a, b, a * 16 + b)).toSet
      def init(): Unit =
        Layout.zorderInit(spark, grid(16), dir, "a", "b", nFiles = 4, keepGenerations = keep)
      init()
      var live = all
      val byGen = scala.collection.mutable.Map(Layout.currentGen(dir).get -> live)
      var bloomGen: Option[Long] = None // the generation whose sidecar on k was built
      var nextK = 10000L
      def check(step: String): Unit = {
        val cur = Layout.currentGen(dir).get
        val want = live.toSeq.sorted
        val (df, fi) = ZTable.dataFrameWithIndex(spark, dir)
        assert(rows(df) == want, s"$step: dataFrame")
        assert(ZTable.dataFrame(spark, dir) eq df, s"$step: an unchanged generation rebuilt its scan")
        Layout.retainedGens(dir).filter(byGen.contains).foreach { g =>
          assert(rows(Layout.zorderReadAsOf(spark, dir, g)) == byGen(g).toSeq.sorted,
            s"$step: zorderReadAsOf($g)")
        }
        // a point read is exact, and prunes through a sidecar built after
        // the generation's first read (its index is the memo's)
        val k = if (live.nonEmpty && rng.nextBoolean()) rng.shuffle(live.toSeq).head._3
          else rng.nextInt(256).toLong
        assert(rows(df.filter(col("k") === k)) == want.filter(_._3 == k), s"$step: point read $k")
        if (bloomGen.contains(cur))
          assert(fi.lastListed < fi.inputFiles.length,
            s"$step: the sidecar must prune, listed ${fi.lastListed} of ${fi.inputFiles.length}")
        val held = Layout.memoizedGens(dir)
        assert(held.contains(cur) && held.forall(g => g > cur - keep && g <= cur),
          s"$step: memo holds $held at generation $cur (window $keep)")
      }
      check(s"seed $seed init")
      for (i <- 0 until 10) {
        val step = rng.nextInt(5) match {
          case 0 =>
            val (a, b) = (rng.nextInt(13).toLong, rng.nextInt(13).toLong)
            Layout.zorderDeleteVectored(spark, dir, (a, a + 3), (b, b + 3))
            live = live.filterNot { case (x, y, _) => x >= a && x <= a + 3 && y >= b && y <= b + 3 }
            s"band delete ($a, $b)"
          case 1 =>
            val keys = rng.shuffle(live.toSeq.map(_._3)).take(4) :+ 999999L
            Layout.zorderDeleteVectoredByKey(spark, dir, "k", keys)
            live = live.filterNot(r => keys.contains(r._3))
            s"key delete ${keys.mkString(",")}"
          case 2 =>
            val add = (0 until 3).map { _ =>
              nextK += 1
              (rng.nextInt(16).toLong, rng.nextInt(16).toLong, nextK)
            }
            Layout.zorderAppend(add.toDF("a", "b", "k"), dir)
            Layout.zorderMaintain(spark, dir)
            live = live ++ add
            s"append + maintain ${add.mkString(",")}"
          case 3 =>
            Layout.zorderBloomBuild(spark, dir, "k")
            bloomGen = Layout.currentGen(dir)
            "bloom build"
          case _ =>
            graft.engine.WarehouseMeta.deleteRecursively(java.nio.file.Paths.get(dir))
            init()
            live = all
            byGen.clear()
            bloomGen = None
            "re-init at the same path"
        }
        kinds += step.takeWhile(_ != ' ')
        byGen(Layout.currentGen(dir).get) = live
        check(s"seed $seed step $i: $step")
      }
    }
    assert(kinds == Set("band", "key", "append", "bloom", "re-init"), kinds)
  }

  test("the generation memo holds no more generations than the retention window") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_memowin").toString + "/t"
    Layout.zorderInit(spark, grid(8), dir, "a", "b", nFiles = 2, keepGenerations = 2)
    for (i <- 1 to 5) {
      Layout.zorderDeleteVectoredByKey(spark, dir, "k", Seq(i.toLong))
      Layout.zorderAppend(Seq((1L, 1L, 1000L + i)).toDF("a", "b", "k"), dir)
      Layout.zorderMaintain(spark, dir)
      val cur = Layout.currentGen(dir).get
      Layout.retainedGens(dir).foreach(g => Layout.zorderReadAsOf(spark, dir, g).count())
      assert(Layout.memoizedGens(dir) == Seq(cur - 1, cur), s"after commit $i at generation $cur")
    }
    assert(Layout.currentGen(dir).get >= 10L)
  }
}
