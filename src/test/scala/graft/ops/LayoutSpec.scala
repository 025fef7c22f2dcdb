package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the Z-order layout module: exact bit interleaves, the 16-bit
  * bucketization contract, and the claim the module exists for — a z-sorted
  * write yields per-file min/max spans tight on BOTH columns, so footer
  * pruning skips files for range predicates on either key, where a
  * single-key layout prunes on that key only. */
class LayoutSpec extends AnyFunSuite with SparkSpec {

  private def one(c: org.apache.spark.sql.Column): Long =
    spark.range(1).select(c.cast("long")).head().getLong(0)

  test("zValue: exact bit interleave (a even bits, b odd); 16-bit mask wraps") {
    // 3 = 0b011 spreads to 0b101 = 5; 5 = 0b101 spreads to 0b10001 = 17
    assert(one(Layout.spread16(lit(3))) == 5L)
    assert(one(Layout.spread16(lit(5))) == 17L)
    // z(3, 5): a bits at even positions, b bits at odd → 0b100111 = 39
    assert(one(Layout.zValue(lit(3), lit(5))) == 39L)
    assert(one(Layout.zValue(lit(1), lit(0))) == 1L)
    assert(one(Layout.zValue(lit(0), lit(1))) == 2L)
    // full 16-bit keys fill all 32 bits
    assert(one(Layout.zValue(lit(0xFFFF), lit(0xFFFF))) == 0xFFFFFFFFL)
    // inputs mask to 16 bits: bit 16 wraps rather than corrupting the curve
    assert(one(Layout.zValue(lit(0x10003L), lit(0))) ==
      one(Layout.zValue(lit(3), lit(0))))
  }

  test("scale16: monotone map of [lo, hi] onto [0, 65535]; endpoints pinned; degenerate and negative ranges safe") {
    assert(one(Layout.scale16(lit(-5L), -5L, 94L)) == 0L, "lo → 0")
    assert(one(Layout.scale16(lit(94L), -5L, 94L)) == 65535L, "hi → 65535")
    assert(one(Layout.scale16(lit(7L), 7L, 7L)) == 0L, "degenerate range → 0")
    // a domain wider than 16 bits buckets monotonically without overflow
    val wide = Seq(Long.MinValue, -1L, 0L, 1L, Long.MaxValue)
    val got = wide.map(v => one(Layout.scale16(lit(v), Long.MinValue, Long.MaxValue)))
    assert(got == got.sorted, s"monotone, got $got")
    assert(got.head == 0L && got.last == 65535L)
    assert(got.forall(v => v >= 0L && v <= 65535L))
    // a domain narrower than 16 bits spreads across the full range evenly
    assert(one(Layout.scale16(lit(1L), 0L, 3L)) == 21845L, "1/3 of the way → 65535/3")
  }

  test("zorderWrite: two-sided file pruning beats a single-key layout; answers unchanged") {
    import spark.implicits._
    // 256×256 grid — both keys uniform so per-file spans are predictable
    val df = spark.range(256L * 256L)
      .select((col("id") / 256).cast("long").as("a"),
        (col("id") % 256).cast("long").as("b"))
    val zDir = java.nio.file.Files.createTempDirectory("graft_zord").toString + "/t"
    val linDir = java.nio.file.Files.createTempDirectory("graft_lin").toString + "/t"
    Layout.zorderWrite(df, zDir, "a", "b", nFiles = 16)
    // the single-key control: same file count, clustered on `a` only
    df.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .write.mode("overwrite").parquet(linDir)

    val zSpans = Layout.fileSpans(spark, zDir, "a", "b").cache()
    val linSpans = Layout.fileSpans(spark, linDir, "a", "b").cache()
    assert(zSpans.count() == 16 && linSpans.count() == 16)

    // range predicate on the SECOND key: the single-key layout must open
    // every file; the z layout's 16 files tile the plane in ~64-wide bands
    // on both axes, so a 16-wide b-slice touches only the tiles it crosses
    val zOnB = Layout.touchedFraction(zSpans, "b_min", "b_max", 96, 111)
    val linOnB = Layout.touchedFraction(linSpans, "b_min", "b_max", 96, 111)
    assert(linOnB >= 0.99, s"single-key layout cannot prune on b: $linOnB")
    assert(zOnB <= 0.5, s"z layout must prune most files on b: $zOnB")

    // range predicate on the FIRST key: both layouts prune; single-key is
    // perfect there, z still skips most files
    val zOnA = Layout.touchedFraction(zSpans, "a_min", "a_max", 96, 111)
    val linOnA = Layout.touchedFraction(linSpans, "a_min", "a_max", 96, 111)
    assert(linOnA <= 0.3, s"single-key prunes its own key hard: $linOnA")
    assert(zOnA <= 0.5, s"z layout prunes on a too: $zOnA")

    // layout never changes answers: same rows, exactly once
    val back = spark.read.parquet(zDir)
    assert(back.count() == 256L * 256L)
    assert(back.except(df).count() == 0 && df.except(back).count() == 0)
    zSpans.unpersist(); linSpans.unpersist()
  }

  test("zorder maintenance: blind appends fold incrementally, untouched files carry as manifest rows, spans stay tight") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zmaint").toString + "/t"
    // 64×64 grid, 8 files ⇒ each file owns a contiguous z tile
    val base = spark.range(64L * 64L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 8)
    assert(Layout.currentGen(dir) == Some(0L))
    assert(Layout.zorderRead(spark, dir).count() == 4096L)

    // blind append clustered in one corner of the plane → few files affected
    val appendA = (0 until 32).map(i => (i.toLong % 4, i.toLong % 8)).toDF("a", "b")
    Layout.zorderAppend(appendA, dir)
    // snapshot isolation: committed gen doesn't see the landing...
    assert(Layout.zorderRead(spark, dir).count() == 4096L)
    // ...but the read-your-appends view does
    assert(Layout.zorderReadWithLanding(spark, dir).count() == 4096L + 32)

    val (merged, rewritten, carried) = Layout.zorderMaintain(spark, dir)
    assert(merged == 32L, s"all appended rows folded, got $merged")
    assert(rewritten >= 1 && rewritten <= 3,
      s"corner-clustered appends touch few tiles, got $rewritten")
    assert(rewritten + carried == 8, "every base file either rewrote or carried")
    assert(Layout.currentGen(dir) == Some(1L))
    // carried files are MANIFEST ROW copies of the committed generation's
    // rows — same file path, same spans, zero filesystem work
    val m0files = 8 - rewritten
    assert(Layout.currentSpans(dir).count(_.file.startsWith("data/g0/")) == m0files,
      "carried manifest rows still point at the gen-0 data files")
    val after = Layout.zorderRead(spark, dir)
    assert(after.count() == 4096L + 32)
    assert(after.except(base.unionByName(appendA)).count() == 0 &&
      base.unionByName(appendA).except(after).count() == 0,
      "maintained view ≡ base ∪ appends (multiset equality holds: no dups)")
    // duplicates specifically: the corner rows now appear twice by design
    // (base had them too) — count-preserving check instead
    assert(after.groupBy("a", "b").count().agg(sum("count")).head().getLong(0)
      == 4096L + 32)
    // pruning survives maintenance: a narrow band on either key still
    // skips files (audited from the committed manifest itself). The bound
    // is 0.75, not the ideal 0.5: repartitionByRange samples boundaries
    // with an rdd.id-seeded RNG, so which SESSION-ORDER this test runs in
    // shifts the file cut points by a row or two, and a boundary file
    // straddling the band adds 1/8 — the pruning CLAIM (whole files
    // skipped on both keys after maintenance) is order-independent, the
    // exact count is not
    val spans = Layout.currentSpansDF(spark, dir)
    assert(Layout.touchedFraction(spans, "b_min", "b_max", 40, 47) <= 0.75)
    assert(Layout.touchedFraction(spans, "a_min", "a_max", 40, 47) <= 0.75)
    // manifest row counts are real: they sum to the table's row count
    assert(Layout.currentSpans(dir).map(_.rows).sum == 4096L + 32)
    // nothing left to do → exact no-op
    assert(Layout.zorderMaintain(spark, dir) == ((0L, 0, 0)))
  }

  test("zorder maintenance: crash debris heals — stray manifests and orphan data files removed, consumed list stops double-folds") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val dir = java.nio.file.Files.createTempDirectory("graft_zheal").toString + "/t"
    val base = spark.range(1024L)
      .select((col("id") / 32).cast("long").as("a"), (col("id") % 32).as("b"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 4)
    Layout.zorderAppend(Seq((1L, 1L), (2L, 2L)).toDF("a", "b"), dir)

    // crash BEFORE commit: an uncommitted next-gen manifest, its partial
    // data files, and a staging dir must all be swept (nothing references
    // them), then the maintain proceeds normally
    Files.write(Paths.get(dir, "manifest-1.tsv"),
      "#colA\ta\n#colB\tb\n#aLo\t0\n#aHi\t1\n#bLo\t0\n#bHi\t1".getBytes("UTF-8"))
    Files.createDirectories(Paths.get(dir, "data", "g1"))
    Files.write(Paths.get(dir, "data", "g1", "junk.parquet"), Array[Byte](1, 2))
    Files.createDirectories(Paths.get(dir, "data", "g1.staging"))
    val (merged, _, _) = Layout.zorderMaintain(spark, dir)
    assert(merged == 2L && Layout.currentGen(dir) == Some(1L))
    assert(Layout.zorderRead(spark, dir).count() == 1026L)
    assert(!Files.exists(Paths.get(dir, "data", "g1.staging")) &&
      !Files.exists(Paths.get(dir, "data", "g1", "junk.parquet")) &&
      !Files.exists(Paths.get(dir, "manifest-0.tsv")), "debris and old manifest gone")
    // no orphans anywhere: every file under data/ is a manifest row
    import scala.jdk.CollectionConverters._
    val listed = Layout.currentSpans(dir).map(_.file).toSet
    val walk = Files.walk(Paths.get(dir, "data"))
    val onDisk = try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => Paths.get(dir).toAbsolutePath.relativize(p.toAbsolutePath).toString)
      .toSet finally walk.close()
    assert(onDisk == listed, s"data/ ≡ manifest: ${onDisk.diff(listed)} vs ${listed.diff(onDisk)}")

    // crash AFTER commit, BEFORE landing cleanup: a landing file the
    // committed manifest lists as consumed must be deleted, NOT re-folded
    val consumed = Layout.readManifest(dir, 1L).consumed
    assert(consumed.nonEmpty)
    val ghost = Paths.get(dir, "landing", consumed.head)
    Seq((9L, 9L)).toDF("a", "b").coalesce(1)
      .write.mode("overwrite").parquet(dir + "/.ghost")
    val part = Files.list(Paths.get(dir, ".ghost")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).next()
    Files.move(part, ghost)
    assert(Layout.zorderMaintain(spark, dir) == ((0L, 0, 0)),
      "replayed landing file is healed away, never double-folded")
    assert(Layout.zorderRead(spark, dir).count() == 1026L)
    assert(!Files.exists(ghost))

    // a second init over the live table must fail loudly (it would strand
    // landing rows and orphan the committed manifest)
    val ex = intercept[IllegalArgumentException] {
      Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 4)
    }
    assert(ex.getMessage.contains("live maintained table"))
  }

  test("zValue3: exact 3-way interleave; zorderWrite3 prunes on all three keys") {
    import spark.implicits._
    // unit bits land at strides of 3: a→bit 3i, b→bit 3i+1, c→bit 3i+2
    assert(one(Layout.zValue3(lit(1), lit(0), lit(0))) == 1L)
    assert(one(Layout.zValue3(lit(0), lit(1), lit(0))) == 2L)
    assert(one(Layout.zValue3(lit(0), lit(0), lit(1))) == 4L)
    // hand-computed: a=3 → bits {0,3}; b=5 → bits {1,7}; c=7 → bits {2,5,8}
    //   ⇒ 1+8 + 2+128 + 4+32+256 = 431
    assert(one(Layout.zValue3(lit(3), lit(5), lit(7))) == 431L)
    // full 16-bit keys fill all 48 bits
    assert(one(Layout.zValue3(lit(0xFFFF), lit(0xFFFF), lit(0xFFFF)))
      == 0xFFFFFFFFFFFFL)
    assert(one(Layout.spread3(lit(0x10003L))) == one(Layout.spread3(lit(3))),
      "inputs mask to 16 bits")

    // 32×32×32 grid in 64 files ⇒ ~2 bits of tile resolution per key; a
    // 4-wide band on ANY key prunes (measured 0.50/0.38/0.30 — the later
    // columns hold the more significant interleave bits, so they prune
    // harder; sampled range boundaries also widen the first key's spans
    // at its tile fringes, which is why file counts well above the tile
    // fan-out are the right operating point for 3 keys)
    val df = spark.range(32L * 32L * 32L).select(
      (col("id") / 1024).cast("long").as("a"),
      (col("id") / 32 % 32).cast("long").as("b"),
      (col("id") % 32).as("c"))
    val dir = java.nio.file.Files.createTempDirectory("graft_z3").toString + "/t"
    Layout.zorderWrite3(df, dir, "a", "b", "c", nFiles = 64)
    val spans = spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(min("a").as("a_min"), max("a").as("a_max"),
        min("b").as("b_min"), max("b").as("b_max"),
        min("c").as("c_min"), max("c").as("c_max")).cache()
    assert(spans.count() == 64)
    for ((k, bound) <- Seq("a" -> 0.65, "b" -> 0.55, "c" -> 0.45)) {
      val f = Layout.touchedFraction(spans, s"${k}_min", s"${k}_max", 20, 23)
      assert(f <= bound, s"band on $k must prune most files: $f > $bound")
    }
    val back = spark.read.parquet(dir)
    assert(back.count() == 32L * 32L * 32L && back.except(df).count() == 0)
    spans.unpersist()
  }

  test("hilbertWrite3: prunes on all three keys, tightens Morton3's weakest axis; answers unchanged") {
    import spark.implicits._
    // the same 32×32×32 grid / 64 files as the zValue3 test — the probe
    // that motivated the 3-D walk: ideal 4×4×4 tiling touches 0.25 per
    // 4-wide band; Morton3 measured 0.50/0.38/0.30 (first key worst)
    val df = spark.range(32L * 32L * 32L).select(
      (col("id") / 1024).cast("long").as("a"),
      (col("id") / 32 % 32).cast("long").as("b"),
      (col("id") % 32).as("c"))
    val hDir = java.nio.file.Files.createTempDirectory("graft_h3").toString + "/t"
    val zDir = java.nio.file.Files.createTempDirectory("graft_z3c").toString + "/t"
    Layout.hilbertWrite3(df, hDir, "a", "b", "c", nFiles = 64)
    Layout.zorderWrite3(df, zDir, "a", "b", "c", nFiles = 64)
    def spans(dir: String) = spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(min("a").as("a_min"), max("a").as("a_max"),
        min("b").as("b_min"), max("b").as("b_max"),
        min("c").as("c_min"), max("c").as("c_max"))
    val (hs, zs) = (spans(hDir).cache(), spans(zDir).cache())
    try {
      assert(hs.count() == 64)
      val touched = Seq("a", "b", "c").map { k =>
        k -> ((Layout.touchedFraction(hs, s"${k}_min", s"${k}_max", 20, 23),
          Layout.touchedFraction(zs, s"${k}_min", s"${k}_max", 20, 23)))
      }.toMap
      // every axis prunes, and the no-jumps walk tightens Morton3's worst
      // axis (a) decisively while never doing materially worse elsewhere
      assert(touched.values.forall(_._1 <= 0.6),
        s"hilbert3 must prune on all three keys: $touched")
      assert(touched("a")._1 <= touched("a")._2 - 0.1,
        s"hilbert3 must beat Morton3 on its weakest axis: $touched")
      assert(touched.values.forall { case (h, z) => h <= z + 0.13 },
        s"no axis materially regresses: $touched")
      val back = spark.read.parquet(hDir)
      assert(back.count() == 32L * 32L * 32L && back.except(df).count() == 0)
    } finally { hs.unpersist(); zs.unpersist() }
  }

  test("hilbertWrite: two-sided pruning at least as tight as Morton on the same grid; answers unchanged") {
    import spark.implicits._
    val df = spark.range(256L * 256L)
      .select((col("id") / 256).cast("long").as("a"), (col("id") % 256).as("b"))
    val hDir = java.nio.file.Files.createTempDirectory("graft_hilb").toString + "/t"
    val zDir = java.nio.file.Files.createTempDirectory("graft_zcmp").toString + "/t"
    Layout.hilbertWrite(df, hDir, "a", "b", nFiles = 16)
    Layout.zorderWrite(df, zDir, "a", "b", nFiles = 16)
    val hSpans = Layout.fileSpans(spark, hDir, "a", "b").cache()
    val zSpans = Layout.fileSpans(spark, zDir, "a", "b").cache()
    val (hOnB, zOnB) = (Layout.touchedFraction(hSpans, "b_min", "b_max", 96, 111),
      Layout.touchedFraction(zSpans, "b_min", "b_max", 96, 111))
    val (hOnA, zOnA) = (Layout.touchedFraction(hSpans, "a_min", "a_max", 96, 111),
      Layout.touchedFraction(zSpans, "a_min", "a_max", 96, 111))
    assert(hOnB <= 0.5 && hOnA <= 0.5, s"hilbert prunes both dims: a=$hOnA b=$hOnB")
    // the no-jumps walk never does WORSE than Morton (small slack for
    // repartitionByRange's sampled boundaries)
    assert(hOnB <= zOnB + 0.13 && hOnA <= zOnA + 0.13,
      s"hilbert ($hOnA,$hOnB) vs morton ($zOnA,$zOnB)")
    val back = spark.read.parquet(hDir)
    assert(back.count() == 256L * 256L && back.except(df).count() == 0)
    hSpans.unpersist(); zSpans.unpersist()
  }

  test("zorderScan: driver-side span pruning, result ≡ full filter, empty band → empty frame") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zscan").toString + "/t"
    val base = spark.range(64L * 64L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 16)
    // follow the maintained lifecycle so the pruned scan also covers
    // carried-over spans and merged files
    Layout.zorderAppend((0 until 16).map(i => (i.toLong, i.toLong)).toDF("a", "b"), dir)
    assert(Layout.zorderMaintain(spark, dir)._1 == 16L)

    val (hit, total) = Layout.zorderScanFiles(dir, (10L, 20L), (30L, 40L))
    assert(total == 16 && hit < total, s"span pruning must engage: $hit/$total")
    val got = Layout.zorderScan(spark, dir, (10L, 20L), (30L, 40L))
    val want = Layout.zorderRead(spark, dir)
      .filter(col("a").between(10, 20) && col("b").between(30, 40))
    assert(got.count() == want.count() && got.except(want).count() == 0 &&
      want.except(got).count() == 0, "pruned scan ≡ full filter")
    // a band outside the domain opens zero files and returns empty
    assert(Layout.zorderScanFiles(dir, (1000L, 2000L), (0L, 63L)) == ((0, 16)))
    assert(Layout.zorderScan(spark, dir, (1000L, 2000L), (0L, 63L)).count() == 0)
  }

  test("zorderCompact: folds landing, re-freezes bounds so clamped-domain drift heals, preserves data") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zcomp").toString + "/t"
    // init domain a,b ∈ [0,31]
    val base = spark.range(1024L)
      .select((col("id") / 32).cast("long").as("a"), (col("id") % 32).as("b"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 4)
    // out-of-domain appends (a ∈ [900, 1027]) clamp to the curve's edge
    // under the frozen bounds — maintenance would bloat the top tile
    val far = (0 until 128).map(i => (900L + i, i.toLong % 32)).toDF("a", "b")
    Layout.zorderAppend(far, dir)
    // compact folds the UNmaintained landing directly and re-freezes
    // bounds from the observed min/max
    Layout.zorderCompact(spark, dir, nFiles = 8)
    assert(Layout.currentGen(dir) == Some(1L))
    val after = Layout.zorderRead(spark, dir)
    assert(after.count() == 1024L + 128)
    assert(after.except(base.unionByName(far)).count() == 0)
    // with bounds re-frozen over [0, 1027], the far band gets its own
    // tiles again (a high-a query touches a minority of files), and the
    // b dimension keeps pruning. (A narrow LOW-a band can't prune here by
    // construction: base a occupies 3% of the re-frozen domain, so its
    // scaled bits sit below the 8-file tile granularity — the z-curve
    // trades per-dimension resolution for two-sidedness.)
    val spans = Layout.currentSpansDF(spark, dir)
    assert(Layout.touchedFraction(spans, "a_min", "a_max", 900, 1027) <= 0.5)
    assert(Layout.touchedFraction(spans, "b_min", "b_max", 0, 7) <= 0.5)
    // the maintained lifecycle continues on the new generation
    Layout.zorderAppend(Seq((5L, 5L)).toDF("a", "b"), dir)
    val (m, _, carried) = Layout.zorderMaintain(spark, dir)
    assert(m == 1L && carried >= 5 && Layout.currentGen(dir) == Some(2L))
    assert(Layout.zorderRead(spark, dir).count() == 1024L + 128 + 1)
  }

  test("routeFid: CASE chain ≡ searchsorted binary search; maintain is identical on either path") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    // the two routing shapes agree on every value, including below the
    // first cut (clamp to 0), exactly on cuts, between cuts, and above
    val cuts = Seq(-50L, 0L, 7L, 8L, 1000L)
    val vals = spark.range(-100L, 1100L).select(col("id").as("v"))
    val both = vals
      .withColumn("case_fid", Layout.routeFid(cuts, col("v"), caseMax = Int.MaxValue))
      .withColumn("bs_fid", Layout.routeFid(cuts, col("v"), caseMax = 0))
    assert(both.filter(col("case_fid") =!= col("bs_fid")).count() == 0)
    // DUPLICATE cuts (equal zLo spans are reachable): both shapes must
    // still agree — the CASE chain lands on the last duplicate, so the
    // binary search must too
    val dupCuts = Seq(-50L, 0L, 0L, 8L, 8L, 1000L)
    val bothDup = vals
      .withColumn("case_fid", Layout.routeFid(dupCuts, col("v"), caseMax = Int.MaxValue))
      .withColumn("bs_fid", Layout.routeFid(dupCuts, col("v"), caseMax = 0))
    assert(bothDup.filter(col("case_fid") =!= col("bs_fid")).count() == 0,
      "routing shapes must agree on duplicate cutpoints")
    // hand pins: numpy searchsorted(side=right)-1 clamped at 0
    val pin = both.filter(col("v").isin(-100L, -50L, -1L, 0L, 7L, 8L, 999L, 1000L, 1099L))
      .orderBy("v").select("bs_fid").as[Int].collect().toSeq
    assert(pin == Seq(0, 0, 0, 1, 2, 3, 3, 4, 4))

    // end-to-end: a maintain forced onto the binary-search path commits
    // the same table as the CASE path (fresh copies, same input)
    def build(routeCaseMax: Int): org.apache.spark.sql.DataFrame = {
      val dir = java.nio.file.Files.createTempDirectory("graft_zroute").toString + "/t"
      val base = spark.range(4096L)
        .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"))
      Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 8)
      Layout.zorderAppend((0 until 64).map(i => (i.toLong, 63L - i)).toDF("a", "b"), dir)
      val (m, rw, _) = Layout.zorderMaintain(spark, dir, routeCaseMax)
      assert(m == 64L && rw >= 1)
      Layout.zorderRead(spark, dir)
    }
    val (viaCase, viaSearch) = (build(Int.MaxValue), build(0))
    assert(viaCase.count() == viaSearch.count() &&
      viaCase.except(viaSearch).count() == 0 &&
      viaSearch.except(viaCase).count() == 0,
      "routing path must never change the committed table")
  }

  test("generation retention: as-of reads are exact, carried files shared, aged-out generations GC their exclusive files") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val dir = java.nio.file.Files.createTempDirectory("graft_zret").toString + "/t"
    val base = spark.range(4096L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 8, keepGenerations = 3)
    assert(Layout.retentionOf(dir) == 3)

    val add1 = (0 until 16).map(i => (i.toLong, i.toLong)).toDF("a", "b")
    Layout.zorderAppend(add1, dir)
    Layout.zorderMaintain(spark, dir)
    val add2 = (0 until 8).map(i => (63L - i, 63L - i)).toDF("a", "b")
    Layout.zorderAppend(add2, dir)
    Layout.zorderMaintain(spark, dir)
    assert(Layout.retainedGens(dir) == Seq(0L, 1L, 2L), "three snapshots live")

    // every retained generation reads back exactly as committed
    assert(Layout.zorderReadAsOf(spark, dir, 0L).count() == 4096L)
    assert(Layout.zorderReadAsOf(spark, dir, 1L).count() == 4096L + 16)
    assert(Layout.zorderReadAsOf(spark, dir, 2L).count() == 4096L + 24)
    assert(Layout.zorderReadAsOf(spark, dir, 0L).except(base).count() == 0)
    // current read ≡ newest snapshot
    assert(Layout.zorderRead(spark, dir).count() == 4096L + 24)

    // carried files are SHARED rows across manifests, not copies: the
    // union of retained manifests references more manifest rows than
    // distinct on-disk files
    val refs = Seq(0L, 1L, 2L).flatMap(g =>
      Layout.readManifest(dir, g).spans.map(_.file))
    assert(refs.size > refs.distinct.size, "snapshots share carried files")

    // snapshot scans prune from the retained manifest like CURRENT scans
    val asofScan = Layout.zorderScanAsOf(spark, dir, 1L, (0L, 15L), (0L, 15L))
    val asofWant = Layout.zorderReadAsOf(spark, dir, 1L)
      .filter(col("a").between(0, 15) && col("b").between(0, 15))
    assert(asofScan.count() == asofWant.count() &&
      asofScan.except(asofWant).count() == 0, "as-of scan ≡ as-of filter")
    // the manifest-only census is truthful per generation
    val stats = Layout.zorderStats(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(3))).toMap
    assert(stats(0L) == ((false, 4096L)) && stats(1L) == ((false, 4096L + 16)) &&
      stats(2L) == ((true, 4096L + 24)))

    // one more maintain ages gen 0 out (window is 3): its manifest goes,
    // files ONLY it referenced go, files shared with retained gens stay
    Layout.zorderAppend(Seq((5L, 6L)).toDF("a", "b"), dir)
    Layout.zorderMaintain(spark, dir)
    assert(Layout.retainedGens(dir) == Seq(1L, 2L, 3L))
    assert(!Files.isRegularFile(Paths.get(dir, "manifest-0.tsv")))
    val ex = intercept[IllegalArgumentException] {
      Layout.zorderReadAsOf(spark, dir, 0L)
    }
    assert(ex.getMessage.contains("not retained"))
    // retained snapshots still read exactly after the age-out GC
    assert(Layout.zorderReadAsOf(spark, dir, 1L).count() == 4096L + 16)
    assert(Layout.zorderReadAsOf(spark, dir, 2L).count() == 4096L + 24)
    // no orphans AND no missing files: data/ ≡ union of retained manifests
    import scala.jdk.CollectionConverters._
    val listed = Seq(1L, 2L, 3L).flatMap(g =>
      Layout.readManifest(dir, g).spans.map(_.file)).toSet
    val walk = Files.walk(Paths.get(dir, "data"))
    val onDisk = try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => Paths.get(dir).toAbsolutePath.relativize(p.toAbsolutePath).toString)
      .toSet finally walk.close()
    assert(onDisk == listed, s"data/ ≡ retained manifests: " +
      s"orphans=${onDisk.diff(listed)} missing=${listed.diff(onDisk)}")
  }

  test("bloom point lookup: prunes to ~1 file with no false negatives; rebuild is incremental; sidecar carries across commits (absent files open); heal GCs aged sidecars") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val dir = java.nio.file.Files.createTempDirectory("graft_zbloom").toString + "/t"
    // layout keys (a, b); lookup key k is a scrambled unique id, so every
    // file holds a scattered slice of keys — exactly where z-spans prune
    // nothing and the bloom must carry the lookup alone
    val base = spark.range(4096L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"),
        pmod(col("id") * 2654435761L, lit(1L << 31)).as("k"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 16, keepGenerations = 2)
    def kOf(id: Long) = java.lang.Math.floorMod(id * 2654435761L, 1L << 31)

    val (scanned0, carried0) = Layout.zorderBloomBuild(spark, dir, "k",
      bits = 1 << 14, hashes = 5)
    assert(scanned0 == 16 && carried0 == 0)
    val present = Seq(kOf(7), kOf(999), kOf(4000))
    val absent = Seq(kOf(7) + 1) // scrambled domain: +1 is (almost surely) no key
    val (open, total, used) = Layout.zorderLookupFiles(dir, "k", present)
    assert(used && open < total, s"bloom must prune: $open/$total")
    assert(open >= 1 && open <= 8, s"three unique keys live in <= 3 files + fp: $open")
    val got = Layout.zorderPointLookup(spark, dir, "k", present)
    val want = Layout.zorderRead(spark, dir).filter(col("k").isin(present: _*))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "lookup ≡ full filter (no false negatives)")
    assert(Layout.zorderPointLookup(spark, dir, "k", absent).isEmpty)

    // maintain commits gen 1 — the sidecar CARRIES (untouched files keep
    // their exact bitsets); the appended row lives in a REWRITTEN file
    // whose new name is absent from the carried sidecar, and absent
    // always OPENS — so the lookup stays pruned AND cannot miss the row
    Layout.zorderAppend(Seq((5L, 6L, 777777777L)).toDF("a", "b", "k"), dir)
    val (_, rewritten, carriedFiles) = Layout.zorderMaintain(spark, dir)
    val (o2, t2, used2) = Layout.zorderLookupFiles(dir, "k", Seq(777777777L))
    assert(used2 && o2 < t2,
      s"carried sidecar keeps pruning after a maintain: $o2/$t2")
    assert(o2 >= rewritten,
      "rewritten files are absent from the carried sidecar and must open")
    assert(Layout.zorderPointLookup(spark, dir, "k", Seq(777777777L)).count() == 1)

    // param mismatch forces a full rescan; matching params carry bitsets
    // for every file the maintain left untouched
    val (sMis, cMis) = Layout.zorderBloomBuild(spark, dir, "k",
      bits = 1 << 13, hashes = 5)
    assert(sMis == rewritten + carriedFiles && cMis == 0,
      "different bits → nothing carries")
    val (s1, c1) = Layout.zorderBloomBuild(spark, dir, "k",
      bits = 1 << 14, hashes = 5)
    assert(s1 == rewritten && c1 == carriedFiles,
      s"incremental rebuild scans only rewritten files: $s1/$c1")
    val (o3, t3, used3) = Layout.zorderLookupFiles(dir, "k", Seq(777777777L))
    assert(used3 && o3 < t3)
    assert(Layout.zorderPointLookup(spark, dir, "k", Seq(777777777L))
      .count() == 1, "the appended key resolves through the rebuilt bloom")
    val all = Layout.zorderPointLookup(spark, dir, "k", present :+ 777777777L)
    assert(all.count() == 4, "mixed probes across generations of files")

    // another maintain ages gen 0 out (window 2) — heal GCs bloom-0 and
    // keeps bloom-1; the next build carries from bloom-1
    Layout.zorderAppend(Seq((60L, 60L, 888888888L)).toDF("a", "b", "k"), dir)
    Layout.zorderMaintain(spark, dir)
    assert(!Files.isRegularFile(Paths.get(dir, "bloom-0-k.tsv")),
      "aged-out generation's sidecar is GC'd")
    assert(Files.isRegularFile(Paths.get(dir, "bloom-1-k.tsv")),
      "retained generation's sidecar survives")
    val (s2, c2) = Layout.zorderBloomBuild(spark, dir, "k",
      bits = 1 << 14, hashes = 5)
    assert(c2 >= 1 && s2 >= 1, s"carry from the retained sidecar: $s2/$c2")
    assert(Layout.zorderPointLookup(spark, dir, "k",
      Seq(777777777L, 888888888L)).count() == 2)
  }

  test("schema evolution: appends add/omit non-key columns reconciled by name; CDC conforms; compact heals to homogeneous") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zevo").toString + "/t"
    val base = spark.range(4096L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"),
        col("id").as("v"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 8, keepGenerations = 4)
    assert(!Layout.readManifest(dir, 0L).mixedSchema)

    // gen 1: append ADDS column w → generation goes mixed; reads reconcile
    val addW = Seq((1L, 1L, 9000L, "x1"), (2L, 2L, 9001L, "x2"))
      .toDF("a", "b", "v", "w")
    Layout.zorderAppend(addW, dir)
    Layout.zorderMaintain(spark, dir)
    assert(Layout.readManifest(dir, 1L).mixedSchema, "evolved generation is mixed")
    val g1 = Layout.zorderRead(spark, dir)
    assert(g1.columns.toSet == Set("a", "b", "v", "w"))
    assert(g1.count() == 4098 && g1.filter(col("w").isNotNull).count() == 2)
    assert(g1.filter(col("a") === 0 && col("b") === 0)
      .select("v").collect().map(_.getLong(0)).toSeq == Seq(0L),
      "pre-evolution rows keep their values, null-filled w")

    // CDC across the evolution: carried rows (null w on both sides) cancel;
    // inserts surface with their w values
    val ch = Layout.zorderChanges(spark, dir, 0L, 1L).cache()
    try {
      assert(ch.filter(col("change_type") === "delete").isEmpty)
      val ins = ch.filter(col("change_type") === "insert").drop("change_type")
      assert(ins.count() == 2 &&
        ins.select("a", "b", "v", "w").exceptAll(addW).isEmpty)
    } finally ch.unpersist()

    // gen 2: append OMITS non-key column v → null-filled by name
    Layout.zorderAppend(Seq((3L, 3L, "y")).toDF("a", "b", "w"), dir)
    Layout.zorderMaintain(spark, dir)
    val g2 = Layout.zorderRead(spark, dir)
    assert(g2.count() == 4099 && g2.filter(col("v").isNull).count() == 1)

    // the scan/count/upsert surfaces keep answering on the mixed table
    assert(Layout.zorderScan(spark, dir, (3L, 3L), (3L, 3L)).count() == 2)
    assert(Layout.zorderCountBand(spark, dir, (0L, 63L), (0L, 63L)) == 4099)
    assert(Layout.zorderUpsert(spark,
      Seq((2L, 2L, -1L, "x2b")).toDF("a", "b", "v", "w"), dir)._1 == 2L,
      "the upsert replaces the base row AND the evolved row for key (2,2)")

    // compact rewrites every file: homogeneous again, nothing lost
    Layout.zorderCompact(spark, dir, 8)
    val curGen = Layout.currentGen(dir).get
    assert(!Layout.readManifest(dir, curGen).mixedSchema, "compact heals")
    val g3 = Layout.zorderRead(spark, dir)
    assert(g3.columns.toSet == Set("a", "b", "v", "w"))
    assert(g3.count() == 4098, "4099 - the two (2,2) rows + one upserted")
    assert(g3.filter(col("w") === "x2b").count() == 1)
  }

  test("zorderCompactSmall: z-adjacent small files bin-pack, big files carry, answers and pruning unchanged, repeat no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zbin").toString + "/t"
    val base = spark.range(4096L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"))
    // keep two generations: the pre-compaction snapshot stays readable
    // for the answers-unchanged comparison after the bin-pack GCs the
    // replaced files
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 32,
      keepGenerations = 2) // 128 rows/file
    // shrink a z-contiguous corner with an UNALIGNED band (an aligned
    // 16×16 corner would cover files 0-1 exactly and drop them whole):
    // (0..11)² hits 96 rows of file 0 and 48 of file 1 → 32- and 80-row
    // small files, z-adjacent
    assert(Layout.zorderDelete(spark, dir, (0L, 11L), (0L, 11L))._1 == 144L)
    def before = Layout.zorderReadAsOf(spark, dir, 1L)
    val beforeRows = before.count()
    val beforeFiles = Layout.currentSpans(dir).size
    val small = Layout.currentSpans(dir).count(_.rows < 100L)
    assert(small >= 2, s"fixture sanity: need adjacent small files, got $small")

    val (groups, mergedIn, carried) = Layout.zorderCompactSmall(spark, dir, 100L)
    assert(groups >= 1 && mergedIn >= 2 && carried >= 1,
      s"bin-pack must engage and carry big files: $groups/$mergedIn/$carried")
    val after = Layout.zorderRead(spark, dir)
    assert(after.count() == beforeRows &&
      after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty,
      "compaction must never change answers")
    val spansAfter = Layout.currentSpans(dir)
    assert(spansAfter.size == beforeFiles - mergedIn + groups)
    assert(spansAfter.forall(_.rows > 0))
    assert(spansAfter.map(_.zLo) == spansAfter.map(_.zLo).sorted,
      "manifest stays z-ordered")
    // pruned scans still ≡ filters on the packed table
    val scan = Layout.zorderScan(spark, dir, (20L, 40L), (20L, 40L))
    val want = after.filter(col("a").between(20, 40) && col("b").between(20, 40))
    assert(scan.count() == want.count() && scan.exceptAll(want).isEmpty)
    // no two adjacent smalls remain below target → exact no-op
    assert(Layout.zorderCompactSmall(spark, dir, 100L) ==
      ((0, 0, spansAfter.size)))
  }

  test("zorderDeleteByKey: bloom-pruned takedown by non-layout key — exact removal, no-op repeat, incremental bloom refresh, CDC sees it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zkdel").toString + "/t"
    val base = spark.range(4096L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"),
        pmod(col("id") * 2654435761L, lit(1L << 31)).as("k"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 16, keepGenerations = 2)
    Layout.zorderBloomBuild(spark, dir, "k", bits = 1 << 14, hashes = 5)
    def kOf(id: Long) = java.lang.Math.floorMod(id * 2654435761L, 1L << 31)

    val doomed = Seq(kOf(100), kOf(2000), kOf(3999), 424242L) // last absent
    val (open, total, _) = Layout.zorderLookupFiles(dir, "k", doomed)
    val (deleted, rewritten, carried) = Layout.zorderDeleteByKey(spark, dir, "k", doomed)
    assert(deleted == 3L, s"three present keys: $deleted")
    assert(rewritten <= open && carried >= total - open,
      s"the rewrite set is bloom-bounded: $rewritten <= $open, carried $carried")
    val now = Layout.zorderRead(spark, dir)
    assert(now.count() == 4093L && now.filter(col("k").isin(doomed: _*)).isEmpty)

    // repeat is an exact no-op even without a fresh bloom (counting pass
    // finds nothing); then the incremental refresh scans only rewrites
    assert(Layout.zorderDeleteByKey(spark, dir, "k", doomed) ==
      ((0L, 0, now.inputFiles.length)))
    val (scanned, carriedB) = Layout.zorderBloomBuild(spark, dir, "k",
      bits = 1 << 14, hashes = 5)
    assert(scanned == rewritten && carriedB == carried,
      s"bloom refresh is incremental: $scanned/$carriedB")
    val (o2, t2, used2) = Layout.zorderLookupFiles(dir, "k", Seq(kOf(7)))
    assert(used2 && o2 < t2)
    assert(Layout.zorderPointLookup(spark, dir, "k", Seq(kOf(7))).count() == 1)

    // the change feed reports exactly the taken-down rows
    val ch = Layout.zorderChanges(spark, dir, 0L, 1L)
    assert(ch.filter(col("change_type") === "insert").isEmpty)
    val dels = ch.filter(col("change_type") === "delete")
      .select("k").collect().map(_.getLong(0)).toSet
    assert(dels == doomed.dropRight(1).toSet)
  }

  test("zorderChangesSince: a cursor-driven follower reconstructs the table exactly across mixed commits") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zfol").toString + "/t"
    val base = spark.range(2048L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"),
        col("id").as("v"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 8, keepGenerations = 8)
    var follower = Layout.zorderReadAsOf(spark, dir, 0L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cursor = 0L

    def poll(): Unit = {
      val (feed, newCur) = Layout.zorderChangesSince(spark, dir, cursor)
      val f = feed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val next = follower
        .exceptAll(f.filter(col("change_type") === "delete").drop("change_type"))
        .unionByName(f.filter(col("change_type") === "insert").drop("change_type"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      next.count()
      follower.unpersist(); f.unpersist()
      follower = next
      cursor = newCur
    }

    // commit 1+2 between polls: append+maintain, then a band delete — one
    // poll spans BOTH commits (feeds compose across generations)
    Layout.zorderAppend((0 until 10).map(i => (i.toLong, i.toLong, 5000L + i))
      .toDF("a", "b", "v"), dir)
    Layout.zorderMaintain(spark, dir)
    Layout.zorderDelete(spark, dir, (2L, 5L), (2L, 5L))
    poll()
    def table() = Layout.zorderRead(spark, dir)
    assert(follower.exceptAll(table()).isEmpty && table().exceptAll(follower).isEmpty,
      "follower ≡ table after a multi-commit poll")

    // commit 3: upsert, then an idle poll (no commits) must be a no-op
    Layout.zorderUpsert(spark, Seq((10L, 10L, -7L)).toDF("a", "b", "v"), dir)
    poll()
    assert(follower.exceptAll(table()).isEmpty && table().exceptAll(follower).isEmpty)
    val (idle, cur2) = Layout.zorderChangesSince(spark, dir, cursor)
    assert(cur2 == cursor && idle.isEmpty, "idle poll: empty feed, same cursor")

    // a cursor older than the retention window names the gap loudly
    Layout.setRetention(dir, 1)
    Layout.zorderVacuum(dir)
    val ex = intercept[IllegalArgumentException] {
      Layout.zorderChangesSince(spark, dir, 0L)
    }
    assert(ex.getMessage.contains("not retained"))
    follower.unpersist()
    ()
  }

  test("zorderCountBand: covered files count from the manifest, only boundary files scan, answers ≡ filter counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zcnt").toString + "/t"
    val base = spark.range(64L * 64L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 16)
    def want(aB: (Long, Long), bB: (Long, Long)) =
      Layout.zorderRead(spark, dir)
        .filter(col("a").between(aB._1, aB._2) && col("b").between(bB._1, bB._2))
        .count()
    // wide interior band: most files covered (metadata), few boundary
    val (aB, bB) = ((8L, 55L), (8L, 55L))
    val (cov, bnd, tot) = Layout.zorderCountFiles(dir, aB, bB)
    assert(cov >= 1, s"interior band must fully cover files: $cov/$bnd/$tot")
    assert(cov + bnd <= tot)
    assert(Layout.zorderCountBand(spark, dir, aB, bB) == want(aB, bB))
    // whole-domain band: answered purely from the manifest
    val whole = ((0L, 63L), (0L, 63L))
    val (covW, bndW, totW) = Layout.zorderCountFiles(dir, whole._1, whole._2)
    assert(covW == totW && bndW == 0, "whole domain reads nothing")
    assert(Layout.zorderCountBand(spark, dir, whole._1, whole._2) == 64L * 64L)
    // narrow corner band ≡ filter; empty band = 0
    val (aN, bN) = ((3L, 9L), (50L, 60L))
    assert(Layout.zorderCountBand(spark, dir, aN, bN) == want(aN, bN))
    assert(Layout.zorderCountBand(spark, dir, (100L, 200L), bN) == 0L)
  }

  test("zorderChanges: net row feed between retained generations — shared files skipped, carried rows cancel, updates are delete+insert pairs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zcdc").toString + "/t"
    val base = spark.range(4096L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"),
        col("id").as("v"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 8, keepGenerations = 4)

    // gen 1: blind append + incremental maintain
    val add = (0 until 16).map(i => (i.toLong, i.toLong, 10000L + i)).toDF("a", "b", "v")
    Layout.zorderAppend(add, dir)
    Layout.zorderMaintain(spark, dir)
    val (fOnly, tOnly, shared) = Layout.zorderChangesFiles(dir, 0L, 1L)
    assert(shared >= 1, s"carried files must be skipped: $fOnly/$tOnly/$shared")
    val ch01 = Layout.zorderChanges(spark, dir, 0L, 1L).cache()
    try {
      assert(ch01.filter(col("change_type") === "delete").isEmpty,
        "a maintain deletes nothing")
      val ins = ch01.filter(col("change_type") === "insert").drop("change_type")
      assert(ins.count() == 16 && ins.exceptAll(add).isEmpty &&
        add.exceptAll(ins).isEmpty,
        "inserts ≡ the appended rows, even though the rewritten files " +
          "also carried thousands of old rows")
    } finally ch01.unpersist()

    // gen 2: span-pruned band delete → pure deletes
    val (aBand, bBand) = ((4L, 11L), (4L, 11L))
    assert(Layout.zorderDelete(spark, dir, aBand, bBand)._1 > 0)
    val ch12 = Layout.zorderChanges(spark, dir, 1L, 2L).cache()
    try {
      assert(ch12.filter(col("change_type") === "insert").isEmpty)
      val dels = ch12.filter(col("change_type") === "delete").drop("change_type")
      val want = Layout.zorderReadAsOf(spark, dir, 1L)
        .filter(col("a").between(4, 11) && col("b").between(4, 11))
      assert(dels.exceptAll(want).isEmpty && want.exceptAll(dels).isEmpty,
        "deletes ≡ exactly the band rows")
    } finally ch12.unpersist()

    // gen 3: keyed upsert — a changed value surfaces as its delete+insert
    // pair; a key upserted with IDENTICAL values rewrites its file but
    // cancels in the feed (net semantics)
    val batch = Seq((20L, 20L, -1L), (30L, 30L, 30L * 64 + 30)).toDF("a", "b", "v")
    assert(Layout.zorderUpsert(spark, batch, dir)._1 == 2L)
    val ch23 = Layout.zorderChanges(spark, dir, 2L, 3L).cache()
    try {
      val rows = ch23.collect().map(r =>
        (r.getString(3), r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set(
        ("delete", 20L, 20L, 20L * 64 + 20), ("insert", 20L, 20L, -1L)),
        s"only the net change ships: $rows")
    } finally ch23.unpersist()

    // identity and composition: same-gen feed is empty; the 0→3 feed nets
    // out to the same row delta as the snapshots themselves
    assert(Layout.zorderChanges(spark, dir, 2L, 2L).isEmpty)
    val ch03 = Layout.zorderChanges(spark, dir, 0L, 3L)
      .groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val net = ch03.getOrElse("insert", 0L) - ch03.getOrElse("delete", 0L)
    assert(net == Layout.zorderReadAsOf(spark, dir, 3L).count() -
      Layout.zorderReadAsOf(spark, dir, 0L).count())
    // a gen outside the retention window names itself loudly
    Layout.setRetention(dir, 1)
    Layout.zorderVacuum(dir)
    val ex = intercept[IllegalArgumentException] {
      Layout.zorderChanges(spark, dir, 0L, 3L)
    }
    assert(ex.getMessage.contains("not retained"))
  }

  test("zorderDelete: span-pruned band delete — only matching files rewrite, full files drop, repeat is a no-op") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zdel").toString + "/t"
    // 64×64 grid in 16 files ⇒ tiles ~16×16; a corner band hits few tiles
    val base = spark.range(64L * 64L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 16)

    val (aBand, bBand) = ((4L, 11L), (4L, 11L)) // 64 rows in one corner
    val (deleted, rewritten, carried) = Layout.zorderDelete(spark, dir, aBand, bBand)
    assert(deleted == 64L, s"8×8 band holds 64 rows, got $deleted")
    assert(rewritten >= 1 && rewritten <= 4,
      s"corner band must rewrite few tiles, got $rewritten")
    assert(rewritten + carried == 16)
    assert(Layout.currentGen(dir) == Some(1L))
    // result ≡ the filter twin, exactly
    val want = base.filter(!(col("a").between(4, 11) && col("b").between(4, 11)))
    val got = Layout.zorderRead(spark, dir)
    assert(got.count() == 4096L - 64 && got.except(want).count() == 0 &&
      want.except(got).count() == 0)
    // repeat delete: spans may still intersect, but the counting pass
    // finds no matching rows — exact no-op, no new generation
    assert(Layout.zorderDelete(spark, dir, aBand, bBand) == ((0L, 0, 16)))
    assert(Layout.currentGen(dir) == Some(1L))
    // manifest row counts stay truthful after the rewrite
    assert(Layout.currentSpans(dir).map(_.rows).sum == 4096L - 64)
    // span-pruned scans keep working on the deleted table
    val (hit, total) = Layout.zorderScanFiles(dir, (0L, 3L), (0L, 63L))
    assert(hit < total)

    // deleting EVERYTHING a file holds drops it from the manifest
    val (d2, rw2, _) = Layout.zorderDelete(spark, dir, (0L, 63L), (0L, 31L))
    assert(d2 == 2048L - 64,
      s"half the grid minus the 64 already-deleted rows (all in b<=31): $d2")
    assert(rw2 >= 1)
    assert(Layout.zorderRead(spark, dir).count() == 4096L - 64 - d2)
    assert(Layout.currentSpans(dir).map(_.rows).sum == 4096L - 64 - d2)
  }

  test("zorderUpsert: keyed replace + insert, span-pruned rewrite, vacuum GCs after retention drop") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zup").toString + "/t"
    // rows carry a payload so replacement is observable beyond the keys
    val base = spark.range(4096L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"),
        lit("old").as("v"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 16)

    // batch: 32 replacements in one corner (keys exist) + 8 inserts with
    // DUPLICATE keys outside the old domain... keys (100+i, 100+i) are new
    val batch = ((0 until 32).map(i => (i.toLong % 8, i.toLong / 8, "new")) ++
      (0 until 8).map(i => (100L + i, 100L + i, "ins"))).toDF("a", "b", "v")
    val (replaced, upserted, rewritten) = Layout.zorderUpsert(spark, batch, dir)
    assert(replaced == 32L, s"32 corner keys replaced, got $replaced")
    assert(upserted == 40L)
    assert(rewritten >= 1 && rewritten < 16,
      s"corner batch must rewrite few files, got $rewritten")
    assert(Layout.currentGen(dir) == Some(1L))
    val after = Layout.zorderRead(spark, dir).cache()
    try {
      assert(after.count() == 4096L - 32 + 40,
        "32 old rows out, 40 batch rows in")
      // the MERGE contract: every batch key now holds exactly the batch's
      // rows; untouched keys keep their old payload
      assert(after.filter(col("v") === "new").count() == 32)
      assert(after.filter(col("v") === "ins").count() == 8)
      assert(after.filter(col("a") < 8 && col("b") < 4 && col("v") === "old")
        .count() == 0, "no stale copy of a replaced key survives")
      assert(after.filter(col("v") === "old").count() == 4096L - 32)
      // exact multiset equality with the composed twin
      val want = base.join(batch.select("a", "b").distinct(), Seq("a", "b"),
        "left_anti").unionByName(batch)
      assert(after.except(want).count() == 0 && want.except(after).count() == 0)
    } finally after.unpersist()
    // manifest row counts stay truthful; spans still prune
    assert(Layout.currentSpans(dir).map(_.rows).sum == 4096L + 8)
    val (hit, total) = Layout.zorderScanFiles(dir, (0L, 3L), (0L, 63L))
    assert(hit < total)

    // vacuum after a retention drop: raise retention, commit twice, drop
    // retention, vacuum — old manifests age out without any new commit
    Layout.setRetention(dir, 3)
    Layout.zorderUpsert(spark, Seq((0L, 0L, "v2")).toDF("a", "b", "v"), dir)
    Layout.zorderUpsert(spark, Seq((0L, 0L, "v3")).toDF("a", "b", "v"), dir)
    assert(Layout.retainedGens(dir).size == 3)
    Layout.setRetention(dir, 1)
    Layout.zorderVacuum(dir)
    assert(Layout.retainedGens(dir) == Seq(Layout.currentGen(dir).get))
    assert(Layout.zorderRead(spark, dir).filter(col("v") === "v3").count() == 1)
  }

  test("review regressions: repeated rewrites keep basenames unique; delete-everything refuses; NULL keys survive delete and reject in upsert") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zreg").toString + "/t"
    val base = spark.range(1024L)
      .select((col("id") / 32).cast("long").as("a"), (col("id") % 32).as("b"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 4, keepGenerations = 3)

    // three successive rewrites touching overlapping files: generation-
    // qualified names mean the retained manifests can never hold two
    // files with one basename (the fname→fid join's uniqueness invariant)
    Layout.zorderDelete(spark, dir, (0L, 1L), (0L, 31L))
    Layout.zorderAppend(Seq((0L, 0L)).toDF("a", "b"), dir)
    Layout.zorderMaintain(spark, dir)
    Layout.zorderUpsert(spark, Seq((0L, 0L)).toDF("a", "b"), dir)
    for (g <- Layout.retainedGens(dir)) {
      // carried files legitimately RECUR across manifests (the sharing
      // feature); the join invariant is uniqueness WITHIN each manifest —
      // one read never touches two files with one basename
      val basenames = Layout.readManifest(dir, g).spans.map(s =>
        java.nio.file.Paths.get(s.file).getFileName.toString)
      assert(basenames.distinct.size == basenames.size,
        s"gen $g basenames must be unique: $basenames")
    }
    // and the committed table is exactly right after the rewrite chain
    assert(Layout.zorderRead(spark, dir).count() == 1024L - 64 + 1)

    // deleting EVERY remaining row must refuse before committing — the
    // table stays readable on its current generation
    val genBefore = Layout.currentGen(dir)
    val ex = intercept[IllegalArgumentException] {
      Layout.zorderDelete(spark, dir, (Long.MinValue, Long.MaxValue),
        (Long.MinValue, Long.MaxValue))
    }
    assert(ex.getMessage.contains("EMPTY"))
    assert(Layout.currentGen(dir) == genBefore &&
      Layout.zorderRead(spark, dir).count() == 1024L - 64 + 1)

    // NULL layout keys are rejected at EVERY ingestion edge (they have no
    // z, no route, no span): init, the maintain fold, and the upsert batch
    val dir2 = java.nio.file.Files.createTempDirectory("graft_znul").toString + "/t"
    val nullRows = Seq((Option.empty[Long], Option(5L)),
      (Option(5L), Option.empty[Long])).toDF("a", "b")
    val initEx = intercept[IllegalArgumentException] {
      Layout.zorderInit(spark, base.unionByName(nullRows), dir2, "a", "b", nFiles = 2)
    }
    assert(initEx.getMessage.contains("non-null"))
    // a failed init commits nothing; a real init then proceeds
    Layout.zorderInit(spark, base, dir2, "a", "b", nFiles = 2)
    Layout.zorderAppend(nullRows, dir2)
    val mEx = intercept[IllegalArgumentException] {
      Layout.zorderMaintain(spark, dir2)
    }
    assert(mEx.getMessage.contains("NULL layout keys"))
    assert(Layout.zorderRead(spark, dir2).count() == 1024L,
      "the failed fold leaves the committed generation untouched")
    val up = intercept[IllegalArgumentException] {
      Layout.zorderUpsert(spark,
        Seq((Option.empty[Long], Option(1L))).toDF("a", "b"), dir2)
    }
    assert(up.getMessage.contains("NULL"))
  }

  test("concurrent writers on one table serialize under the per-path lock; no fold is lost or doubled") {
    import spark.implicits._
    import java.util.concurrent.{Executors, TimeUnit}
    val dir = java.nio.file.Files.createTempDirectory("graft_zconc").toString + "/t"
    val base = spark.range(4096L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 8)
    // 4 threads × (append a disjoint 16-row slab, then maintain), racing:
    // the per-path lock must serialize the maintains (a heal sweeping
    // another builder's staging would corrupt the fold), every appended
    // row must land exactly once, and the generation chain must advance
    // monotonically with no gaps in the committed row count
    val pool = Executors.newFixedThreadPool(4)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // all four appends released at once, multi-part each: the shape that
    // reproduced the shared-committer `_temporary/0` collision before
    // zorderAppend staged privately (one writer's cleanup deleted
    // another's attempt files mid-commit)
    val gate = new java.util.concurrent.CountDownLatch(1)
    for (t <- 0 until 4) pool.submit(new Runnable {
      override def run(): Unit =
        try {
          val slab = (0 until 16).map(i => (100L + t, i.toLong)).toDF("a", "b")
            .repartition(4)
          gate.await()
          Layout.zorderAppend(slab, dir)
          Layout.zorderMaintain(spark, dir)
          ()
        } catch { case e: Throwable => errs.add(e); () }
    })
    gate.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS), "writers must finish")
    assert(errs.isEmpty, s"concurrent writers must not fail: ${errs.peek()}")
    // a maintain may fold several threads' landings at once (fewer than 4
    // generations is fine); the END STATE is exact either way
    val after = Layout.zorderRead(spark, dir)
    assert(after.count() == 4096L + 64, "all 64 appended rows landed exactly once")
    assert(after.filter(col("a") >= 100).groupBy("a").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (0 until 4).map(t => (100L + t) -> 16L).toMap)
    assert(Layout.zorderMaintain(spark, dir) == ((0L, 0, 0)),
      "nothing left to fold after the race")
    assert(Layout.currentSpans(dir).map(_.rows).sum == 4096L + 64)
  }

  private def dataFileState(dir: String): Map[String, java.nio.file.attribute.FileTime] = {
    import scala.jdk.CollectionConverters._
    val dd = java.nio.file.Paths.get(dir, "data")
    val walk = java.nio.file.Files.walk(dd)
    try walk.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("dv-"))
      .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p))
      .toMap
    finally walk.close()
  }

  test("zorderDeleteVectored: tombstones only — zero data files touched, every reader live, repeat no-op, full-dead files drop") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zdv").toString + "/t"
    val base = spark.range(64L * 64L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 16)
    val before = dataFileState(dir)

    val (aBand, bBand) = ((4L, 11L), (4L, 11L)) // 64 rows in one corner
    val (deleted, tombstoned) = Layout.zorderDeleteVectored(spark, dir, aBand, bBand)
    assert(deleted == 64L, s"8×8 band holds 64 rows, got $deleted")
    assert(tombstoned >= 1 && tombstoned <= 4,
      s"corner band tombstones few tiles, got $tombstoned")
    assert(Layout.currentGen(dir) == Some(1L))
    // THE merge-on-read claim: not one data file was written or replaced
    assert(dataFileState(dir) == before,
      "a vectored delete must not touch any data file")
    assert(java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(dir, "data", "g1", "dv-g1.parquet")))

    // every reader applies the DV: plain read, span-pruned scan, the
    // metadata-assisted count (covered files subtract manifest dvRows)
    val want = base.filter(!(col("a").between(4, 11) && col("b").between(4, 11)))
    val got = Layout.zorderRead(spark, dir)
    assert(got.count() == 4096L - 64 && got.except(want).count() == 0 &&
      want.except(got).count() == 0)
    assert(Layout.zorderScan(spark, dir, (0L, 15L), (0L, 15L)).count() ==
      256L - 64L)
    assert(Layout.zorderCountBand(spark, dir, (0L, 63L), (0L, 63L)) == 4096L - 64)
    assert(Layout.zorderCountBand(spark, dir, aBand, bBand) == 0L)
    // manifest-only census: physical vs live
    val dvStats = Layout.zorderDvStats(spark, dir)
    assert(dvStats.agg(sum("dv_rows"), sum("live_rows")).head().getLong(0) == 64L)
    assert(dvStats.filter(col("dv_rows") > 0).count() == tombstoned.toLong)

    // repeat: same band, all matches already tombstoned — exact no-op,
    // no new generation
    assert(Layout.zorderDeleteVectored(spark, dir, aBand, bBand) == ((0L, 0)))
    assert(Layout.currentGen(dir) == Some(1L))

    // vector-deleting everything a file holds drops it from the manifest
    val filesBefore = Layout.currentSpans(dir).size
    val (d2, _) = Layout.zorderDeleteVectored(spark, dir, (0L, 63L), (0L, 31L))
    assert(d2 == 2048L - 64, s"half the grid minus the corner, got $d2")
    assert(Layout.currentSpans(dir).size < filesBefore,
      "fully-tombstoned files must drop from the manifest")
    assert(Layout.zorderRead(spark, dir).count() == 4096L - 64 - d2)
  }

  test("deletion vectors drain through maintenance: rewrites materialize their files' tombstones, carried files keep the DV, no row resurrects") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zdvm").toString + "/t"
    val base = spark.range(64L * 64L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 16)
    val (deleted, _) = Layout.zorderDeleteVectored(spark, dir, (4L, 11L), (4L, 11L))
    assert(deleted == 64L)

    // appends into the FAR corner: maintain rewrites files there, none of
    // which hold tombstones — the DV carries verbatim (a manifest row),
    // and reads stay exact
    Layout.zorderAppend(Seq((60L, 60L), (61L, 61L)).toDF("a", "b"), dir)
    val (m1, rw1, _) = Layout.zorderMaintain(spark, dir)
    assert(m1 == 2L && rw1 >= 1)
    assert(Layout.currentSpans(dir).map(_.dvRows).sum == 64L,
      "far-corner maintain must not disturb the tombstones")
    val want1 = base.filter(!(col("a").between(4, 11) && col("b").between(4, 11)))
      .unionByName(Seq((60L, 60L), (61L, 61L)).toDF("a", "b"))
    val got1 = Layout.zorderRead(spark, dir)
    assert(got1.exceptAll(want1).count() == 0 && want1.exceptAll(got1).count() == 0)

    // appends into the DELETED corner: the owning files rewrite, their
    // tombstones materialize (live rows only — nothing resurrects), and
    // with the last tombstoned file rewritten the DV itself drops
    Layout.zorderAppend(Seq((5L, 5L), (6L, 6L)).toDF("a", "b"), dir)
    val (m2, rw2, _) = Layout.zorderMaintain(spark, dir)
    assert(m2 == 2L && rw2 >= 1)
    val want2 = want1.unionByName(Seq((5L, 5L), (6L, 6L)).toDF("a", "b"))
    val got2 = Layout.zorderRead(spark, dir)
    assert(got2.exceptAll(want2).count() == 0 && want2.exceptAll(got2).count() == 0,
      "a rewrite must materialize tombstones, never resurrect deleted rows")
    // the two appended keys exist exactly once; their deleted neighbors stay gone
    assert(got2.filter(col("a") === 5 && col("b") === 5).count() == 1)
    assert(got2.filter(col("a") === 4 && col("b") === 4).count() == 0)

    // compact always heals to a DV-free homogeneous generation
    Layout.zorderCompact(spark, dir, nFiles = 8)
    assert(Layout.currentSpans(dir).forall(_.dvRows == 0))
    val got3 = Layout.zorderRead(spark, dir)
    assert(got3.exceptAll(want2).count() == 0 && want2.exceptAll(got3).count() == 0)
  }

  test("zorderDvMaterialize: physical purge rewrites exactly the tombstoned files, DV file GCs, answers unchanged, repeat no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zdvp").toString + "/t"
    val base = spark.range(64L * 64L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 16)
    val (deleted, tombstoned) = Layout.zorderDeleteVectored(spark, dir, (4L, 11L), (4L, 11L))
    assert(deleted == 64L)
    val before = dataFileState(dir)

    val (rewritten, purged) = Layout.zorderDvMaterialize(spark, dir)
    assert(rewritten == tombstoned && purged == 64L)
    val after = dataFileState(dir)
    // untouched files carried byte-identical; only the tombstoned ones
    // were replaced (fresh generation-qualified names)
    val carriedUnchanged = before.keySet & after.keySet
    assert(carriedUnchanged.size == 16 - tombstoned)
    assert(carriedUnchanged.forall(f => before(f) == after(f)))
    // no DV file survives the purge (heal GC'd it with the old manifest)
    assert(Layout.currentSpans(dir).forall(_.dvRows == 0))
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "data"))
    val dvLeft = try walk.iterator().asScala.count(
        _.getFileName.toString.startsWith("dv-")) finally walk.close()
    assert(dvLeft == 0, "materialize + heal must GC the deletion vector")

    val want = base.filter(!(col("a").between(4, 11) && col("b").between(4, 11)))
    val got = Layout.zorderRead(spark, dir)
    assert(got.count() == 4096L - 64 && got.except(want).count() == 0 &&
      want.except(got).count() == 0)
    assert(Layout.zorderDvMaterialize(spark, dir) == ((0, 0L)))
  }

  test("zorderDeleteVectoredByKey: bloom-bounded tombstoning; CDC reports vectored deletes; time travel still sees the rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zdvk").toString + "/t"
    // unique non-layout key k = a*64 + b
    val base = spark.range(64L * 64L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"),
        col("id").as("k"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 16,
      keepGenerations = 2)
    Layout.zorderBloomBuild(spark, dir, "k")
    val victims = Seq(5L, 777L, 2048L, 4095L)

    val beforeFiles = dataFileState(dir)
    val (deleted, tombstoned) = Layout.zorderDeleteVectoredByKey(spark, dir, "k", victims)
    assert(deleted == 4L)
    assert(tombstoned <= 4, s"bloom must bound the tombstoned set, got $tombstoned")
    assert(dataFileState(dir) == beforeFiles, "no data file touched")
    assert(Layout.zorderRead(spark, dir)
      .filter(col("k").isin(victims: _*)).count() == 0)
    assert(Layout.zorderRead(spark, dir).count() == 4096L - 4)

    // the change feed reports exactly the vectored deletes — shared files
    // with churned tombstone counts read on both sides, nothing else
    val feed = Layout.zorderChanges(spark, dir, 0L, 1L).cache()
    try {
      assert(feed.count() == 4L)
      assert(feed.filter(col("change_type") === "delete").count() == 4L)
      assert(feed.select("k").collect().map(_.getLong(0)).sorted.toSeq == victims)
    } finally feed.unpersist()
    val (fromSide, toSide, _) = Layout.zorderChangesFiles(dir, 0L, 1L)
    assert(fromSide == tombstoned && toSide == tombstoned,
      "only dv-churned files read on either side of the feed")

    // time travel: the retained pre-delete generation still has the rows
    assert(Layout.zorderReadAsOf(spark, dir, 0L)
      .filter(col("k").isin(victims: _*)).count() == 4L)
    // REVIEW PIN: a DV commit touches no data file, so the sidecar
    // CARRIES to the new generation — lookups stay bloom-pruned with NO
    // rebuild (the takedown loop's second batch must not degrade to a
    // full-table candidate scan)
    val (openC, totalC, usedC) = Layout.zorderLookupFiles(dir, "k", Seq(6L))
    assert(usedC && openC < totalC,
      s"sidecar must carry across the DV commit: ($openC, $totalC, $usedC)")
    assert(Layout.zorderPointLookup(spark, dir, "k", victims).count() == 0)
    assert(Layout.zorderPointLookup(spark, dir, "k", Seq(6L)).count() == 1)
  }

  test("ZTable: Catalyst-integrated reads — ad-hoc filters prune files inside the planner, SQL views prune too, DVs apply, unknown predicates never false-prune") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zti").toString + "/t"
    val base = spark.range(64L * 64L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 16)

    // unfiltered: the full table, every file listed
    val (df0, fi0) = ZTable.dataFrameWithIndex(spark, dir)
    assert(df0.count() == 4096L && fi0.lastListed == 16)

    // a two-sided band composed with plain .filter prunes at PLANNING
    // time — no zorderScan call, just a DataFrame predicate
    val (df1, fi1) = ZTable.dataFrameWithIndex(spark, dir)
    val band = df1.filter(col("a").between(4, 11) && col("b").between(4, 11))
    assert(band.count() == 64L)
    assert(fi1.lastListed >= 1 && fi1.lastListed <= 4,
      s"planner must prune to the corner tiles, listed ${fi1.lastListed} of 16")
    // and the filters also reach the parquet scan (footer pruning stacks)
    val plan = band.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(a,4)"),
      s"band filter must push into the scan:\n$plan")

    // SQL over a registered view prunes identically — the table IS a view
    val (df2, fi2) = ZTable.dataFrameWithIndex(spark, dir)
    df2.createOrReplaceTempView("zt_spec")
    assert(spark.sql(
      "SELECT COUNT(*) FROM zt_spec WHERE a BETWEEN 4 AND 11 AND b BETWEEN 4 AND 11")
      .head().getLong(0) == 64L)
    assert(fi2.lastListed <= 4, s"SQL must prune too, listed ${fi2.lastListed}")

    // a predicate the index can't bound (expression on the column) still
    // answers exactly — unknown conjuncts never narrow, never false-prune
    val (df3, fi3) = ZTable.dataFrameWithIndex(spark, dir)
    assert(df3.filter((col("a") + col("b")) === 126).count() == 1L)
    assert(fi3.lastListed == 16, "unbounded predicate must list every file")

    // out-of-domain band → planner lists zero files, empty result
    val (df4, fi4) = ZTable.dataFrameWithIndex(spark, dir)
    assert(df4.filter(col("a") > 1000L).count() == 0L && fi4.lastListed == 0)

    // a band over a tile the delete below leaves untouched, read before
    // any tombstone exists: the plan and job count a tombstoned
    // generation's read must match
    import org.apache.spark.grafttest.ListenerDrain.jobsDuring
    def exchanges(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }.size
    def tileRead() = jobsDuring(spark.sparkContext) {
      val (df, fi) = ZTable.dataFrameWithIndex(spark, dir)
      (df.filter(col("a").between(40, 47) && col("b").between(40, 47)), fi)
    }
    val ((cleanTile, _), _) = tileRead()
    val (cleanCount, cleanJobs) =
      jobsDuring(spark.sparkContext)(cleanTile.count())
    assert(cleanCount == 64L)

    // deletion vectors apply through the relation: vector-delete the
    // corner, re-derive the table, same band now counts zero
    val (deleted, _) = Layout.zorderDeleteVectored(spark, dir, (4L, 11L), (4L, 11L))
    assert(deleted == 64L)
    val df5 = ZTable.dataFrame(spark, dir)
    assert(df5.count() == 4096L - 64)
    assert(df5.filter(col("a").between(4, 11) && col("b").between(4, 11))
      .count() == 0L)
    // composition: an aggregate-join over the live table matches the twin
    val want = base.filter(!(col("a").between(4, 11) && col("b").between(4, 11)))
      .groupBy("a").agg(count(lit(1)).as("n"))
    val got = df5.groupBy("a").agg(count(lit(1)).as("n"))
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)

    // the tombstones filter the scan without blocking it: over the
    // tombstoned generation, building the frame starts no Spark job, the
    // untouched tile still lists 1 of 16 files with its band pushed into
    // the parquet scan, the plan has no Exchange, and the read starts no
    // more jobs than it did before the delete
    val ((tile, tileFi), buildJobs) = tileRead()
    assert(buildJobs == 0, s"building the frame started $buildJobs Spark jobs")
    val (tileCount, tileJobs) = jobsDuring(spark.sparkContext)(tile.count())
    assert(tileCount == 64L)
    assert(tileFi.lastListed == 1,
      s"untouched tile must list 1 of 16 files, listed ${tileFi.lastListed}")
    val tilePlan = tile.queryExecution.executedPlan.toString
    assert(tilePlan.contains("PushedFilters") &&
      tilePlan.contains("GreaterThanOrEqual(a,40)"),
      s"tile band must push into the scan:\n$tilePlan")
    assert(exchanges(tile) == 0, s"no Exchange expected:\n$tilePlan")
    assert(tileJobs <= cleanJobs,
      s"tombstoned read ran $tileJobs jobs, the clean read $cleanJobs")
    // the explicit band API plans the same way
    val scanned = Layout.zorderScan(spark, dir, (0L, 15L), (0L, 15L))
    assert(scanned.count() == 256L - 64)
    assert(exchanges(scanned) == 0,
      s"no Exchange expected:\n${scanned.queryExecution.executedPlan}")
  }

  test("zorderMirror: replication ships only changed files, replica byte-faithful through maintain/DV-delete/time-travel, repeat no-op") {
    import spark.implicits._
    val pri = java.nio.file.Files.createTempDirectory("graft_zmirp").toString + "/t"
    val rep = java.nio.file.Files.createTempDirectory("graft_zmirr").toString + "/t"
    val base = spark.range(64L * 64L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"))
    Layout.zorderInit(spark, base, pri, "a", "b", nFiles = 16,
      keepGenerations = 2)

    // first sync: full copy — 16 data files + 1 manifest
    assert(Layout.zorderMirror(pri, rep) == ((16, 1)))
    assert(Layout.zorderMirror(pri, rep) == ((0, 0)), "repeat sync is a no-op")
    val r0 = Layout.zorderRead(spark, rep)
    assert(r0.count() == 4096L && r0.exceptAll(base).count() == 0)

    // append + maintain on the primary: the next sync ships ONLY the
    // rewritten files (plus the new manifest) — replication cost tracks
    // the churn, not the table
    Layout.zorderAppend(Seq((5L, 5L), (60L, 60L)).toDF("a", "b"), pri)
    val (_, rw, _) = Layout.zorderMaintain(spark, pri)
    val (copied1, mans1) = Layout.zorderMirror(pri, rep)
    assert(copied1 == rw && mans1 == 1,
      s"incremental sync must ship exactly the $rw rewritten files, shipped $copied1")
    val want1 = base.unionByName(Seq((5L, 5L), (60L, 60L)).toDF("a", "b"))
    val r1 = Layout.zorderRead(spark, rep)
    assert(r1.exceptAll(want1).count() == 0 && want1.exceptAll(r1).count() == 0)

    // vectored delete on the primary: the sync ships ONE file — the
    // deletion vector — and the replica's live read applies it
    val (deleted, _) = Layout.zorderDeleteVectored(spark, pri, (4L, 11L), (4L, 11L))
    assert(deleted > 0)
    val (copied2, mans2) = Layout.zorderMirror(pri, rep)
    assert(copied2 == 1 && mans2 == 1,
      s"a vectored delete ships only its DV file, shipped $copied2")
    val want2 = want1.filter(!(col("a").between(4, 11) && col("b").between(4, 11)))
    val r2 = Layout.zorderRead(spark, rep)
    assert(r2.exceptAll(want2).count() == 0 && want2.exceptAll(r2).count() == 0)

    // the replica is a full maintained table: retained-window time travel
    // and the CDC feed work against it directly
    assert(Layout.retainedGens(rep) == Layout.retainedGens(pri))
    val feed = Layout.zorderChanges(spark, rep,
      Layout.retainedGens(rep).head, Layout.currentGen(rep).get)
    assert(feed.filter(col("change_type") === "delete").count() >= deleted)
    // replica reads equal primary reads, generation for generation
    Layout.retainedGens(rep).foreach { g =>
      val p = Layout.zorderReadAsOf(spark, pri, g)
      val r = Layout.zorderReadAsOf(spark, rep, g)
      assert(p.exceptAll(r).count() == 0 && r.exceptAll(p).count() == 0,
        s"generation $g must be byte-faithful on the replica")
    }

    // REVIEW PIN: a replica must refuse a DIFFERENT table loudly —
    // generation numbers restart on re-init, so without the identity
    // check a stale replica would silently serve the OLD table's data
    graft.engine.WarehouseMeta.deleteRecursively(java.nio.file.Paths.get(pri))
    Layout.zorderInit(spark, base.limit(100), pri, "a", "b", nFiles = 2)
    val clash = intercept[IllegalArgumentException] {
      Layout.zorderMirror(pri, rep)
    }
    assert(clash.getMessage.contains("DIFFERENT table"))
  }

  test("manifest column stats: non-layout predicates prune in the planner, timestamps use Catalyst's micros domain, maintain/compact carry stats, all-null files always prune") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zstat").toString + "/t"
    // c correlates with layout key a (the auto-increment-id ↔ created_at
    // shape); ts = epoch + c seconds as a real timestamp column
    val base = spark.range(64L * 64L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"),
        (col("id") * 3 + (col("id") % 7)).as("c"),
        timestamp_seconds(lit(1700000000L) + col("id")).as("ts"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 16,
      statCols = Seq("c", "ts"))

    // stat spans prune a c-band to the tiles its correlated a-range owns
    val (hitC, totC) = Layout.zorderStatFiles(dir, "c", (0L, 1000L))
    assert(totC == 16 && hitC >= 1 && hitC <= 6,
      s"c-band must prune via stats: $hitC/$totC")
    // ... and the PLANNER prunes on the same predicate through ZTable
    val (df1, fi1) = ZTable.dataFrameWithIndex(spark, dir)
    assert(df1.filter(col("c").between(0, 1000)).count() ==
      base.filter(col("c").between(0, 1000)).count())
    assert(fi1.lastListed == hitC, s"planner listed ${fi1.lastListed}, audit says $hitC")

    // timestamp predicates: Catalyst literals are micros — the manifest's
    // unix_micros stats compare directly
    val (df2, fi2) = ZTable.dataFrameWithIndex(spark, dir)
    val t0 = java.time.Instant.ofEpochSecond(1700000000L)
    val t1 = java.time.Instant.ofEpochSecond(1700000000L + 256)
    val got = df2.filter(col("ts").between(lit(t0), lit(t1))).count()
    assert(got == base.filter(col("ts").between(lit(t0), lit(t1))).count())
    assert(fi2.lastListed >= 1 && fi2.lastListed < 16,
      s"timestamp band must prune: ${fi2.lastListed}/16")

    // maintain: fresh files recompute stats, carried files keep theirs —
    // pruning still exact afterwards
    Layout.zorderAppend(Seq((5L, 5L, -100L, new java.sql.Timestamp(1700000000L * 1000)))
      .toDF("a", "b", "c", "ts"), dir)
    val (m, rw, _) = Layout.zorderMaintain(spark, dir)
    assert(m == 1L && rw >= 1)
    val (df3, fi3) = ZTable.dataFrameWithIndex(spark, dir)
    assert(df3.filter(col("c") === -100L).count() == 1L,
      "the appended row must be found through a stat predicate")
    assert(fi3.lastListed >= 1 && fi3.lastListed < 16,
      "the c = -100 point lookup must prune to the rewritten tile")

    // compact re-lays-out and RECOMPUTES stats under the same declaration
    Layout.zorderCompact(spark, dir, nFiles = 8)
    val (hitC2, totC2) = Layout.zorderStatFiles(dir, "c", (0L, 1000L))
    assert(totC2 == 8 && hitC2 < 8, "stats survive a compact")

    // an all-null stat column records the EMPTY interval and always
    // prunes; rows still readable (stats only serve pruning)
    val dir2 = java.nio.file.Files.createTempDirectory("graft_zstatn").toString + "/t"
    val withNull = spark.range(256L)
      .select((col("id") / 16).cast("long").as("a"), (col("id") % 16).as("b"),
        lit(null).cast("long").as("c"))
    Layout.zorderInit(spark, withNull, dir2, "a", "b", nFiles = 4,
      statCols = Seq("c"))
    assert(Layout.zorderStatFiles(dir2, "c", (Long.MinValue, Long.MaxValue)) == ((0, 4)),
      "all-null stat columns prove no row matches any range predicate")
    assert(ZTable.dataFrame(spark, dir2).count() == 256L)

    // unsupported stat column types reject loudly at init (strings are
    // SUPPORTED since r15 — the prefix embedding; doubles are not)
    val dir3 = java.nio.file.Files.createTempDirectory("graft_zstatx").toString + "/t"
    val bad = intercept[IllegalArgumentException] {
      Layout.zorderInit(spark,
        withNull.withColumn("s", lit(1.5)), dir3, "a", "b", 4, statCols = Seq("s"))
    }
    assert(bad.getMessage.contains("unsupported type"))
  }

  test("sharded bloom sidecars ≡ single-file sidecar; ZTable as-of reads a retained generation with pruning and DVs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zshard").toString + "/t"
    val base = spark.range(64L * 64L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"),
        col("id").as("k"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 16,
      keepGenerations = 2)

    // single-file and 8-shard builds answer identically
    Layout.zorderBloomBuild(spark, dir, "k")
    val single = Layout.zorderLookupFiles(dir, "k", Seq(777L))
    Layout.zorderBloomBuild(spark, dir, "k", shards = 8)
    import scala.jdk.CollectionConverters._
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    val shardFiles = try ls.iterator().asScala
      .count(_.getFileName.toString.contains(".shard")) finally ls.close()
    assert(shardFiles == 8, s"expected 8 shard files, got $shardFiles")
    assert(Layout.zorderLookupFiles(dir, "k", Seq(777L)) == single,
      "sharded sidecar must answer exactly like the single file")
    assert(single._3 && single._1 <= 2, s"lookup must prune: $single")
    assert(Layout.zorderPointLookup(spark, dir, "k", Seq(777L)).count() == 1)

    // REVIEW PIN: a PARTIAL shard set (crashed build / racing reader /
    // mid-build mirror) must fall back to scanning every file — bloom
    // pruning may be LOST, never WRONG (a false negative here would be a
    // takedown silently missing rows)
    val ls2 = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    val oneShard = try ls2.iterator().asScala
      .filter(_.getFileName.toString.contains(".shard")).toSeq.head
      finally ls2.close()
    java.nio.file.Files.delete(oneShard)
    val (open, total, used) = Layout.zorderLookupFiles(dir, "k", Seq(777L))
    assert(!used && open == total,
      s"incomplete shard set must disable pruning, got ($open, $total, $used)")
    assert(Layout.zorderPointLookup(spark, dir, "k", Seq(777L)).count() == 1,
      "answers stay exact without the sidecar")
    Layout.zorderBloomBuild(spark, dir, "k", shards = 8) // restore

    // ZTable AS-OF: vector-delete a corner, then read generation 0
    // through the planner — the deleted rows are still there, and the
    // band filter still prunes via gen-0's manifest
    val (deleted, _) = Layout.zorderDeleteVectored(spark, dir, (4L, 11L), (4L, 11L))
    assert(deleted == 64L)
    assert(ZTable.dataFrame(spark, dir).count() == 4096L - 64)
    val asOf = ZTable.dataFrameAsOf(spark, dir, 0L)
    assert(asOf.count() == 4096L)
    assert(asOf.filter(col("a").between(4, 11) && col("b").between(4, 11))
      .count() == 64L, "time travel must still see the vector-deleted rows")
    val bad = intercept[IllegalArgumentException] {
      ZTable.dataFrameAsOf(spark, dir, 99L)
    }
    assert(bad.getMessage.contains("not retained"))
  }

  test("zorderAdvise: each lifecycle signal fires on the condition it names and clears after its recommended action") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zadv").toString + "/t"
    val base = spark.range(64L * 64L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 16)
    def fired(): Map[String, Boolean] =
      Layout.zorderAdvise(spark, dir, smallFileRows = 64L)
        .collect().map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(fired().forall(!_._2), s"a fresh table is healthy: ${fired()}")

    // landing → maintain
    Layout.zorderAppend(Seq((70L, 70L), (71L, 71L)).toDF("a", "b"), dir)
    assert(fired()("landing_files"))
    Layout.zorderMaintain(spark, dir)
    assert(!fired()("landing_files"))
    // the (70,70) append sits OUTSIDE the frozen 0..63 bounds → clamped
    // edge signal → compact re-freezes and clears it
    assert(fired()("clamped_edge_files"))

    // tombstones → materialize (threshold 10%): an UNALIGNED 28×28
    // corner — the inner 16×16 tile fully dies and DROPS from the
    // manifest (no tombstones), the boundary tiles carry ~528 tombstones
    // over ~3.8k surviving physical rows ≈ 14%
    Layout.zorderDeleteVectored(spark, dir, (0L, 27L), (0L, 27L))
    assert(fired()("tombstone_fraction"))
    Layout.zorderDvMaterialize(spark, dir)
    assert(!fired()("tombstone_fraction"))

    // compact clears the clamped-edge signal (re-frozen bounds)
    Layout.zorderCompact(spark, dir, nFiles = 16)
    assert(!fired()("clamped_edge_files"))

    // small files: a 16-file table of ~3k rows at threshold 5000 is all
    // small runs → bin-pack merges them and the signal clears
    val small = Layout.zorderAdvise(spark, dir, smallFileRows = 5000L)
      .collect().map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(small("small_file_runs"))
    Layout.zorderCompactSmall(spark, dir, targetRows = 5000L)
    val after = Layout.zorderAdvise(spark, dir, smallFileRows = 5000L)
      .collect().map(r => (r.getString(0), r.getBoolean(2), r.getDouble(1)))
    val runsAfter = after.find(_._1 == "small_file_runs").get
    assert(runsAfter._3 < small.size || !runsAfter._2 ||
      Layout.currentSpans(dir).size < 16,
      "bin-packing must shrink the small-run population")

    // bloom staleness: a table with NO sidecar reports nothing; after a
    // build it is clean; a maintain writes fresh files absent from the
    // carried sidecar → fires → an incremental rebuild clears it
    assert(!fired().getOrElse("bloom_stale_files", false))
    val keyed = Layout.zorderRead(spark, dir)
      .withColumn("k", col("a") * 64 + col("b"))
    // rebuild the table with a key column so the sidecar has a target
    val dir2 = java.nio.file.Files.createTempDirectory("graft_zadvb").toString + "/t"
    Layout.zorderInit(spark, keyed, dir2, "a", "b", nFiles = 8)
    def fired2(): Map[String, Boolean] =
      Layout.zorderAdvise(spark, dir2).collect()
        .map(r => r.getString(0) -> r.getBoolean(2)).toMap
    Layout.zorderBloomBuild(spark, dir2, "k")
    assert(!fired2()("bloom_stale_files"), "a fresh sidecar is complete")
    Layout.zorderAppend(Seq((100L, 1L, 9999L)).toDF("a", "b", "k"), dir2)
    Layout.zorderMaintain(spark, dir2)
    assert(fired2()("bloom_stale_files"),
      "files written after the build must surface as unpruned")
    Layout.zorderBloomBuild(spark, dir2, "k") // incremental: fills the gaps
    assert(!fired2()("bloom_stale_files"))
  }

  test("reader snapshot isolation: a pre-commit reader keeps answering across a maintain under retention >= 2; new readers see the new generation") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zsnap").toString + "/t"
    val base = spark.range(4096L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 16,
      keepGenerations = 2)
    // the reader plans against generation 0's concrete file list
    val reader = Layout.zorderRead(spark, dir)
    assert(reader.count() == 4096L)

    Layout.zorderAppend(Seq((5L, 5L), (6L, 6L)).toDF("a", "b"), dir)
    val (m, _, _) = Layout.zorderMaintain(spark, dir)
    assert(m == 2L && Layout.currentGen(dir) == Some(1L))

    // SNAPSHOT ISOLATION: the in-flight reader still answers from its
    // generation — retention >= 2 keeps gen-0's replaced files on disk
    // until the window moves past them
    assert(reader.count() == 4096L,
      "a pre-commit reader must keep answering its snapshot")
    // a fresh reader sees the maintained generation
    assert(Layout.zorderRead(spark, dir).count() == 4098L)
    // and a vectored delete behaves the same way: old reader unaffected
    val reader1 = Layout.zorderRead(spark, dir)
    // the (5,5) cell now holds TWO rows (grid + appended) — both go
    Layout.zorderDeleteVectored(spark, dir, (5L, 5L), (5L, 5L))
    assert(reader1.count() == 4098L, "DV commits are invisible to " +
      "in-flight readers (the DV anti-join binds at plan time)")
    assert(Layout.zorderRead(spark, dir).count() == 4096L)
  }

  test("ZTable: manifest-derived sizeInBytes lets Catalyst AUTO-broadcast a small z-table — no hint needed") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zbc").toString + "/t"
    val dim = spark.range(4096L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"))
    Layout.zorderInit(spark, dim, dir, "a", "b", nFiles = 4)
    val fact = spark.range(200000L).select((col("id") % 64).cast("long").as("a"))
    // NO broadcast() hint: the relation's sizeInBytes comes from the
    // manifest's byte lengths, well under the auto-broadcast threshold,
    // so Catalyst must pick BroadcastHashJoin on its own — the planner
    // integration paying off in join strategy, not just pruning
    val joined = fact.join(ZTable.dataFrame(spark, dir), Seq("a"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small z-table must auto-broadcast:\n${plan.take(2000)}")
    assert(joined.count() == 200000L * 64)
  }

  test("zorderWrite: arbitrary key domains (beyond 16 bits, negative) keep locality via scaling") {
    import spark.implicits._
    // keys far outside [0, 65535]: pre-scaling these would collide/misorder
    val df = spark.range(4096)
      .select(((col("id") / 64).cast("long") * 1000000L - 2000000L).as("a"),
        (col("id") % 64 * 3000000L).as("b"))
    val dir = java.nio.file.Files.createTempDirectory("graft_zwide").toString + "/t"
    Layout.zorderWrite(df, dir, "a", "b", nFiles = 4)
    val spans = Layout.fileSpans(spark, dir, "a", "b").cache()
    assert(spans.count() == 4)
    // each of the 4 tiles should span about half of each axis, not all of it
    val zOnA = Layout.touchedFraction(spans, "a_min", "a_max", -2000000L, -1000000L)
    val zOnB = Layout.touchedFraction(spans, "b_min", "b_max", 0L, 20000000L)
    assert(zOnA <= 0.75, s"pruning on a survives the wide domain: $zOnA")
    assert(zOnB <= 0.75, s"pruning on b survives the wide domain: $zOnB")
    assert(spark.read.parquet(dir).except(df).count() == 0)
    spans.unpersist()
  }

  test("ZTable: timestamp layout key never false-prunes — literal micros vs span seconds domains must not compare") {
    import spark.implicits._
    // layout spans record cast("long") = SECONDS for a timestamp column;
    // Catalyst filter literals arrive in internal MICROS. Narrowing across
    // that mismatch would prune ~every file; the index must instead skip
    // narrowing for non-integral layout keys (correct, just unpruned).
    val dir = java.nio.file.Files.createTempDirectory("graft_ztts").toString + "/t"
    val base = spark.range(1024)
      .select(timestamp_seconds(lit(1700000000L) + col("id") * 60).as("ts"),
        (col("id") % 64).as("b"), col("id").as("v"))
    Layout.zorderInit(spark, base, dir, "ts", "b", nFiles = 8)
    val (df, fi) = ZTable.dataFrameWithIndex(spark, dir)
    val cut = timestamp_seconds(lit(1700000000L + 512 * 60))
    assert(df.filter(col("ts") >= cut).count() == 512L,
      "timestamp filter must return every matching row (no false pruning)")
    assert(fi.lastListed == 8,
      s"timestamp bounds must not narrow (seconds-domain spans vs micros " +
        s"literal), listed ${fi.lastListed} of 8")
    // the INTEGRAL co-key still prunes as before
    val (df2, fi2) = ZTable.dataFrameWithIndex(spark, dir)
    assert(df2.filter(col("b") < 8).count() == 128L)
    assert(fi2.lastListed < 8, s"integral key must still prune, ${fi2.lastListed}")
  }

  test("reserved helper column names are rejected at every ingestion edge") {
    import spark.implicits._
    val good = spark.range(256).select(col("id").as("a"), (col("id") % 16).as("b"))
    val dir = java.nio.file.Files.createTempDirectory("graft_zres").toString + "/t"
    Layout.zorderInit(spark, good, dir, "a", "b", nFiles = 2)
    for (bad <- Seq("_pos", "_fname", "_zm", "_fid", "_z")) {
      val df = good.withColumn(bad, lit("user-data"))
      val e1 = intercept[IllegalArgumentException] {
        Layout.zorderInit(spark, df,
          java.nio.file.Files.createTempDirectory("graft_zresi").toString + "/t",
          "a", "b", nFiles = 2)
      }
      assert(e1.getMessage.contains(bad))
      intercept[IllegalArgumentException] { Layout.zorderAppend(df, dir) }
      intercept[IllegalArgumentException] { Layout.zorderUpsert(spark, df, dir) }
      intercept[IllegalArgumentException] {
        Layout.zorderWrite(df,
          java.nio.file.Files.createTempDirectory("graft_zresw").toString + "/t",
          "a", "b", nFiles = 2)
      }
    }
    // the hilbert edges guard too, including their own `_h` helper
    val withH = good.withColumn("_h", lit(1L))
    intercept[IllegalArgumentException] {
      Layout.hilbertWrite(withH,
        java.nio.file.Files.createTempDirectory("graft_zresh").toString + "/t",
        "a", "b", nFiles = 2)
    }
    intercept[IllegalArgumentException] {
      Layout.hilbertWrite3(withH,
        java.nio.file.Files.createTempDirectory("graft_zresh3").toString + "/t",
        "a", "b", "b", nFiles = 2)
    }
    // the guard must not have corrupted the live table
    assert(ZTable.dataFrame(spark, dir).count() == 256L)
    // a name no read or write injects is the user's: it round-trips
    val live = good.withColumn("_live_fname", concat(lit("f"), col("a")))
    val liveDir = java.nio.file.Files.createTempDirectory("graft_zlive").toString + "/t"
    Layout.zorderInit(spark, live, liveDir, "a", "b", nFiles = 2)
    val back = ZTable.dataFrame(spark, liveDir)
    assert(back.columns.contains("_live_fname"))
    assert(back.select("a", "b", "_live_fname").collect().toSet ==
      live.select("a", "b", "_live_fname").collect().toSet)
  }

  test("manifest-persisted schema: clean reads plan with ZERO footer fetches; evolution falls back; compact heals") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles}
    val dir = java.nio.file.Files.createTempDirectory("graft_zsch").toString + "/t"
    val base = spark.range(512)
      .select(col("id").as("a"), (col("id") % 16).as("b"),
        concat(lit("v"), col("id")).as("v"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 4)
    val (_, man0) = Layout.currentManifest(dir)
    assert(man0.schemaJson.isDefined, "init must persist the schema")
    // the hard proof of zero footer reads at PLANNING time: MOVE every
    // data file aside, derive the DataFrame (schema + plan), restore,
    // then execute — any footer read throws FileNotFound at derive time.
    // (Moving, not chmod 000: POSIX permission bits don't apply to uid 0,
    // and this suite runs as root in CI — a permissions-based proof would
    // pass even if planning read footers.)
    val dataFiles = Layout.currentSpans(dir).map(s =>
      java.nio.file.Paths.get(dir).toAbsolutePath.resolve(s.file))
    def aside(p: java.nio.file.Path) =
      p.resolveSibling(p.getFileName.toString + ".aside")
    dataFiles.foreach(p => JFiles.move(p, aside(p)))
    val planned =
      try ZTable.dataFrame(spark, dir)
      finally dataFiles.foreach(p => JFiles.move(aside(p), p))
    assert(planned.schema.fieldNames.toSeq == Seq("a", "b", "v"))
    assert(planned.count() == 512L)
    // same-schema maintain keeps the persisted schema
    Layout.zorderAppend(spark.range(512, 600)
      .select(col("id").as("a"), (col("id") % 16).as("b"),
        concat(lit("v"), col("id")).as("v")), dir)
    Layout.zorderMaintain(spark, dir)
    val (_, man1) = Layout.currentManifest(dir)
    assert(!man1.mixedSchema && man1.schemaJson.isDefined)
    assert(ZTable.dataFrame(spark, dir).schema == planned.schema)
    // schema evolution → mixed generation drops the header, merged-footer
    // fallback still reads the union schema
    Layout.zorderAppend(spark.range(600, 640)
      .select(col("id").as("a"), (col("id") % 16).as("b"),
        concat(lit("v"), col("id")).as("v"), lit(1L).as("extra")), dir)
    Layout.zorderMaintain(spark, dir)
    val (_, man2) = Layout.currentManifest(dir)
    assert(man2.mixedSchema && man2.schemaJson.isEmpty,
      "a mixed generation must not claim a single schema")
    val evolved = ZTable.dataFrame(spark, dir)
    assert(evolved.columns.contains("extra") && evolved.count() == 640L)
    // compact heals to homogeneous and re-persists
    Layout.zorderCompact(spark, dir, nFiles = 4)
    val (_, man3) = Layout.currentManifest(dir)
    assert(!man3.mixedSchema && man3.schemaJson.isDefined)
    val healed = ZTable.dataFrame(spark, dir)
    assert(healed.columns.contains("extra") && healed.count() == 640L)
  }

  test("ZTable: bloom sidecar prunes point/IN predicates inside the planner (r14)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ztbl").toString + "/t"
    val base = spark.range(4096L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"),
        col("id").as("k"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 8)
    Layout.zorderBloomBuild(spark, dir, "k")
    // k is NOT a layout key, so span bounds can't narrow — any pruning
    // here is the sidecar's
    val (df1, fi1) = ZTable.dataFrameWithIndex(spark, dir)
    assert(df1.filter(col("k") === 777L).count() == 1L)
    assert(fi1.lastListed >= 1 && fi1.lastListed <= 3,
      s"equality on the bloomed key must prune to ~1 file, " +
        s"listed ${fi1.lastListed} of 8")
    // IN-list (Catalyst In): any admitted probe opens the file
    val (df2, fi2) = ZTable.dataFrameWithIndex(spark, dir)
    assert(df2.filter(col("k").isin(5L, 700L, 4000L)).count() == 3L)
    assert(fi2.lastListed < 8, s"IN must prune, listed ${fi2.lastListed}")
    // a large IN crosses the optimizer's InSet threshold — same pruning
    val (df3, fi3) = ZTable.dataFrameWithIndex(spark, dir)
    val many = (0 until 15).map(i => i * 64L)
    assert(df3.filter(col("k").isin(many: _*)).count() == 15L)
    assert(fi3.lastListed < 8, s"InSet must prune, listed ${fi3.lastListed}")
    // absent value: bloom may prune to zero files; result exactly empty
    val (df4, fi4) = ZTable.dataFrameWithIndex(spark, dir)
    assert(df4.filter(col("k") === 999999L).count() == 0L)
    assert(fi4.lastListed <= 1)
    // a column with NO sidecar never bloom-prunes (correct, unpruned)
    val (df5, fi5) = ZTable.dataFrameWithIndex(spark, dir)
    assert(df5.filter(col("b") === 7L).count() == 64L)
    // (b IS a layout key, so span narrowing may prune — just assert exact)
    val _ = fi5
    // after a maintain WITHOUT a sidecar rebuild: fresh files are absent
    // from the carried bloom → always open; results stay exact
    Layout.zorderAppend(Seq((200L, 1L, 500000L)).toDF("a", "b", "k"), dir)
    Layout.zorderMaintain(spark, dir)
    val (df6, _) = ZTable.dataFrameWithIndex(spark, dir)
    assert(df6.filter(col("k") === 500000L).count() == 1L,
      "a fresh file absent from the carried sidecar must still be read")
    assert(df6.filter(col("k") === 777L).count() == 1L)
  }

  test("ZTable: disjunctive (OR) predicates prune via per-span may-match (r14)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ztor").toString + "/t"
    val base = spark.range(64L * 64L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 16)
    // two disjoint corner bands as ONE OR filter: the conjunctive
    // bounds path can't use it, the may-match walk prunes to both corners
    val (df1, fi1) = ZTable.dataFrameWithIndex(spark, dir)
    val twoCorners = (col("a") < 8 && col("b") < 8) ||
      (col("a") >= 56 && col("b") >= 56)
    assert(df1.filter(twoCorners).count() == 128L)
    assert(fi1.lastListed < 16,
      s"OR of two corner bands must prune, listed ${fi1.lastListed} of 16")
    // OR with one unboundable branch admits everything (never wrong)
    val (df2, fi2) = ZTable.dataFrameWithIndex(spark, dir)
    assert(df2.filter(col("a") < 8 || (col("a") + col("b")) === 126).count() ==
      8 * 64 + 1L)
    assert(fi2.lastListed == 16, "an unboundable OR branch must admit all")
    // OR entirely out of domain lists zero files
    val (df3, fi3) = ZTable.dataFrameWithIndex(spark, dir)
    assert(df3.filter(col("a") > 1000L || col("a") < -5L).count() == 0L)
    assert(fi3.lastListed == 0)
  }

  test("ManifestAggs: count/min/max fold to the manifest with zero file reads; filters/DVs/unfoldables block (r14)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zcnt").toString + "/t"
    val base = spark.range(4096L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"),
        col("id").as("k"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 8)
    graft.plans.ManifestAggs.enable(spark)
    try {
      def optimized(df: org.apache.spark.sql.DataFrame): String =
        df.queryExecution.optimizedPlan.toString
      val df = ZTable.dataFrame(spark, dir)
      val counted = df.groupBy().count()
      assert(counted.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
        s"count(*) must fold to metadata:\n${optimized(counted)}")
      assert(counted.head().getLong(0) == 4096L)
      assert(df.count() == 4096L) // the Dataset.count() path folds too
      // a Filter changes cardinality: the fold must NOT fire
      val filtered = df.filter(col("a") < 8).groupBy().count()
      assert(!optimized(filtered).contains("LocalRelation"))
      assert(filtered.head().getLong(0) == 512L)
      // min/max over span-covered columns fold too — spans are exact
      val mm = df.agg(min(col("a")).as("lo"), max(col("b")).as("hi"),
        count(lit(1)).as("n"))
      assert(mm.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      val mmRow = mm.head()
      assert(mmRow.getLong(0) == 0L && mmRow.getLong(1) == 63L &&
        mmRow.getLong(2) == 4096L)
      // any other aggregate blocks the rewrite (answer exact either way)
      assert(df.agg(countDistinct(col("a"))).head().getLong(0) == 64L)
      val summed = df.agg(min(col("a")), sum(col("b")))
      assert(!summed.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      // min/max of a column the manifest doesn't cover blocks too
      assert(!df.agg(max(col("k"))).queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      assert(df.agg(max(col("k"))).head().getLong(0) == 4095L)
      // ATTRIBUTE IDENTITY, not name (r14 review fix): an expression or
      // another column ALIASED to a span-covered name must not resolve to
      // the manifest's extremes — the fold requires the relation's own
      // attribute passed through unchanged
      val doubled = df.withColumn("a", col("a") * 2).agg(max(col("a")))
      assert(!doubled.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      assert(doubled.head().getLong(0) == 126L)
      val renamed = df.select(col("b").as("a")).agg(max(col("a")))
      assert(!renamed.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      assert(renamed.head().getLong(0) == 63L)
      // a plain column-pruning select still folds
      val selected = df.select("a").agg(max(col("a")))
      assert(selected.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      assert(selected.head().getLong(0) == 63L)
      // a tombstoned generation must never fold (the physical total would
      // overcount) — the DV anti-join plan doesn't match, and the index
      // check backstops it; the answer stays exact
      Layout.zorderDeleteVectored(spark, dir, (0L, 3L), (0L, 63L))
      val live = ZTable.dataFrame(spark, dir)
      assert(live.count() == 4096L - 256L)
      // after materialize the table is clean again: folds at the new total
      Layout.zorderDvMaterialize(spark, dir)
      val clean = ZTable.dataFrame(spark, dir).groupBy().count()
      assert(optimized(clean).contains("LocalRelation"))
      assert(clean.head().getLong(0) == 4096L - 256L)
      // STAT-column min/max: spans hold Catalyst-internal micros, so a
      // timestamp extreme folds to the exact value the scan returns
      val tsDir = java.nio.file.Files.createTempDirectory("graft_zcntts")
        .toString + "/t"
      val tsBase = spark.range(512L)
        .select(col("id").as("a"), (col("id") % 16).as("b"),
          timestamp_seconds(lit(1700000000L) + col("id") * 60).as("ts"))
      Layout.zorderInit(spark, tsBase, tsDir, "a", "b", nFiles = 4,
        statCols = Seq("ts"))
      val tdf = ZTable.dataFrame(spark, tsDir)
      val tsAgg = tdf.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
      assert(tsAgg.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      val want = tsBase.agg(min(col("ts")), max(col("ts"))).head()
      assert(tsAgg.head() == want,
        "metadata timestamp extremes must equal the scan's")
    } finally graft.plans.ManifestAggs.disable(spark)
  }

  test("CDC follower: seed + exactly-once apply tracks the primary through append/delete/upsert/compact; crash-replay is idempotent (r14)") {
    import spark.implicits._
    val pri = java.nio.file.Files.createTempDirectory("graft_zcdcp").toString + "/t"
    val fol = java.nio.file.Files.createTempDirectory("graft_zcdcf").toString + "/t"
    val base = spark.range(2048L)
      .select((col("id") / 32).cast("long").as("a"), (col("id") % 64).as("b"),
        col("id").as("k"), concat(lit("v"), col("id")).as("v"))
    Layout.zorderInit(spark, base, pri, "a", "b", nFiles = 4,
      keepGenerations = 8) // retention sized to the poll cadence
    val cursor0 = Layout.zorderCdcSeed(spark, pri, fol, nFiles = 4)
    assert(cursor0 == 0L)
    def rows(path: String): Set[(Long, String)] =
      Layout.zorderRead(spark, path).select("k", "v")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(fol) == rows(pri), "seed snapshot equals the primary")

    // a MULTI-COMMIT poll: append+maintain, vectored delete, and a keyed
    // upsert (an update = delete+insert of the same k) land as one apply
    Layout.zorderAppend((3000L until 3100L)
      .map(k => (k % 64, (k / 64) % 64, k, s"v$k")).toDF("a", "b", "k", "v"), pri)
    Layout.zorderMaintain(spark, pri)
    Layout.zorderDeleteVectoredByKey(spark, pri, "k", (0L until 32L).toSeq)
    Layout.zorderUpsert(spark,
      Seq((7L, 7L, 999999L, "updated")).toDF("a", "b", "k", "v"), pri)
    val (ins1, del1, cur1) = Layout.zorderCdcApply(spark, pri, fol, "k")
    assert(cur1 > cursor0 && ins1 > 0 && del1 > 0)
    assert(rows(fol) == rows(pri), "apply reconstructs the primary exactly")

    // a net-zero poll (compact rewrites every file, rows unchanged):
    // carried rows cancel in the feed, the cursor still advances
    Layout.zorderCompact(spark, pri, nFiles = 4)
    val (ins2, del2, cur2) = Layout.zorderCdcApply(spark, pri, fol, "k")
    assert(ins2 == 0L && del2 == 0L && cur2 > cur1,
      s"compaction must net to zero: ($ins2, $del2)")
    assert(rows(fol) == rows(pri))

    // CRASH-REPLAY idempotence: apply a poll, then roll the cursor back
    // (the crash window between apply and cursor write) and re-apply —
    // delete-then-insert by key must land exactly one copy
    Layout.zorderAppend(Seq((9L, 9L, 5000L, "once")).toDF("a", "b", "k", "v"), pri)
    Layout.zorderMaintain(spark, pri)
    val (_, _, cur3) = Layout.zorderCdcApply(spark, pri, fol, "k")
    java.nio.file.Files.write(java.nio.file.Paths.get(fol, "cdc-cursor"),
      cur2.toString.getBytes("UTF-8")) // simulate the lost cursor write
    val (_, _, cur4) = Layout.zorderCdcApply(spark, pri, fol, "k")
    assert(cur4 == cur3)
    assert(Layout.zorderRead(spark, fol).filter(col("k") === 5000L)
      .count() == 1L, "replayed poll must land exactly one copy")
    assert(rows(fol) == rows(pri))

    // a caught-up apply is a no-op; an unseeded follower refuses loudly
    assert(Layout.zorderCdcApply(spark, pri, fol, "k") == ((0L, 0L, cur4)))
    val e = intercept[IllegalArgumentException] {
      Layout.zorderCdcApply(spark, pri,
        java.nio.file.Files.createTempDirectory("graft_zcdcu").toString + "/t", "k")
    }
    assert(e.getMessage.contains("seeded"))

    // the OTHER crash window (r14 review): append landed on the follower
    // but maintain/cursor were lost — the crashed copies sit in landing/,
    // invisible to the vectored delete. The replay must fold them first,
    // then tombstone, then re-insert → exactly one copy
    Layout.zorderAppend(Seq((11L, 11L, 6000L, "crashwin"))
      .toDF("a", "b", "k", "v"), pri)
    Layout.zorderMaintain(spark, pri)
    val (_, _, cur5) = Layout.zorderCdcApply(spark, pri, fol, "k")
    // reproduce the crashed run's exact state: its insert rows in
    // landing/ and the cursor never advanced
    Layout.zorderAppend(Seq((11L, 11L, 6000L, "crashwin"))
      .toDF("a", "b", "k", "v"), fol)
    java.nio.file.Files.write(java.nio.file.Paths.get(fol, "cdc-cursor"),
      cur4.toString.getBytes("UTF-8"))
    val (_, _, cur6) = Layout.zorderCdcApply(spark, pri, fol, "k")
    assert(cur6 == cur5)
    assert(Layout.zorderRead(spark, fol).filter(col("k") === 6000L)
      .count() == 1L, "a landing-window crash replay must land ONE copy")
    assert(rows(fol) == rows(pri))

    // a null-keyed feed row refuses BEFORE the cursor moves (silent
    // divergence otherwise: a null key can never be deleted back out)
    Layout.zorderAppend(Seq((12L, 12L, Option.empty[Long], Some("nullk")))
      .toDF("a", "b", "k", "v"), pri)
    Layout.zorderMaintain(spark, pri)
    val e2 = intercept[IllegalArgumentException] {
      Layout.zorderCdcApply(spark, pri, fol, "k")
    }
    assert(e2.getMessage.contains("NULL"))
    assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(fol, "cdc-cursor")), "UTF-8").trim.toLong
      == cur6, "a refused poll must not advance the cursor")
  }

  test("zorderMirror: a bloom sidecar built AFTER the replica is current still ships on the next sync") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles}
    val pri = java.nio.file.Files.createTempDirectory("graft_zmbp").toString + "/t"
    val rep = java.nio.file.Files.createTempDirectory("graft_zmbr").toString + "/t"
    val base = spark.range(4096)
      .select(col("id").as("a"), (col("id") % 64).as("b"), col("id").as("k"))
    Layout.zorderInit(spark, base, pri, "a", "b", nFiles = 8)
    Layout.zorderMirror(pri, rep)
    assert(Layout.zorderMirror(pri, rep) == ((0, 0)))
    // sidecar lands on the primary AFTER the replica reached this
    // generation — the up-to-date early return must still sync it
    Layout.zorderBloomBuild(spark, pri, "k")
    assert(Layout.zorderMirror(pri, rep) == ((0, 0)),
      "generation unchanged: still the no-op fast path")
    import scala.jdk.CollectionConverters._
    val ls = JFiles.list(java.nio.file.Paths.get(pri))
    val priBlooms = try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("bloom-") && n.endsWith(".tsv")).toList
      finally ls.close()
    assert(priBlooms.nonEmpty)
    priBlooms.foreach { n =>
      assert(JFiles.isRegularFile(java.nio.file.Paths.get(rep).resolve(n)),
        s"replica must receive late-built sidecar $n")
    }
    // and the replica's point lookups actually prune with it
    val (open, total, used) = Layout.zorderLookupFiles(rep, "k", Seq(7L))
    assert(used && open < total, s"replica lookup unpruned: ($open, $total, $used)")

    // a REBUILD at the same generation reuses the same sidecar NAME with
    // different content (here: different bits) — the up-to-date fast path
    // must re-ship on content, not existence (r15, ADVICE fix)
    Layout.zorderBloomBuild(spark, pri, "k", bits = 1 << 12)
    assert(Layout.zorderMirror(pri, rep) == ((0, 0)))
    priBlooms.foreach { n =>
      val p = JFiles.readAllBytes(java.nio.file.Paths.get(pri).resolve(n))
      val r = JFiles.readAllBytes(java.nio.file.Paths.get(rep).resolve(n))
      assert(java.util.Arrays.equals(p, r),
        s"replica sidecar $n must match the rebuilt primary content")
    }
  }

  test("CDC poll intent: a crashed poll replays PINNED to its target generation — a canceling primary commit cannot strand phantom rows (r15)") {
    import spark.implicits._
    val pri = java.nio.file.Files.createTempDirectory("graft_zinp").toString + "/t"
    val fol = java.nio.file.Files.createTempDirectory("graft_zinf").toString + "/t"
    val base = spark.range(256L)
      .select((col("id") / 8).cast("long").as("a"), (col("id") % 8).as("b"),
        col("id").as("k"), concat(lit("v"), col("id")).as("v"))
    Layout.zorderInit(spark, base, pri, "a", "b", nFiles = 4,
      keepGenerations = 8)
    Layout.zorderCdcSeed(spark, pri, fol, nFiles = 4)
    // gen1 on the primary: one new key arrives
    Layout.zorderAppend(Seq((13L, 3L, 7777L, "phantom"))
      .toDF("a", "b", "k", "v"), pri)
    Layout.zorderMaintain(spark, pri)
    // simulate a poll that CRASHED mid-apply: intent pinned at gen1, the
    // insert slice already landed on the follower (still in landing/ —
    // the crash fell before its maintain), cursor never advanced
    java.nio.file.Files.write(java.nio.file.Paths.get(fol, "cdc-intent"),
      "1".getBytes("UTF-8"))
    Layout.zorderAppend(Seq((13L, 3L, 7777L, "phantom"))
      .toDF("a", "b", "k", "v"), fol)
    // the primary then CANCELS the key before the follower recovers —
    // over the widened range 0→2 the key nets to zero: an unpinned
    // replay would never see it, and the crashed copy would live forever
    Layout.zorderDeleteVectoredByKey(spark, pri, "k", Seq(7777L))
    assert(Layout.zorderChanges(spark, pri, 0L, 2L)
        .filter(col("k") === 7777L).count() == 0L,
      "scenario precondition: the net 0→2 feed must omit the canceled key")
    // replay: pinned to gen1 → repairs to exactly one copy, cursor = 1
    val (_, _, c1) = Layout.zorderCdcApply(spark, pri, fol, "k")
    assert(c1 == 1L, "the replay must advance only to the pinned generation")
    assert(Layout.zorderRead(spark, fol).filter(col("k") === 7777L)
      .count() == 1L, "pinned replay lands exactly one copy")
    assert(!java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(fol, "cdc-intent")), "intent clears after the poll")
    // next poll picks up the primary's cancel — the phantom is gone
    val (_, d2, c2) = Layout.zorderCdcApply(spark, pri, fol, "k")
    assert(c2 == 2L && d2 == 1L)
    def rows(path: String): Set[(Long, String)] =
      Layout.zorderRead(spark, path).select("k", "v")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(fol) == rows(pri), "follower converges to the primary exactly")
    // a completed-poll leftover (crash between cursor write and intent
    // delete): the marker equals the cursor → cleared, fresh poll no-ops
    java.nio.file.Files.write(java.nio.file.Paths.get(fol, "cdc-intent"),
      c2.toString.getBytes("UTF-8"))
    assert(Layout.zorderCdcApply(spark, pri, fol, "k") == ((0L, 0L, c2)))
    assert(!java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(fol, "cdc-intent")))
    // PRIMARY IDENTITY: a follower of a different table's life (the
    // primary deleted + re-initialized restarts generation numbers) must
    // refuse loudly, never mix histories (r15 review hardening)
    java.nio.file.Files.write(java.nio.file.Paths.get(fol, "cdc-primary-id"),
      "not-the-primary".getBytes("UTF-8"))
    val eId = intercept[IllegalArgumentException] {
      Layout.zorderCdcApply(spark, pri, fol, "k")
    }
    assert(eId.getMessage.contains("DIFFERENT primary"))
  }

  test("CDC apply above the churn threshold: the distributed-key path matches the collected path; DataFrame-keys vectored delete (r15)") {
    import spark.implicits._
    val pri = java.nio.file.Files.createTempDirectory("graft_zjop").toString + "/t"
    val fol = java.nio.file.Files.createTempDirectory("graft_zjof").toString + "/t"
    val base = spark.range(1024L)
      .select((col("id") / 16).cast("long").as("a"), (col("id") % 16).as("b"),
        col("id").as("k"), concat(lit("v"), col("id")).as("v"))
    Layout.zorderInit(spark, base, pri, "a", "b", nFiles = 4,
      keepGenerations = 8)
    Layout.zorderCdcSeed(spark, pri, fol, nFiles = 4)
    // a bulk restatement: delete a band, append a tail, update some keys
    Layout.zorderDeleteVectoredByKey(spark, pri, "k", (0L until 200L).toSeq)
    Layout.zorderAppend((5000L until 5300L)
      .map(k => (k % 64, k % 16, k, s"v$k")).toDF("a", "b", "k", "v"), pri)
    Layout.zorderMaintain(spark, pri)
    Layout.zorderUpsert(spark,
      (300L until 350L).map(k => (k / 16, k % 16, k, s"u$k"))
        .toDF("a", "b", "k", "v"), pri)
    // collectThreshold = 0 forces EVERY poll through the distributed
    // path: keys never land on the driver, results must be identical
    val (ins, del, _) =
      Layout.zorderCdcApply(spark, pri, fol, "k", collectThreshold = 0L)
    assert(ins > 0 && del > 0)
    def rows(path: String): Set[(Long, String)] =
      Layout.zorderRead(spark, path).select("k", "v")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(fol) == rows(pri),
      "the join-path apply must reconstruct the primary exactly")
    // caught-up distributed poll is a no-op too
    val (i2, d2, _) =
      Layout.zorderCdcApply(spark, pri, fol, "k", collectThreshold = 0L)
    assert(i2 == 0L && d2 == 0L)

    // the DataFrame-keys overload directly: distributed delete ≡ driver
    // keys, repeat no-op, single-column contract enforced
    val dir = java.nio.file.Files.createTempDirectory("graft_zjdf").toString + "/t"
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 4)
    val doomed = spark.range(100L, 300L).select(col("id").as("k"))
    val (n1, f1) = Layout.zorderDeleteVectoredByKey(spark, dir, "k", doomed)
    assert(n1 == 200L && f1 >= 1)
    assert(Layout.zorderRead(spark, dir).count() == 1024L - 200L)
    assert(Layout.zorderRead(spark, dir)
      .filter(col("k").between(100L, 299L)).count() == 0L)
    assert(Layout.zorderDeleteVectoredByKey(spark, dir, "k", doomed)
      == ((0L, 0)), "repeat distributed delete must be an exact no-op")
    intercept[IllegalArgumentException] {
      Layout.zorderDeleteVectoredByKey(spark, dir, "k",
        spark.range(3).select(col("id"), col("id").as("x")))
    }
  }

  test("zorderOptimize: the auto-pilot converges a dirtied table to an all-clear census, one bounded action per call (r15)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zopt").toString + "/t"
    val base = spark.range(2048L)
      .select((col("id") / 32).cast("long").as("a"), (col("id") % 32).as("b"),
        col("id").as("k"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 8,
      keepGenerations = 2)
    Layout.zorderBloomBuild(spark, dir, "k")
    // dirty the table every way the census watches: tombstones (well
    // above the fraction), unmaintained landing rows (whose fold will
    // also stale the bloom sidecar and clamp the frozen bounds)
    Layout.zorderDeleteVectored(spark, dir, (0L, 15L), (0L, 31L))
    Layout.zorderAppend(spark.range(9000L, 9400L)
      .select((col("id") / 32).cast("long").as("a"), (col("id") % 32).as("b"),
        col("id").as("k")), dir)
    val expectKeys = ((512L until 2048L) ++ (9000L until 9400L)).toSet
    val actions = scala.collection.mutable.ListBuffer.empty[(String, String)]
    var step = Layout.zorderOptimize(spark, dir, smallFileRows = 64L)
    var guard = 0
    while (step.isDefined && guard < 16) {
      actions += step.get; guard += 1
      step = Layout.zorderOptimize(spark, dir, smallFileRows = 64L)
    }
    assert(step.isEmpty && guard < 16,
      s"the auto-pilot must converge, ran: ${actions.mkString(", ")}")
    // all-clear census, answers unchanged
    val census = Layout.zorderAdvise(spark, dir, smallFileRows = 64L)
      .filter(col("fire")).collect()
    assert(census.isEmpty, s"census still fires: ${census.mkString(", ")}")
    assert(actions.map(_._2).contains("zorderMaintain"),
      "the landing signal must have executed a maintain")
    assert(Layout.zorderRead(spark, dir).select("k")
      .collect().map(_.getLong(0)).toSet == expectKeys,
      "the auto-pilot must never change answers")
    // idempotent on a clean table
    assert(Layout.zorderOptimize(spark, dir, smallFileRows = 64L).isEmpty)
  }

  test("string-domain bloom sidecars: point lookups on string keys prune in the planner and the explicit API; wrong-domain probes never prune (r15)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zsb").toString + "/t"
    // doc-id-shaped string keys, decorrelated from the layout (reversed
    // digits) so spans are useless and any cut is the bitset's
    val base = spark.range(2048L)
      .select((col("id") / 32).cast("long").as("a"), (col("id") % 32).as("b"),
        col("id").as("k"),
        concat(lit("doc-"), reverse(lpad(col("id").cast("string"), 6, "0")))
          .as("doc_id"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 8)
    val (scanned, _) = Layout.zorderBloomBuild(spark, dir, "doc_id")
    assert(scanned == 8, "the string build must scan the fresh files")
    def ref(i: Long): String = "doc-" + f"$i%06d".reverse
    val probes = Seq(ref(7), ref(901), ref(1777), "doc-absent")
    // explicit API: pruned file census + exact rows
    val (open, total, used) = Layout.zorderLookupFilesStr(dir, "doc_id", probes)
    assert(used && open < total, s"string bloom must prune: $open/$total")
    val got = Layout.zorderPointLookupStr(spark, dir, "doc_id", probes)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(got == Set(7L, 901L, 1777L))
    // the LONG-probe APIs see a wrong-domain sidecar as NO sidecar
    // (probing long positions against string bitsets would false-prune)
    val (openL, totalL, usedL) = Layout.zorderLookupFiles(dir, "doc_id", Seq(7L))
    assert(!usedL && openL == totalL)
    // planner integration: equality and IN on the string column prune
    // the real listing and answer exactly
    val (df, fi) = ZTable.dataFrameWithIndex(spark, dir)
    val one = df.filter(col("doc_id") === ref(901)).select("k")
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(901L))
    assert(fi.lastListed > 0 && fi.lastListed < fi.inputFiles.length,
      s"string equality must prune the planner listing: " +
        s"${fi.lastListed}/${fi.inputFiles.length}")
    val (df2, fi2) = ZTable.dataFrameWithIndex(spark, dir)
    val in = df2.filter(col("doc_id").isin(probes: _*)).select("k")
    assert(in.collect().map(_.getLong(0)).toSet == Set(7L, 901L, 1777L))
    assert(fi2.lastListed < fi2.inputFiles.length,
      "string IN must prune the planner listing")
    // takedown by key keeps working (its bloom narrowing falls back to
    // all files under the wrong-domain sidecar, correct and unpruned)
    assert(Layout.zorderDeleteVectoredByKey(spark, dir, "k", Seq(901L))._1 == 1L)
    assert(Layout.zorderRead(spark, dir).filter(col("k") === 901L).count() == 0L)
    // STRING-KEY takedown (the GDPR-by-URL shape): bloom-bounded
    // tombstoning on the string key itself, repeat an exact no-op
    val doomed = Seq(ref(7), ref(1777), "doc-never-existed")
    val (openD, totalD, usedD) =
      Layout.zorderLookupFilesStr(dir, "doc_id", doomed)
    assert(usedD && openD < totalD)
    val (nDel, fTomb) =
      Layout.zorderDeleteVectoredByKeyStr(spark, dir, "doc_id", doomed)
    assert(nDel == 2L && fTomb >= 1 && fTomb <= openD,
      s"string takedown must be bloom-bounded: $nDel rows, $fTomb <= $openD files")
    assert(Layout.zorderRead(spark, dir)
      .filter(col("doc_id").isin(doomed: _*)).count() == 0L)
    assert(Layout.zorderDeleteVectoredByKeyStr(spark, dir, "doc_id", doomed)
      == ((0L, 0)), "repeat string takedown must be an exact no-op")
    assert(Layout.zorderRead(spark, dir).count() == 2048L - 3L) // 901 + 2 strings
  }

  test("manifest v3: string stats prune in the planner via the prefix embedding; null counters prune IsNull/IsNotNull; v2 manifests still parse (r15)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zstr").toString + "/t"
    // b ≡ a makes z monotone in id, so the 4 files are exact id quarters
    // (deterministic layout for the pruning counts below). s is a
    // zero-padded label ordered like a (tight per-file ranges); null for
    // the top quarter, so exactly one file is ALL-null on s. t shares an
    // 8-byte prefix across every row — the tie case where strict
    // comparisons MUST relax instead of false-pruning
    val base = spark.range(1024L)
      .select(col("id").as("a"), col("id").as("b"),
        when(col("id") >= 768L, lit(null))
          .otherwise(lpad(col("id").cast("string"), 6, "0")).as("s"),
        concat(lit("aaaaaaaa"), lpad(col("id").cast("string"), 6, "0")).as("t"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 8,
      statCols = Seq("s", "t"))
    def audited(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame):
        (Long, Int, Int) = {
      val (df, fi) = ZTable.dataFrameWithIndex(spark, dir)
      val n = f(df).count()
      (n, fi.lastListed, fi.inputFiles.length)
    }
    // string RANGE predicate prunes through the Prefix8-embedded spans
    val (n1, listed1, total1) =
      audited(_.filter(col("s") >= "000100" && col("s") <= "000299"))
    assert(n1 == 200L && listed1 > 0 && listed1 < total1,
      s"string band must prune: $listed1/$total1")
    // equality point prunes to the file(s) whose label span covers it
    // (≤2 — range-partitioner boundary jitter can split a value's
    // neighborhood across two adjacent files)
    val (n2, listed2, _) = audited(_.filter(col("s") === "000500"))
    assert(n2 == 1L && listed2 >= 1 && listed2 <= 2,
      s"string point must prune to the covering file(s): $listed2")
    // PREFIX TIES: every t shares its first 8 bytes, so t's spans are a
    // single embedded point — strict > must relax (admit all), never
    // false-prune; the answer stays exact via the residual filter
    val (n3, _, _) = audited(_.filter(col("t") > "aaaaaaaa000500"))
    assert(n3 == 523L, s"prefix-tied strict compare must stay exact: $n3")
    // IsNotNull prunes the all-null file; IsNull prunes the no-null files
    val (n4, listed4, total4) = audited(_.filter(col("s").isNotNull))
    assert(n4 == 768L && listed4 < total4,
      s"IsNotNull must prune the all-null file: $listed4/$total4")
    val (n5, listed5, total5) = audited(_.filter(col("s").isNull))
    assert(n5 == 256L && listed5 < total5,
      s"IsNull must prune zero-null files: $listed5/$total5")
    // count(col) folds from the null counters with zero tasks
    graft.plans.ManifestAggs.enable(spark)
    try {
      val cnt = ZTable.dataFrame(spark, dir).agg(count(col("s")).as("n"))
      assert(cnt.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
        "count(col) must fold to metadata on a v3 manifest")
      assert(cnt.head().getLong(0) == 768L)
      // count(NULL) is 0, never the row count — even with NullPropagation
      // disabled, the rule's non-null literal guard holds (ADVICE fix)
      val prev = spark.conf.getOption("spark.sql.optimizer.excludedRules")
      spark.conf.set("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.NullPropagation")
      try {
        val nullCnt = ZTable.dataFrame(spark, dir)
          .agg(count(lit(null)).as("n")).head().getLong(0)
        assert(nullCnt == 0L, s"count(NULL) must be 0, got $nullCnt")
      } finally prev match {
        case Some(v) => spark.conf.set("spark.sql.optimizer.excludedRules", v)
        case None => spark.conf.unset("spark.sql.optimizer.excludedRules")
      }
      // min/max of a STRING stat column must NOT fold (the embedding is
      // lossy) — answered by the scan, exactly
      val mm = ZTable.dataFrame(spark, dir).agg(min(col("s")), max(col("s")))
      assert(!mm.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      assert(mm.head() == org.apache.spark.sql.Row("000000", "000767"))
    } finally graft.plans.ManifestAggs.disable(spark)
    // v2 COMPATIBILITY: strip the null counters back out of the manifest
    // (the on-disk format older tables carry) — reads stay exact, the
    // null-dependent pruning and folds just turn off
    val manPath = java.nio.file.Paths.get(dir, "manifest-0.tsv")
    val v2 = new String(java.nio.file.Files.readAllBytes(manPath), "UTF-8")
      .linesIterator.map { l =>
        if (l.startsWith("#v\t")) "#v\t2"
        else if (l.startsWith("#")) l
        else {
          val p = l.split("\t")
          val (head, stats) = p.splitAt(10)
          (head ++ stats.grouped(3).flatMap(_.take(2))).mkString("\t")
        }
      }.mkString("\n")
    java.nio.file.Files.write(manPath, v2.getBytes("UTF-8"))
    val (n6, _, _) = audited(_.filter(col("s") >= "000100" && col("s") <= "000299"))
    assert(n6 == 200L, "a v2 manifest must still read exactly")
    val (n7, listed7, total7) = audited(_.filter(col("s").isNotNull))
    assert(n7 == 768L && listed7 == total7,
      "v2 manifests carry no null counters: IsNotNull must not prune")
    graft.plans.ManifestAggs.enable(spark)
    try {
      val cnt2 = ZTable.dataFrame(spark, dir).agg(count(col("s")).as("n"))
      assert(!cnt2.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
        "count(col) must NOT fold without null counters")
      assert(cnt2.head().getLong(0) == 768L)
    } finally graft.plans.ManifestAggs.disable(spark)
  }

  test("bloom sidecar carries are O(1) hard links: DV commits link whole units, incremental refresh links untouched shards and serializes only touched ones") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_zlink").toString + "/t"
    val base = spark.range(64L * 64L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"),
        col("id").as("k"))
    Layout.zorderInit(spark, base, dir, "a", "b", nFiles = 16,
      keepGenerations = 2)
    // fresh small table sizes to one shard; an existing sidecar's count
    // is REUSED (stability is what makes cross-generation links land)
    assert(Layout.zorderBloomAutoShards(dir, "k") == 1)
    Layout.zorderBloomBuild(spark, dir, "k", bits = 1 << 14, shards = 8)
    assert(Layout.zorderBloomAutoShards(dir, "k") == 8,
      "auto-shards must reuse the on-disk shard count")
    def shardPaths(gen: Long) = (0 until 8).map(i =>
      Paths.get(dir, s"bloom-$gen-k.shard${i}of8.tsv"))
    assert(shardPaths(0).forall(Files.isRegularFile(_)))

    // a DV commit carries the sidecar as hard links — same inode, no
    // byte copy (the delete-heavy workload's per-commit sidecar cost)
    val (deleted, _) = Layout.zorderDeleteVectored(spark, dir, (4L, 11L), (4L, 11L))
    assert(deleted == 64L)
    assert(shardPaths(1).forall(Files.isRegularFile(_)))
    assert(shardPaths(1).zip(shardPaths(0)).forall { case (n, o) =>
      Files.isSameFile(n, o) }, "DV carry must link, not copy")

    // maintain rewrites a few files; the refresh serializes ONLY shards
    // whose file membership changed and hard-links the rest from gen 1
    Layout.zorderAppend(Seq((5L, 6L, 999999L)).toDF("a", "b", "k"), dir)
    val (_, rewritten, carriedFiles) = Layout.zorderMaintain(spark, dir)
    assert(rewritten >= 1 && carriedFiles >= 8, s"$rewritten/$carriedFiles")
    val (s1, c1) = Layout.zorderBloomBuild(spark, dir, "k",
      bits = 1 << 14, shards = 8)
    assert(s1 == rewritten && c1 == carriedFiles)
    val cur = Layout.currentGen(dir).get
    val linkedShards = shardPaths(cur).zip(shardPaths(1))
      .count { case (n, o) => Files.isRegularFile(o) && Files.isSameFile(n, o) }
    assert(linkedShards >= 1,
      s"untouched shards must hard-link across generations: $linkedShards/8")
    assert(linkedShards < 8,
      "shards holding rewritten files must re-serialize")
    // answers stay exact and pruned through the linked sidecar
    val (open, total, used) = Layout.zorderLookupFiles(dir, "k", Seq(999999L))
    assert(used && open < total, s"$open/$total")
    assert(Layout.zorderPointLookup(spark, dir, "k", Seq(999999L)).count() == 1)
    assert(Layout.zorderPointLookup(spark, dir, "k", Seq(7L, 999999L)).count() == 2)

    // the linked+serialized sidecar is BYTE-identical to a from-scratch
    // build (body serialization is deterministic: sorted files, sorted
    // words) — linking never changes what a reader parses
    val before = shardPaths(cur).map(p => new String(
      Files.readAllBytes(p), "UTF-8"))
    import scala.jdk.CollectionConverters._
    val ls = Files.list(Paths.get(dir))
    try ls.iterator().asScala
      .filter(_.getFileName.toString.startsWith("bloom-"))
      .toList.foreach(Files.delete(_))
    finally ls.close()
    val (sAll, cNone) = Layout.zorderBloomBuild(spark, dir, "k",
      bits = 1 << 14, shards = 8)
    assert(cNone == 0 && sAll == rewritten + carriedFiles)
    val after = shardPaths(cur).map(p => new String(
      Files.readAllBytes(p), "UTF-8"))
    assert(before == after,
      "incremental link-write ≡ from-scratch serialization, byte for byte")
  }

  test("mirror ships each distinct sidecar inode once: the primary's linked carries land as replica-side links, replica stays pruned") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val pri = Files.createTempDirectory("graft_zmlkp").toString + "/t"
    val rep = Files.createTempDirectory("graft_zmlkr").toString + "/t"
    val base = spark.range(64L * 64L)
      .select((col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"),
        col("id").as("k"))
    Layout.zorderInit(spark, base, pri, "a", "b", nFiles = 16,
      keepGenerations = 2)
    Layout.zorderBloomBuild(spark, pri, "k", bits = 1 << 14, shards = 8)
    // DV commit: the primary carries gen 1's sidecar as hard links
    val (deleted, _) = Layout.zorderDeleteVectored(spark, pri, (4L, 11L), (4L, 11L))
    assert(deleted == 64L)
    Layout.zorderMirror(pri, rep)
    def repShards(gen: Long) = (0 until 8).map(i =>
      Paths.get(rep, s"bloom-$gen-k.shard${i}of8.tsv"))
    assert(repShards(0).forall(Files.isRegularFile(_)))
    assert(repShards(1).forall(Files.isRegularFile(_)))
    // the two generations alias ONE inode on the primary — the sync must
    // land ONE replica copy and link the second name to it, not ship the
    // whole sidecar set once per retained generation
    assert(repShards(1).zip(repShards(0)).forall { case (n, o) =>
      Files.isSameFile(n, o) },
      "replica must link generation-aliased sidecars, not re-copy them")
    // the replica answers pruned and exact through the linked sidecars
    val (open, total, used) = Layout.zorderLookupFiles(rep, "k", Seq(777L))
    assert(used && open < total, s"$open/$total")
    assert(Layout.zorderPointLookup(spark, rep, "k", Seq(777L)).count() ==
      (if (777L / 64 >= 4 && 777L / 64 <= 11 && 777L % 64 >= 4 &&
        777L % 64 <= 11) 0 else 1))
    // a repeat sync stays a no-op on the sidecars (settled short-circuit)
    val mt = repShards(1).map(Files.getLastModifiedTime(_))
    assert(Layout.zorderMirror(pri, rep) == ((0, 0)))
    assert(repShards(1).map(Files.getLastModifiedTime(_)) == mt,
      "settled sidecars must not be rewritten by a no-op sync")
  }
}
