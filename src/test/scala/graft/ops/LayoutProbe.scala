package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.util.Locale

/** Layout-family measurement main (round 13) — three questions the manifest
  * redesign must answer with numbers, not claims:
  *
  *   1. Is zorderMaintain's cost INDEPENDENT of the untouched-file count?
  *      (The hard-link design paid one filesystem op per untouched file;
  *      manifest carry-over is a row copy.) Same data, same append, file
  *      counts 32 → 2048: wall time should track the affected tiles, not
  *      the table's file count.
  *   2. What does driver-side span pruning cost at LAKEHOUSE file counts?
  *      zorderScanFiles over a synthetic 100k-row manifest — the regime
  *      where the round-12 probe recorded an honest null at 64 files (the
  *      sidecar read + linear intersect is the whole planning cost; at
  *      100k files a footer-opening planner pays 100k opens instead).
  *   3. What does fid routing cost per row at 100k cutpoints? The CASE
  *      chain is structurally impossible there (a 100k-branch codegen
  *      method); [[graft.functions.SearchSorted]] is O(log F) per row.
  *
  * Run: `sbt "Test/runMain graft.ops.LayoutProbe"`. One JSON line per
  * measurement; results land in BASELINE.md §Round-13.
  */
object LayoutProbe {

  private def r4(v: Double): String = String.format(Locale.ROOT, "%.4f", Double.box(v))
  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("ztable100k")) { runZTable100k(); return }
    if (args.headOption.contains("ztraverse100k")) { runTraverse100k(); return }
    if (args.headOption.contains("cdcdecades")) { runCdcDecades(); return }
    if (args.headOption.contains("graphdecades")) { runGraphDecades(); return }
    if (args.headOption.contains("zftsprobe")) { runZFtsProbe(); return }
    if (args.headOption.contains("bloomlink")) { runBloomLink(); return }
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- 1. maintain cost vs untouched-file count (fixed data, fixed append)
    // 4M-row 2048×2048 grid; the append lands in one corner (a,b < 64), so
    // the AFFECTED tile count stays small at every file count while the
    // untouched count grows 64×. Under the manifest design the wall time
    // must not grow with the file count (the carried files cost one row
    // copy each); rewrite volume actually SHRINKS as tiles get finer.
    val base = spark.range(2048L * 2048L)
      .select((col("id") / 2048).cast("long").as("a"), (col("id") % 2048).as("b"))
    val corner = spark.range(50000L)
      .select((col("id") % 64).cast("long").as("a"), (col("id") / 1024).as("b"))
    for (nFiles <- Seq(32, 256, 2048)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_lprobe").toString + "/t"
      Layout.zorderInit(spark, base, dir, "a", "b", nFiles)
      Layout.zorderAppend(corner, dir)
      var stats = (0L, 0, 0)
      val sec = time { stats = Layout.zorderMaintain(spark, dir) }
      println(s"""{"metric":"zmaint_files_indep","files":$nFiles,""" +
        s""""rewritten":${stats._2},"carried":${stats._3},"sec":${r4(sec)}}""")
      graft.engine.WarehouseMeta.deleteRecursively(java.nio.file.Paths.get(dir).getParent)
    }

    // ---- 1b. DML cost vs untouched-file count (round-13 continuation):
    // the same fixed grid and a fixed corner band/batch — delete and
    // upsert wall time must track the AFFECTED files, not the table size
    for (nFiles <- Seq(32, 256, 2048)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_ldml").toString + "/t"
      Layout.zorderInit(spark, base, dir, "a", "b", nFiles)
      var del = (0L, 0, 0)
      val delSec = time { del = Layout.zorderDelete(spark, dir, (0L, 63L), (0L, 63L)) }
      var ups = (0L, 0L, 0)
      val upsSec = time { ups = Layout.zorderUpsert(spark, corner, dir) }
      println(s"""{"metric":"zdml_files_indep","files":$nFiles,""" +
        s""""del_rewritten":${del._2},"del_sec":${r4(delSec)},""" +
        s""""ups_rewritten":${ups._3},"ups_sec":${r4(upsSec)}}""")
      graft.engine.WarehouseMeta.deleteRecursively(java.nio.file.Paths.get(dir).getParent)
    }

    // ---- 1c. merge-on-read vs copy-on-write delete (round-13 session 3):
    // the same fixed corner band at each file count, deleted two ways on
    // two identical tables. The vectored delete writes tombstones only —
    // its cost tracks the MATCHED ROWS (one pruned scan + one small
    // parquet write), while copy-on-write pays the full rewrite of every
    // matched file; materialize afterwards pays CoW's price back, but on
    // the OPERATOR'S cadence, off the takedown latency path.
    for (nFiles <- Seq(32, 256, 2048)) {
      val cowDir = java.nio.file.Files.createTempDirectory("graft_lcow").toString + "/t"
      val dvDir = java.nio.file.Files.createTempDirectory("graft_ldv").toString + "/t"
      Layout.zorderInit(spark, base, cowDir, "a", "b", nFiles)
      Layout.zorderInit(spark, base, dvDir, "a", "b", nFiles)
      var cow = (0L, 0, 0)
      val cowSec = time { cow = Layout.zorderDelete(spark, cowDir, (0L, 63L), (0L, 63L)) }
      var dv = (0L, 0)
      val dvSec = time { dv = Layout.zorderDeleteVectored(spark, dvDir, (0L, 63L), (0L, 63L)) }
      var mat = (0, 0L)
      val matSec = time { mat = Layout.zorderDvMaterialize(spark, dvDir) }
      println(s"""{"metric":"zdv_vs_cow_delete","files":$nFiles,""" +
        s""""rows":${cow._1},"cow_rewritten":${cow._2},"cow_sec":${r4(cowSec)},""" +
        s""""dv_tombstoned":${dv._2},"dv_sec":${r4(dvSec)},""" +
        s""""mat_rewritten":${mat._1},"mat_sec":${r4(matSec)}}""")
      graft.engine.WarehouseMeta.deleteRecursively(java.nio.file.Paths.get(cowDir).getParent)
      graft.engine.WarehouseMeta.deleteRecursively(java.nio.file.Paths.get(dvDir).getParent)
    }

    // ---- 1c2. SCATTERED takedown, the merge-on-read headline: ~2000
    // victim keys spread uniformly over the whole table hit EVERY file,
    // so copy-on-write rewrites the entire table while the vectored
    // delete writes one small tombstone parquet — the gap is the whole
    // point of deletion vectors (takedown latency independent of how
    // much data the victims touch)
    locally {
      val nFiles = 512
      val keyed = base.withColumn("k", col("a") * 2048 + col("b"))
      val victims = (0 until 2000).map(i => i.toLong * 2099L % (2048L * 2048L))
      val cowDir = java.nio.file.Files.createTempDirectory("graft_lscow").toString + "/t"
      val dvDir = java.nio.file.Files.createTempDirectory("graft_lsdv").toString + "/t"
      Layout.zorderInit(spark, keyed, cowDir, "a", "b", nFiles)
      Layout.zorderInit(spark, keyed, dvDir, "a", "b", nFiles)
      var cow = (0L, 0, 0)
      val cowSec = time { cow = Layout.zorderDeleteByKey(spark, cowDir, "k", victims) }
      var dv = (0L, 0)
      val dvSec = time { dv = Layout.zorderDeleteVectoredByKey(spark, dvDir, "k", victims) }
      println(s"""{"metric":"zdv_vs_cow_scattered","files":$nFiles,""" +
        s""""victims":${victims.size},"cow_rewritten":${cow._2},"cow_sec":${r4(cowSec)},""" +
        s""""dv_tombstoned":${dv._2},"dv_sec":${r4(dvSec)}}""")
      graft.engine.WarehouseMeta.deleteRecursively(java.nio.file.Paths.get(cowDir).getParent)
      graft.engine.WarehouseMeta.deleteRecursively(java.nio.file.Paths.get(dvDir).getParent)
    }

    // ---- 1d. replication cost vs churn (round-13 session 3): first sync
    // ships the table; after a corner delete the incremental sync must
    // ship only the churned files + one manifest — replication cost
    // tracks the commit's churn, never the table size
    locally {
      val pri = java.nio.file.Files.createTempDirectory("graft_lmirp").toString + "/t"
      val rep = java.nio.file.Files.createTempDirectory("graft_lmirr").toString + "/t"
      Layout.zorderInit(spark, base, pri, "a", "b", 2048)
      var full = (0, 0)
      val fullSec = time { full = Layout.zorderMirror(pri, rep) }
      Layout.zorderDelete(spark, pri, (0L, 63L), (0L, 63L))
      var inc = (0, 0)
      val incSec = time { inc = Layout.zorderMirror(pri, rep) }
      var noop = (0, 0)
      val noopSec = time { noop = Layout.zorderMirror(pri, rep) }
      println(s"""{"metric":"zmirror_churn","files":2048,""" +
        s""""full_copied":${full._1},"full_sec":${r4(fullSec)},""" +
        s""""inc_copied":${inc._1},"inc_sec":${r4(incSec)},""" +
        s""""noop_copied":${noop._1},"noop_sec":${r4(noopSec)}}""")
      graft.engine.WarehouseMeta.deleteRecursively(java.nio.file.Paths.get(pri).getParent)
      graft.engine.WarehouseMeta.deleteRecursively(java.nio.file.Paths.get(rep).getParent)
    }

    // ---- 2. zorderScanFiles over a synthetic 100k-span manifest
    // 316×316 rectangular tiles over a 65536² key domain ≈ 99856 files —
    // no data written; the measured quantity IS the planning path a
    // 100k-file table pays per query: read the committed manifest, linear
    // two-sided intersect, return the open list.
    val g = 316
    val step = 65536L / g
    val spans = (0 until g * g).map { i =>
      val (ai, bi) = (i / g, i % g)
      Layout.Span(s"data/g0/f$i.parquet", 1000L, i.toLong, i.toLong,
        ai * step, (ai + 1) * step - 1, bi * step, (bi + 1) * step - 1)
    }
    val synDir = java.nio.file.Files.createTempDirectory("graft_lsyn").toString + "/t"
    Layout.commitManifestUnsafe(synDir, 0L,
      Layout.Manifest("a", "b", 0L, 65535L, 0L, 65535L, Seq.empty, spans))
    // a 2%-wide two-sided band — the shape w27 measures on real data
    var hits = (0, 0)
    val reps = 20
    val scanSec = time {
      for (r <- 0 until reps) {
        val lo = (r * 2654435761L) % 60000
        hits = Layout.zorderScanFiles(synDir, (lo, lo + 1300), (lo / 2, lo / 2 + 1300))
      }
    } / reps
    println(s"""{"metric":"zscan_100k_spans","files":${spans.size},""" +
      s""""hit":${hits._1},"sec_per_call":${r4(scanSec)}}""")

    // ---- 2b. change-feed cost vs untouched-file count (r13 session 2):
    // fixed grid, fixed corner delete — zorderChanges(0→1) must read only
    // the churned files, so its wall time tracks the delete's rewrite
    // set, not the table's file count
    for (nFiles <- Seq(32, 256, 2048)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_lcdc").toString + "/t"
      Layout.zorderInit(spark, base, dir, "a", "b", nFiles, keepGenerations = 2)
      Layout.zorderDelete(spark, dir, (0L, 63L), (0L, 63L))
      val (fOnly, tOnly, shared) = Layout.zorderChangesFiles(dir, 0L, 1L)
      var n = 0L
      val sec = time { n = Layout.zorderChanges(spark, dir, 0L, 1L).count() }
      println(s"""{"metric":"zcdc_files_indep","files":$nFiles,""" +
        s""""churned":${fOnly + tOnly},"shared":$shared,"rows":$n,"sec":${r4(sec)}}""")
      graft.engine.WarehouseMeta.deleteRecursively(java.nio.file.Paths.get(dir).getParent)
    }

    // ---- 2c. change-feed PLANNING at ~100k manifest rows: the manifest
    // diff is pure driver set arithmetic — measured against two synthetic
    // 99856-row manifests differing in 40 files
    run100kChangePlanning()

    // ---- 2d. bloom lookup planning at 10k files: sidecar read + per-file
    // k-bit AND per call (planted hit + background density ~0.3 per bit,
    // so false positives admit a realistic handful of files). The sidecar
    // IS the cost dial: 2^14 bits = 2 KB/file here; 100k files at 2^16
    // bits would hold 800 MB — shard the sidecar read before that regime.
    run10kBloomPlanning()

    // ---- 2e. what the #mixed flag saves: zorderRead PLANNING on a
    // 2048-file homogeneous table (no mergeSchema) vs the same table
    // read with mergeSchema forced — the footer-merge job evolution pays
    // and homogeneous generations skip
    locally {
      val dir = java.nio.file.Files.createTempDirectory("graft_levo").toString + "/t"
      Layout.zorderInit(spark, base, dir, "a", "b", 2048)
      val plain = time { Layout.zorderRead(spark, dir).schema }
      val root = java.nio.file.Paths.get(dir).toAbsolutePath
      val files = Layout.currentSpans(dir).map(s => root.resolve(s.file).toString)
      val merged = time {
        spark.read.option("mergeSchema", "true").parquet(files: _*).schema
      }
      println(s"""{"metric":"zevo_mergeschema_cost","files":2048,""" +
        s""""plain_sec":${r4(plain)},"merged_sec":${r4(merged)}}""")
      graft.engine.WarehouseMeta.deleteRecursively(java.nio.file.Paths.get(dir).getParent)
    }

    // ---- 3. searchsorted routing throughput at 100k cuts (CASE chain is
    // structurally impossible here), 5M rows through one codegen'd pass
    graft.functions.GraftExtensions.register(spark)
    val cuts = (0 until 100000).map(i => i.toLong * 43000L)
    val rows = spark.range(5000000L).select((col("id") * 859L % 4300000000L).as("z"))
    val routeSec = time {
      rows.select(Layout.routeFid(cuts, col("z"), caseMax = 0).as("fid"))
        .write.format("noop").mode("overwrite").save()
    }
    println(s"""{"metric":"searchsorted_route","cuts":${cuts.size},""" +
      s""""rows":5000000,"sec":${r4(routeSec)}}""")

    spark.stop()
  }

  /** Planner-integrated listing at 100k files: construct a
    * ManifestFileIndex over a synthetic 99,856-span v2 manifest (byte
    * lengths in the manifest → ZERO filesystem calls for nonexistent
    * files — exactly the object-store property the format exists for)
    * and measure the listFiles call FileSourceScanExec makes per query.
    * Standalone: `sbt "Test/runMain graft.ops.LayoutProbe ztable100k"`. */
  private[ops] def runZTable100k(): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd,
      AttributeReference, GreaterThanOrEqual => CGte, LessThanOrEqual => CLte,
      Literal => CLit}
    import org.apache.spark.sql.types.LongType
    val g = 316
    val step = 65536L / g
    val spans = (0 until g * g).map { i =>
      val (ai, bi) = (i / g, i % g)
      Layout.Span(s"data/g0/f$i.parquet", 1000L, i.toLong, i.toLong,
        ai * step, (ai + 1) * step - 1, bi * step, (bi + 1) * step - 1,
        bytes = 1L << 20)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_lzt100k").toString + "/t"
    // r14: the manifest carries the data schema, so the probe can measure
    // FULL DataFrame derivation too — over 100k files that DON'T EXIST,
    // the hard proof that planning makes zero filesystem calls of any
    // kind (no LIST, no HEAD, no footer GET)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("b",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    Layout.commitManifestUnsafe(dir, 0L,
      Layout.Manifest("a", "b", 0L, 65535L, 0L, 65535L, Seq.empty, spans,
        schemaJson = Some(schema.json)))
    val man = Layout.readManifest(dir, 0L)
    val buildSec = time { new ManifestFileIndex(dir, man, 0L) }
    val fi = new ManifestFileIndex(dir, man, 0L)
    val a = AttributeReference("a", LongType)()
    val b = AttributeReference("b", LongType)()
    val reps = 50
    var hit = 0
    val listSec = time {
      for (r <- 0 until reps) {
        val lo = (r * 2654435761L) % 60000
        val pred = CAnd(
          CAnd(CGte(a, CLit(lo)), CLte(a, CLit(lo + 1300))),
          CAnd(CGte(b, CLit(lo / 2)), CLte(b, CLit(lo / 2 + 1300))))
        hit = fi.listFiles(Nil, Seq(pred)).map(_.files.size).sum
      }
    } / reps
    // r14: bloom-planner listing at 100k files — synthesize a sidecar
    // where file i's bitset holds key i (the point-lookup regime), then
    // measure the listFiles call with an EqualTo data filter on the
    // bloomed column: the per-query cost of planner-integrated point
    // pruning at lakehouse file counts
    locally {
      val bits = 1 << 10 // small per-file bitset: the probe measures the
      val hashes = 5     // admission loop, not the parse volume dial
      val rows = spans.map { sp =>
        val i = sp.zLo // one key per file: the file's own index
        val words = Layout.probePositions(i, bits, hashes)
          .map(p => p / 64 -> (1L << (p % 64)))
          .groupBy(_._1).map { case (w, ps) =>
            w -> ps.map(_._2).reduce(_ | _) }
        // row keys are the manifest's RELATIVE file paths (what
        // bloomAdmits is probed with), not basenames
        sp.file + "\t" + words.map { case (w, b) =>
          s"$w:${java.lang.Long.toHexString(b)}" }.mkString(",")
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "bloom-0-k.tsv"),
        (Seq(s"#bits\t$bits", s"#hashes\t$hashes") ++ rows)
          .mkString("\n").getBytes("UTF-8"))
      val fib = new ManifestFileIndex(dir, man, 0L)
      val k = AttributeReference("k", LongType)()
      val bloomReps = 50
      var bhit = 0
      val bloomSec = time {
        for (r <- 0 until bloomReps) {
          val pred = org.apache.spark.sql.catalyst.expressions.EqualTo(
            k, CLit((r * 2654435761L) % spans.size))
          bhit = fib.listFiles(Nil, Seq(pred)).map(_.files.size).sum
        }
      } / bloomReps
      println(s"""{"metric":"ztable_100k_bloom_point","files":${spans.size},""" +
        s""""hit":$bhit,"list_sec_per_query":${r4(bloomSec)}}""")
    }

    // full DataFrame derivation (schema from the manifest + FileIndex +
    // HadoopFsRelation + analysis) — plan-only; the files never exist,
    // so ANY filesystem touch would throw, not just slow down
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val deriveReps = 20
    var nCols = 0
    val deriveSec = time {
      for (_ <- 0 until deriveReps)
        nCols = ZTable.dataFrame(spark, dir).schema.size
    } / deriveReps
    spark.stop()
    println(s"""{"metric":"ztable_100k_planning","files":${spans.size},""" +
      s""""index_build_sec":${r4(buildSec)},"hit":$hit,""" +
      s""""list_sec_per_query":${r4(listSec)},""" +
      s""""dataframe_derive_sec":${r4(deriveSec)},"cols":$nCols}""")
  }

  /** The r15 warehouse-unification probe: a POINT TRAVERSAL (the
    * reference's `node.inE` / `getuid` shape, expressed as a literal
    * `_end_key` equality on the edge z-table) planned against a synthetic
    * 100k-file edge manifest with a bloom sidecar over `_end_key`. The
    * span bounds narrow the b dimension to one grid column (~316 files);
    * the bitset conjunct then cuts that to the file(s) actually holding
    * the key — the composition a 100 TB graph warehouse's hot path pays
    * per lookup, all driver-side, zero file opens. */
  private[ops] def runTraverse100k(): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
      EqualTo => CEq, Literal => CLit}
    import org.apache.spark.sql.types.LongType
    val g = 316
    val step = 65536L / g
    val spans = (0 until g * g).map { i =>
      val (ai, bi) = (i / g, i % g)
      Layout.Span(s"data/g0/e$i.parquet", 1000L, i.toLong, i.toLong,
        ai * step, (ai + 1) * step - 1, bi * step, (bi + 1) * step - 1,
        bytes = 1L << 20)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_ltrav").toString + "/t"
    Layout.commitManifestUnsafe(dir, 0L,
      Layout.Manifest("_start_key", "_end_key", 0L, 65535L, 0L, 65535L,
        Seq.empty, spans))
    // sidecar over _end_key: each file's bitset holds ONE end key inside
    // its b stripe — the sparse-neighborhood regime of a real graph
    val bits = 1 << 10
    val hashes = 5
    val rows = spans.map { sp =>
      val key = sp.bMin + (sp.zLo % step) // a key inside the file's stripe
      val words = Layout.probePositions(key, bits, hashes)
        .map(p => p / 64 -> (1L << (p % 64)))
        .groupBy(_._1).map { case (w, ps) => w -> ps.map(_._2).reduce(_ | _) }
      sp.file + "\t" + words.map { case (w, b) =>
        s"$w:${java.lang.Long.toHexString(b)}" }.mkString(",")
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "bloom-0-_end_key.tsv"),
      (Seq(s"#bits\t$bits", s"#hashes\t$hashes") ++ rows)
        .mkString("\n").getBytes("UTF-8"))
    val fi = new ManifestFileIndex(dir, Layout.readManifest(dir, 0L), 0L)
    val endKey = AttributeReference("_end_key", LongType)()
    val reps = 50
    var spanOnly = 0
    var hit = 0
    val sec = time {
      for (r <- 0 until reps) {
        val i = ((r * 2654435761L) % (g * g)).toInt
        val probe = spans(i).bMin + (spans(i).zLo % step)
        hit = fi.listFiles(Nil, Seq(CEq(endKey, CLit(probe))))
          .map(_.files.size).sum
      }
    } / reps
    // span-only narrowing for comparison (bloom sidecar removed)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(dir, "bloom-0-_end_key.tsv"))
    val fi2 = new ManifestFileIndex(dir, Layout.readManifest(dir, 0L), 0L)
    spanOnly = fi2.listFiles(Nil, Seq(CEq(endKey, CLit(spans(0).bMin))))
      .map(_.files.size).sum
    println(s"""{"metric":"ztraverse_100k_point","files":${g * g},""" +
      s""""span_only_listed":$spanOnly,"bloom_listed":$hit,""" +
      s""""list_sec_per_query":${r4(sec)}}""")
  }

  /** The r16 MAINTAINED-POSTINGS pruning probe: ZFts over the REAL sf0.1
    * documents corpus (term-major layout, string-domain term bloom), one
    * OR MATCH through [[graft.query.Fts.matchScores]] — the planner's
    * listing must cut to the files that may hold the query's terms (the
    * FTS5-term-b-tree analogue, measured on real data instead of a
    * claim). Prints corpus/posting sizes, the listing cut, and cold/warm
    * match wall time. */
  private[ops] def runZFtsProbe(): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_zftsp")
    val idx = s"$tmp/fts"
    val buildSec = time {
      ZFts.init(spark, docs, idx, "doc_id", Map("body" -> "text"),
        nFiles = 64)
    }
    val nPostings = ZFts.postings(spark, idx).count()
    val (df, fi) = ZTable.dataFrameWithIndex(spark, idx)
    def matchOnce(): Long = {
      val res = graft.query.Fts.matchScores(df.drop("_tkh"),
        "spark OR vector")
      res.collect().length.toLong
    }
    var hits = 0L
    val coldSec = time { hits = matchOnce() }
    val warmSec = time { matchOnce() }
    require(fi.lastListed > 0 && fi.lastListed < fi.inputFiles.length,
      s"term blooms must prune: ${fi.lastListed}/${fi.inputFiles.length}")
    println(s"""{"metric":"zfts_match_prune","docs":${docs.count()},""" +
      s""""postings":$nPostings,"files":${fi.inputFiles.length},""" +
      s""""listed":${fi.lastListed},"hits":$hits,""" +
      s""""build_sec":${r4(buildSec)},"cold_sec":${r4(coldSec)},""" +
      s""""warm_sec":${r4(warmSec)}}""")
    graft.engine.WarehouseMeta.deleteRecursively(tmp)
    spark.stop()
  }

  /** The r16 INCREMENTAL GRAPH-COMPACTION decades (VERDICT r15 worklist
    * #4 — the `zcdc_apply` recipe applied to the graph journal): the two
    * curves that certify [[graft.engine.WarehouseGraph
    * .compactZorderIncremental]]'s cost tracks the journal tail's CHURN,
    * not the z-table size. Churn decade: fixed 1M-node graph, 10×/100×
    * tail (half modifies of existing uids, half creates). History
    * decade: fixed 10k churn, 4×/16× graph. One extra row drives the
    * top churn through the DISTRIBUTED path (collectThreshold = 0), and
    * the MILLION-uid journal restatement (a takedown-sweep-sized tail)
    * runs distributed end to end with a GC-bracketed driver-heap delta —
    * the flat-driver certificate for the bulk shape. Real warehouses,
    * measured wall time. */
  private[ops] def runGraphDecades(): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.engine.{Journal, WarehouseGraph}
    def nodesDf(n: Long, tag: String): org.apache.spark.sql.DataFrame =
      spark.range(n).select(
        concat(lit("n"), col("id")).as("uid"), lit("P").as("kind"),
        lit(0.0).as("ctime"), lit(0.0).as("mtime"),
        lit(s"""{"t":"$tag"}""").as("props"))
    def edgesDf(n: Long): org.apache.spark.sql.DataFrame =
      spark.range(n - 1).select(
        concat(lit("e"), col("id")).as("uid"), lit("E").as("kind"),
        concat(lit("n"), col("id")).as("startuid"),
        concat(lit("n"), col("id") + 1).as("enduid"),
        lit(0.0).as("ctime"), lit(0.0).as("mtime"), lit("{}").as("props"))
    def incrementSec(n: Long, files: Int, churn: Long,
        collectThreshold: Long, banded: Boolean = false): Double = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_gzd")
      val wh = new WarehouseGraph(spark, s"$tmp/wh")
      wh.append(Journal.snapshotAsChanges(nodesDf(n, "base"), edgesDf(n),
        startSeq = 1L))
      wh.compactZorder(files)
      // the tail: half modifies of existing uids (full-image add docs
      // with a changed prop), half creates of brand-new nodes. Scattered
      // (default) picks uniformly hash-spread uids — at churn ≥ files
      // every file holds a victim, the adversarial bound; banded picks
      // the lowest-xxhash band — z-LOCAL churn (a hot bucket refresh),
      // where the uid blooms + spans keep the candidate scans O(churn)
      // banded = pure modifies (creates hash anywhere by construction —
      // they would scatter the maintain's fold right back across the
      // curve); scattered = the realistic modify+create mix
      val mods =
        if (!banded) nodesDf(churn / 2, "mod")
        else spark.range(n)
          .select(concat(lit("n"), col("id")).as("uid"))
          .withColumn("h", xxhash64(col("uid")))
          .orderBy("h").limit(churn.toInt).drop("h")
          .select(col("uid"), lit("P").as("kind"), lit(0.0).as("ctime"),
            lit(0.0).as("mtime"), lit("""{"t":"mod"}""").as("props"))
      val news =
        if (banded) nodesDf(1, "never").limit(0)
        else spark.range(n * 2, n * 2 + churn / 2).select(
          concat(lit("n"), col("id")).as("uid"), lit("P").as("kind"),
          lit(0.0).as("ctime"), lit(0.0).as("mtime"), lit("{}").as("props"))
      wh.append(Journal.snapshotAsChanges(
        mods.unionByName(news),
        edgesDf(2).limit(0), startSeq = wh.maxSeq + 1))
      var out = (0L, 0L, 0L)
      val sec = time { out = wh.compactZorderIncremental(collectThreshold) }
      require(out._1 == churn && out._2 == churn,
        s"probe increment applied the wrong churn: $out vs $churn")
      graft.engine.WarehouseMeta.deleteRecursively(tmp)
      sec
    }
    // churn decade at the SHIPPED default threshold (10k): 1k/10k ride
    // the bloom-pruned collected path, 100k routes distributed
    for (churn <- Seq(1000L, 10000L, 100000L)) {
      val sec = incrementSec(1L << 20, 64, churn, collectThreshold = 10000L)
      println(s"""{"metric":"zgraph_inc_churn","nodes":${1L << 20},""" +
        s""""churn":$churn,"sec":${r4(sec)}}""")
    }
    // history decade: fixed 10k churn, graph 256k → 1M → 4M nodes
    for ((n, files) <- Seq((1L << 18, 16), (1L << 20, 64), (1L << 22, 256))) {
      val sec = incrementSec(n, files, 10000L, collectThreshold = 10000L)
      println(s"""{"metric":"zgraph_inc_history","nodes":$n,""" +
        s""""churn":10000,"sec":${r4(sec)}}""")
    }
    // history decade with Z-LOCAL churn (the banded lowest-hash 10k):
    // candidate scans prune through the uid blooms, cost tracks churn
    for ((n, files) <- Seq((1L << 18, 16), (1L << 20, 64), (1L << 22, 256))) {
      val sec = incrementSec(n, files, 10000L, collectThreshold = 10000L,
        banded = true)
      println(s"""{"metric":"zgraph_inc_history_banded","nodes":$n,""" +
        s""""churn":10000,"sec":${r4(sec)}}""")
    }
    // the threshold comparison at the top churn: collected vs distributed
    val csec = incrementSec(1L << 20, 64, 100000L, collectThreshold = 100000L)
    println(s"""{"metric":"zgraph_inc_collected","nodes":${1L << 20},""" +
      s""""churn":100000,"sec":${r4(csec)}}""")
    val dsec = incrementSec(1L << 20, 64, 100000L, collectThreshold = 0L)
    println(s"""{"metric":"zgraph_inc_distributed","nodes":${1L << 20},""" +
      s""""churn":100000,"sec":${r4(dsec)}}""")
    // the MILLION-uid journal restatement through the distributed path —
    // driver heap must stay flat (GC-bracketed delta, indicative)
    locally {
      val rt = Runtime.getRuntime
      def usedMb(): Long = { System.gc(); (rt.totalMemory - rt.freeMemory) >> 20 }
      val before = usedMb()
      val xlSec = incrementSec(1L << 21, 128, 1L << 20, collectThreshold = 0L)
      val after = usedMb()
      println(s"""{"metric":"zgraph_inc_distributed_xl","nodes":${1L << 21},""" +
        s""""churn":${1 << 20},"sec":${r4(xlSec)},""" +
        s""""driver_heap_delta_mb":${after - before}}""")
    }
    spark.stop()
  }

  /** The r15 CDC-follower decades (VERDICT r14 worklist #7): the two
    * curves that certify [[Layout.zorderCdcApply]]'s cost tracks CHURN,
    * not table size. Churn decade: fixed primary, 10×/100× churn per
    * poll. History decade: fixed churn, 4×/16× table. One extra row
    * drives the top churn through the DISTRIBUTED key path
    * (collectThreshold = 0) — the bulk-restatement shape whose driver
    * memory stays flat. Real tables, measured wall time. */
  private[ops] def runCdcDecades(): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def table(rows: Long): org.apache.spark.sql.DataFrame =
      spark.range(rows).select((col("id") / 1024).cast("long").as("a"),
        (col("id") % 1024).as("b"), col("id").as("k"),
        concat(lit("v"), col("id")).as("v"))
    def pollSec(rows: Long, files: Int, churn: Int,
        collectThreshold: Long): Double = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_lcdcd")
      val pri = s"$tmp/pri"; val fol = s"$tmp/fol"
      Layout.zorderInit(spark, table(rows), pri, "a", "b", files,
        keepGenerations = 8)
      Layout.zorderCdcSeed(spark, pri, fol, files)
      // half the churn deletes existing keys, half appends new rows —
      // the restatement mix a follower actually sees. The setup delete
      // goes through the distributed overload above the same threshold
      // the apply uses (a 500k-literal isin would be a driver-plan bomb).
      if (churn / 2 > 100000)
        Layout.zorderDeleteVectoredByKey(spark, pri, "k",
          spark.range(0L, churn / 2).select(col("id").as("k")))
      else
        Layout.zorderDeleteVectoredByKey(spark, pri, "k",
          (0L until churn / 2).toSeq)
      Layout.zorderAppend(spark.range(rows * 2, rows * 2 + churn / 2)
        .select((col("id") % 1024).as("a"), (col("id") / 1024 % 1024).as("b"),
          col("id").as("k"), concat(lit("v"), col("id")).as("v")), pri)
      Layout.zorderMaintain(spark, pri)
      var out = (0L, 0L, 0L)
      val sec = time {
        out = Layout.zorderCdcApply(spark, pri, fol, "k", collectThreshold)
      }
      require(out._1 > 0 && out._2 > 0, s"probe poll applied nothing: $out")
      graft.engine.WarehouseMeta.deleteRecursively(tmp)
      sec
    }
    // churn decade: fixed 1M-row primary, churn 1k → 10k → 100k
    for (churn <- Seq(1000, 10000, 100000)) {
      val sec = pollSec(1L << 20, 64, churn, collectThreshold = 100000L)
      println(s"""{"metric":"zcdc_apply_churn","table_rows":${1L << 20},""" +
        s""""churn":$churn,"sec":${r4(sec)}}""")
    }
    // history decade: fixed 10k churn, table 256k → 1M → 4M
    for ((rows, files) <- Seq((1L << 18, 16), (1L << 20, 64), (1L << 22, 256))) {
      val sec = pollSec(rows, files, 10000, collectThreshold = 100000L)
      println(s"""{"metric":"zcdc_apply_history","table_rows":$rows,""" +
        s""""churn":10000,"sec":${r4(sec)}}""")
    }
    // the distributed path at the top churn (bulk restatement shape)
    val dsec = pollSec(1L << 20, 64, 100000, collectThreshold = 0L)
    println(s"""{"metric":"zcdc_apply_distributed","table_rows":${1L << 20},""" +
      s""""churn":100000,"sec":${r4(dsec)}}""")
    // the MILLION-key restatement through the distributed path — the
    // poll's only driver rows are the 1-row stats aggregate and manifest
    // state, so driver heap stays flat no matter the churn (recorded
    // alongside the wall time: used-heap delta across the poll, after a
    // GC on each side — indicative, not exact)
    locally {
      val rt = Runtime.getRuntime
      def usedMb(): Long = { System.gc(); (rt.totalMemory - rt.freeMemory) >> 20 }
      val before = usedMb()
      val xlSec = pollSec(1L << 21, 128, 1 << 20, collectThreshold = 0L)
      val after = usedMb()
      println(s"""{"metric":"zcdc_apply_distributed_xl","table_rows":${1L << 21},""" +
        s""""churn":${1 << 20},"sec":${r4(xlSec)},""" +
        s""""driver_heap_delta_mb":${after - before}}""")
    }
    spark.stop()
  }

  private def run100kChangePlanning(): Unit = {
    val g = 316
    val step = 65536L / g
    def spansFor(gen: Long, churn: Int) = (0 until g * g).map { i =>
      val (ai, bi) = (i / g, i % g)
      // churned files get generation-qualified names, the rest are shared
      val f = if (i < churn) s"data/g$gen/f$i.parquet" else s"data/g0/f$i.parquet"
      Layout.Span(f, 1000L, i.toLong, i.toLong,
        ai * step, (ai + 1) * step - 1, bi * step, (bi + 1) * step - 1)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_lcdcp").toString + "/t"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    graft.ops.Layout.setRetention(dir, 2)
    Layout.commitManifestUnsafe(dir, 0L,
      Layout.Manifest("a", "b", 0L, 65535L, 0L, 65535L, Seq.empty, spansFor(0L, 0)))
    Layout.commitManifestUnsafe(dir, 1L,
      Layout.Manifest("a", "b", 0L, 65535L, 0L, 65535L, Seq.empty, spansFor(1L, 40)))
    val reps = 20
    var split = (0, 0, 0)
    val sec = time {
      for (_ <- 0 until reps) split = Layout.zorderChangesFiles(dir, 0L, 1L)
    } / reps
    println(s"""{"metric":"zcdc_100k_planning","files":${g * g},""" +
      s""""churned":${split._1 + split._2},"shared":${split._3},"sec_per_call":${r4(sec)}}""")
  }

  private def run10kBloomPlanning(): Unit = {
    val nFiles = 10000
    val bits = 1 << 14
    val hashes = 5
    val g = 100
    val step = 65536L / g
    val spans = (0 until nFiles).map { i =>
      val (ai, bi) = (i / g, i % g)
      Layout.Span(s"data/g0/f$i.parquet", 1000L, i.toLong, i.toLong,
        ai * step, (ai + 1) * step - 1, bi * step, (bi + 1) * step - 1)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_lbloom").toString + "/t"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    Layout.commitManifestUnsafe(dir, 0L,
      Layout.Manifest("a", "b", 0L, 65535L, 0L, 65535L, Seq.empty, spans))
    // background: every word filled to ~0.3 bit density from a cheap
    // deterministic mix; the probe value's positions planted in file 4242
    val probe = 987654321L
    val pos = Layout.probePositions(probe, bits, hashes)
    val words = (0 until nFiles).map { i =>
      val base = (0 until bits / 64).map { w =>
        var x = i.toLong * 1099511628211L + w * 2654435761L
        x ^= (x << 13); x ^= (x >>> 7); x ^= (x << 17)
        w -> (x & x >>> 1) // ~25-30% ones
      }.toMap
      val ws = if (i == 4242)
        pos.foldLeft(base)((m, p) => m.updated(p / 64,
          m.getOrElse(p / 64, 0L) | (1L << (p % 64))))
        else base
      spans(i).file -> ws
    }.toMap
    Layout.writeBloom(dir, 0L, "k", bits, hashes, words)
    val reps = 10
    var res = (0, 0, false)
    // first call after a build parses cold (fresh mtimes miss the cache)
    val coldSingle = time { res = Layout.zorderLookupFiles(dir, "k", Seq(probe)) }
    val sec = time {
      for (_ <- 0 until reps) res = Layout.zorderLookupFiles(dir, "k", Seq(probe))
    } / reps
    println(s"""{"metric":"zbloom_10k_planning","files":$nFiles,""" +
      s""""open":${res._1},"cold_sec":${r4(coldSingle)},"sec_per_call":${r4(sec)}}""")
    // SHARDED sidecar: same bitsets in 16 shard files — the cold parse
    // parallelizes across shards (the 100k-file/800 MB regime's fix),
    // answers identical, warm path unchanged
    Layout.writeBloom(dir, 0L, "k", bits, hashes, words, shards = 16)
    var res16 = (0, 0, false)
    val coldSharded = time { res16 = Layout.zorderLookupFiles(dir, "k", Seq(probe)) }
    val warmSharded = time {
      for (_ <- 0 until reps) res16 = Layout.zorderLookupFiles(dir, "k", Seq(probe))
    } / reps
    require(res16 == res, s"sharded answers must equal single-file: $res16 vs $res")
    println(s"""{"metric":"zbloom_10k_sharded","files":$nFiles,"shards":16,""" +
      s""""open":${res16._1},"cold_sec":${r4(coldSharded)},"warm_sec":${r4(warmSharded)}}""")
  }

  /** The incremental refresh's WRITE cost at the 10k-file regime (r16:
    * the carry made the SCAN O(fresh) long ago, but every refresh still
    * re-serialized all files × bits of sidecar text — the repo's last
    * named per-maintain scale residual). Measures a 10-file churn's
    * sidecar rewrite through the old full-serialize path vs the
    * link-carry path, driver-only (no Spark session needed). */
  private def runBloomLink(): Unit = {
    // 256 shards = what zorderBloomAutoShards picks at 10k files (the
    // ~64-files-per-shard linking granule)
    val nFiles = 10000; val bits = 1 << 16; val hashes = 5; val shards = 256
    val touched = 10
    def mkWords(names: Seq[String]): Map[String, Map[Int, Long]] =
      names.zipWithIndex.map { case (f, i) =>
        f -> (0 until bits / 64).map { w =>
          var x = i.toLong * 1099511628211L + w * 2654435761L
          x ^= (x << 13); x ^= (x >>> 7); x ^= (x << 17)
          w -> (x & x >>> 1) // ~25-30% ones
        }.toMap
      }.toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_lblink")
      .toString + "/t"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val names0 = (0 until nFiles).map(i => s"data/g0/f$i.parquet")
    val words0 = mkWords(names0)
    Layout.writeBloom(dir, 0L, "k", bits, hashes, words0, shards)
    // churn: `touched` files rewritten under generation-1 names — the
    // shape every compactZorderIncremental tick produces
    val names1 = names0.drop(touched) ++
      (0 until touched).map(i => s"data/g1/f$i.parquet")
    val words1 = (words0 -- names0.take(touched)) ++
      mkWords((0 until touched).map(i => s"data/g1/f$i.parquet"))
    def genBytes(gen: Long): Long = (0 until shards).map { k =>
      java.nio.file.Files.size(java.nio.file.Paths.get(dir,
        s"bloom-$gen-k.shard${k}of$shards.tsv"))
    }.sum
    // old path: full re-serialization of every shard
    val fullSec = time {
      Layout.writeBloom(dir, 1L, "k", bits, hashes, words1, shards)
    }
    val fullBytes = genBytes(1L)
    (0 until shards).foreach(k => java.nio.file.Files.delete(
      java.nio.file.Paths.get(dir, s"bloom-1-k.shard${k}of$shards.tsv")))
    // link path: untouched shards hard-link from gen 0
    var serialized = 0; var linked = 0
    val linkSec = time {
      val (s, l) = Layout.writeBloom(dir, 1L, "k", bits, hashes, words1,
        shards, carryFrom = Some((0L, shards, words0.keySet)))
      serialized = s; linked = l
    }
    val newBytes = (0 until shards).map { k =>
      val p1 = java.nio.file.Paths.get(dir, s"bloom-1-k.shard${k}of$shards.tsv")
      val p0 = java.nio.file.Paths.get(dir, s"bloom-0-k.shard${k}of$shards.tsv")
      if (java.nio.file.Files.isSameFile(p0, p1)) 0L
      else java.nio.file.Files.size(p1)
    }.sum
    require(serialized + linked == shards && linked > 0,
      s"expected a mostly-linked refresh, got $serialized/$linked")
    println(s"""{"metric":"zbloom_link_write","files":$nFiles,""" +
      s""""shards":$shards,"touched_files":$touched,""" +
      s""""full_serialize_sec":${r4(fullSec)},"full_bytes":$fullBytes,""" +
      s""""link_sec":${r4(linkSec)},"serialized_shards":$serialized,""" +
      s""""linked_shards":$linked,"new_bytes":$newBytes}""")
  }
}
