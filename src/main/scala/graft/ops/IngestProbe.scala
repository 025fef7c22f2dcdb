package graft.ops

import org.apache.spark.sql.functions._
import java.util.Locale

/** Ingest-loop probe (round 13, verdict item 9): w24/w25 pay their loop
  * cost inside memoized builds, so the per-round bench never shows the
  * marginal cost of ONE MORE BATCH. This main drives the exactly-once
  * gate and blocklist loops as 8 equal batches over the sf1 corpus
  * (600k-row decade) and times each batch apply separately. The design
  * claim under test: per-batch cost is independent of ingest HISTORY —
  * the gate is map-only over the batch, the audit append is O(1) rows,
  * and the intent/commit seam snapshots file NAMES (O(files), not data).
  * A loop whose batch N costs more than batch 1 would be accumulating
  * state scans; the curve must come out flat.
  *
  * Run: `sbt "runMain graft.ops.IngestProbe"` (needs tmp-scale/sf1 from
  * a prior ScaleProbe run; falls back to sf0.1). Results → BASELINE.md.
  */
object IngestProbe {

  private def r4(v: Double): String = String.format(Locale.ROOT, "%.4f", Double.box(v))
  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val wh = java.nio.file.Files.createTempDirectory("graft_ingestprobe")
    val spark = graft.Bench.buildSession(warehouseDir = Some(s"$wh/warehouse"))
    val sf1 = "/root/repo/tmp-scale/sf1"
    val dir = if (new java.io.File(s"$sf1/_GENERATED").exists()) sf1
      else "/root/testdata/sf0.1"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val nBatches = 8

    // ---- gate loop: 8 equal batches, one timing per apply
    val gname = "probe_gate"
    TextAnalysis.ensureGateStore(spark, gname)
    TextAnalysis.resetGateStore(spark, gname)
    val gateTimes = (0 until nBatches).map { b =>
      time {
        TextAnalysis.applyGateIngestBatch(spark,
          docs.filter(col("doc_id") % nBatches === b), b.toLong,
          "doc_id", "text", gname, s"$wh/gate_out",
          minWords = 30, maxWords = 90, minMeanWordLen = 4.0,
          maxMeanWordLen = 4.9, minAlphaFrac = 0.8, minStopwords = 2,
          stopwords = Seq("the", "a", "of", "and", "is"))
        ()
      }
    }
    println(s"""{"metric":"gate_loop_per_batch","sf_dir":"$dir","batches":$nBatches,""" +
      s""""sec":[${gateTimes.map(r4).mkString(",")}]}""")

    // ---- blocklist loop: same shape, with a takedown landing mid-history
    // (the list grows — per-batch cost must still not)
    val bname = "probe_block"
    TextAnalysis.ensureBlocklistStore(spark, bname)
    TextAnalysis.resetBlocklistStore(spark, bname)
    TextAnalysis.addBlockedDomains(spark, bname, Seq("tracker.net"))
    val url = concat(lit("https://"),
      when(col("doc_id") % 5 === 0, lit("ads.tracker.net"))
        .when(col("doc_id") % 5 === 1, lit("sub.spam-mill.com"))
        .otherwise(lit("example.org")),
      lit("/page/"), col("doc_id"))
    val docsU = docs.withColumn("url", url)
    val blockTimes = (0 until nBatches).map { b =>
      if (b == nBatches / 2)
        TextAnalysis.addBlockedDomains(spark, bname, Seq("spam-mill.com"))
      time {
        TextAnalysis.applyBlockIngestBatch(spark,
          docsU.filter(col("doc_id") % nBatches === b), b.toLong,
          "doc_id", "url", bname, s"$wh/block_out")
        ()
      }
    }
    println(s"""{"metric":"block_loop_per_batch","sf_dir":"$dir","batches":$nBatches,""" +
      s""""sec":[${blockTimes.map(r4).mkString(",")}]}""")
    spark.stop()
    graft.engine.WarehouseMeta.deleteRecursively(wh)
  }
}
