package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.Locale

/** Scaling probe (round 10): back the "scales" column with a measured curve.
  *
  * Generates an sf1-EQUIVALENT corpus (10× sf0.1) by seeded replication +
  * deterministic perturbation, then times the headline maintained-index
  * operators at sf0.1 and sf1 and prints per-op medians plus the observed
  * scaling exponent log10(t_sf1 / t_sf0.1) — ~1.0 = linear, the design
  * target for every entry except the by-design-superlinear ones.
  *
  * Generation (documents): replica r of a doc keeps the token MULTISET but
  * permutes order by md5(r:pos:token) — the permutation destroys the
  * replica's 3-gram shingles (so replicas are NOT near-dups of their
  * originals and candidate volume stays corpus-like) while near-identical
  * doc PAIRS inside one replica permute near-identically (same tokens at
  * the same positions → same sort keys), preserving the corpus' dup
  * DENSITY at 10× — the property an honest dedup scaling test needs.
  * Embeddings add ±0.05 deterministic per-dimension noise; star tables
  * replicate with key offsets (nation/region shared — replicas connect
  * through them exactly like a bigger TPC-H would).
  *
  * Run: `sbt "runMain graft.ScaleProbe"` (optionally SCALE_PROBE_REPS).
  * Results land in BASELINE.md §Scaling; tmp-scale/ is gitignored.
  */
object ScaleProbe {

  private val sf01 = "/root/testdata/sf0.1"
  private val genRoot = "/root/repo/tmp-scale"
  private val sf1 = s"$genRoot/sf1"
  private val sf10 = s"$genRoot/sf10"
  private val replicas = 10
  private val keyOffset = 10000000L

  private def r4(v: Double): String = String.format(Locale.ROOT, "%.4f", Double.box(v))

  private def session(): SparkSession =
    Bench.buildSession(warehouseDir = Some(s"$genRoot/warehouse"))

  // --------------------------------------------------------------- generate

  /** Deterministic token permutation for replica `r` (see scaladoc). */
  private def shuffledText(r: Int) = concat_ws(" ",
    transform(
      array_sort(
        transform(split(col("text"), " "),
          (t, i) => struct(
            md5(concat_ws(":", lit(r), i.cast("string"), t)).as("k"),
            t.as("t")))),
      s => s.getField("t")))

  private def replicate(df: DataFrame, r: Int, idCols: Seq[String]): DataFrame =
    idCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(r * keyOffset)))

  private def gen(spark: SparkSession): Unit = {
    val done = new java.io.File(s"$sf1/_GENERATED")
    if (done.exists()) { System.err.println(s"[scale] $sf1 already generated"); return }
    val t0 = System.nanoTime()
    def replicas10(base: DataFrame, perturb: (DataFrame, Int) => DataFrame,
        idCols: Seq[String], out: String): Unit =
      (0 until replicas).map(r => replicate(perturb(base, r), r, idCols))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$sf1/$out.parquet")

    val docs = spark.read.parquet(s"$sf01/documents.parquet")
    replicas10(docs,
      (d, r) => if (r == 0) d else d.withColumn("text", shuffledText(r)),
      Seq("doc_id"), "documents")

    val emb = spark.read.parquet(s"$sf01/embeddings.parquet")
    replicas10(emb,
      (d, r) => if (r == 0) d else d.withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          (x + (conv(substring(md5(concat_ws(":", lit(r), i.cast("string"),
              col("vec_id").cast("string"))), 1, 8), 16, 10).cast("double")
            / lit(4294967296.0) - 0.5) * 0.1).cast("float"))),
      Seq("vec_id"), "embeddings")

    // star tables for the graph ops: keys offset per replica; nation/region
    // SHARED (replicas connect through them, like a larger TPC-H would)
    replicas10(spark.read.parquet(s"$sf01/customer.parquet"),
      (d, _) => d, Seq("c_custkey"), "customer")
    replicas10(spark.read.parquet(s"$sf01/supplier.parquet"),
      (d, _) => d, Seq("s_suppkey"), "supplier")
    replicas10(spark.read.parquet(s"$sf01/part.parquet"),
      (d, _) => d, Seq("p_partkey"), "part")
    replicas10(spark.read.parquet(s"$sf01/orders.parquet"),
      (d, _) => d, Seq("o_orderkey", "o_custkey"), "orders")
    replicas10(spark.read.parquet(s"$sf01/lineitem.parquet"),
      (d, _) => d, Seq("l_orderkey", "l_partkey", "l_suppkey"), "lineitem")
    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$sf01/$t.parquet")
        .write.mode("overwrite").parquet(s"$sf1/$t.parquet")
    done.getParentFile.mkdirs()
    java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
    System.err.println(f"[scale] generated $sf1 in ${(System.nanoTime() - t0) / 1e9}%.1fs")
  }

  /** 100× documents/embeddings (sf10-equivalent) — the decade that exits
    * this host's fixed per-stage overhead floor, so the dedup/ANN curve is
    * measured where data actually dominates. Star tables are not scaled to
    * 60M lineitem rows; the graph ops keep their sf0.1→sf1 decade. Built
    * by re-replicating the ALREADY-PERTURBED sf1 corpus with fresh salts. */
  private def gen10(spark: SparkSession): Unit = {
    val done = new java.io.File(s"$sf10/_GENERATED")
    if (done.exists()) { System.err.println(s"[scale] $sf10 already generated"); return }
    val t0 = System.nanoTime()
    val decade = 1000000000L // sf1 ids span < 10*keyOffset + 1e5 ≪ this
    val docs = spark.read.parquet(s"$sf1/documents.parquet")
    (0 until replicas).map { r =>
      val p = if (r == 0) docs
        else docs.withColumn("text", shuffledText(1000 + r))
      p.withColumn("doc_id", col("doc_id") + lit(r * decade))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$sf10/documents.parquet")
    val emb = spark.read.parquet(s"$sf1/embeddings.parquet")
    (0 until replicas).map { r =>
      val p = if (r == 0) emb
        else emb.withColumn("embedding",
          transform(col("embedding"), (x, i) =>
            (x + (conv(substring(md5(concat_ws(":", lit(1000 + r), i.cast("string"),
                col("vec_id").cast("string"))), 1, 8), 16, 10).cast("double")
              / lit(4294967296.0) - 0.5) * 0.1).cast("float")))
      p.withColumn("vec_id", col("vec_id") + lit(r * decade))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$sf10/embeddings.parquet")
    done.getParentFile.mkdirs()
    java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
    System.err.println(f"[scale] generated $sf10 in ${(System.nanoTime() - t0) / 1e9}%.1fs")
  }

  // ---------------------------------------------------------------- measure

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    gen(spark)
    gen10(spark)
    val reps = sys.env.getOrElse("SCALE_PROBE_REPS", "3").toInt
    import graft.ops.{Dedup, Similarity}

    val zscanBands = scala.collection.mutable.Map.empty[String, (Long, Long)]

    /** One-time durable builds are timed apart from the repeated op. */
    def ops(dir: String, tag: String): Seq[(String, () => Unit)] = {
      def docs = spark.read.parquet(s"$dir/documents.parquet")
      def emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val sigStore = s"scale_sig_$tag"
      val vecIndex = s"scale_vec_$tag"
      Seq(
        "d03_lsh_candidates" -> (() => noop(
          Dedup.lshCandidates(docs, "doc_id", "text",
            k = 3, bands = 4, rowsPerBand = 4, maxBucket = 1000L))),
        "store_build_once" -> (() => {
          Dedup.ensureSignatureStore(spark,
            docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
            sigStore, fingerprint = s"scaleprobe-$tag")
          ()
        }),
        "d14_increment" -> (() => noop(
          Dedup.dedupIncrement(spark, docs.filter(col("doc_id") % 2 === 1),
            "doc_id", "text", sigStore, minEstimate = 0.5))),
        "s13_multiprobe_recall" -> (() => {
          val bucketed = Similarity.bucketize(emb, "embedding", bits = 5)
          val queries = bucketed.filter(col("vec_id").isin(0, 7, 11))
          noop(Similarity.recallAtK(
            Similarity.cosineLshTopKBatchMultiProbe(bucketed, queries,
              "vec_id", "embedding", k = 5, bits = 5, radius = 3),
            Similarity.bruteForceTopKBatch(emb, queries.drop("_bucket"),
              "vec_id", "embedding", k = 5)))
        }),
        "index_build_once" -> (() => {
          Similarity.ensureVectorIndex(spark, emb, "vec_id", "embedding",
            vecIndex, fingerprint = s"scaleprobe-$tag", bits = 4)
          ()
        }),
        "s15_index_probe" -> (() => {
          val (bucketed, _) = Similarity.vectorIndex(spark, vecIndex, "vec_id", "embedding")
          noop(Similarity.cosineLshTopKBatch(bucketed,
            bucketed.filter(col("vec_id").isin(0, 7, 11)),
            "vec_id", "embedding", k = 5))
        }),
        "x02_pagerank" -> (() => noop(
          graft.ops.Analytics.staticPageRank(spark, StarGraph(spark, dir), numIter = 5)
            .orderBy(col("rank").desc, col("uid")).limit(20))),
        "p01_ingest_pipeline" -> (() => noop(
          SparkEntry.queries("p01_ingest_pipeline")(spark, dir))),
        // r13: the WARC front door — archive build once per decade (one
        // writer task per shard), then the full parse → strip → canon →
        // gate → dedup → census pipeline; record split is per-file
        // parallel, so expect ~linear in corpus size
        "warc_build_once" -> (() => {
          val p = s"$genRoot/warc_$tag"
          if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p))) {
            graft.sources.WarcFile.syntheticWarcCorpus(spark, docs,
              "doc_id", "text", p, nFiles = 8)
            ()
          }
        }),
        "p04_warc_pipeline" -> (() => noop({
          import graft.ops.TextAnalysis
          val resp = graft.sources.WarcFile.read(spark, s"$genRoot/warc_$tag")
            .toDF()
            .filter(col("warc_type") === "response")
            .select(
              TextAnalysis.canonicalizeUrl(col("url")).as("url"),
              TextAnalysis.htmlToText(col("body").cast("string")).as("text"))
            .filter(org.apache.spark.sql.functions.size(split(col("text"), " ")) >= 30)
          resp.groupBy("text")
            .agg(min("url").as("url"), count(lit(1)).as("copies"))
            .withColumn("host", regexp_extract(col("url"), "^https://([^/]+)/", 1))
            .groupBy("host").agg(count(lit(1)), sum("copies"))
        })),
        // r11: media path (encode → real BMP decode → dHash → band join;
        // map-only per-row work + 16-byte shuffle rows — expect ~linear)
        "m01_image_dups" -> (() => noop(
          graft.ops.Multimodal.imageDupPairs(spark,
            graft.ops.Multimodal.syntheticBmpCorpus(spark,
              docs.select("doc_id"), "doc_id")))),
        // r11: FTS postings build + parenthesized boolean match (token
        // explode is map-only; the match is set algebra over one exchange)
        "fts_paren_match" -> (() => noop(
          graft.query.Fts.matchUids(
            graft.query.Fts.postings(docs, "doc_id", Map("text" -> "text")),
            "(spark OR vector) AND (scan NOT \"slow filter\")"))),
        // r11 late: segment dedup + the two unigram-model scores (all
        // token-keyed aggs/joins — expect ~linear decades)
        "t13_paragraph_dedup" -> (() => noop(
          graft.ops.TextAnalysis.paragraphDedup(docs, "doc_id", "text", window = 8))),
        "t14_unigram_logprob" -> (() => noop(
          graft.ops.TextAnalysis.unigramLogProb(docs, "doc_id", "text"))),
        "t15_dsir_weights" -> (() => noop(
          graft.ops.TextAnalysis.importanceWeights(docs, "doc_id", "text",
            target = docs.filter(col("lang") === "en")))),
        // r11 late: PQ encode+ADC+refine — map-only scan + constant refine
        "s18_pq_rerank" -> (() => noop(
          SparkEntry.queries("s18_pq_rerank")(spark, dir))),
        // r11 late: degree-oriented triangles over the copart graph (star
        // tables exist at sf0.1/sf1 only, like x02); replicas are disjoint
        // subgraphs, so the decade is an honest 10× edge scale-up
        "x08_triangles" -> (() => noop(
          SparkEntry.queries("x08_copart_triangles")(spark, dir))),
        // r11 late: the remaining session additions — map-only extraction/
        // canonicalization, the one-pass profiler (over documents here so
        // all three decades exist), the composed curation pipeline, and
        // residual-coded IVFADC
        "t17_html_extract" -> (() => noop(
          SparkEntry.queries("t17_html_extract")(spark, dir))),
        "t18_url_canonical" -> (() => noop(
          SparkEntry.queries("t18_url_canonical")(spark, dir))),
        "e07_profile_docs" -> (() => noop(
          graft.ops.Quality.profile(docs, Seq("doc_id", "lang", "source"),
            exact = false))),
        "p02_curation" -> (() => noop(
          SparkEntry.queries("p02_curation_pipeline")(spark, dir))),
        "s19_ivfadc" -> (() => noop(
          SparkEntry.queries("s19_ivfadc")(spark, dir))),
        // r11 second session: order-2 LM scoring (bigram-keyed aggs + two
        // joins), the contamination guard (store build split out _once;
        // probe is one 8-byte-hash shuffle), audio fingerprint dups
        // (fixture synthesis dominates — skipped at sf10 like the star
        // ops), the Gopher gate (map-only), SQ8 ADC (map-only scan +
        // top-k), and curation v2 (gate → cluster-best → pack)
        "t21_bigram_logprob" -> (() => noop(
          SparkEntry.queries("t21_bigram_logprob")(spark, dir))),
        "guard_store_build_once" -> (() =>
          Dedup.writeEvalShingleStore(spark,
            docs.filter(col("doc_id") % 50 === 0), "doc_id", "text",
            s"scale_guard_$tag", k = 5)),
        "d20_guard" -> (() => noop(
          Dedup.contaminationAgainstStore(spark,
            docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
            s"scale_guard_$tag"))),
        "m05_audio_dups" -> (() => noop(
          graft.ops.Multimodal.audioDupPairs(spark,
            graft.ops.Multimodal.syntheticToneCorpus(spark,
              docs.select("doc_id"), "doc_id")))),
        "t19_gopher_rules" -> (() => noop(
          SparkEntry.queries("t19_gopher_rules")(spark, dir))),
        "s23_sq8" -> (() => noop(
          SparkEntry.queries("s23_sq8_adc")(spark, dir))),
        "p03_curation_v2" -> (() => noop(
          SparkEntry.queries("p03_curation_v2")(spark, dir))),
        // r11 second session, late: TF-IDF keywords (token-keyed aggs +
        // per-doc window), Adamic–Adar (capped wedge join; sf0.1→sf1 like
        // the other star-graph ops), fuzzy contamination (store build
        // split out _once), container metadata (map-only header parse)
        "t24_tfidf_keywords" -> (() => noop(
          SparkEntry.queries("t24_tfidf_keywords")(spark, dir))),
        "x10_adamic_adar" -> (() => noop(
          SparkEntry.queries("x10_adamic_adar")(spark, dir))),
        "fuzzy_store_build_once" -> (() => {
          Dedup.ensureSignatureStore(spark,
            docs.filter(col("doc_id") % 50 === 0), "doc_id", "text",
            s"scale_fuzzy_$tag", fingerprint = s"scalefuzzy-$tag")
          ()
        }),
        "d21_fuzzy_guard" -> (() => noop(
          Dedup.dedupIncrement(spark, docs.filter(col("doc_id") % 50 =!= 0),
            "doc_id", "text", s"scale_fuzzy_$tag", minEstimate = 0.5))),
        "m06_container_meta" -> (() => noop(
          graft.ops.Multimodal.extractContainerMetadata(spark,
            graft.ops.Multimodal.syntheticContainerCorpus(spark,
              docs.select("doc_id"), "doc_id")).toDF())),

        // BPE training at realistic merge counts (r12, verdict item 9):
        // 200 merges, batched 16 per round → 13 count-rounds instead of
        // 200. The corpus collapses once to its word-frequency vocabulary,
        // so per-round cost tracks |vocab|, not |corpus| — the replicated
        // decades keep the word SET fixed while growing the corpus 100×,
        // and this probe evidences that the rounds stay flat (only the
        // one-time collapse pays the corpus scan).
        "bpe_train_b16" -> (() => {
          graft.ops.TextAnalysis.trainBpeMergesBatched(spark, docs, "text",
            nMerges = 200, batchSize = 16)
          ()
        }),

        // r13 session 2: exact-substring dedup (Lee 2021) — word-anchored
        // windows shuffle one row per word (the shingle family's budget),
        // election is one min-struct groupBy; the scrub adds a per-doc
        // sorted-cut fold. Expect ~linear decades.
        "d22_dup_windows" -> (() => noop(
          Dedup.duplicatedWindows(docs, "doc_id", "text", windowLen = 40)
            .groupBy("id").count())),
        "d23_substring_scrub" -> (() => noop(
          Dedup.scrubDuplicatedSpans(docs, "doc_id", "text", windowLen = 40)
            .select(col("doc_id"), length(col("text"))))),

        // z-order rewrite (r12): bounds aggregate + repartitionByRange +
        // within-partition sort + parquet write over lineitem — the whole
        // layout pipeline, timed at 10× rows (star decade only)
        "w23_zorder_write" -> (() =>
          graft.ops.Layout.zorderWrite(
            spark.read.parquet(s"$dir/lineitem.parquet"),
            s"$genRoot/zorder_probe_$tag", "l_orderkey", "l_suppkey",
            nFiles = 16)),

        // full incremental-maintenance lifecycle (r12): init on the low
        // 90% of the orderkey domain + blind tail append + ONE
        // incremental zorderMaintain (only edge tiles rewrite; the rest
        // carry as manifest rows) — the OPTIMIZE cost curve at 10× rows
        "zmaint_lifecycle" -> (() => {
          val p = s"$genRoot/zmaint_probe_$tag"
          graft.engine.WarehouseMeta.deleteRecursively(java.nio.file.Paths.get(p))
          val li = spark.read.parquet(s"$dir/lineitem.parquet")
          val cut = li.agg(max("l_orderkey")).collect()(0).getLong(0) * 9 / 10
          graft.ops.Layout.zorderInit(spark,
            li.filter(col("l_orderkey") <= cut), p, "l_orderkey", "l_suppkey", 16)
          graft.ops.Layout.zorderAppend(li.filter(col("l_orderkey") > cut), p)
          graft.ops.Layout.zorderMaintain(spark, p)
          ()
        }),

        // reader-side span pruning (r12): the same two-sided band aggregate
        // over a 64-file maintained z table, once through zorderScan (file
        // list cut driver-side from the spans sidecar) and once as a full
        // read + filter — the delta is what the sidecar saves BEFORE
        // parquet row-group pruning even starts
        "zscan_build_once" -> (() => {
          val p = s"$genRoot/zscan_$tag"
          // always rebuild: a leftover table from an older on-disk
          // representation would pass a currentGen check and fail the scan
          graft.engine.WarehouseMeta.deleteRecursively(java.nio.file.Paths.get(p))
          graft.ops.Layout.zorderInit(spark,
            spark.read.parquet(s"$dir/lineitem.parquet"), p,
            "l_orderkey", "l_suppkey", nFiles = 64)
        }),
        "w27_scan_pruned" -> (() => noop({
          val p = s"$genRoot/zscan_$tag"
          val bands = zscanBands.getOrElseUpdate(tag, {
            val mx = graft.ops.Layout.zorderRead(spark, p)
              .agg(max("l_orderkey"), max("l_suppkey")).collect()(0)
            (mx.getLong(0), mx.getLong(1))
          })
          graft.ops.Layout.zorderScan(spark, p,
            (bands._1 / 4, bands._1 / 2), (bands._2 * 2 / 5, bands._2 / 2))
            .groupBy("l_returnflag").agg(count(lit(1)))
        })),
        "w27_scan_full" -> (() => noop({
          val p = s"$genRoot/zscan_$tag"
          // same lazy-fill as the pruned leg: SCALE_PROBE_ONLY may select
          // this op WITHOUT w27_scan_pruned, so a bare map lookup would NPE
          val bands = zscanBands.getOrElseUpdate(tag, {
            val mx = graft.ops.Layout.zorderRead(spark, p)
              .agg(max("l_orderkey"), max("l_suppkey")).collect()(0)
            (mx.getLong(0), mx.getLong(1))
          })
          graft.ops.Layout.zorderRead(spark, p)
            .filter(col("l_orderkey").between(bands._1 / 4, bands._1 / 2) &&
              col("l_suppkey").between(bands._2 * 2 / 5, bands._2 / 2))
            .groupBy("l_returnflag").agg(count(lit(1)))
        })),

        // chain-DSL compiler (r12, verdict item 7): the g-family had never
        // been probed past sf0.1. g01 = 1-hop chain + grouped COUNT; g05 =
        // 4-hop chain + grouped SUM — the longest driver chain. Both run
        // over StarGraph's cached per-kind projection (the fill is paid on
        // the first rep, shared across both — same as the bench battery).
        "g01_chain_group" -> (() => noop(
          graft.query.Fetch.df(StarGraph(spark, dir), graft.query.Fetch.Args(
            chain = "[c:customer,ordercount] <(e:PlacedBy)- (o:orders)",
            group = Some("c.uid"),
            params = Map("ordercount" -> "COUNT(o.uid)")))
            .select("uid", "ordercount"))),
        "g05_chain_4hop" -> (() => noop(
          graft.query.Fetch.df(StarGraph(spark, dir), graft.query.Fetch.Args(
            chain = "[r:region,revenue] <(e2:InRegion)- (n:nation) <(e1:InNation)- (c:customer) <(e3:PlacedBy)- (o:orders)",
            group = Some("r.uid"),
            params = Map("revenue" ->
              "CAST(SUM(CAST(o.data.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)")))
            .select("uid", "revenue"))),
        // the warehouse twin: bucketed build once, then the co-partitioned
        // self-join + groupBy on the bucket column (no data-bearing shuffle)
        "wh_build_once" -> (() => { StarWarehouse(spark, dir); () }),
        "w20_copart_wh" -> (() => noop({
          val g = StarWarehouse(spark, dir)
          def contains(as: String) = g.edges.filter(col("kind") === "Contains")
            .select(col("startuid"), col("uid").as(as))
          contains("uid_a").join(contains("uid_b"), "startuid")
            .filter(col("uid_a") < col("uid_b"))
            .groupBy("startuid").agg(count(lit(1)).as("pairs"))
        })))
    }

    val results = scala.collection.mutable.LinkedHashMap
      .empty[(String, String), Double]
    // the sf10 decade has documents/embeddings only (the star tables are
    // not scaled to 60M lineitem rows); x02 keeps its sf0.1→sf1 decade
    val sfs = Seq((sf01, "sf0.1"), (sf1, "sf1"), (sf10, "sf10"))
    for ((dir, tag) <- sfs) {
      // `_once` build steps always run: a filter that kept d14/s15 but
      // dropped their store/index builds would crash on a fresh warehouse
      val only = sys.env.getOrElse("SCALE_PROBE_ONLY", ".*").r
      for ((name, fn) <- ops(dir, tag.replace(".", ""))
           if name.endsWith("_once") || only.pattern.matcher(name).matches()
           // sf10 has documents/embeddings only — no star tables, so the
           // graph/chain ops keep their sf0.1→sf1 decade
           if !(tag == "sf10" && (name == "x02_pagerank" ||
             name == "x08_triangles" || name == "m05_audio_dups" ||
             name == "x10_adamic_adar" || name == "g01_chain_group" ||
             name == "g05_chain_4hop" || name == "wh_build_once" ||
             name == "w20_copart_wh" || name == "w23_zorder_write" ||
             name == "zmaint_lifecycle" || name == "zscan_build_once" ||
             name == "w27_scan_pruned" || name == "w27_scan_full"))) {
        val times =
          if (name.endsWith("_once")) Seq(time(fn())) // durable: pay once
          else { fn(); (1 to reps).map(_ => time(fn())) } // warm + reps
        val med = median(times)
        results((name, tag)) = med
        println(s"""{"metric":"scale","op":"$name","sf":"$tag","sec":${r4(med)},"reps":[${times.map(r4).mkString(",")}]}""")
        System.out.flush()
      }
    }
    val names = results.keys.map(_._1).toSeq.distinct
    for (n <- names) {
      val pts = sfs.flatMap { case (_, tag) => results.get((n, tag)).map(tag -> _) }
      val expos = pts.sliding(2).collect { case Seq((_, a), (_, b)) =>
        r4(math.log10(b / a)) }.mkString("[", ",", "]")
      val ptsJson = pts.map { case (tag, v) => "\"" + tag + "\":" + r4(v) }
        .mkString("{", ",", "}")
      println(s"""{"metric":"scale_exponent","op":"$n","sec":$ptsJson,"per_decade_exponents":$expos}""")
    }
    spark.stop()
  }
}
