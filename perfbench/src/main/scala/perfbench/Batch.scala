package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.StarGraph
import graft.engine.ViewGraph
import graft.ops.{Analytics, Dedup, TextAnalysis}
import graft.query.{Fetch, Fts}

/** The batch jobs of the `warehouse` workload: a fixed list of curation
  * and graph jobs, run pass after pass, each written to Spark's noop sink.
  * The seed picks the document subset, the traversal seed, the
  * co-purchase priority and the job order. Each
  * job's output is summarised in the same execution (`Dataset.observe`:
  * row count, an order-free fingerprint of its exact columns, job-specific
  * aggregates). Where `datagen.py` computes the job's exact output, row
  * count and fingerprint must equal it; the other jobs are checked by
  * invariants, and every job against its own first answer in later passes. */
final class Batch(h: Harness) extends Workload {
  import Batch._

  private val spark = h.spark
  private val gen = new scala.util.Random(h.args.seed)
  private val data = h.args.data
  private def table(n: String) = spark.read.parquet(s"$data/$n.parquet")

  // seeded inputs
  private val docCut = 80 // percent of documents in the subset (which ones is seeded)
  private val params: Map[String, String] =
    Expect.rows(data, "batch_params").map(r => r(0) -> r(1)).toMap
  private val hopSeed = params("hop_seed")
  private val priority = params("priority")
  private def kept(id: Long): Boolean = Math.floorMod(id * Mix + h.args.seed, 100L) < docCut
  private val docs: DataFrame = table("documents")
    .filter(pmod(col("doc_id") * lit(Mix) + lit(h.args.seed), lit(100L)) < docCut)

  // what the checks need, from the generator's plain-text copies
  private val docText: Map[Long, String] = Expect.rows(data, "documents")
    .map(r => r(0).toLong -> r(1)).filter(d => kept(d._1)).toMap
  private val vocab = docText.values.flatMap(_.split(" ")).toSeq.distinct.sorted.toIndexedSeq
  private val bm25Terms = (vocab(gen.nextInt(vocab.size)), vocab(gen.nextInt(vocab.size)))
  private val pairBounds: (Long, Long) = {
    val r = Expect.rows(data, "near_dup_pairs").head; (r(0).toLong, r(1).toLong)
  }
  /** Exact (rows, fingerprint) per job, where the generator computes them. */
  private val exact: Map[String, (Long, Long)] =
    Expect.rows(data, "batch").map(r => r(0) -> (r(1).toLong, r(2).toLong)).toMap
  require(exact.nonEmpty && exact.keySet.subsetOf(jobs.map(_.name).toSet),
    s"expectations ${exact.keySet} name no job of ${jobs.map(_.name)}")

  private var g: ViewGraph = _
  private val firstHash = mutable.Map.empty[String, Long]
  private var funnelDone = false

  /** The star projection's per-kind caches and the input scans, built once
    * before timing (a later set-up drops and rebuilds them). */
  def setup(rep: Int): Unit = {
    StarGraph.invalidate()
    g = StarGraph(spark, data)
    g.nodes.count(); g.edges.count(); g.nodeFts.count()
    docs.count(); table("embeddings").count()
  }

  /** A set-up takes about two seconds after the cold one; a timed set-up
    * is more than the run budget allows. */
  val setupReps = 0

  /** A pass takes about five seconds; two give every job two samples. */
  override val minCycles = 2

  /** A pass, in a seeded order: the curation family as one operation (its
    * jobs back to back, in a seeded order; it writes the curated set) and
    * each graph job as an operation of its own. */
  private val pass: Seq[Seq[Job]] = {
    val (cur, graphJobs) = jobs.partition(_.curation)
    gen.shuffle(gen.shuffle(cur) +: graphJobs.map(Seq(_)))
  }
  private var next = 0
  private var graph = 0.0

  /** A cycle is one pass. */
  override def cycleDone: Boolean = next == 0

  /** Two passes: after one, the first timed pass still ran its jobs 20 to
    * 40% slower than the second in some runs. */
  def warm(): Unit = (0 until 2 * pass.size).foreach(_ => step())

  /** The next operation of the pass; a completed pass adds its graph sum. */
  def step(): Unit = {
    if (next == 0) graph = 0.0
    val js = pass(next)
    run(js)
    if (js.head.curation) h.sample("batch.curation_s", h.lastMs / 1e3) else graph += h.lastMs / 1e3
    next = (next + 1) % pass.size
    if (next == 0) h.sample("batch.graph_s", graph)
  }

  private def run(js: Seq[Job]): Unit = {
    val curation = js.head.curation
    val res = h.op(if (curation) "curation" else js.head.name, if (curation) Write else Read) {
      js.map { j =>
        val t0 = System.nanoTime()
        val df = h.subGroup(s"build-${j.name}")(h.tracer.span("ops.build")(j.build(this)))
        val obs = Observation(j.name)
        val observed = df.observe(obs, count(lit(1)).as("n"), fingerprint(j.hashCols) +: j.aggs: _*)
        h.tracer.span("spark.exec")(observed.write.format("noop").mode("overwrite").save())
        (j, obs.get, (System.nanoTime() - t0) / 1e9)
      }
    } { _.forall { case (j, m, _) =>
      val hash = m("hash").asInstanceOf[Long]
      val same = firstHash.getOrElseUpdate(j.name, hash) == hash
      if (!same) println(s"# ${j.name}: output hash changed between passes")
      val ok = same && exact.get(j.name).forall(_ == ((n(m), hash))) && j.check(this, m)
      if (!ok) println(s"# ${j.name}: observed $m")
      ok
    } }
    res.foreach(_.foreach { case (j, _, secs) => h.sample(s"batch.${j.name}.s", secs) })
    if (h.args.trace && h.measuring) {
      h.rec.foreach { r =>
        r.drain()
        js.foreach(j => h.sample(s"batch.${j.name}.build_jobs",
          r.group(s"${h.currentGroup}/build-${j.name}").jobs))
      }
      if (js.exists(_.name == "p03_curation") && !funnelDone && res.isDefined) {
        funnelDone = true; funnel()
      }
    }
  }

  /** Traced run only: the dedup funnel of the p03 chain, counted outside
    * the timed job (each count is an extra execution). */
  private def funnel(): Unit = {
    val gated = gatedDocs
    val cands = Dedup.lshCandidates(gated, "doc_id", "text")
    val clusters = Dedup.dupClusters(spark, cands)
    val kept = Dedup.dedupByClustersBest(gated, "doc_id", clusters,
      gated.select(col("doc_id"), TextAnalysis.distinctTokenCount(col("text")).as("q")), "q")
    h.sample("dedup.candidates", cands.count())
    h.sample("dedup.verified", clusters.count())
    h.sample("dedup.kept", kept.count())
  }

  private def gatedDocs: DataFrame = {
    val gate = TextAnalysis.gopherRules(docs, "doc_id", "text",
        minWords = 30, maxWords = 90, minMeanWordLen = 4.0, maxMeanWordLen = 4.9,
        minAlphaFrac = 0.8, minStopwords = 2, stopwords = Seq("the", "a", "of", "and", "is"))
      .filter(col("pass_gopher")).select("doc_id")
    docs.join(gate, "doc_id")
  }

  private def coPurchasePairs: DataFrame = {
    val li = table("lineitem").select(col("l_orderkey"), col("l_partkey"))
      .join(table("orders").filter(col("o_orderpriority") === priority).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
    li.select(col("l_orderkey").as("ok"), col("l_partkey").as("src"))
      .join(li.select(col("l_orderkey").as("ok"), col("l_partkey").as("dst")), "ok")
      .filter(col("src") < col("dst"))
  }
}

object Batch {
  /** Cosine threshold of the near-dup job (datagen.py counts against it). */
  val NearDupCos = 0.35
  /** Multiplier of the seeded document subset (a Knuth hash). */
  val Mix = 2654435761L

  /** Order-free fingerprint of a job's output: the sum over rows of the
    * CRC-32 of its exact columns joined by '|' (datagen.py computes the
    * same from its own copy of the inputs). */
  def fingerprint(cols: Seq[String]): Column =
    coalesce(sum(crc32(concat_ws("|", cols.map(c => col(c).cast("string")): _*).cast("binary"))),
      lit(0L)).as("hash")

  /** One job: how to build its DataFrame, which exact (non-float) columns
    * its fingerprint covers, and, for jobs whose exact output the generator
    * does not know, extra observed aggregates and the invariant on them. */
  final case class Job(name: String, curation: Boolean, hashCols: Seq[String],
      build: Batch => DataFrame, aggs: Seq[Column] = Nil,
      check: (Batch, Map[String, Any]) => Boolean = (_, _) => true)

  private def n(m: Map[String, Any]): Long = m("n").asInstanceOf[Long]
  private def d(m: Map[String, Any], k: String): Double = m(k) match {
    case x: Double => x; case x: Long => x.toDouble; case x: java.math.BigDecimal => x.doubleValue
    case x => x.toString.toDouble
  }

  /** Jobs checked exactly against datagen.py: p03_curation, pagerank (the
    * node set; ranks by their sum), hop_distances, triangles, order_counts. */
  val jobs: Seq[Job] = Seq(
    // p03 shape: Gopher gate -> LSH candidates -> clusters -> best copy ->
    // 128-token packing. (p02's paragraph-dedup chain and kHop are left out
    // to fit the run budget; hop_distances covers whole-graph traversal.)
    Job("p03_curation", curation = true, Seq("lang", "bin", "n_docs", "bin_tokens"), b => {
      val gated = b.gatedDocs
      val clusters = Dedup.dupClusters(b.spark, Dedup.lshCandidates(gated, "doc_id", "text"))
      val scored = gated.select(col("doc_id"), TextAnalysis.distinctTokenCount(col("text")).as("q"))
      TextAnalysis.packBins(Dedup.dedupByClustersBest(gated, "doc_id", clusters, scored, "q"),
          "lang", "doc_id", "text", budget = 128)
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_tokens")).cast("long").as("bin_tokens"))
    }),
    // float cosines: the pair count must fall in the band datagen.py leaves
    // for rounding at the threshold
    Job("near_dups", curation = true, Seq("id_a", "id_b"), b =>
      Dedup.embeddingDupPairs(b.table("embeddings"), "vec_id", "embedding", "label", NearDupCos),
      Seq(coalesce(min(col("cosine")), lit(1.0)).as("min_cos")),
      (b, m) => n(m) >= b.pairBounds._1 && n(m) <= b.pairBounds._2 && d(m, "min_cos") >= NearDupCos),
    // float scores: the result size must match the documents holding a term
    Job("bm25", curation = true, Seq("doc_id"), b =>
      Fts.matchBm25(Fts.postings(b.docs, "doc_id", Map("text" -> "text")),
          s"${b.bm25Terms._1} OR ${b.bm25Terms._2}")
        .withColumnRenamed("uid", "doc_id").orderBy(col("score").desc, col("doc_id")).limit(50),
      Seq(min(col("score")).as("min_score")),
      (b, m) => n(m) == math.min(50L, b.docText.values.count { t =>
        val ws = t.split(" "); ws.contains(b.bm25Terms._1) || ws.contains(b.bm25Terms._2) }.toLong)),
    Job("pagerank", curation = false, Seq("uid"), b =>
      Analytics.staticPageRank(b.spark, b.g, numIter = 5),
      Seq(sum(col("rank")).as("rank_sum")),
      (b, m) => math.abs(d(m, "rank_sum") - n(m)) < 1e-6 * n(m)),
    Job("hop_distances", curation = false, Seq("uid", "dist"), b =>
      Analytics.hopDistances(b.spark, b.g, b.hopSeed)),
    Job("triangles", curation = false, Seq("v", "triangles"), b =>
      Analytics.triangleCounts(b.coPurchasePairs)),
    Job("order_counts", curation = false, Seq("uid", "ordercount"), b =>
      Fetch.df(b.g, Fetch.Args("[c:customer,ordercount] <(e:PlacedBy)- (o:orders)",
        group = Some("c.uid"), params = Map("ordercount" -> "COUNT(o.uid)")))
        .select("uid", "ordercount")))
}
