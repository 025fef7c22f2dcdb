package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.graphx.{Edge => GxEdge, Graph => GxGraph, VertexId}
import graft.engine.GraphSource

/** Distributed graph traversals (SURVEY §2.12 scale forms).
  *
  * The reference's per-node helpers and N+1 set loops
  * (graphydb.py:1335-1423, 1711-1772) collapse here into single
  * frontier-join plans; iterative/whole-graph analytics bridge to GraphX
  * via a uid→long dictionary.
  *
  * Scale notes: each hop is one shuffle (join on startuid/enduid). For
  * repeated traversals over a stable graph, pre-bucketing edges by startuid
  * (and nodes by uid) with the same bucket count makes hops shuffle-free.
  */
object Traversals {

  /** Nodes reachable along outgoing edges from `frontier` (a DF with `uid`). */
  def outN(g: GraphSource, frontier: DataFrame, kind: Option[String] = None): DataFrame = {
    val e = kind.map(k => g.edges.filter(col("kind") === k)).getOrElse(g.edges)
    val next = e.join(frontier.select(col("uid").as("startuid")), Seq("startuid"), "left_semi")
      .select(col("enduid").as("uid")).distinct()
    g.nodes.join(next, Seq("uid"), "left_semi")
  }

  def inN(g: GraphSource, frontier: DataFrame, kind: Option[String] = None): DataFrame = {
    val e = kind.map(k => g.edges.filter(col("kind") === k)).getOrElse(g.edges)
    val next = e.join(frontier.select(col("uid").as("enduid")), Seq("enduid"), "left_semi")
      .select(col("startuid").as("uid")).distinct()
    g.nodes.join(next, Seq("uid"), "left_semi")
  }

  def bothN(g: GraphSource, frontier: DataFrame): DataFrame =
    SetOps.union(outN(g, frontier), inN(g, frontier))

  /** k-hop expansion with visited-set pruning: frontierᵢ₊₁ = N(frontierᵢ) −
    * visited. Returns all nodes within `hops` (excluding the seed set).
    *
    * The edge list is compacted to its two endpoint columns and persisted
    * ONCE up front — the hop loop then joins tiny frontiers against that
    * in-memory pair list instead of re-deriving the full node+edge
    * projection every hop (r4: per-hop full-graph rescans made a 2-hop walk
    * ~7× slower than the single compaction pass) — and UNPERSISTED after
    * the loop (r5: the checkpointed copy previously outlived the call, so
    * repeated kHops accumulated whole-graph blocks in executor storage).
    * `persist` instead of `localCheckpoint` keeps the (trivial, one
    * projection) lineage, so blocks survive executor loss; the per-hop
    * frontiers stay eagerly checkpointed because they ARE the result
    * lineage and stop Catalyst re-optimizing an exponentially growing
    * iterative plan. `visited` needs no checkpoint: its lineage is a
    * bounded union of already-checkpointed frontiers. The node table enters
    * exactly once, at the end, to materialize the reached rows. Beyond a
    * few hops switch to [[Analytics.hopDistances]] (one GraphX Pregel BFS).
    *
    * Frontier joins BROADCAST the frontier while it stays under
    * `broadcastFrontierRows` (r5): a checkpointed frontier is a LogicalRDD
    * with unknown stats, so the planner would otherwise pick a sort-merge
    * join and SHUFFLE THE ENTIRE EDGE LIST once per hop — the exact
    * scale-killer at 100 TB. Frontier counts are known exactly (the
    * emptiness check already materializes them), so the hint is gated on
    * real cardinality, not estimates; an over-threshold frontier (hub
    * blowup) falls back to the shuffle join instead of OOMing the driver.
    * The default (1M rows ≈ tens of MB of uid strings, a few hundred MB
    * hashed) targets multi-GB executor/driver heaps; it gates on rows
    * because uid width is bounded in practice — size the threshold down on
    * small drivers. With the broadcast, a hop never moves edge bytes at
    * all — see BucketingSpec's zero-shuffle hop-join assert over the
    * bucketed warehouse ([[graft.StarWarehouse]]). */
  def kHop(g: GraphSource, seeds: DataFrame, hops: Int, directed: Boolean = false,
      broadcastFrontierRows: Long = 1000000L): DataFrame = {
    if (hops <= 0) return g.nodes.limit(0) // don't pay the edge compaction
    val e = g.edges.select("startuid", "enduid")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      e.count() // eager fill: every hop reads the compacted pair list
      var visited = seeds.select("uid").localCheckpoint(true)
      var frontier = visited
      var nFrontier = visited.count()
      var reached = visited.limit(0)
      var hop = 0
      var exhausted = false
      while (hop < hops && !exhausted) {
        val fr =
          if (nFrontier <= broadcastFrontierRows) broadcast(frontier) else frontier
        val out = e.join(fr.select(col("uid").as("startuid")), Seq("startuid"), "left_semi")
          .select(col("enduid").as("uid"))
        val in = e.join(fr.select(col("uid").as("enduid")), Seq("enduid"), "left_semi")
          .select(col("startuid").as("uid"))
        val next0 = (if (directed) out else out.unionByName(in)).distinct()
        val next = next0.join(visited, Seq("uid"), "left_anti").localCheckpoint(true)
        val n = next.count()
        if (n == 0) exhausted = true
        else {
          reached = reached.unionByName(next)
          // no distinct: each next is anti-joined against visited, so the
          // frontiers are pairwise disjoint by construction — visited stays
          // a FLAT union of checkpointed RDDs (a per-hop distinct would nest
          // one shuffle per hop into the anti-join's re-executed lineage)
          visited = visited.unionByName(next)
          frontier = next
          nFrontier = n
        }
        hop += 1
      }
      // reached = union of disjoint frontiers: distinct-free semi-join
      g.nodes.join(reached, Seq("uid"), "left_semi")
    } finally e.unpersist(false) // result lineage only references the frontiers
  }

  /** uid → dense VertexId dictionary for the GraphX bridge. Eagerly
    * checkpointed: monotonically_increasing_id over a shuffle is NOT stable
    * under recomputation, and the dictionary is consumed twice (graph build
    * + result join-back) — a recompute with different vids would silently
    * join results to the wrong uids. */
  def uidDictionary(g: GraphSource): DataFrame =
    g.nodes.select("uid").distinct()
      .withColumn("vid", monotonically_increasing_id())
      .localCheckpoint(true)

  /** Memoized (dictionary, GraphX graph) per source: every analytics entry
    * point (PageRank, CC, BFS, reach) needs both, and before round 6 each
    * call re-built and re-cached them — a bench pass running x02+x04+x05
    * paid the dictionary checkpoint and the edge join three times, and
    * executor storage churned a new uid dict per call. Keyed on
    * (source identity, [[GraphSource.analyticsVersion]]): immutable sources
    * hit forever; a mutated MemGraph misses, the stale graph's blocks are
    * dropped, and a fresh pair is built. WeakHashMap so a dropped source
    * lets the ContextCleaner reclaim the checkpointed RDDs. */
  private val gxMemo =
    new java.util.WeakHashMap[GraphSource, (Long, DataFrame, GxGraph[String, String])]()

  def graphXOf(g: GraphSource): (DataFrame, GxGraph[String, String]) = gxMemo.synchronized {
    val hit = gxMemo.get(g)
    if (hit != null && hit._1 == g.analyticsVersion) (hit._2, hit._3)
    else {
      if (hit != null) hit._3.unpersist(blocking = false)
      val dict = uidDictionary(g)
      val gx = toGraphX(g, dict).cache()
      gxMemo.put(g, (g.analyticsVersion, dict, gx))
      (dict, gx)
    }
  }

  /** Build a GraphX graph (vertex attr = uid, edge attr = kind) for
    * iterative analytics: BFS, PageRank, connected components — anything
    * where per-hop DataFrame joins would re-shuffle the world each step. */
  def toGraphX(g: GraphSource, dict: DataFrame): GxGraph[String, String] = {
    // Partition count: iterative GraphX algorithms launch one stage PER
    // SUPERSTEP over these RDDs, so task count multiplies across the whole
    // run (PageRank(5) ≈ 40+ stages — 32 partitions ⇒ 1300+ task
    // dispatches for a 790 k-edge graph). Scale partitions to the smaller
    // of cluster width and the SQL-side layout: on local[32] a sub-million-
    // edge graph gets a handful of fat partitions (per-task dispatch is
    // the dominant cost, measured r6); on a real cluster defaultParallelism
    // keeps the graph spread across executors.
    val spark = g.spark
    val nParts = math.max(2, math.min(
      spark.sparkContext.defaultParallelism / 4,
      g.edges.rdd.getNumPartitions))
    val verts = dict.select(col("vid"), col("uid")).rdd
      .map(r => (r.getLong(0): VertexId, r.getString(1)))
      .coalesce(nParts)
    val d1 = dict.select(col("uid").as("startuid"), col("vid").as("svid"))
    val d2 = dict.select(col("uid").as("enduid"), col("vid").as("evid"))
    val edges = g.edges.join(d1, "startuid").join(d2, "enduid")
      .select(col("svid"), col("evid"), col("kind")).rdd
      .map(r => GxEdge(r.getLong(0), r.getLong(1), r.getString(2)))
      .coalesce(nParts)
    GxGraph(verts, edges)
  }

  /** Undirected reachable set from a seed uid, seed included — the
    * large-k / whole-graph path: the uid column of the one Pregel BFS,
    * [[Analytics.hopDistances]]. */
  def connectedReach(spark: SparkSession, g: GraphSource, seedUid: String): DataFrame =
    Analytics.hopDistances(spark, g, seedUid).select("uid")
}
