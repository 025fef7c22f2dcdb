package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row
import graft.core.Rows

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** A queryable graph: two DataFrames with the fixed node/edge schemas
  * (FIXTURES.md §1) plus optional FTS posting DataFrames
  * (`term STRING, field STRING, uid STRING`).
  *
  * All query operators (Fetch, Traversals, Fts) work against this trait, so
  * the same code path serves the journal-backed mutable graph, a Parquet
  * warehouse, and ad-hoc projections (e.g. the star-schema graph used for
  * oracle queries).
  */
trait GraphSource {
  def spark: SparkSession
  def nodes: DataFrame
  def edges: DataFrame
  def nodeFts: DataFrame = GraphSource.emptyFts(spark)
  def edgeFts: DataFrame = GraphSource.emptyFts(spark)

  private val id = GraphSource.counter.incrementAndGet()
  def nodesView: String = s"graft_nodes_$id"
  def edgesView: String = s"graft_edges_$id"
  def nodeFtsView: String = s"graft_nodefts_$id"
  def edgeFtsView: String = s"graft_edgefts_$id"

  /** Monotonic state version for caches keyed on this source (the GraphX
    * dictionary memo in [[graft.ops.Traversals]]). Immutable sources (ad-hoc
    * views over fixed DataFrames) stay at 0; mutable sources — MemGraph AND
    * journal-backed warehouses, whose append/merge/undo/compact all change
    * visible state — must bump it on every write or stale analytics results
    * would be served silently. */
  def analyticsVersion: Long = 0L

  /** Whether this source's FTS postings were tokenized with the
    * unicode61 `remove_diacritics` fold (the reference's FTS5 default
    * tokenizer, graphydb.py:652-658) — [[graft.query.Fetch]] folds MATCH
    * query terms the same way when true, so postings and probes always
    * agree. Ad-hoc sources default to the plain lower+split tokenizer
    * (byte-identical to pre-r15 behavior); [[MemGraph]] defaults to
    * unicode61, matching the reference. */
  def ftsUnicode61: Boolean = false

  /** Whether the node and edge views of this source hold at most one row
    * per uid, as the reference's `uid TEXT PRIMARY KEY` tables do
    * (graphydb.py:521-522). The FTS views are not covered: they hold one
    * row per term occurrence, so a join on them keeps rows unique only
    * through [[graft.query.Fts.matchSql]], which returns one row per uid.
    * [[graft.query.Fetch]] then emits no dedup for a single-link fetch,
    * whose rows are unique as they stand. Only a source that enforces it
    * may declare it ([[MemGraph]], keyed by uid): a z-view or a projection
    * can carry a uid twice. */
  def uidUnique: Boolean = false

  private val registered = mutable.HashMap.empty[String, DataFrame]

  /** (Re-)register temp views for SQL-based query compilation; called per
    * fetch so mutable sources always expose current state. A registration
    * runs Spark's view command, about 3.5–4.5 ms per view on a 4-core host
    * whatever the view's size (the same for MemGraph's 2,750-row node and
    * 7,500-row edge views), so a view is re-registered only when the
    * DataFrame instance behind it changed since its last registration. */
  def registerViews(): Unit = synchronized {
    def register(df: DataFrame, view: String): Unit =
      if (!registered.get(view).exists(_ eq df)) {
        df.createOrReplaceTempView(view)
        registered(view) = df
      }
    register(nodes, nodesView)
    register(edges, edgesView)
    register(nodeFts, nodeFtsView)
    register(edgeFts, edgeFtsView)
  }
}

object GraphSource {
  private[engine] val counter = new AtomicLong(0)

  val ftsSchema: StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("term", StringType), StructField("field", StringType),
      StructField("uid", StringType), StructField("pos", IntegerType)))
  }

  def emptyFts(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], ftsSchema)

  def empty(spark0: SparkSession): GraphSource = new GraphSource {
    val spark: SparkSession = spark0
    def nodes: DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Rows.nodeSchema)
    def edges: DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Rows.edgeSchema)
  }
}

/** Wrap arbitrary DataFrames (already in node/edge schema) as a graph.
  * `ftsU61` must state how the supplied postings were tokenized so MATCH
  * query terms fold identically (default = the plain pre-r15 tokenizer). */
final class ViewGraph(
    val spark: SparkSession,
    nodesDf: DataFrame,
    edgesDf: DataFrame,
    nodeFtsDf: Option[DataFrame] = None,
    edgeFtsDf: Option[DataFrame] = None,
    ftsU61: Boolean = false) extends GraphSource {
  def nodes: DataFrame = nodesDf
  def edges: DataFrame = edgesDf
  override def nodeFts: DataFrame = nodeFtsDf.getOrElse(GraphSource.emptyFts(spark))
  override def edgeFts: DataFrame = edgeFtsDf.getOrElse(GraphSource.emptyFts(spark))
  override def ftsUnicode61: Boolean = ftsU61
}
