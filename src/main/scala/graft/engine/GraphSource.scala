package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row
import org.apache.spark.sql.graft.BoundSql
import graft.core.Rows

import java.util.concurrent.atomic.AtomicLong

/** A queryable graph: two DataFrames with the fixed node/edge schemas
  * (FIXTURES.md §1) plus optional FTS posting DataFrames
  * (`term STRING, field STRING, uid STRING`).
  *
  * All query operators (Fetch, Traversals, Fts) work against this trait, so
  * the same code path serves the journal-backed mutable graph, a Parquet
  * warehouse, and ad-hoc projections (e.g. the star-schema graph used for
  * oracle queries).
  *
  * The four view names below are the relation names of the SQL text that
  * [[graft.query.Fetch]] emits (its DEBUG contract); none of them is ever
  * registered in the session catalog. A fetch ([[sql]]) binds each name
  * its text reads to the plan of the frame [[frameNamed]] gives, so the
  * source keeps no per-view state and a read runs one SQL execution.
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

  /** The frame a relation name of this source's SQL stands for: one of
    * the four view names above, else None. [[graft.query.Fetch]] binds
    * each name its SQL reads to this frame's plan, so only the accessors
    * of the names a fetch reads are evaluated. */
  def frameNamed(name: String): Option[DataFrame] =
    if (name.equalsIgnoreCase(nodesView)) Some(nodes)
    else if (name.equalsIgnoreCase(edgesView)) Some(edges)
    else if (name.equalsIgnoreCase(nodeFtsView)) Some(nodeFts)
    else if (name.equalsIgnoreCase(edgeFtsView)) Some(edgeFts)
    else None

  /** Spark SQL over this source's data: the raw-SQL escape hatch (the
    * reference's `Graph.cursor()`, graphydb.py:696-702). `text` reads the
    * four view names above, bound by plan as a fetch binds them, so the
    * DEBUG text of a fetch runs here as it stands; other names resolve
    * through the session catalog. */
  def sql(text: String): DataFrame = BoundSql(spark, text)(frameNamed)
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
