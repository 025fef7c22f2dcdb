package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.graft.LocalFrame
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import graft.core.{Delta, Json, Rows, Uid}
import graft.query.{Fetch, Fts}

import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The mutable graph handle — the Scala analogue of `Graph`
  * (graphydb.py:485-1064), with the storage inversion of SURVEY §7.2:
  * every mutation appends a change-doc to the journal (always-on — the
  * reference's tests assume it, SURVEY §2.11 drift note), and the queryable
  * node/edge DataFrames are snapshots of the folded state.
  *
  * Driver-held state is the materialized snapshot (this class targets the
  * reference's ~10k-item working set); the same journal schema scales out
  * via [[graft.engine.Journal]], which reconstructs identical snapshots with
  * distributed window/fold operations over a change log of any size.
  *
  * Snapshots are kept per table (nodes, edges, node and edge FTS postings).
  * Each table caches every uid's rows in Catalyst's converted form and
  * drops a uid's entry when that uid is saved, deleted or re-indexed; the
  * table's DataFrame is rebuilt on the first read after a change to THAT
  * table, rendering only the dropped uids and sharing every other row with
  * the cache. A node-only write therefore leaves the edge and FTS frames
  * (and their registered views) untouched. The maps are keyed by uid, like
  * the reference's `uid TEXT PRIMARY KEY`, so the node and edge views hold
  * one row per uid ([[uidUnique]]); the FTS views hold one row per term
  * occurrence and reach one row per uid only through `Fts.matchSql`.
  *
  * Each table's DataFrame is a driver-held relation built by
  * `org.apache.spark.sql.graft.LocalFrame`. Catalyst never walks its rows
  * while it analyses or compares plans; filters and projections over it
  * fold into new rows on the driver; its scan is a single partition whose
  * broadcast needs no Spark job. A fetch chain over these views is
  * therefore one partition with no shuffle, and every read here (fetches,
  * traversals, FTS matches, `fetchCount`, `stats`) collects through
  * `LocalFrame.collect`, which computes such a plan on the calling thread:
  * one SQL execution and no Spark job (with AQE on, a plan is adaptive and
  * runs its job as before). A driver-run read has no job group to cancel;
  * the ~10k-item working set this class targets is what bounds it.
  */
final class MemGraph(val spark: SparkSession) extends GraphSource {

  private[engine] val nodesMap = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  private[engine] val edgesMap = mutable.LinkedHashMap.empty[String, Map[String, Any]]

  final case class JournalEntry(
      seq: Long, uid: String, add: Option[Map[String, Any]],
      remove: Option[Map[String, Any]], time: Double, rev: String,
      batch: Option[String])

  private[engine] val journal = mutable.ArrayBuffer.empty[JournalEntry]
  private var seqCounter = 0L
  private var journaling = true

  private val settingsMap = mutable.Map.empty[String, Any]
  private val cacheMap = mutable.Map.empty[String, Any]

  // FTS config + per-item field texts (graphydb.py:638-658, 1165-1196)
  private var nodeFtsFields: Option[Set[String]] = None
  private var edgeFtsFields: Option[Set[String]] = None
  private[engine] val nodeFtsDocs = mutable.LinkedHashMap.empty[String, Map[String, String]]
  private[engine] val edgeFtsDocs = mutable.LinkedHashMap.empty[String, Map[String, String]]

  private var version = 0L
  private def bump(): Unit = version += 1

  /** Every mutation bumps `version`, the analytics-memo key. */
  override def analyticsVersion: Long = version

  override def uidUnique: Boolean = true

  /** node uid → uids of the edges that start or end there, so a node delete
    * finds its edges without scanning every edge. */
  private val incident = mutable.HashMap.empty[String, mutable.LinkedHashSet[String]]

  private def endpoints(edge: Map[String, Any]): Seq[String] =
    Seq(edge("startuid").toString, edge("enduid").toString)

  private def link(euid: String, edge: Map[String, Any]): Unit =
    endpoints(edge).foreach(n => incident.getOrElseUpdate(n, mutable.LinkedHashSet.empty) += euid)

  private def unlink(euid: String, edge: Map[String, Any]): Unit =
    endpoints(edge).foreach { n =>
      incident.get(n).foreach { es => es -= euid; if (es.isEmpty) incident.remove(n) }
    }

  // ---------------------------------------------------------------- builders

  def node(kind: String, attrs: (String, Any)*): Node =
    nodeFromData(Map("kind" -> kind) ++ attrs)
  def nodeFromData(data: Map[String, Any]): Node =
    new Node(this, mutable.LinkedHashMap(data.toSeq: _*), changed0 = true)

  def edge(start: Node, kind: String, end: Node, attrs: (String, Any)*): Edge =
    edgeFromData(Map("kind" -> kind, "startuid" -> start.uid, "enduid" -> end.uid) ++ attrs)
  def edge(startuid: String, kind: String, enduid: String, attrs: (String, Any)*): Edge =
    edgeFromData(Map("kind" -> kind, "startuid" -> startuid, "enduid" -> enduid) ++ attrs)
  def edgeFromData(data: Map[String, Any]): Edge =
    new Edge(this, mutable.LinkedHashMap(data.toSeq: _*), changed0 = true)

  // ------------------------------------------------------------ state writes

  private[engine] def saveItem(item: Item, batch: Option[String], journal: Boolean): Unit = {
    val map = if (item.isEdge) edgesMap else nodesMap
    val old = map.get(item.uid)
    val clean = item.cleanData
    // the write REPLACES the stored payload, so ANY difference between the
    // stored image and this handle's payload must be journaled — not just the
    // handle's dirty keys (a stale handle reverts keys it never marked).
    // Delta.diff only records keys whose values actually differ, so passing
    // the full key universe keeps the journal ≡ driver state without
    // over-journaling. (The reference restricts to _changedkeys and has the
    // stale-handle divergence, graphydb.py:1322-1329.)
    val diffKeys = old.map(_.keySet).getOrElse(Set.empty) ++ clean.keySet ++ item.changedKeys
    if (journal && journaling) addChange(item.uid, old, Some(clean), diffKeys, batch)
    map(item.uid) = clean
    if (item.isEdge && !old.exists(o => endpoints(o) == endpoints(clean))) {
      old.foreach(unlink(item.uid, _))
      link(item.uid, clean)
    }
    changed(if (item.isEdge) edgeTable else nodeTable, item.uid)
  }

  private[engine] def deleteItem(item: Item, batch: Option[String]): Unit = {
    val map = if (item.isEdge) edgesMap else nodesMap
    // journal the STORED image, not the handle's — a stale handle (item
    // modified through another handle since this one was fetched) would
    // otherwise make undo resurrect outdated data. A delete of an
    // already-absent item journals nothing: a no-op must not give undo a
    // phantom delete to revert. (The reference journals `self.data`
    // unconditionally and shares both hazards, graphydb.py:1445-1447.)
    map.get(item.uid) match {
      case Some(image) =>
        if (journaling) addChange(item.uid, Some(image), None, Set.empty, batch)
        map.remove(item.uid)
        if (item.isEdge) unlink(item.uid, image)
        deleteFts(item.uid, item.isEdge)
        changed(if (item.isEdge) edgeTable else nodeTable, item.uid)
      case None => ()
    }
  }

  private[engine] def deleteItemByUid(uid: String, isEdge: Boolean, batch: Option[String]): Unit =
    getuid(uid).filter(_.isEdge == isEdge).foreach(_.delete(batch = batch))

  /** Change-doc append (reference `addchange`, graphydb.py:572-603):
    * create → `+` full image; delete → `-` full image; modify → key diffs
    * restricted to dirty keys, mtime-only churn suppressed. */
  private def addChange(uid: String, old: Option[Map[String, Any]],
      now: Option[Map[String, Any]], changedKeys: Set[String],
      batch: Option[String]): Unit = {
    val entry = (old, now) match {
      case (None, Some(n)) => Some((Some(n), None))
      case (Some(o), None) => Some((None, Some(o)))
      case (Some(o), Some(n)) =>
        val d = Delta.diff(o, n, changedKeys)
        if (d.isEmpty) None else Some((Some(d.add).filter(_.nonEmpty), Some(d.remove).filter(_.nonEmpty)))
      case (None, None) => None
    }
    entry.foreach { case (add, remove) =>
      seqCounter += 1
      journal += JournalEntry(seqCounter, uid, add, remove, MemGraph.now(), Uid.random(), batch)
    }
  }

  // ------------------------------------------------------------------ reads

  def existsUid(uid: String, isEdge: Boolean): Boolean =
    (if (isEdge) edgesMap else nodesMap).contains(uid)

  /** Probe nodes first then edges (graphydb.py:1035-1044). */
  def getuid(uid: String): Option[Item] =
    nodesMap.get(uid).map(d => new Node(this, mutable.LinkedHashMap(d.toSeq: _*), changed0 = false))
      .orElse(edgesMap.get(uid).map(d => new Edge(this, mutable.LinkedHashMap(d.toSeq: _*), changed0 = false)))

  private[engine] def edgesTouching(uid: String): Seq[String] =
    incident.get(uid).fold(List.empty[String])(_.toList)

  // ------------------------------------------------------------------ fetch

  /** Workhorse query (reference `Graph.fetch`, graphydb.py:809-1017):
    * compiled to one Spark SQL plan by [[graft.query.Fetch]], then
    * materialized into an NSet/ESet of driver items. */
  def fetchN(chain: String = "(n)", where: Seq[String] = Nil,
      order: Option[String] = None, group: Option[String] = None,
      limit: Option[Int] = None, offset: Option[Int] = None,
      distinct: Boolean = true, params: Map[String, Any] = Map.empty): NSet = {
    val args = Fetch.Args(chain, where, order, group, limit, offset, count = false, distinct, params)
    require(!Fetch.collectsEdges(args), s"chain '$chain' collects edges; use fetchE")
    new NSet(collectItems(args).map(_.asInstanceOf[Node]))
  }

  def fetchE(chain: String, where: Seq[String] = Nil,
      order: Option[String] = None, group: Option[String] = None,
      limit: Option[Int] = None, offset: Option[Int] = None,
      distinct: Boolean = true, params: Map[String, Any] = Map.empty): ESet = {
    val args = Fetch.Args(chain, where, order, group, limit, offset, count = false, distinct, params)
    require(Fetch.collectsEdges(args), s"chain '$chain' collects nodes; use fetchN")
    new ESet(collectItems(args).map(_.asInstanceOf[Edge]))
  }

  def fetchCount(chain: String = "(n)", where: Seq[String] = Nil,
      distinct: Boolean = true, params: Map[String, Any] = Map.empty): Long =
    Fetch.count(this, Fetch.Args(chain, where, distinct = distinct, params = params))

  /** The DEBUG contract (graphydb.py:977-978): generated SQL, not executed. */
  def fetchSql(chain: String = "(n)", where: Seq[String] = Nil,
      params: Map[String, Any] = Map.empty): String =
    Fetch.sql(this, Fetch.Args(chain, where, params = params))

  /** Lazy DataFrame form — the scale path (no driver materialization). */
  def fetchDf(args: Fetch.Args): DataFrame = Fetch.df(this, args)

  private def collectItems(args: Fetch.Args): Seq[Item] = {
    val df = Fetch.df(this, args)
    val isEdge = Fetch.collectsEdges(args)
    val core = Fetch.coreCols(isEdge)
    val extraCols = df.columns.filterNot(core.contains)
    LocalFrame.collect(df).toSeq.map { row =>
      val payload = mutable.LinkedHashMap.empty[String, Any]
      core.foreach { c => payload(c) = row.get(row.fieldIndex(c)) }
      val props = Option(row.getAs[String]("props")).getOrElse("{}")
      // drop the raw JSON core column BEFORE merging, so a user property
      // literally named "props" survives the fetch (reference keeps all keys)
      payload.remove("props")
      Json.parse(props).foreach { case (k, v) => payload(k) = v }
      // computed extras land as `_name` keys (graphydb.py:997-1002)
      extraCols.foreach { c => payload("_" + c) = row.get(row.fieldIndex(c)) }
      if (isEdge) new Edge(this, payload, changed0 = false)
      else new Node(this, payload, changed0 = false)
    }
  }

  // ------------------------------------------------------------ journal/undo

  def countChanges: Long = journal.size.toLong
  def clearChanges(): Unit = { journal.clear(); seqCounter = 0 }

  /** Remove one journal row by seq (reference `deletechange`,
    * graphydb.py:568-570). Seqs are unique, so searching from the tail,
    * where recent changes sit, finds the same row. */
  def deleteChange(seq: Long): Unit = {
    val i = journal.lastIndexWhere(_.seq == seq)
    if (i >= 0) journal.remove(i)
  }

  /** Drop all graph state — the reference's `reset()` re-creating the five
    * tables (graphydb.py:508-529). */
  def reset(): Unit = {
    nodesMap.clear(); edgesMap.clear()
    journal.clear(); seqCounter = 0
    settingsMap.clear(); cacheMap.clear()
    nodeFtsFields = None; edgeFtsFields = None
    nodeFtsDocs.clear(); edgeFtsDocs.clear()
    incident.clear()
    Seq(nodeTable, edgeTable, nodeFtsTable, edgeFtsTable).foreach(_.clear())
    bump()
  }

  /** Latest change; if batched, the whole batch in seq order
    * (graphydb.py:545-566). */
  def lastChanges(): Seq[JournalEntry] =
    journal.lastOption match {
      case None => Nil
      case Some(last) => last.batch match {
        case None => Seq(last)
        case Some(b) => journal.filter(_.batch.contains(b)).toSeq
      }
    }

  /** Undo the last change batch in reverse-seq order (graphydb.py:605-636):
    * add → delete, delete → re-add, modify → reverse patch; consumed journal
    * rows are removed (reference parity; the Parquet journal in
    * [[graft.engine.Journal]] documents the append-only alternative). */
  def undo(): Seq[(String, String)] = {
    val batchEntries = lastChanges()
    val out = mutable.ArrayBuffer.empty[(String, String)]
    journaling = false
    try {
      batchEntries.reverse.foreach { ch =>
        (ch.add, ch.remove) match {
          case (Some(_), None) =>
            getuid(ch.uid).foreach(_.delete())
            out += (("-", ch.uid))
          case (None, Some(data)) =>
            val item =
              if (data.contains("startuid")) edgeFromData(data) else nodeFromData(data)
            item.save(force = true)
            out += (("+", ch.uid))
          case (Some(add), Some(remove)) =>
            getuid(ch.uid).foreach { item =>
              val patched = Delta.patch(item.data.toMap, Delta.Change(add, remove), reverse = true)
              item.data.clear(); patched.foreach { case (k, v) => item.data(k) = v }
              item.setChanged(true)
              item.save(force = true)
            }
            out += (("*", ch.uid))
          case (None, None) => throw GraphyDBException("Unknown undo action")
        }
        // the batch is the journal's tail: search from the end
        journal.remove(journal.lastIndexWhere(_.seq == ch.seq))
      }
    } finally { journaling = true }
    out.toSeq
  }

  // ---------------------------------------------------------------- KV store

  def saveSetting(key: String, value: Any): Unit =
    settingsMap(key) = Json.parseAny(Json.renderAny(value)) // JSON round-trip: parity with graphydb.py:669-677
  def getSetting(key: String, default: Any = null): Any = settingsMap.getOrElse(key, default)
  def cachePut(key: String, value: Any): Unit = cacheMap(key) = Json.parseAny(Json.renderAny(value))
  def cacheGet(key: String): Any =
    cacheMap.getOrElse(key, throw new NoSuchElementException(key))

  // --------------------------------------------------------------------- FTS

  /** (Re)configure the FTS index. `unicode61 = true` (the DEFAULT, r15 —
    * the reference's FTS5 tables are created with the plain unicode61
    * tokenizer, graphydb.py:652-658) tokenizes postings with the
    * `remove_diacritics` fold, so "café" indexes as "cafe" and query
    * terms fold to match ([[graft.query.Fetch]] reads [[ftsUnicode61]]);
    * pass false to opt back into the ASCII-exact lower+split tokenizer.
    * On pure-ASCII content the two are byte-identical. */
  def resetFts(nodeFields: Seq[String] = null, edgeFields: Seq[String] = null,
      unicode61: Boolean = true): Unit = {
    nodeFtsFields = Option(nodeFields).map(_.toSet)
    edgeFtsFields = Option(edgeFields).map(_.toSet)
    ftsUnicode = unicode61
    nodeFtsDocs.clear(); edgeFtsDocs.clear()
    nodeFtsTable.clear(); edgeFtsTable.clear()
    bump()
  }

  private var ftsUnicode: Boolean = true
  override def ftsUnicode61: Boolean = ftsUnicode

  /** Re-index every EXISTING item's configured FTS fields from its stored
    * data (string-valued props only) — the bulk counterpart of per-item
    * `updatefts` calls for graphs whose content predates the index: set the
    * config with [[resetFts]], then one call makes an imported graph (e.g.
    * [[MemGraph.fromSqlite]]) searchable. The reference has no analogue
    * because SQLite's FTS5 tables persist with the database; a migrated or
    * re-configured index must re-read content either way. */
  def reindexFts(): Unit = {
    def index(docs: mutable.LinkedHashMap[String, Map[String, String]],
        table: Snapshot, allowed: Option[Set[String]],
        items: mutable.LinkedHashMap[String, Map[String, Any]]): Unit =
      allowed.foreach { fields =>
        items.foreach { case (uid, data) =>
          val kept = data.collect { case (k, v: String) if fields.contains(k) => k -> v }
          if (kept.nonEmpty) { docs(uid) = kept; table.drop(uid) }
        }
      }
    index(nodeFtsDocs, nodeFtsTable, nodeFtsFields, nodesMap)
    index(edgeFtsDocs, edgeFtsTable, edgeFtsFields, edgesMap)
    bump()
  }

  private[engine] def updateFts(item: Item, fields: Map[String, String]): Unit = {
    val allowed = (if (item.isEdge) edgeFtsFields else nodeFtsFields).getOrElse(Set.empty)
    val kept = fields.filter { case (k, _) => allowed.contains(k) }
    if (kept.nonEmpty) {
      val docs = if (item.isEdge) edgeFtsDocs else nodeFtsDocs
      docs(item.uid) = docs.getOrElse(item.uid, Map.empty) ++ kept
      changed(if (item.isEdge) edgeFtsTable else nodeFtsTable, item.uid)
    }
  }

  private[engine] def deleteFts(uid: String, isEdge: Boolean): Unit = {
    val docs = if (isEdge) edgeFtsDocs else nodeFtsDocs
    if (docs.remove(uid).isDefined) changed(if (isEdge) edgeFtsTable else nodeFtsTable, uid)
  }

  // ------------------------------------------------------------------- stats

  /** Totals + per-kind counts (graphydb.py:704-739) — computed over the
    * snapshot DataFrames so the same code path scales; a total is the sum
    * of its table's per-kind counts, so each table is read once. */
  def stats: Map[String, Any] = {
    def kindCounts(df: DataFrame): Map[String, Long] =
      LocalFrame.collect(df.groupBy("kind").count()).map(r => r.getString(0) -> r.getLong(1)).toMap
    val (nodeKinds, edgeKinds) = (kindCounts(nodes), kindCounts(edges))
    Map(
      "Total nodes" -> nodeKinds.values.sum,
      "Total edges" -> edgeKinds.values.sum,
      "Node kinds" -> nodeKinds,
      "Edge kinds" -> edgeKinds,
      // engine-version fields mirror 'SQLite version'/'GraphyDB version'
      // (graphydb.py:733-736); 'File size' is durable-store-only there too,
      // so the :memory: analogue rightly omits it (WarehouseSession has it)
      "Spark version" -> spark.version,
      "Graft version" -> getSetting("Graft version", "0.1.0"),
      "Changes" -> countChanges)
  }

  // ------------------------------------------------- GraphSource (snapshots)

  /** One snapshot table: each uid's rows, converted once and kept until
    * [[drop]] (that uid was saved, deleted or re-indexed), and the
    * DataFrame over all of them, rebuilt on the first read after a change
    * to this table only. `uids` lists the table's live uids in map order,
    * which is the snapshot's row order; `render` gives a uid's rows as
    * String/Double/Int values in schema order. */
  private final class Snapshot(schema: StructType, uids: () => Iterable[String],
      render: String => Seq[Seq[Any]]) {
    private val rows = mutable.HashMap.empty[String, Seq[InternalRow]]
    private var frame: DataFrame = _
    private val writer = new UnsafeRowWriter(schema.length)

    def drop(uid: String): Unit = { rows.remove(uid); frame = null }
    def clear(): Unit = { rows.clear(); frame = null }

    private def convert(values: Seq[Any]): InternalRow = {
      writer.reset(); writer.zeroOutNullBytes()
      var i = 0
      values.foreach { v =>
        v match {
          case s: String => writer.write(i, UTF8String.fromString(s))
          case d: Double => writer.write(i, d)
          case n: Int => writer.write(i, n)
        }
        i += 1
      }
      writer.getRow.copy()
    }

    def df: DataFrame = {
      if (frame == null) {
        val all = mutable.ArrayBuilder.make[InternalRow]
        uids().foreach(u => all ++= rows.getOrElseUpdate(u, render(u).map(convert)))
        frame = LocalFrame(spark, schema, ArraySeq.unsafeWrapArray(all.result()))
      }
      frame
    }
  }

  private def itemRow(d: Map[String, Any], isEdge: Boolean): Seq[Seq[Any]] = {
    val props = Json.render(d -- Rows.Reserved)
    def dbl(k: String): Double = d(k) match {
      case x: Double => x; case x: Long => x.toDouble; case x: Int => x.toDouble
      case x => x.toString.toDouble
    }
    def str(k: String): String = d(k).toString
    Seq(
      if (isEdge) Seq(str("uid"), str("kind"), str("startuid"), str("enduid"),
        dbl("ctime"), dbl("mtime"), props)
      else Seq(str("uid"), str("kind"), dbl("ctime"), dbl("mtime"), props))
  }

  private def ftsRows(uid: String, fields: Map[String, String]): Seq[Seq[Any]] =
    fields.toSeq.flatMap { case (field, text) =>
      // keep split indices as positions (phrase adjacency); one row per
      // occurrence so tf scores count repeats, like Fts.postings — and
      // the SAME fold-then-split order as Fts.postings' unicode61 path,
      // so working-set and distributed postings can never disagree
      val folded =
        if (ftsUnicode) Fts.unicode61Fold(text) else text.toLowerCase
      folded.split(Fts.TokenSplit).zipWithIndex
        .filter(_._1.nonEmpty).toSeq
        .map { case (term, pos) => Seq(term, field, uid, pos) }
    }

  private val nodeTable = new Snapshot(Rows.nodeSchema, () => nodesMap.keys,
    u => itemRow(nodesMap(u), isEdge = false))
  private val edgeTable = new Snapshot(Rows.edgeSchema, () => edgesMap.keys,
    u => itemRow(edgesMap(u), isEdge = true))
  private val nodeFtsTable = new Snapshot(GraphSource.ftsSchema, () => nodeFtsDocs.keys,
    u => ftsRows(u, nodeFtsDocs(u)))
  private val edgeFtsTable = new Snapshot(GraphSource.ftsSchema, () => edgeFtsDocs.keys,
    u => ftsRows(u, edgeFtsDocs(u)))

  private def changed(table: Snapshot, uid: String): Unit = { table.drop(uid); bump() }

  def nodes: DataFrame = nodeTable.df
  def edges: DataFrame = edgeTable.df
  override def nodeFts: DataFrame = nodeFtsTable.df
  override def edgeFts: DataFrame = edgeFtsTable.df

  /** The journal as a DataFrame (scale path input for [[Journal]]). */
  def changesDf: DataFrame = {
    val rows = journal.map { e =>
      Row(e.seq, e.uid, e.add.map(Json.render).orNull,
        e.remove.map(Json.render).orNull, e.time, e.rev, e.batch.orNull)
    }.toList.asJava
    spark.createDataFrame(rows, Rows.changeSchema)
  }
}

object MemGraph {
  def apply(spark: SparkSession): MemGraph = new MemGraph(spark)

  /** Strictly monotonic epoch-seconds clock. Strictness matters for
    * correctness, not just ordering: it guarantees every modify touches
    * mtime on BOTH sides of its diff, so a modify doc always carries both
    * `+` and `-` and can never be mistaken for a create (`+` only) or
    * delete (`-` only) by `undo`'s doc-shape dispatch
    * (graphydb.py:605-636 has the same dispatch; time.time()'s µs
    * resolution merely made collisions unlikely there). */
  private val lastNow = new java.util.concurrent.atomic.AtomicLong(0L)
  private[engine] def now(): Double = {
    val micros = lastNow.updateAndGet { prev =>
      math.max(prev + 1, System.currentTimeMillis() * 1000)
    }
    micros / 1e6
  }

  private[engine] def fillDefaults(data: mutable.LinkedHashMap[String, Any]): Unit = {
    if (!data.contains("uid")) data("uid") = Uid.random()
    if (!data.contains("ctime")) data("ctime") = now()
    if (!data.contains("mtime")) data("mtime") = now()
  }

  /** Open a reference graphydb SQLite database file directly (the migration
    * path for existing `.gdb` files): nodes, edges, settings, cache and the
    * change journal all load into a working-set graph with identical
    * fetch/traversal/undo semantics. The `data` JSON column is the
    * authoritative item image (graphydb.py:1325-1326 stores the full
    * underscore-cleaned dict there); the journal's seq counter resumes from
    * the imported maximum so new mutations append after history. FTS
    * postings are NOT imported — they live in SQLite FTS5 shadow tables
    * bound to SQLite's tokenizer; call `resetfts` to rebuild them from
    * content, exactly as the reference does after config changes. */
  def fromSqlite(spark: SparkSession, path: String): MemGraph = {
    import graft.sources.SqliteFile
    val g = new MemGraph(spark)
    val have = SqliteFile.tables(path).keySet
    def s(a: Any): String = a.asInstanceOf[String]
    def asMap(a: Any): Map[String, Any] = a.asInstanceOf[Map[String, Any]]
    // SQLite may store a REAL written with an integral value as an integer
    // (e.g. a whole-second ctime); our DataFrame schemas require Double
    def numFix(m: Map[String, Any]): Map[String, Any] =
      m ++ Seq("ctime", "mtime").flatMap(k => m.get(k).collect {
        case l: Long => k -> l.toDouble
        case i: BigInt => k -> i.toDouble
      })
    if (have("nodes")) SqliteFile.readTable(path, "nodes").foreach { r =>
      // DDL order (graphydb.py:521): uid, kind, ctime, mtime, data
      g.nodesMap(s(r.values(0))) = numFix(Json.parse(s(r.values(4))))
    }
    if (have("edges")) SqliteFile.readTable(path, "edges").foreach { r =>
      // DDL order (graphydb.py:522): uid, kind, startuid, enduid, ctime, mtime, data
      val uid = s(r.values(0))
      g.edgesMap(uid) = numFix(Json.parse(s(r.values(6))))
      g.link(uid, g.edgesMap(uid))
    }
    if (have("settings")) SqliteFile.readTable(path, "settings").foreach { r =>
      g.settingsMap(s(r.values(0))) = Json.parseAny(s(r.values(1)))
    }
    if (have("cache")) SqliteFile.readTable(path, "cache").foreach { r =>
      g.cacheMap(s(r.values(0))) = Json.parseAny(s(r.values(1)))
    }
    if (have("changes")) SqliteFile.readTable(path, "changes").foreach { r =>
      // changes(id INTEGER PRIMARY KEY, change): id is a rowid alias (reads
      // back NULL — substitute rowid); change doc = {uid, "+"?, "-"?, time,
      // rev, batch?} (graphydb.py:572-603)
      val doc = Json.parse(s(r.values(1)))
      def dbl(a: Any): Double = a match {
        case d: Double => d
        case l: Long => l.toDouble
        case i: BigInt => i.toDouble
      }
      g.journal += g.JournalEntry(r.rowid, s(doc("uid")),
        doc.get("+").map(asMap), doc.get("-").map(asMap),
        doc.get("time").map(dbl).getOrElse(0.0),
        doc.get("rev").map(s).getOrElse(""),
        doc.get("batch").map(s))
      g.seqCounter = math.max(g.seqCounter, r.rowid)
    }
    g
  }
}
