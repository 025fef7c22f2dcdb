package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.LocalFrame
import graft.engine.GraphSource

/** Compiles a chain-DSL fetch into ONE Spark SQL statement over the source's
  * node/edge view names, then hands the whole plan to Catalyst. The names
  * are bound to the source's frames by plan ([[GraphSource.sql]]), not
  * registered as temp views, so a fetch runs one SQL execution and leaves
  * the session catalog as it was; only the frames the SQL reads are
  * evaluated.
  *
  * Mirrors the reference's SQL generator (`Graph.fetch`,
  * graphydb.py:809-1017) stage by stage — SELECT (901-916), JOIN walk
  * right-then-left from the collected link (919-938), FTS joins (876-898),
  * WHERE/GROUP/ORDER/LIMIT/OFFSET (941-971), DEBUG short-circuit (977-978) —
  * but emits Spark SQL and never executes anything itself: the returned
  * DataFrame is lazy, so predicate pushdown, join reordering, broadcast
  * selection and AQE all apply before anything runs.
  *
  * Differences from the reference, by design:
  *   - `DISTINCT` dedups on the projected row (uid + core cols + extras) —
  *     same effective semantics as the reference's `DISTINCT alias.data`
  *     since `data` embeds the uid (graphydb.py:916, SURVEY §7.4).
  *   - With GROUP, non-aggregate core columns are wrapped in `any_value`
  *     (SQLite allows bare columns; Spark needs an explicit choice — the
  *     reference's GROUP keys are uid-functional in every documented use).
  *   - COUNT returns `COUNT(DISTINCT alias.uid)` as a one-row DataFrame;
  *     `Fetch.count` collects it to a Long.
  *   - A single-link, non-grouped, non-count fetch over a source that
  *     declares one row per uid in its node and edge views
  *     ([[GraphSource.uidUnique]]) emits no `DISTINCT`/`GROUP BY` at all:
  *     its rows are already unique (an FTS join goes through the
  *     `Fts.matchSql` subquery, one row per uid), so the dedup would only cost a
  *     shuffle — and without it a fetch over driver-held rows folds on the
  *     driver into rows that are collected without a Spark job.
  *
  * Over [[graft.engine.MemGraph]] every view is a driver-held relation
  * (`org.apache.spark.sql.graft.LocalFrame`): filters and projections fold
  * into its rows during optimization, a broadcast of it starts no job, and
  * its scan is one partition, so a chain's dedup needs no shuffle and the
  * whole fetch is one partition: `df(...).collect()` runs it as one Spark
  * job of one stage, and `LocalFrame.collect` (how `MemGraph` and [[count]]
  * read) computes it on the driver with none.
  */
object Fetch extends org.apache.spark.internal.Logging {

  final case class Args(
      chain: String = "(n)",
      where: Seq[String] = Nil,
      order: Option[String] = None,
      group: Option[String] = None,
      limit: Option[Int] = None,
      offset: Option[Int] = None,
      count: Boolean = false,
      distinct: Boolean = true,
      params: Map[String, Any] = Map.empty)

  private val NodeCols = Vector("uid", "kind", "ctime", "mtime", "props")
  private val EdgeCols = Vector("uid", "kind", "startuid", "enduid", "ctime", "mtime", "props")

  def coreCols(isEdge: Boolean): Vector[String] = if (isEdge) EdgeCols else NodeCols

  /** Build the Spark SQL text (the DEBUG contract, graphydb.py:977-978). */
  def sql(src: GraphSource, args: Args): String = {
    // split params: extras (referenced by the collected link), *_fts terms,
    // and plain bind values (graphydb.py:858-869)
    val exprParams: Map[String, String] =
      args.params.collect { case (k, v: String) => k -> v }
    val (parsed, extraNames) = Chain.parse(args.chain, exprParams)
    val ftsParams = args.params.collect {
      case (k, v: String) if k.endsWith("_fts") &&
        parsed.links.exists(_.alias == k.stripSuffix("_fts")) =>
        k.stripSuffix("_fts") -> v
    }
    val bindParams = args.params -- extraNames -- ftsParams.keys.map(_ + "_fts")
    val tr = (s: String) => Dialect.translate(s, bindParams)

    val collect = parsed.collect
    def viewFor(isEdge: Boolean): String = if (isEdge) src.edgesView else src.nodesView
    def ftsViewFor(isEdge: Boolean): String = if (isEdge) src.edgeFtsView else src.nodeFtsView

    val sb = new StringBuilder

    // SELECT
    val grouped = args.group.isDefined && !args.count
    val groupTr = args.group.map(tr)
    // GROUP BY the collected link's own uid — every declared grouped fetch.
    // Two consequences used below, both provable from uid being the node
    // key: (a) aggregates over the group are over a SINGLE node row, so the
    // group key can be projected bare instead of max(key); (b) the group
    // key is in the SELECT list, so the GROUP BY output is already
    // row-distinct and the reference's DISTINCT is the identity — emitting
    // it anyway forced an extra exchange AND blocked column pruning, so
    // every grouped fetch paid max(props) string aggregation even when the
    // caller only consumed (uid, aggregate) (r17 opt, guide §2.3/§2.4;
    // measured: g09's SortAggregate-over-props + 2nd exchange removed).
    val groupIsCollectUid =
      groupTr.exists(_.trim.equalsIgnoreCase(s"${collect.alias}.uid"))
    // one link over uid-unique views: every row is a distinct uid already
    val rowsUnique = src.uidUnique && parsed.links.length == 1 && !args.count && !grouped
    // ORDER BY a NON-collected alias under DISTINCT (see the rewrite below)
    // — detected up front because it picks the SELECT's shape
    val orderTr = args.order.map(tr)
    val distinctOrderRewrite = args.distinct && !rowsUnique && !args.count && args.group.isEmpty &&
      orderTr.exists(o => referencedAliases(o).exists(_ != collect.alias))
    // Non-grouped DISTINCT with no extras ≡ GROUP BY the collected uid
    // (r17 opt): the projected row is the collected VIEW row, unique per
    // uid, so dedup-by-row and dedup-by-uid keep the same rows — but the
    // GROUP BY form lets Catalyst PRUNE the max(kind/ctime/mtime/props)
    // pick-ones when the caller projects a subset, where DISTINCT forced
    // the full fat row (props JSON) through the exchange (measured: g03's
    // two anti-join sides each shuffled full node rows to answer a
    // uid-only question). Extras can reference other aliases (non-
    // uid-functional), so the rewrite only fires without them.
    val uidDistinctRewrite = args.distinct && !rowsUnique && !args.count && !grouped &&
      !distinctOrderRewrite && collect.extras.isEmpty
    if (args.count) {
      val d = if (args.distinct) "DISTINCT " else ""
      sb.append(s"SELECT COUNT($d${collect.alias}.uid) AS cnt")
    } else {
      val core = coreCols(collect.isEdge).map { c =>
        val ref = s"${collect.alias}.$c"
        // group keys are uid-functional in every documented use, so any
        // pick-one works; max (unlike any_value→first) keeps HashAggregate
        // (first() forces SortAggregate) and is deterministic for oracles.
        // The group key itself is projected bare (same singleton value).
        if (grouped || uidDistinctRewrite) {
          val isKey =
            if (uidDistinctRewrite) c == "uid"
            else groupTr.exists(_.trim.equalsIgnoreCase(ref))
          if (isKey) s"$ref AS $c" else s"max($ref) AS $c"
        } else s"$ref AS $c"
      }
      val extras = collect.extras.map { name =>
        s"${tr(exprParams(name))} AS $name"
      }
      val d = if (args.distinct && !(grouped && groupIsCollectUid) &&
                 !uidDistinctRewrite && !rowsUnique) "DISTINCT "
              else ""
      sb.append("SELECT ").append(d).append((core ++ extras).mkString(", "))
    }
    sb.append(s"\nFROM ${viewFor(collect.isEdge)} AS ${collect.alias}")

    // JOINs: rightward from collect, then leftward (graphydb.py:919-938)
    def joinClause(j: Chain.Link, jKey: String, anchor: Chain.Link, aKey: String): String = {
      val kind = j.kind.map(k => s" AND ${j.alias}.kind = ${Dialect.renderLiteral(k)}").getOrElse("")
      s"\nJOIN ${viewFor(j.isEdge)} AS ${j.alias} ON ${j.alias}.$jKey = ${anchor.alias}.$aKey$kind"
    }
    var i = parsed.collectIdx
    while (i + 1 < parsed.links.length) {
      val l = parsed.links(i); val r = parsed.links(i + 1)
      sb.append(joinClause(r, r.leftuid, l, l.rightuid))
      i += 1
    }
    i = parsed.collectIdx
    while (i - 1 >= 0) {
      val r = parsed.links(i); val l = parsed.links(i - 1)
      sb.append(joinClause(l, l.rightuid, r, r.leftuid))
      i -= 1
    }

    // FTS semi-joins (graphydb.py:876-898): match set as a subquery
    ftsParams.foreach { case (alias, term) =>
      val link = parsed.links.find(_.alias == alias).get
      val matchSql = Fts.matchSql(ftsViewFor(link.isEdge), term,
        unicode61 = src.ftsUnicode61)
      sb.append(s"\nJOIN ($matchSql) AS ${alias}_fts ON ${alias}.uid = ${alias}_fts.uid")
    }

    // WHERE: user conjuncts + collected link's kind (graphydb.py:941-949)
    val conjuncts =
      args.where.map(w => s"(${tr(w)})") ++
      collect.kind.map(k => s"${collect.alias}.kind = ${Dialect.renderLiteral(k)}")
    if (conjuncts.nonEmpty) sb.append("\nWHERE ").append(conjuncts.mkString(" AND "))

    // ORDER BY a NON-collected alias under DISTINCT: SQL forbids it (the
    // ordering column isn't in the distinct output; SQLite errors too). The
    // fetch supports it by turning DISTINCT into GROUP BY over the projected
    // row and ranking each row by min (ASC) / max (DESC) of the order
    // expression across its joined matches — the order key is consumed by
    // the aggregate, never projected. (orderTr/distinctOrderRewrite are
    // computed with the SELECT shape above.)
    groupTr.foreach(g => sb.append("\nGROUP BY ").append(g))
    if (uidDistinctRewrite) sb.append(s"\nGROUP BY ${collect.alias}.uid")
    if (distinctOrderRewrite) {
      // DISTINCT ≡ GROUP BY every projected column (by ordinal)
      val n = coreCols(collect.isEdge).length + collect.extras.length
      sb.append("\nGROUP BY ").append((1 to n).mkString(", "))
      val items = splitTopLevel(orderTr.get).map { item =>
        val (expr, dir, suffix) = splitDirection(item)
        if (referencedAliases(expr).forall(_ == collect.alias)) item
        else s"${if (dir == "DESC") "max" else "min"}($expr)$suffix"
      }
      sb.append("\nORDER BY ").append(items.mkString(", "))
      // the DISTINCT keyword was already emitted in the SELECT — remove it
      // (GROUP BY over all projected columns subsumes it)
      val i = sb.indexOf("SELECT DISTINCT ")
      sb.replace(i, i + "SELECT DISTINCT ".length, "SELECT ")
    } else orderTr.foreach { o =>
      // ORDER BY runs over the DISTINCT/aggregated output, where the
      // collected link's columns are unqualified — strip its alias prefix
      // (SQLite accepts qualified refs there, graphydb.py:961-962; Spark
      // follows standard SQL). Quote-aware: a string literal containing
      // "<alias>." must survive.
      val stripped = Dialect.mapOutsideQuotes(o)(_.replaceAll(
        "\\b" + java.util.regex.Pattern.quote(collect.alias) + "\\.", ""))
      sb.append("\nORDER BY ").append(stripped)
    }
    args.limit.foreach(l => sb.append(s"\nLIMIT $l"))
    args.offset.foreach(o => sb.append(s" OFFSET $o"))
    sb.toString
  }

  private val AliasRef = "\\b([A-Za-z_]\\w*)\\.".r

  /** Qualified alias names referenced outside string literals (`e.weight`,
    * `p_fts.score`, the rewritten `get_json_object(o.props, …)` — but not
    * numeric literals like `1.5`). */
  private def referencedAliases(s: String): Set[String] = {
    val found = Set.newBuilder[String]
    Dialect.mapOutsideQuotes(s) { seg =>
      AliasRef.findAllMatchIn(seg).foreach(m => found += m.group(1)); seg
    }
    found.result()
  }

  /** Split ORDER BY items on top-level commas (quote- and paren-aware). */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    s.foreach { c =>
      if (quote != 0) { cur.append(c); if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' => quote = c; cur.append(c)
        case '(' => depth += 1; cur.append(c)
        case ')' => depth -= 1; cur.append(c)
        case ',' if depth == 0 => out += cur.toString.trim; cur.clear()
        case _ => cur.append(c)
      }
    }
    if (cur.nonEmpty) out += cur.toString.trim
    out.result()
  }

  private val DirSuffix = "(?i)\\s+(ASC|DESC)(\\s+NULLS\\s+(?:FIRST|LAST))?\\s*$".r

  /** (bare expression, direction ASC|DESC, original suffix incl. NULLS). */
  private def splitDirection(item: String): (String, String, String) =
    DirSuffix.findFirstMatchIn(item) match {
      case Some(m) => (item.substring(0, m.start), m.group(1).toUpperCase,
        item.substring(m.start))
      case None => (item, "ASC", "")
    }

  /** Lazy DataFrame for the fetch; columns = core cols (+ extras). */
  def df(src: GraphSource, args: Args): DataFrame =
    src.sql(sql(src, args))

  /** COUNT(DISTINCT uid) as a Long, read with `LocalFrame.collect` of the
    * plan `head()` runs: on the driver over driver-held views, through its
    * job over any other source. With `group` set the reference returns
    * the first group's count (fetchone, graphydb.py:988-990) — a quirk, so
    * here the group is dropped and the total is returned (with a warning,
    * so the silent drop can't surprise a caller expecting per-group rows). */
  def count(src: GraphSource, args: Args): Long = {
    args.group.foreach(grp => logWarning(
      s"Fetch.count ignores group='$grp' and returns the TOTAL distinct count " +
        "(the reference's fetchone quirk, graphydb.py:988-990); use df() for per-group rows"))
    LocalFrame.collect(df(src, args.copy(count = true, group = None)).limit(1)).head.getLong(0)
  }

  /** Whether the collected link (thus result row shape) is an edge. */
  def collectsEdges(args: Args): Boolean = {
    val exprParams = args.params.collect { case (k, v: String) => k -> v }
    Chain.parse(args.chain, exprParams)._1.collect.isEdge
  }
}
