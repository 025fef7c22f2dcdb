package graft.engine

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterEach

/** Coverage for reference behaviors not exercised by the ported suites:
  * fnmatch filters (graphydb.py:1597-1618), column extraction getm
  * (1630-1648), ORDER/LIMIT/OFFSET through fetch (968-971), bulk batch
  * save/delete sharing one undo batch (1561-1573), discard, renew-like
  * original(), DEBUG SQL shape. */
class MoreEngineSpec extends AnyFunSuite with SparkSpec with BeforeAndAfterEach {

  var g: MemGraph = _

  override def beforeEach(): Unit = {
    g = MemGraph(spark)
    Seq("Once Upon A Time", "Twice Shy", "Once Bitten").zipWithIndex.foreach {
      case (t, i) => g.node("Doc", "title" -> t, "n" -> i).save()
    }
  }

  test("filterGlob per-key fnmatch; missing key never matches") {
    val docs = g.fetchN("(n)")
    assert(docs.filterGlob("title" -> "Once*").size == 2)
    assert(docs.filterGlob("title" -> "Once Upon *").one.get.apply("n") == 0L)
    assert(docs.filterGlob("missing" -> "*").isEmpty)
  }

  test("get/getm column extraction with defaults") {
    val docs = g.fetchN("(n)", order = Some("n.data.n"))
    assert(docs.get("title").map(_.toString).toSet ==
      Set("Once Upon A Time", "Twice Shy", "Once Bitten"))
    assert(docs.get("missing", "dflt") == Seq("dflt", "dflt", "dflt"))
    val m = docs.getm("title", "n")
    assert(m.forall(_.length == 2))
  }

  test("ORDER/LIMIT/OFFSET through fetch") {
    val page = g.fetchN("(n)", order = Some("n.data.n DESC"), limit = Some(2))
    assert(page.get("n") == Seq(2L, 1L))
    val off = g.fetchN("(n)", order = Some("n.data.n DESC"), limit = Some(2), offset = Some(1))
    assert(off.get("n") == Seq(1L, 0L))
  }

  test("bulk set+save shares one batch; one undo reverts the whole group") {
    val docs = g.fetchN("(n)")
    docs.setAll("flag" -> true)
    docs.save()
    assert(g.fetchN("(n)", Seq("n.data.flag = true")).size == 3)
    g.undo()
    assert(g.fetchN("(n)", Seq("n.data.flag = true")).size == 0)
  }

  test("bulk delete cascades in one batch; undo restores all") {
    val docs = g.fetchN("(n)")
    docs.delete()
    assert(g.fetchCount() == 0)
    g.undo()
    assert(g.fetchCount() == 3)
  }

  test("discard removes a key and journals it") {
    val d = g.fetchN("(n)", Seq("""n.data.title = "Twice Shy"""")).one.get
    d.discard("title")
    d.save()
    assert(g.getuid(d.uid).get.get("title").isEmpty)
    g.undo()
    assert(g.getuid(d.uid).get.apply("title") == "Twice Shy")
  }

  test("reset drops all state; deleteChange removes one journal row (graphydb.py:508-529, 568-570)") {
    assert(g.fetchCount() == 3 && g.countChanges == 3)
    g.deleteChange(2)
    assert(g.countChanges == 2)
    g.reset()
    assert(g.fetchCount() == 0 && g.countChanges == 0)
    assert(g.getSetting("anything") == null)
  }

  test("DEBUG returns SQL without executing (graphydb.py:977-978)") {
    val sql = g.fetchSql("(n)", Seq("n.data.n > :min"), Map("min" -> 1))
    assert(sql.contains("get_json_object(n.props, '$.n') > 1"))
    // one link over MemGraph's uid-keyed views: rows are unique as they
    // stand, so no dedup is emitted (see Fetch.sql)
    assert(!sql.contains("GROUP BY") && !sql.contains("DISTINCT"), sql)
    assert(sql.startsWith("SELECT n.uid AS uid, n.kind AS kind,"), sql)
    // a chain dedups: DISTINCT-without-extras compiles to the equivalent
    // GROUP BY uid form (rows are unique per collected uid)
    val chain = g.fetchSql("(n) -(e)> [m]", Seq("n.data.n > :min"), Map("min" -> 1))
    assert(chain.contains("GROUP BY m.uid"), chain)
  }

  test("renew discards local edits, keeps _-prefixed keys (graphydb.py:1150-1163)") {
    val d = g.fetchN("(n)", Seq("""n.data.title = "Twice Shy"""")).one.get
    d("title") = "Edited Away"
    d("_scratch") = "local"
    d.renew()
    assert(d("title") == "Twice Shy" && d("_scratch") == "local" && !d.changed)
  }

  test("copyItem(newUid) clones payload under a fresh id (graphydb.py:1250-1262)") {
    val d = g.fetchN("(n)", Seq("""n.data.title = "Once Bitten"""")).one.get
    val c = d.copyItem(newUid = true)
    assert(c.uid != d.uid && c("title") == "Once Bitten")
    c.save()
    assert(g.fetchN("(n)", Seq("""n.data.title = "Once Bitten"""")).size == 2)
  }

  test("GLOB prefix pushes down to the parquet scan as StartsWith") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pd").toString
    val wh = new WarehouseGraph(spark, dir)
    wh.append(g.changesDf)
    wh.compact()
    // read the compacted parquet directly through the warehouse fetch path
    val someUid = g.fetchN("(n)").one.get.uid
    val df = graft.query.Fetch.df(wh, graft.query.Fetch.Args(
      chain = "(n)", where = Seq(s"n.uid GLOB '${someUid.take(6)}*'")))
    assert(df.count() >= 1)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("StartsWith"), s"expected StartsWith pushdown in:\n$plan")
  }

  test("DISTINCT=false keeps multigraph join fanout (graphydb.py:865)") {
    val a = g.fetchN("(n)").toSeq
    g.edge(a(0), "L", a(1)).save()
    g.edge(a(0), "L", a(1)).save() // parallel edge: multigraph
    val dfDistinct = g.fetchDf(graft.query.Fetch.Args(chain = "[x] -(e:L)>"))
    val dfAll = g.fetchDf(graft.query.Fetch.Args(chain = "[x] -(e:L)>", distinct = false))
    assert(dfDistinct.count() == 1 && dfAll.count() == 2)
  }

  test("large NSet traversal switches to a temp-view semi-join (bounded SQL)") {
    val many = (1 to ItemSet.InListThreshold + 1).map(i => f"U$i%06d")
    val pred = ItemSet.uidPredicate(spark, "e.startuid", many)
    assert(pred.length < 200, s"predicate must stay bounded, got ${pred.length} chars")
    assert(pred.contains("SELECT uid FROM graft_uidset_"))
    // traversal through the semi-join path returns the same edges
    val a = g.fetchN("(n)").toSeq
    g.edge(a(0), "L", a(1)).save()
    val fakes = many.map(u => new Node(g,
      scala.collection.mutable.LinkedHashMap[String, Any]("uid" -> u, "kind" -> "Doc"),
      changed0 = false))
    val big = new NSet(a ++ fakes)
    val viewsBefore = spark.catalog.listTables().count()
    val out = big.outE()
    assert(out.size == 1 && out.one.get.data("startuid") == a(0).uid)
    // r4: the uid-set views are dropped once the fetch materializes — a
    // long-lived session's catalog stays stable across large traversals
    big.bothE()
    assert(spark.catalog.listTables().count() <= viewsBefore,
      "graft_uidset_* views must be dropped after traversal fetches")
    // small sets keep the inline IN-list (no view registration per call)
    val small = ItemSet.uidPredicate(spark, "e.startuid", Seq("A", "B"))
    assert(small == "e.startuid IN ('A','B')")
  }

  test("deepcopy clones nested structures; shallow copy shares them (graphydb.py:1273-1284)") {
    val nested = scala.collection.mutable.LinkedHashMap[Any, Any]("inner" -> 1)
    val n = g.node("Cfg", "meta" -> nested).save()
    val shallow = n.copyItem()
    val deep = n.deepcopyItem()
    nested("inner") = 2
    assert(shallow.data("meta").asInstanceOf[scala.collection.Map[Any, Any]]("inner") == 2,
      "shallow copy shares the nested map")
    assert(deep.data("meta").asInstanceOf[scala.collection.Map[Any, Any]]("inner") == 1,
      "deep copy must not share the nested map")
    val deep2 = n.deepcopyItem(newUid = true)
    assert(deep2.uid != n.uid)
    // edges get copy/deepcopy too (reference Item.copy)
    val m = g.node("Cfg").save()
    val e = g.edge(n, "L", m).save()
    val ec = e.copyItem(newUid = true)
    assert(ec.uid != e.uid && ec.startuid == n.uid)
    assert(e.deepcopyItem().enduid == m.uid)
  }

  test("stats parity fields (graphydb.py:704-739)") {
    val s = g.stats
    assert(s("Total nodes") == 3L && s("Node kinds") == Map("Doc" -> 3L))
    assert(s("Spark version").toString.startsWith("4."))
    assert(s.contains("Graft version") && s.contains("Changes"))
    assert(!s.contains("File size"), "in-memory graph has no file size, like :memory:")

    val dir = java.nio.file.Files.createTempDirectory("graft_stats").toString
    val w = GraphSession.open(spark, dir)
    w.merge(g)
    val ws = w.stats
    assert(ws("Total nodes") == 3L && ws("Changes") == 3L)
    assert(ws("File size").toString.matches("\\d+[BKM]"))
  }

  test("a user property literally named 'props' survives fetch and save") {
    val n = g.node("Weird", "props" -> "user-value").save()
    val fetched = g.getuid(n.uid).get
    assert(fetched.get("props").contains("user-value"))
    fetched("other") = 1
    fetched.save()
    assert(g.getuid(n.uid).get.get("props").contains("user-value"))
  }

  test("ORDER BY a non-collected alias under DISTINCT ranks rows by min/max across joins") {
    val a = g.fetchN("(n)", order = Some("n.data.n ASC")).toSeq
    g.edge(a(0), "W", a(1), "w" -> 9).save()
    g.edge(a(2), "W", a(1), "w" -> 5).save()
    g.edge(a(2), "W", a(1), "w" -> 1).save() // parallel edge: a2's weights {5,1}
    // DESC ranks each distinct source by its MAX edge weight: a0 (9) > a2 (5)
    val desc = g.fetchN("[s] -(e:W)>", order = Some("CAST(e.data.w AS INT) DESC"))
    assert(desc.get("uid") == Seq(a(0).uid, a(2).uid))
    // ASC ranks by MIN weight: a2 (1) < a0 (9)
    val asc = g.fetchN("[s] -(e:W)>", order = Some("CAST(e.data.w AS INT) ASC"))
    assert(asc.get("uid") == Seq(a(2).uid, a(0).uid))
    // rows stay DISTINCT (a2 appears once despite two matching edges)
    assert(desc.size == 2 && asc.size == 2)
    // mixed item referencing the collect alias still works alongside
    val mixed = g.fetchN("[s] -(e:W)>",
      order = Some("CAST(e.data.w AS INT) DESC, s.uid ASC"))
    assert(mixed.get("uid") == Seq(a(0).uid, a(2).uid))
  }

  test("ORDER BY string literal containing the collect alias is not corrupted") {
    // 'n.' inside a quoted literal must pass through the alias-strip untouched
    val df = g.fetchDf(graft.query.Fetch.Args(
      chain = "[n:Doc]", order = Some("concat(n.uid, 'n.x') ASC")))
    assert(df.count() == 3)
  }
}
