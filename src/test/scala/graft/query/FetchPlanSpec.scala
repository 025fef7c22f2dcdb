package graft.query

import graft.SparkSpec
import graft.engine.{MemGraph, Node, ViewGraph}
import org.apache.spark.grafttest.ListenerDrain.{jobsAndStagesDuring, jobsDuring, sqlExecutionsDuring}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.graft.{DriverRelation, DriverRows}
import org.scalatest.funsuite.AnyFunSuite

/** Plan shape of fetches over MemGraph, whose views hold one row per uid
  * in driver-held relations: a single-link fetch plans no dedup and runs no
  * Spark job, a chain dedups in one job of one stage, an empty result runs
  * no job, a read binds its views by plan (no temp view, one SQL
  * execution), and the SQL over any other source is unchanged. */
class FetchPlanSpec extends AnyFunSuite with SparkSpec with AdaptiveSparkPlanHelper {

  private val personNames = Seq("apple pie", "apple apple tart", "pear", "apple apple apple", "plum")

  private lazy val g: MemGraph = {
    val g = MemGraph(spark)
    g.resetFts(nodeFields = Seq("name"))
    val ps = personNames.zipWithIndex.map { case (n, i) =>
      g.node("Person", "name" -> n, "age" -> (20 + 10 * i)).save().updatefts("name" -> n)
    }
    val co = g.node("Company", "name" -> "Acme").save()
    ps.foreach(p => g.edge(p, "WorksAt", co).save())
    // parallel edges: p0 knows p1 twice
    g.edge(ps(0), "Knows", ps(1)).save()
    g.edge(ps(0), "Knows", ps(1)).save()
    g
  }

  private def uid(name: String): String =
    g.fetchN("(n)", Seq("n.data.name = :name"), params = Map("name" -> name)).one.get.uid

  private def jobsOf[A](body: => A): (A, Int) = jobsDuring(spark.sparkContext)(body)

  /** Shuffles in the executed plan, looking inside an adaptive plan's
    * stages once the query has run. */
  private def exchanges(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }.size

  test("(n:Person) with a where clause: no Exchange, 0 Spark jobs") {
    val df = Fetch.df(g, Fetch.Args("(n:Person)", Seq("CAST(n.data.age AS INT) >= :lo"),
      params = Map("lo" -> 40)))
    assert(exchanges(df) == 0, df.queryExecution.executedPlan.toString)
    val (rows, jobs) = jobsOf(df.collect())
    assert(jobs == 0, s"ran $jobs Spark jobs")
    assert(rows.map(_.getAs[String]("uid")).toSet ==
      Set("pear", "apple apple apple", "plum").map(uid))
  }

  test("<(e)- with an enduid predicate: no Exchange, 0 Spark jobs") {
    val co = uid("Acme")
    val df = Fetch.df(g, Fetch.Args("<(e)-", Seq(s"e.enduid = '$co'")))
    assert(exchanges(df) == 0, df.queryExecution.executedPlan.toString)
    val (rows, jobs) = jobsOf(df.collect())
    assert(jobs == 0, s"ran $jobs Spark jobs")
    assert(rows.length == 5 && rows.map(_.getAs[String]("uid")).distinct.length == 5)
    assert(g.getuid(co).get.asInstanceOf[Node].inE().size == 5)
  }

  test("ORDER BY the FTS score on a single link ranks by score") {
    val got = g.fetchN("(n:Person)", order = Some("n_fts.score DESC"),
      params = Map("n_fts" -> "apple")).toSeq.map(_("name"))
    assert(got == Seq("apple apple apple", "apple apple tart", "apple pie"))
  }

  test("fetches and FTS matches bind by plan: no temp view, and a read after a write runs 1 SQL execution") {
    def tempViews: Set[String] =
      spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val before = tempViews
    // a MemGraph, a ViewGraph and a warehouse zView (with its postings)
    val vg = new ViewGraph(spark, g.nodes, g.edges, Some(g.nodeFts), Some(g.edgeFts))
    val dir = java.nio.file.Files.createTempDirectory("graft_fetchbind").toString
    val wh = new graft.engine.WarehouseGraph(spark, dir)
    wh.append(g.changesDf)
    wh.compactZorder(nFiles = 2)
    wh.resetZFts(Seq("name"))
    val chain = Fetch.Args("[a:Person] -(e:Knows)> (b)", params = Map("a_fts" -> "apple"))
    val p0 = uid("apple pie")
    Seq(g, vg, wh.zView).foreach { src =>
      assert(Fetch.df(src, chain).collect().map(_.getAs[String]("uid")).toSeq == Seq(p0), src)
      assert(tempViews == before, s"a fetch over $src left a temp view")
    }
    assert(Fts.matchUids(g.nodeFts, "apple").count() == 3L)
    assert(Fts.matchBm25(g.nodeFts, "apple").count() == 3L)
    assert(tempViews == before, "an FTS match left a temp view")

    // a write to the nodes, the edges and the node FTS, then a read: its
    // own query is its only SQL execution (registering the three changed
    // frames as temp views would run three more)
    val p = g.getuid(uid("plum")).get
    p("age") = 61
    p.save().updatefts("name" -> "plum") // the same text: postings unchanged
    g.edge(p.uid, "Knows", p.uid).save()
    try {
      val (hit, executions) = sqlExecutionsDuring(spark.sparkContext)(
        g.fetchN("(n:Person)", Seq("CAST(n.data.age AS INT) = 61")).size)
      assert(hit == 1 && executions == 1, s"$hit rows, $executions SQL executions")
    } finally { g.undo(); g.undo() }
    assert(g.getuid(uid("plum")).get("age") == 60 &&
      Fetch.df(g, Fetch.Args("<(e:Knows)-")).count() == 2L)
  }

  test("chains of two or more links still dedup, over parallel edges too") {
    val (a, b) = (uid("apple pie"), uid("apple apple tart"))
    val sql = Fetch.sql(g, Fetch.Args("(a) -(e:Knows)> [b]"))
    assert(sql.contains("GROUP BY b.uid"), sql)
    assert(g.fetchN("(a) -(e:Knows)> [b]").toSeq.map(_.uid) == Seq(b))
    assert(g.fetchN("[a] -(e:Knows)> (b)").toSeq.map(_.uid) == Seq(a))
    assert(g.fetchN("[a] -(e:Knows)> (b) -(w:WorksAt)> (c:Company)").toSeq.map(_.uid) == Seq(a))
    assert(Fetch.df(g, Fetch.Args("(a) -(e:Knows)> [b]", distinct = false)).count() == 2)
  }

  test("Fetch.sql over a ViewGraph is unchanged") {
    val vg = new ViewGraph(spark, g.nodes, g.edges, Some(g.nodeFts), Some(g.edgeFts))
    val (n, e, nf) = (vg.nodesView, vg.edgesView, vg.nodeFtsView)
    val single = Fetch.sql(vg, Fetch.Args("(n:Person)", Seq("n.data.age > :a"),
      params = Map("a" -> 30)))
    assert(single ==
      s"""SELECT n.uid AS uid, max(n.kind) AS kind, max(n.ctime) AS ctime, max(n.mtime) AS mtime, max(n.props) AS props
         |FROM $n AS n
         |WHERE (get_json_object(n.props, '$$.age') > 30) AND n.kind = 'Person'
         |GROUP BY n.uid""".stripMargin)
    val edges = Fetch.sql(vg, Fetch.Args("<(e)-", Seq("e.enduid = 'x'")))
    assert(edges ==
      s"""SELECT e.uid AS uid, max(e.kind) AS kind, max(e.startuid) AS startuid, max(e.enduid) AS enduid, max(e.ctime) AS ctime, max(e.mtime) AS mtime, max(e.props) AS props
         |FROM $e AS e
         |WHERE (e.enduid = 'x')
         |GROUP BY e.uid""".stripMargin)
    val fts = Fetch.sql(vg, Fetch.Args("(n:Person)", order = Some("n_fts.score DESC"),
      params = Map("n_fts" -> "apple")))
    assert(fts ==
      s"""SELECT n.uid AS uid, n.kind AS kind, n.ctime AS ctime, n.mtime AS mtime, n.props AS props
         |FROM $n AS n
         |JOIN (SELECT uid, CAST(SUM(c) AS BIGINT) AS score
         |FROM (SELECT uid, COUNT(*) AS c FROM $nf WHERE term = 'apple' GROUP BY uid) AS parts GROUP BY uid) AS n_fts ON n.uid = n_fts.uid
         |WHERE n.kind = 'Person'
         |GROUP BY 1, 2, 3, 4, 5
         |ORDER BY max(n_fts.score) DESC""".stripMargin)
    // and over the ViewGraph the FTS-ordered fetch ranks the same way
    val ranked = Fetch.df(vg, Fetch.Args("(n:Person)", order = Some("n_fts.score DESC"),
      params = Map("n_fts" -> "apple"))).collect().map(_.getAs[String]("uid")).toSeq
    assert(ranked == Seq("apple apple apple", "apple apple tart", "apple pie").map(uid))
  }

  test("2-, 3- and 5-link chains run 1 Spark job of 1 stage with no Exchange") {
    val co = uid("Acme")
    val p0 = uid("apple pie")
    val cases = Seq(
      Fetch.Args("<(e:WorksAt)- [n]", Seq(s"e.enduid = '$co'")) -> personNames.map(uid).toSet,
      Fetch.Args("[a] -(e:Knows)> (b)") -> Set(p0),
      Fetch.Args("[a] -(e:Knows)> (b) -(w:WorksAt)> (c:Company)") -> Set(p0))
    cases.foreach { case (args, want) =>
      val df = Fetch.df(g, args)
      val (rows, jobs, stages) = jobsAndStagesDuring(spark.sparkContext)(df.collect())
      assert(rows.map(_.getAs[String]("uid")).toSet == want && rows.length == want.size, args.chain)
      assert(jobs == 1 && stages == 1, s"${args.chain}: $jobs jobs, $stages stages")
      assert(exchanges(df) == 0, df.queryExecution.executedPlan.toString)
    }
  }

  test("empty results and limits run no Spark job") {
    val loner = g.node("Loner").save()
    try {
      val (out, outJobs) = jobsOf(loner.outN())
      assert(out.size == 0 && outJobs == 0, s"outN of an isolated node ran $outJobs jobs")
      val (none, noneJobs) = jobsOf(g.fetchN("[a] -(e:Knows)> (b)",
        Seq("CAST(b.data.age AS INT) > :hi"), params = Map("hi" -> 1000)))
      assert(none.size == 0 && noneJobs == 0, s"an empty chain ran $noneJobs jobs")
      val (five, limitJobs) = jobsOf(g.fetchN("(n)", limit = Some(5)))
      assert(five.size == 5 && limitJobs == 0, s"a limited fetch ran $limitJobs jobs")
    } finally g.undo()
  }

  test("a fetch's leaves are driver relations whose expressions are their output only") {
    val df = Fetch.df(g, Fetch.Args("[a] -(e:Knows)> (b)", params = Map("b_fts" -> "apple")))
    val leaves = df.queryExecution.analyzed.collectLeaves()
    assert(leaves.size == 4 && leaves.forall(_.isInstanceOf[DriverRelation]), leaves)
    leaves.foreach { l =>
      // no row is an expression or sits in a collection Catalyst flattens
      assert(l.expressions == l.output, l)
      assert(l.productIterator.collect { case i: Iterable[_] => i }.toSeq == Seq(l.output))
      assert(l.productIterator.collect { case r: DriverRows => r }.size == 1)
    }
  }

  test("a driver relation estimates its size and rows as a LocalRelation does") {
    val leaf = g.nodes.queryExecution.analyzed.asInstanceOf[DriverRelation]
    assert(leaf.computeStats() == LocalRelation(leaf.output, leaf.data.rows).computeStats())
    assert(leaf.maxRows.contains(leaf.data.rows.length.toLong))
  }
}
