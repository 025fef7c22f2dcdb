package graft.query

import graft.SparkSpec
import graft.engine.{GraphSource, MemGraph, ViewGraph}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Randomized equivalence (SURVEY §5.2): for random small graphs and random
  * chain patterns, the compiled fetch must return the same collected uid set
  * as a naive in-driver evaluator of the chain semantics
  * (graphydb.py:741-807, 919-938). */
class FetchPropertySpec extends AnyFunSuite with SparkSpec {

  private val nodeKinds = Vector("A", "B")
  private val edgeKinds = Vector("X", "Y")

  /** Naive evaluator: enumerate all bindings of the chain links over the
    * driver-side maps (binding = per link the chosen (uid, leftKey, rightKey)). */
  private def bindings(g: MemGraph, links: Vector[Chain.Link]): Seq[Vector[(String, String, String)]] = {
    val nodes = g.nodes.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val edges = g.edges.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
    def candidates(l: Chain.Link): Seq[(String, String, String)] =
      if (!l.isEdge)
        nodes.filter(n => l.kind.forall(_ == n._2)).map(n => (n._1, n._1, n._1))
      else edges.filter(e => l.kind.forall(_ == e._2)).map { e =>
        val (_, _, s, t) = e
        if (l.leftuid == "startuid") (e._1, s, t) else (e._1, t, s)
      }
    var partials: Seq[Vector[(String, String, String)]] =
      candidates(links.head).map(Vector(_))
    links.sliding(2).foreach {
      case Seq(_, r) =>
        partials = partials.flatMap { p =>
          candidates(r).filter(c => c._2 == p.last._3).map(p :+ _)
        }
      case _ => ()
    }
    partials
  }

  private def naive(g: MemGraph, links: Vector[Chain.Link], collectIdx: Int): Set[String] =
    bindings(g, links).map(p => p(collectIdx)._1).toSet

  test("random chains ≡ naive evaluator on random graphs") {
    val rng = new Random(2024)
    for (round <- 1 to 6) {
      val g = MemGraph(spark)
      val ns = (1 to (4 + rng.nextInt(4)))
        .map(_ => g.node(nodeKinds(rng.nextInt(2))).save())
      for (_ <- 1 to (ns.size * 2))
        g.edge(ns(rng.nextInt(ns.size)), edgeKinds(rng.nextInt(2)), ns(rng.nextInt(ns.size))).save()

      for (q <- 1 to 6) {
        val nLinks = 1 + 2 * rng.nextInt(3) // 1, 3, or 5 links (node/edge alternating)
        val parts = (0 until nLinks).map { i =>
          val kind =
            if (i % 2 == 0) (if (rng.nextBoolean()) s":${nodeKinds(rng.nextInt(2))}" else "")
            else (if (rng.nextBoolean()) s":${edgeKinds(rng.nextInt(2))}" else "")
          if (i % 2 == 0) s"(n$i$kind)"
          else if (rng.nextBoolean()) s"-(e$i$kind)>" else s"<(e$i$kind)-"
        }
        val collectIdx = rng.nextInt(nLinks)
        val chain = parts.zipWithIndex.map { case (p, i) =>
          if (i == collectIdx) p.replace("(", "[").replace(")", "]") else p
        }.mkString(" ")

        val (parsed, _) = Chain.parse(chain)
        val got = Fetch.df(g, Fetch.Args(chain = chain))
          .select("uid").collect().map(_.getString(0)).toSet
        val want = naive(g, parsed.links, parsed.collectIdx)
        assert(got == want, s"round $round chain '$chain': got $got want $want")
        // COUNT path = distinct-uid count of the same result
        assert(Fetch.count(g, Fetch.Args(chain = chain)) == want.size,
          s"round $round chain '$chain': COUNT mismatch")
      }
    }
  }

  test("DISTINCT + ORDER BY non-collected alias ≡ min/max rank over naive bindings") {
    val rng = new Random(77)
    for (round <- 1 to 4) {
      val g = MemGraph(spark)
      val ns = (1 to (4 + rng.nextInt(4)))
        .map(_ => g.node(nodeKinds(rng.nextInt(2))).save())
      for (_ <- 1 to (ns.size * 2))
        g.edge(ns(rng.nextInt(ns.size)), edgeKinds(rng.nextInt(2)), ns(rng.nextInt(ns.size))).save()

      for (_ <- 1 to 4) {
        val nLinks = 3 + 2 * rng.nextInt(2) // 3 or 5 links
        val parts = (0 until nLinks).map { i =>
          if (i % 2 == 0) s"(n$i)"
          else if (rng.nextBoolean()) s"-(e$i)>" else s"<(e$i)-"
        }
        val collectIdx = rng.nextInt(nLinks)
        var orderIdx = rng.nextInt(nLinks)
        while (orderIdx == collectIdx) orderIdx = rng.nextInt(nLinks)
        val chain = parts.zipWithIndex.map { case (p, i) =>
          if (i == collectIdx) p.replace("(", "[").replace(")", "]") else p
        }.mkString(" ")
        val orderAlias = if (orderIdx % 2 == 0) s"n$orderIdx" else s"e$orderIdx"
        val desc = rng.nextBoolean()
        val order = s"$orderAlias.uid ${if (desc) "DESC" else "ASC"}"

        val gotSeq = Fetch.df(g, Fetch.Args(chain = chain, order = Some(order)))
          .select("uid").collect().map(_.getString(0)).toSeq
        val bs = bindings(g, Chain.parse(chain)._1.links)
        val ranks: Map[String, String] = bs.groupBy(_(collectIdx)._1).map {
          case (uid, ps) =>
            val keys = ps.map(_(orderIdx)._1)
            uid -> (if (desc) keys.max else keys.min)
        }
        assert(gotSeq.toSet == ranks.keySet,
          s"round $round '$chain' ORDER $order: set mismatch ${gotSeq.toSet} vs ${ranks.keySet}")
        assert(gotSeq.size == gotSeq.distinct.size, "DISTINCT must survive the rewrite")
        val seq = gotSeq.map(ranks)
        val monotone = seq.sliding(2).forall {
          case Seq(a, b) => if (desc) a >= b else a <= b
          case _ => true
        }
        assert(monotone, s"round $round '$chain' ORDER $order: ranks $seq not monotone")
      }
    }
  }

  private val words = Vector("red", "blue", "green")

  /** A random MemGraph with node FTS over `name`. */
  private def randomGraph(rng: Random): MemGraph = {
    val g = MemGraph(spark)
    g.resetFts(nodeFields = Seq("name"))
    val ns = (1 to (5 + rng.nextInt(4))).map { _ =>
      val name = s"${words(rng.nextInt(3))} ${words(rng.nextInt(3))}"
      g.node(nodeKinds(rng.nextInt(2)), "age" -> rng.nextInt(50), "name" -> name)
        .save().updatefts("name" -> name)
    }
    for (_ <- 1 to (ns.size * 2))
      g.edge(ns(rng.nextInt(ns.size)), edgeKinds(rng.nextInt(2)), ns(rng.nextInt(ns.size)),
        "w" -> rng.nextInt(4)).save()
    g
  }

  /** A random fetch: 1, 3 or 5 links with random kinds and directions, and
    * at random a where clause, an FTS match, a group with a `COUNT` extra
    * or a per-row extra, `distinct = false`, and a total order with a
    * limit. Also the features it uses, by name. */
  private def randomFetch(rng: Random): (Fetch.Args, Set[String]) = {
    val nLinks = 1 + 2 * rng.nextInt(3)
    val aliases = (0 until nLinks).map(i => if (i % 2 == 0) s"n$i" else s"e$i")
    val collectIdx = rng.nextInt(nLinks)
    val c = aliases(collectIdx)
    val cIsNode = collectIdx % 2 == 0
    val other = aliases((collectIdx + 1 + rng.nextInt(nLinks)) % nLinks)
    val grouped = cIsNode && nLinks > 1 && rng.nextInt(3) == 0
    val extra = if (grouped) Some(s"COUNT($other.uid)")
      else if (rng.nextInt(4) == 0) Some(s"CAST($other.data.w AS INT)").filter(_ => other.startsWith("e"))
      else None
    val kinds = aliases.indices.map { i =>
      if (rng.nextBoolean()) ""
      else s":${if (i % 2 == 0) nodeKinds(rng.nextInt(2)) else edgeKinds(rng.nextInt(2))}"
    }
    val rightward = aliases.map(_ => rng.nextBoolean())
    val chain = aliases.indices.map { i =>
      val spec = aliases(i) + kinds(i) + (if (i == collectIdx && extra.isDefined) ",x" else "")
      val link = if (i == collectIdx) s"[$spec]" else s"($spec)"
      if (i % 2 == 0) link else if (rightward(i)) s"-$link>" else s"<$link-"
    }.mkString(" ")
    val where = if (rng.nextBoolean()) Seq("CAST(n0.data.age AS INT) >= :lo") else Nil
    val fts = if (rng.nextInt(4) == 0) Map("n0_fts" -> words(rng.nextInt(3))) else Map.empty
    val params = Map[String, Any]("lo" -> rng.nextInt(50)) ++ fts ++ extra.map("x" -> _)
    val distinct = rng.nextInt(4) != 0
    // ordered results must be total orders, so the collected uid breaks ties
    val order = if (grouped || extra.isDefined || rng.nextBoolean()) None
      else if (cIsNode && rng.nextBoolean()) Some(s"CAST($c.data.age AS INT) DESC, $c.uid")
      else if (other.startsWith("n")) Some(s"$other.uid DESC, $c.uid")
      else Some(s"$c.uid DESC")
    val args = Fetch.Args(chain, where, order, Option.when(grouped)(s"$c.uid"),
      order.map(_ => 1 + rng.nextInt(4)), None, count = false, distinct, params)
    val features = Seq("where" -> where.nonEmpty, "fts" -> fts.nonEmpty,
      "order+limit" -> order.isDefined, "group" -> grouped, "extra" -> extra.isDefined,
      "distinct=false" -> !distinct, "chain" -> (nLinks > 1),
      "a source read twice" -> (nLinks > 2)).collect { case (f, true) => f }.toSet
    (args, features)
  }

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  /** Exact sequence when ordered, multiset otherwise. */
  private def assertSameRows(got: Seq[Seq[Any]], want: Seq[Seq[Any]], args: Fetch.Args,
      label: String): Unit =
    if (args.order.isDefined) assert(got == want, label)
    else assert(got.map(_.mkString("|")).sorted == want.map(_.mkString("|")).sorted, label)

  test("random fetches over MemGraph rows ≡ the same fetches over createDataFrame rows") {
    // the ViewGraph's frames are Spark's own LocalRelations over the same
    // rows, so any difference is the driver-row leaf, its folding or its scan
    val rng = new Random(5150)
    def copyOf(df: DataFrame): DataFrame =
      spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
    // features seen in queries with a non-empty result, so the mix is known to cover them
    val covered = scala.collection.mutable.Set.empty[String]
    for (round <- 1 to 4) {
      val g = randomGraph(rng)
      val vg = new ViewGraph(spark, copyOf(g.nodes), copyOf(g.edges),
        Some(copyOf(g.nodeFts)), Some(copyOf(g.edgeFts)), ftsU61 = g.ftsUnicode61)

      for (q <- 1 to 8) {
        val (args, features) = randomFetch(rng)
        val (got, want) = (rowsOf(Fetch.df(g, args)), rowsOf(Fetch.df(vg, args)))
        val label = s"round $round query $q: $args"
        if (want.nonEmpty) covered ++= features - "a source read twice"
        assertSameRows(got, want, args, label)
        val countArgs = Fetch.Args(args.chain.replace(",x", ""), args.where,
          distinct = args.distinct, params = args.params - "x")
        assert(Fetch.count(g, countArgs) == Fetch.count(vg, countArgs), s"$label: COUNT")
      }
    }
    assert(covered == Set("where", "fts", "order+limit", "group", "extra", "distinct=false", "chain"),
      covered)
  }

  test("random fetches bound by plan ≡ the same Fetch.sql text over registered temp views") {
    // Fetch.df binds the SQL's view names to the source's frames by plan;
    // spark.sql resolves the same names through temp views of those frames
    val rng = new Random(6262)
    val covered = scala.collection.mutable.Set.empty[String]
    def overTempViews(src: GraphSource, sql: String): Seq[Seq[Any]] = {
      val views = Seq(src.nodesView -> src.nodes, src.edgesView -> src.edges,
        src.nodeFtsView -> src.nodeFts, src.edgeFtsView -> src.edgeFts)
      views.foreach { case (name, df) => df.createOrReplaceTempView(name) }
      try rowsOf(spark.sql(sql))
      finally views.foreach { case (name, _) => spark.catalog.dropTempView(name) }
    }
    for (round <- 1 to 4) {
      val g = randomGraph(rng)
      val vg = new ViewGraph(spark, g.nodes, g.edges, Some(g.nodeFts), Some(g.edgeFts),
        ftsU61 = g.ftsUnicode61)
      for (q <- 1 to 8; src <- Seq(g, vg)) {
        val (args, features) = randomFetch(rng)
        val label = s"round $round query $q over $src: $args"
        val want = overTempViews(src, Fetch.sql(src, args))
        if (want.nonEmpty) covered ++= features
        assertSameRows(rowsOf(Fetch.df(src, args)), want, args, label)
        val countArgs = Fetch.Args(args.chain.replace(",x", ""), args.where, count = true,
          distinct = args.distinct, params = args.params - "x")
        assert(Seq(Fetch.count(src, countArgs)) == overTempViews(src, Fetch.sql(src, countArgs)).head,
          s"$label: COUNT")
      }
    }
    assert(covered == Set("where", "fts", "order+limit", "group", "extra", "distinct=false",
      "chain", "a source read twice"), covered)
  }
}
