package perfbench

import scala.collection.mutable

import graft.engine.{GraphSession, MemGraph, Node}
import graft.query.Fetch

/** `oltp`: the paper's own use — one client against an in-memory working
  * set of about 10k nodes and edges with node FTS, in a closed loop of
  * write batches (create, modify, disconnect-delete, undo), each followed
  * by reads: fetch chains of 1–3 hops with where/order/limit/group/params,
  * `outN`/`inE` traversals, FTS MATCH fetches and NSet algebra. Every read
  * is checked against [[OltpModel]], plain maps the benchmark keeps itself. */
final class Oltp(h: Harness) extends Workload {
  import Oltp._

  private val gen = new scala.util.Random(h.args.seed)
  private val nPersons = 2500
  private val nCompanies = 250
  private val base: OltpModel = {
    val m = new OltpModel
    (0 until nCompanies).foreach { i =>
      m.nodes(f"co$i%05d") = NodeRec("Company", Map(
        "name" -> s"${pick(CompanyA)} ${pick(CompanyB)}", "sector" -> pick(Sectors)))
    }
    (0 until nPersons).foreach { i =>
      m.nodes(f"pe$i%05d") = NodeRec("Person", Map(
        "name" -> s"${pick(First)} ${pick(Last)}",
        "age" -> (18 + gen.nextInt(60)).toLong, "city" -> pick(Cities)))
    }
    var e = 0
    (0 until nPersons).foreach { i =>
      m.edges(f"wa$i%05d") = EdgeRec("WorksAt", f"pe$i%05d", f"co${gen.nextInt(nCompanies)}%05d",
        Map("since" -> (1990 + gen.nextInt(35)).toLong))
      (0 until 2).foreach { _ =>
        m.edges(f"kn$e%05d") = EdgeRec("Knows", f"pe$i%05d", f"pe${gen.nextInt(nPersons)}%05d",
          Map("w" -> (1 + gen.nextInt(9)).toLong))
        e += 1
      }
    }
    m.nodes.foreach { case (u, n) => m.fts(u) = n.props("name").toString }
    m
  }
  private def pick(xs: IndexedSeq[String]): String = xs(gen.nextInt(xs.size))

  private var g: MemGraph = _
  private var model: OltpModel = _
  private val undoStack = mutable.Stack.empty[OltpModel]
  private var created = 0
  private var batchNo = 0
  private var dirty = false

  def setup(rep: Int): Unit = {
    g = GraphSession.inMemory(h.spark)
    g.resetFts(nodeFields = Seq("name"))
    base.nodes.foreach { case (u, n) =>
      val node = g.node(n.kind, (("uid" -> u) +: n.props.toSeq): _*).save()
      node.updatefts("name" -> n.props("name").toString)
    }
    base.edges.foreach { case (u, e) =>
      g.edge(e.start, e.kind, e.end, (("uid" -> u) +: e.props.toSeq): _*).save()
    }
    // first snapshot build and plan: the ready state a session reaches
    val n = g.fetchCount("(n)")
    require(n == base.nodes.size, s"working set has $n nodes, expected ${base.nodes.size}")
    model = base.copy()
    undoStack.clear()
    dirty = false
  }

  /** A set-up takes about 0.4 s, so four cost under 2 s of a run. */
  val setupReps = 4

  /** Four cycles of the loop (reads still get faster for a minute after
    * that, about 12% from the first 20 s to the next, as the JIT compiles
    * more of Spark; four cycles is what the run budget allows), then write
    * batches each undone at once: a write takes about a millisecond, so it
    * needs many more repetitions than a read before the JIT has compiled
    * it, and undoing each batch keeps the working set at its set-up size. */
  def warm(): Unit = {
    (0 until 4 * readOrder.size).foreach(_ => step())
    (0 until 60).foreach { i =>
      i % 3 match { case 0 => createBatch(); case 1 => modifyBatch(); case _ => deleteBatch() }
      undo()
    }
    dirty = true
  }

  /** A cycle is one read of each of the eleven shapes. */
  override def cycleDone: Boolean = readNo % readOrder.size == 0

  /** W W R: every read directly follows a write. Writes come in pairs so
    * that each write kind gets a few samples per read shape; at a
    * millisecond each they add almost nothing to a run. */
  def step(): Unit = {
    write()
    write()
    read()
  }

  // ------------------------------------------------------------------ writes

  private var writeNo = 0
  private var readNo = 0
  private val readOrder = gen.shuffle((0 until 11).toVector)

  /** Writes rotate create, modify, delete, undo, undo, undo: the undos
    * take back the delete, the modify and the create, so the working set,
    * MemGraph's journal and the undo stack keep the size set-up gave them
    * and a run that gets through more operations does not read more data.
    * Reads rotate all eleven shapes in a seeded order, so every run
    * measures the same mix. */
  private def write(): Unit = {
    writeNo += 1
    writeNo % 6 match {
      case 1 => createBatch()
      case 2 => modifyBatch()
      case 3 => deleteBatch()
      case _ => undo()
    }
    dirty = true
  }

  private def nextBatch(): Option[String] = { batchNo += 1; Some(s"wb$batchNo") }

  private def livePersons: IndexedSeq[String] =
    model.nodes.iterator.filter(_._2.kind == "Person").map(_._1).toIndexedSeq.sorted

  private def createBatch(): Unit = {
    val persons = livePersons
    val companies = model.nodes.iterator.filter(_._2.kind == "Company").map(_._1).toIndexedSeq.sorted
    val b = nextBatch()
    val items = (0 until 20).map { _ =>
      created += 1
      val u = f"nw$created%06d"
      val props = Map[String, Any]("name" -> s"${pick(First)} ${pick(Last)}",
        "age" -> (18 + gen.nextInt(60)).toLong, "city" -> pick(Cities))
      val knows = f"nk$created%06d" -> EdgeRec("Knows", u, persons(gen.nextInt(persons.size)),
        Map("w" -> (1 + gen.nextInt(9)).toLong))
      val works = f"nc$created%06d" -> EdgeRec("WorksAt", u, companies(gen.nextInt(companies.size)),
        Map("since" -> 2024L))
      (u, props, knows, works)
    }
    val before = model.copy()
    h.op("create", Write) {
      h.timed("engine.mutate_ms") {
        items.foreach { case (u, props, (ku, k), (wu, w)) =>
          g.node("Person", (("uid" -> u) +: props.toSeq): _*).save(batch = b)
            .updatefts("name" -> props("name").toString)
          g.edge(k.start, k.kind, k.end, (("uid" -> ku) +: k.props.toSeq): _*).save(batch = b)
          g.edge(w.start, w.kind, w.end, (("uid" -> wu) +: w.props.toSeq): _*).save(batch = b)
        }
      }
    }(_ => true)
    items.foreach { case (u, props, (ku, k), (wu, w)) =>
      model.nodes(u) = NodeRec("Person", props); model.fts(u) = props("name").toString
      model.edges(ku) = k; model.edges(wu) = w
    }
    undoStack.push(before)
  }

  private def modifyBatch(): Unit = {
    val persons = livePersons
    val picks = (0 until 40).map(_ => persons(gen.nextInt(persons.size))).distinct
    val changes = picks.map { u =>
      val old = model.nodes(u).props
      val age = old("age").asInstanceOf[Long]
      u -> (old + ("age" -> (if (age >= 77) age - 1 else age + 1)) + ("city" -> pick(Cities)))
    }
    val before = model.copy()
    val b = nextBatch()
    h.op("modify", Write) {
      h.timed("engine.mutate_ms") {
        changes.foreach { case (u, props) =>
          val n = g.getuid(u).get.asInstanceOf[Node]
          n("age") = props("age"); n("city") = props("city")
          n.save(batch = b)
        }
      }
    }(_ => true)
    changes.foreach { case (u, props) => model.nodes(u) = model.nodes(u).copy(props = props) }
    undoStack.push(before)
  }

  private def deleteBatch(): Unit = {
    val persons = livePersons
    val doomed = (0 until 4).map(_ => persons(gen.nextInt(persons.size))).distinct
    val before = model.copy()
    val b = nextBatch()
    h.op("delete", Write) {
      h.timed("engine.mutate_ms") {
        doomed.foreach(u => g.getuid(u).get.asInstanceOf[Node].delete(disconnect = true, batch = b))
      }
    }(_ => true)
    doomed.foreach { u =>
      model.nodes.remove(u); model.fts.remove(u)
      model.edges.filterInPlace { case (_, e) => e.start != u && e.end != u }
    }
    undoStack.push(before)
  }

  private def undo(): Unit = {
    val prev = undoStack.pop()
    h.op("undo", Write)(h.timed("engine.mutate_ms")(g.undo()))(_.nonEmpty)
    // undo restores items but never their FTS rows (FTS stays out of the
    // journal, as in the reference): a node brought back from a delete
    // stays unsearchable, a create undone loses its row with the node
    val fts = model.fts.filter { case (u, _) => prev.nodes.contains(u) }
    prev.fts.clear(); prev.fts ++= fts
    model = prev
  }

  // ------------------------------------------------------------------- reads

  private def read(): Unit = {
    readNo += 1
    readOrder(readNo % readOrder.size) match {
      case 0 =>
        val lo = 18 + gen.nextInt(50); val hi = lo + 1 + gen.nextInt(8)
        fetchN("age_range", Fetch.Args("(n:Person)",
          Seq("CAST(n.data.age AS INT) >= :lo", "CAST(n.data.age AS INT) < :hi"),
          params = Map("lo" -> lo, "hi" -> hi))) {
          model.persons.filter { case (_, p) => val a = p.props("age").asInstanceOf[Long]; a >= lo && a < hi }.keySet.toSet
        }
      case 1 =>
        val c = pick(Cities)
        fetchN("hop1_city", Fetch.Args("[p:Person] -(e:Knows)> (q:Person)",
          Seq("q.data.city = :c"), params = Map("c" -> c))) {
          model.edgesOf("Knows").filter(e => model.isPerson(e.end) && model.nodes(e.end).props("city") == c &&
            model.isPerson(e.start)).map(_.start).toSet
        }
      case 2 =>
        val s = pick(Sectors)
        fetchN("hop2_sector", Fetch.Args("[p:Person] -(e1:Knows)> (q:Person) -(e2:WorksAt)> (c:Company)",
          Seq("c.data.sector = :s"), params = Map("s" -> s))) {
          val qs = model.edgesOf("WorksAt").filter(e => model.nodes.get(e.end).exists(n =>
            n.kind == "Company" && n.props("sector") == s) && model.isPerson(e.start)).map(_.start).toSet
          model.edgesOf("Knows").filter(e => qs(e.end) && model.isPerson(e.start)).map(_.start).toSet
        }
      case 3 =>
        val a = randomPerson(); val s = pick(Sectors)
        fetchN("hop3_fof", Fetch.Args(
          "(a:Person) -(e1:Knows)> (b:Person) -(e2:Knows)> [r:Person] -(e3:WorksAt)> (c:Company)",
          Seq("a.uid = :u", "c.data.sector = :s"), params = Map("u" -> a, "s" -> s))) {
          val bs = model.edgesOf("Knows").filter(e => e.start == a && model.isPerson(e.end)).map(_.end).toSet
          val rs = model.edgesOf("Knows").filter(e => bs(e.start) && model.isPerson(e.end)).map(_.end).toSet
          model.edgesOf("WorksAt").filter(e => rs(e.start) && model.nodes.get(e.end).exists(n =>
            n.kind == "Company" && n.props("sector") == s)).map(_.start).toSet
        }
      case 4 =>
        val c = pick(Cities)
        val args = Fetch.Args("(n:Person)", Seq("n.data.city = :c"),
          order = Some("CAST(n.data.age AS INT) DESC, n.uid"), limit = Some(10), params = Map("c" -> c))
        h.op("top10_order", Read)(fetchTimed(args, g.fetchN(args.chain, args.where, args.order,
          limit = args.limit, params = args.params).toSeq.map(_.uid))) { got =>
          got == model.persons.filter(_._2.props("city") == c).toSeq
            .sortBy { case (u, p) => (-p.props("age").asInstanceOf[Long], u) }.take(10).map(_._1)
        }
      case 5 =>
        val args = Fetch.Args("[c:Company,staff] <(e:WorksAt)- (p:Person)", group = Some("c.uid"),
          params = Map("staff" -> "COUNT(p.uid)"))
        h.op("group_staff", Read)(fetchTimed(args, g.fetchN(args.chain, group = args.group,
          params = args.params).toSeq.map(n => n.uid -> n("_staff").asInstanceOf[Long]).toMap)) { got =>
          got == model.edgesOf("WorksAt").filter(e => model.isPerson(e.start) &&
            model.nodes.get(e.end).exists(_.kind == "Company")).groupBy(_.end).map { case (k, v) => k -> v.size.toLong }
        }
      case 6 =>
        val u = randomPerson()
        val args = Fetch.Args("(p:Person) -[e:Knows]> (q:Person)", Seq("p.uid = :u"), params = Map("u" -> u))
        h.op("fetch_edges", Read)(fetchTimed(args,
          g.fetchE(args.chain, args.where, params = args.params).uids)) { got =>
          got == model.edges.filter { case (_, e) => e.kind == "Knows" && e.start == u && model.isPerson(e.end) }.keySet
        }
      case 7 =>
        val u = randomPerson()
        h.op("outN", Read) {
          rebuild()
          val n = g.getuid(u).get.asInstanceOf[Node]
          val r = h.timed("engine.fetch_ms")(n.outN())
          h.sample("engine.rows_collected", r.size); r.uids
        } { _ == model.edges.values.filter(_.start == u).map(_.end).toSet }
      case 8 =>
        val u = f"co${gen.nextInt(nCompanies)}%05d"
        h.op("inE", Read) {
          rebuild()
          val n = g.getuid(u).get.asInstanceOf[Node]
          val r = h.timed("engine.fetch_ms")(n.inE())
          h.sample("engine.rows_collected", r.size); r.uids
        } { _ == model.edges.filter(_._2.end == u).keySet }
      case 9 =>
        val term = pick(if (gen.nextBoolean()) First else Last).toLowerCase
        fetchN("fts_match", Fetch.Args("(n:Person)", params = Map("n_fts" -> term))) {
          model.fts.filter { case (u, name) => model.isPerson(u) &&
            name.toLowerCase.split("[^a-z0-9]+").contains(term) }.keySet.toSet
        }
      case _ =>
        val lo = 18 + gen.nextInt(40); val c = pick(Cities)
        h.op("set_algebra", Read) {
          rebuild()
          val a = g.fetchN("(n:Person)", Seq("CAST(n.data.age AS INT) >= :lo"), params = Map("lo" -> lo))
          val b = g.fetchN("(n:Person)", Seq("n.data.city = :c"), params = Map("c" -> c))
          h.sample("engine.rows_collected", a.size + b.size)
          ((a - b).uids, (a & b).uids, (a | b).uids)
        } { case (d, i, u) =>
          val a = model.persons.filter(_._2.props("age").asInstanceOf[Long] >= lo).keySet
          val b = model.persons.filter(_._2.props("city") == c).keySet
          d == (a -- b) && i == (a & b) && u == (a | b)
        }
    }
  }

  /** Traced run: the first read after a write pays MemGraph's rebuild of
    * its node/edge/FTS frames; time it on its own before the fetch. */
  private def rebuild(): Unit = {
    if (dirty && h.args.trace)
      h.timed("engine.snapshot_rebuild_ms") { g.nodes; g.edges; g.nodeFts }
    dirty = false
  }

  private def randomPerson(): String = {
    val ps = livePersons; ps(gen.nextInt(ps.size))
  }

  /** A checked `fetchN` whose answer is a uid set. */
  private def fetchN(name: String, args: Fetch.Args)(expected: => Set[String]): Unit =
    h.op(name, Read)(fetchTimed(args, g.fetchN(args.chain, args.where, args.order, args.group,
      args.limit, params = args.params).uids))(_ == expected)

  /** In the traced run, time the chain's compilation to SQL on its own. */
  private def fetchTimed[T](args: Fetch.Args, run: => T): T = {
    rebuild()
    if (h.args.trace) h.timed("query.compile_ms")(Fetch.sql(g, args))
    val r = h.timed("engine.fetch_ms")(run)
    r match {
      case s: Iterable[_] => h.sample("engine.rows_collected", s.size)
      case _ => ()
    }
    r
  }
}

object Oltp {
  final case class NodeRec(kind: String, props: Map[String, Any])
  final case class EdgeRec(kind: String, start: String, end: String, props: Map[String, Any])

  /** The benchmark's own picture of the graph: no graft code involved. */
  final class OltpModel {
    val nodes = mutable.LinkedHashMap.empty[String, NodeRec]
    val edges = mutable.LinkedHashMap.empty[String, EdgeRec]
    val fts = mutable.Map.empty[String, String]
    def copy(): OltpModel = {
      val m = new OltpModel; m.nodes ++= nodes; m.edges ++= edges; m.fts ++= fts; m
    }
    def persons: collection.Map[String, NodeRec] = nodes.filter(_._2.kind == "Person")
    def isPerson(u: String): Boolean = nodes.get(u).exists(_.kind == "Person")
    def edgesOf(kind: String): Iterable[EdgeRec] = edges.values.filter(_.kind == kind)
  }

  val First: IndexedSeq[String] = IndexedSeq("Anne", "Bob", "Charlotte", "Dirk", "Eugene", "Fred",
    "Grace", "Hugo", "Iris", "Jonas", "Karin", "Lukas", "Mira", "Nils", "Olga", "Pavel", "Quinn",
    "Rosa", "Sven", "Tara", "Ugo", "Vera", "Wim", "Xena", "Yann", "Zora")
  val Last: IndexedSeq[String] = IndexedSeq("Smith", "Meyer", "Novak", "Rossi", "Dubois", "Jansen",
    "Silva", "Kowal", "Berg", "Costa", "Lind", "Horvat", "Moreau", "Weber", "Fischer", "Russo")
  val Cities: IndexedSeq[String] = IndexedSeq("Oslo", "Lyon", "Porto", "Gent", "Brno", "Graz",
    "Turku", "Split", "Cork", "Bern", "Lodz", "Riga")
  val Sectors: IndexedSeq[String] = IndexedSeq("energy", "retail", "health", "finance", "media",
    "logistics", "software", "farming")
  val CompanyA: IndexedSeq[String] = IndexedSeq("Acme", "Nordic", "Blue", "Iron", "Silver", "Delta")
  val CompanyB: IndexedSeq[String] = IndexedSeq("Works", "Labs", "Group", "Systems", "Partners")
}
