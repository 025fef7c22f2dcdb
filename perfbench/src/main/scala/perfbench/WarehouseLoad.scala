package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.StarGraph
import graft.core.Rows
import graft.engine.{GraphSession, Journal, WarehouseSession}
import graft.ops.Layout
import graft.query.Fetch

/** The durable path of the `warehouse` workload (its batch jobs are
  * [[Batch]]). Set-up lands the star projection (every kind but the
  * lineitem `Contains` edges) in a parquet warehouse, folds it
  * into z-tables and builds the maintained FTS over part names. The loop
  * then commits seeded change batches — new customers, customer balance
  * modifies, disconnect-deletes of orders — each folded in by
  * `compactZorderIncremental`, and reads the z-view: point
  * lookups, out/in edges, a chain with a point predicate, FTS MATCH, kind
  * counts and `zViewAt` time travel. Every read is checked against the
  * benchmark's own bookkeeping of what it wrote. */
final class WarehouseLoad(h: Harness) extends Workload {
  import WarehouseLoad._

  private val spark = h.spark
  private val gen = new scala.util.Random(h.args.seed)
  private val data = h.args.data
  private val root = Paths.get(h.args.work, "wh")
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  // ---------------------------------------------- bookkeeping (plain maps)
  private val baseCustomers: Map[Long, Double] =
    Expect.rows(data, "customers").map(r => r(0).toLong -> r(1).toDouble).toMap
  private val baseOrders: Map[Long, Order] = Expect.rows(data, "orders")
    .map(r => r(0).toLong -> Order(r(1).toLong, r(2), r(3).toDouble, r(4), 0.0)).toMap
  private val partNames: Map[Long, String] =
    Expect.rows(data, "parts").map(r => r(0).toLong -> r(1)).toMap
  private val partTerms: IndexedSeq[String] =
    partNames.values.flatMap(_.split(" ")).toSeq.distinct.sorted.toIndexedSeq
  private val custKeys: IndexedSeq[Long] = baseCustomers.keys.toIndexedSeq.sorted

  private val customers = mutable.Map.empty[Long, Double]
  private val orders = mutable.Map.empty[Long, Order]
  private val custOrders = mutable.Map.empty[Long, mutable.Set[Long]]
  private val cuts = mutable.ArrayBuffer.empty[(Long, Int)] // (seq, live orders)
  private var maxSeq = 0L
  private var nextKey = 1000000000L
  private var commitNo = 0
  private var wh: WarehouseSession = _
  private var lastTouched: Seq[String] = Nil

  def setup(rep: Int): Unit = {
    val dir = root.resolve(s"setup$rep")
    deleteTree(dir)
    wh = GraphSession.open(spark, dir.toString)
    val star = StarGraph.build(spark, data)
    wh.append(Journal.snapshotAsChanges(star.nodes,
      star.edges.filter(col("kind") =!= "Contains"), startSeq = 1L))
    wh.graph.compactZorder(nFiles = 8)
    wh.graph.resetZFts(Seq("p_name"))
    maxSeq = wh.graph.maxSeq
    // a later set-up replaces this one: drop the previous warehouse
    if (rep > 0) deleteTree(root.resolve(s"setup${rep - 1}"))
    customers.clear(); customers ++= baseCustomers
    orders.clear(); orders ++= baseOrders
    custOrders.clear()
    orders.foreach { case (k, o) => custOrders.getOrElseUpdate(o.cust, mutable.Set.empty) += k }
    cuts.clear(); cuts += ((maxSeq, orders.size))
  }

  /** A set-up takes about six seconds after the cold one (twenty), more
    * than the run budget leaves: `setup_s` is the cold set-up of a fresh
    * process, as a user opening a warehouse pays it. */
  val setupReps = 0

  /** A cycle takes about seven seconds; two give every read kind two
    * samples or more. */
  override val minCycles = 2

  private val schedule = mutable.Queue.empty[() => Unit]

  override def cycleDone: Boolean = schedule.isEmpty

  /** A commit, its two checking reads and one read of every kind. */
  def warm(): Unit = {
    commit(); kindCount(); lastTouched.headOption.foreach(point)
    ReadMix.distinct.foreach(read)
  }

  /** The next operation of the cycle. A cycle is a commit, the two reads
    * that check it (kind count, point lookup of a touched item) and
    * [[ReadMix]] in a seeded order with seeded keys. */
  def step(): Unit = {
    if (schedule.isEmpty) {
      schedule += (() => commit())
      schedule += (() => kindCount())
      schedule += (() => lastTouched.headOption.foreach(point))
      gen.shuffle(ReadMix).foreach(k => schedule += (() => read(k)))
    }
    schedule.dequeue()()
  }

  override def close(): Unit = deleteTree(root)

  // ---------------------------------------------------------------- commit

  private def commit(): Unit = {
    commitNo += 1
    val t = System.currentTimeMillis() / 1000.0
    val docs = mutable.ArrayBuffer.empty[(String, String, String)] // uid, add, remove
    val live = orders.keys.toIndexedSeq.sorted
    // creates are nodes only: the edge z-table then only ever loses rows,
    // so it carries a deletion vector after every commit. The ~60 node
    // inserts (creates and modifies) land in every node file with near
    // certainty, so the node table's tombstones are rewritten away at
    // every commit. Each run reads the same table state (see README,
    // "Deletion vectors")
    val creates = (0 until 30).map { _ =>
      nextKey += 1
      nextKey -> math.round(gen.nextDouble() * 1000000.0) / 100.0
    }
    creates.foreach { case (k, bal) =>
      docs += ((s"customer:$k", render(Map("uid" -> s"customer:$k", "kind" -> "customer",
        "ctime" -> t, "mtime" -> t, "c_name" -> f"Customer#$k%09d", "c_acctbal" -> bal,
        "c_mktsegment" -> Segments(gen.nextInt(Segments.size)))), null))
    }
    val modifies = (0 until 30).map(_ => custKeys(gen.nextInt(custKeys.size))).distinct.map { c =>
      c -> math.round(gen.nextDouble() * 1000000.0) / 100.0
    }
    modifies.foreach { case (c, bal) =>
      docs += ((s"customer:$c", render(Map("c_acctbal" -> bal)),
        render(Map("c_acctbal" -> customers(c)))))
    }
    val deletes = (0 until 4).map(_ => live(gen.nextInt(live.size))).distinct
    deletes.foreach { k =>
      val o = orders(k)
      docs += ((s"orders:$k", null, orderImage(k, o)))
      docs += ((s"oc:$k", null, edgeImage(k, o)))
    }
    val rows = docs.zipWithIndex.map { case ((uid, add, remove), i) =>
      Row(maxSeq + 1 + i, uid, add, remove, t, s"r$commitNo-$i", s"commit$commitNo")
    }
    val changes = spark.createDataFrame(rows.asJava, Rows.changeSchema)
    val touched = docs.map(_._1).distinct.size.toLong
    val before = if (h.args.trace) Some(listing(wh.graph.path)) else None

    h.op("commit", Write) {
      h.timed("engine.append_ms")(wh.append(changes))
      val r = h.timed("engine.increment_ms")(wh.graph.compactZorderIncremental())
      h.sample("engine.rows_landed", r._2 + r._3)
      r
    } { case (n, _, _) => n == touched }

    before.foreach { b =>
      val after = listing(wh.graph.path)
      val written = after.filter { case (p, v) => !b.get(p).contains(v) }
      val bytes = written.values.map(_._1).sum
      val docBytes = docs.map { case (_, a, r) => Option(a).map(_.length).getOrElse(0) +
        Option(r).map(_.length).getOrElse(0) }.sum
      h.sample("ztable.bytes_written_per_commit", bytes / 1024.0)
      h.sample("ztable.files_written_per_commit", written.size)
      h.sample("ztable.write_amp", bytes.toDouble / docBytes)
    }

    maxSeq += docs.size
    customers ++= creates
    modifies.foreach { case (c, bal) => customers(c) = bal }
    deletes.foreach { k => custOrders(orders(k).cust) -= k; orders.remove(k) }
    cuts += ((maxSeq, orders.size))
    lastTouched = Seq(s"customer:${modifies.head._1}", s"customer:${creates.head._1}",
      s"orders:${deletes.head}")
    lastTouched = gen.shuffle(lastTouched)
  }

  // ----------------------------------------------------------------- reads

  private def kindCount(): Unit =
    h.op("kind_count", Read)(count(Fetch.Args("(n:orders)")))(_ == orders.size)

  private def point(uid: String): Unit =
    h.op("point", Read)(collectStrings(wh.graph.zPointNode(uid), "props")) { got =>
      val (kind, key) = splitUid(uid)
      kind match {
        case "customer" => got.size == 1 &&
          json.readTree(got.head).get("c_acctbal").asDouble == customers(key)
        case _ => orders.get(key) match {
          case None => got.isEmpty
          case Some(o) => got.size == 1 &&
            json.readTree(got.head).get("o_totalprice").asDouble == o.price
        }
      }
    }

  private def read(kind: Int): Unit = kind match {
    case 0 => point(if (gen.nextBoolean()) s"customer:${randomCustomer()}" else s"orders:${randomOrder()}")
    case 1 =>
      val k = randomOrder()
      h.op("out_edges", Read)(collectStrings(wh.graph.zOutEdges(s"orders:$k"), "uid").toSet)(
        _ == Set(s"oc:$k"))
    case 2 =>
      val c = randomCustomer()
      h.op("in_edges", Read)(collectStrings(wh.graph.zInEdges(s"customer:$c"), "uid").toSet)(
        _ == liveOrdersOf(c).map(k => s"oc:$k"))
    case 3 =>
      val c = randomCustomer()
      val args = Fetch.Args("[o:orders] -(e:PlacedBy)> (c:customer)", Seq("c.uid = :u"),
        params = Map("u" -> s"customer:$c"))
      h.op("chain_point", Read)(fetchUids(args))(_ == liveOrdersOf(c).map(k => s"orders:$k"))
    case 4 =>
      val term = partTerms(gen.nextInt(partTerms.size))
      h.op("fts_match", Read)(fetchUids(Fetch.Args("(p:part)", params = Map("p_fts" -> term)))) {
        _ == partNames.collect { case (k, n) if n.split(" ").contains(term) => s"part:$k" }.toSet
      }
    case _ =>
      // the newest historical cut: older generations may have aged out
      val (seq, expected) = cuts(math.max(0, cuts.size - 2))
      h.op("time_travel", Read) {
        val v = h.tracer.span("engine.zViewAt")(wh.graph.zViewAt(seq))
        h.tracer.span("engine.fetch")(Fetch.count(v, Fetch.Args("(n:orders)")))
      }(_ == expected)
  }

  /** A customer with live orders, so edge and chain reads return rows. */
  private def randomCustomer(): Long =
    Iterator.continually(custKeys(gen.nextInt(custKeys.size)))
      .find(c => custOrders.get(c).exists(_.nonEmpty)).get
  private def randomOrder(): Long = {
    val ks = custOrders(randomCustomer()).toIndexedSeq.sorted
    ks(gen.nextInt(ks.size))
  }
  private def liveOrdersOf(c: Long): Set[Long] = custOrders.get(c).map(_.toSet).getOrElse(Set.empty)

  private def compile(args: Fetch.Args): Unit =
    if (h.args.trace) h.timed("query.compile_ms")(Fetch.sql(wh.graph.zView, args))

  private def count(args: Fetch.Args): Long = {
    compile(args)
    h.tracer.span("engine.fetch")(Fetch.count(wh.graph.zView, args))
  }

  private def fetchUids(args: Fetch.Args): Set[String] = {
    compile(args)
    val got = h.tracer.span("engine.fetch")(
      Fetch.df(wh.graph.zView, args).select("uid").collect().map(_.getString(0)).toSet)
    h.sample("engine.rows_collected", got.size)
    got
  }

  private def collectStrings(df: org.apache.spark.sql.DataFrame, c: String): Seq[String] = {
    val got = h.tracer.span("engine.fetch")(df.select(c).collect().map(_.getString(0)).toSeq)
    h.sample("engine.rows_collected", got.size)
    got
  }

  // ------------------------------------------------------------ z-tables

  override def finalLayers(): Map[String, Double] = {
    val stats = Seq("znodes", "zedges").flatMap { t =>
      Layout.zorderDvStats(spark, s"${wh.graph.path}/$t").select("dv_rows").collect().map(_.getLong(0))
    }
    Map("ztable.live_files" -> stats.size.toDouble, "ztable.dv_rows" -> stats.sum.toDouble)
  }

  private def render(m: Map[String, Any]): String = json.writeValueAsString(m.asJava)
  private def orderImage(k: Long, o: Order): String = render(Map("uid" -> s"orders:$k",
    "kind" -> "orders", "ctime" -> o.time, "mtime" -> o.time, "o_orderstatus" -> o.status,
    "o_totalprice" -> o.price, "o_orderpriority" -> o.priority))
  private def edgeImage(k: Long, o: Order): String = render(Map("uid" -> s"oc:$k",
    "kind" -> "PlacedBy", "startuid" -> s"orders:$k", "enduid" -> s"customer:${o.cust}",
    "ctime" -> o.time, "mtime" -> o.time))
}

object WarehouseLoad {
  /** Reads per commit. The reference's hot pattern is getuid / outE / inE
    * (z-view `zPointNode` / `zOutEdges` / `zInEdges`), so those three come
    * five times each; the chain with a point predicate, FTS MATCH and
    * `zViewAt` come once. No trace of real use gives the ratios: 5 : 1 is
    * an assumption, chosen so the hot pattern dominates and every kind is
    * sampled in every run. */
  val ReadMix: Seq[Int] = Seq.fill(5)(Seq(0, 1, 2)).flatten ++ Seq(3, 4, 5)

  final case class Order(cust: Long, status: String, price: Double, priority: String, time: Double)

  val Segments: IndexedSeq[String] =
    IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  def splitUid(uid: String): (String, Long) = {
    val i = uid.lastIndexOf(':'); (uid.substring(0, i), uid.substring(i + 1).toLong)
  }

  /** Regular files under `dir`: path -> (size, mtime). */
  def listing(dir: String): Map[String, (Long, Long)] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
    finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}
