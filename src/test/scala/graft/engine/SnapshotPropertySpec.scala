package graft.engine

import graft.SparkSpec
import graft.core.{Json, Rows}
import graft.query.Fts
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.util.Random

/** Randomized snapshot equivalence: MemGraph keeps per-table snapshots
  * that re-render only the uids a write touched. After every step of a
  * seeded random sequence of writes, undos and FTS maintenance, each of
  * the four snapshot tables must equal a from-scratch render of the maps,
  * row for row and in map order, and the node → incident-edge index must
  * equal a full scan of the edges. */
class SnapshotPropertySpec extends AnyFunSuite with SparkSpec {

  private def freshNodes(g: MemGraph): Seq[Row] = g.nodesMap.values.toSeq.map { d =>
    Row(d("uid"), d("kind"), num(d("ctime")), num(d("mtime")), Json.render(d -- Rows.Reserved))
  }

  private def freshEdges(g: MemGraph): Seq[Row] = g.edgesMap.values.toSeq.map { d =>
    Row(d("uid"), d("kind"), d("startuid"), d("enduid"), num(d("ctime")), num(d("mtime")),
      Json.render(d -- Rows.Reserved))
  }

  private def num(a: Any): Double = a match {
    case x: Double => x; case x: Long => x.toDouble; case x: Int => x.toDouble
  }

  private def freshFts(g: MemGraph, docs: mutable.LinkedHashMap[String, Map[String, String]]): Seq[Row] =
    docs.toSeq.flatMap { case (uid, fields) =>
      fields.toSeq.flatMap { case (field, text) =>
        val folded = if (g.ftsUnicode61) Fts.unicode61Fold(text) else text.toLowerCase
        folded.split(Fts.TokenSplit).zipWithIndex.collect {
          case (term, pos) if term.nonEmpty => Row(term, field, uid, pos)
        }
      }
    }

  private def scanTouching(g: MemGraph, uid: String): Set[String] =
    g.edgesMap.collect { case (e, d) if d("startuid") == uid || d("enduid") == uid => e }.toSet

  private val words = Vector("apple", "Äpfel", "pear", "plum", "fig", "café")
  private def text(rng: Random): String =
    Seq.fill(1 + rng.nextInt(3))(words(rng.nextInt(words.size))).mkString(" ")

  for (seed <- Seq(3, 17, 2024)) test(s"snapshots and incident index ≡ from-scratch render (seed $seed)") {
    val rng = new Random(seed)
    val g = MemGraph(spark)
    g.resetFts(nodeFields = Seq("t"), edgeFields = Seq("t"))
    val seen = mutable.LinkedHashSet.empty[String]
    def liveNodes = g.nodesMap.keys.toVector
    def liveEdges = g.edgesMap.keys.toVector
    def anyOf(xs: Vector[String]): Option[String] =
      if (xs.isEmpty) None else Some(xs(rng.nextInt(xs.size)))

    for (step <- 1 to 70) {
      val op = rng.nextInt(14)
      op match {
        case 0 | 1 =>
          val batch = Some(s"b$step")
          (0 to rng.nextInt(3)).foreach { _ =>
            val n = g.node(if (rng.nextBoolean()) "P" else "Q", "t" -> text(rng), "v" -> rng.nextInt(9))
              .save(batch = batch)
            seen += n.uid
            if (rng.nextBoolean()) n.updatefts("t" -> n("t").toString)
          }
        case 2 | 3 =>
          for (a <- anyOf(liveNodes); b <- anyOf(liveNodes)) {
            val e = g.edge(a, "E", b, "t" -> text(rng)).save()
            if (rng.nextBoolean()) e.updatefts("t" -> e("t").toString)
          }
        case 4 => // node modify
          anyOf(liveNodes).foreach { u =>
            val n = g.getuid(u).get; n("v") = rng.nextInt(9); n.save()
          }
        case 5 => // edge re-saved with different endpoints (and data)
          for (u <- anyOf(liveEdges); a <- anyOf(liveNodes); b <- anyOf(liveNodes)) {
            val e = g.getuid(u).get
            e.set("startuid" -> a, "enduid" -> b, "w" -> rng.nextInt(5)); e.save()
          }
        case 6 =>
          anyOf(liveNodes).foreach(u => g.getuid(u).get.delete(disconnect = true))
        case 7 =>
          anyOf(liveEdges).foreach(u => g.getuid(u).get.delete())
        case 8 | 9 => g.undo()
        case 10 =>
          anyOf(liveNodes ++ liveEdges).foreach { u =>
            val it = g.getuid(u).get; it.updatefts("t" -> text(rng), "ignored" -> "x")
          }
        case 11 =>
          anyOf(liveNodes ++ liveEdges).foreach(u => g.getuid(u).get.deletefts())
        case 12 =>
          if (rng.nextBoolean()) g.resetFts(nodeFields = Seq("t"), edgeFields = Seq("t"),
            unicode61 = rng.nextBoolean())
          else g.reindexFts()
        case _ =>
          if (rng.nextInt(4) == 0) g.reset() else g.reindexFts()
      }
      val ctx = s"seed $seed step $step (op $op)"
      assert(g.nodes.collect().toSeq == freshNodes(g), ctx + ": nodes")
      assert(g.edges.collect().toSeq == freshEdges(g), ctx + ": edges")
      assert(g.nodeFts.collect().toSeq == freshFts(g, g.nodeFtsDocs), ctx + ": nodeFts")
      assert(g.edgeFts.collect().toSeq == freshFts(g, g.edgeFtsDocs), ctx + ": edgeFts")
      seen.foreach { u =>
        assert(g.edgesTouching(u).toSet == scanTouching(g, u), s"$ctx: incident edges of $u")
      }
      // a fetch after the step reads the same snapshot through the views
      assert(g.fetchN("(n)").uids == g.nodesMap.keySet.toSet, ctx + ": fetch")
    }
  }
}
