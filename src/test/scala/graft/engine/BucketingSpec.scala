package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** The co-location claim behind the 100 TB design (SURVEY §1.5, §3.2):
  * compacting nodes (bucketed by uid) and edges (bucketed by startuid) with
  * the same bucket count makes the traversal join run WITHOUT a shuffle
  * exchange on either side. */
class BucketingSpec extends AnyFunSuite with SparkSpec {

  test("bucketed compaction makes the traversal join shuffle-free") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bkt").toString
    val g = MemGraph(spark)
    val ns = (1 to 50).map(i => g.node("P", "i" -> i).save())
    for (i <- 0 until 49) g.edge(ns(i), "E", ns(i + 1)).save()
    val wh = new WarehouseGraph(spark, dir)
    wh.append(g.changesDf)
    wh.compactBucketed(buckets = 4, tablePrefix = "bkt_test")

    val nodes = spark.table("bkt_test_nodes")
    val edges = spark.table("bkt_test_edges")
    val hop = edges.join(nodes, edges("startuid") === nodes("uid"))
    assert(hop.count() == 49)

    val shuffles = hop.queryExecution.executedPlan.collect {
      case s: ShuffleExchangeExec => s
    }
    assert(shuffles.isEmpty,
      s"expected shuffle-free bucketed join, found ${shuffles.length} exchanges:\n" +
        hop.queryExecution.executedPlan)
  }

  test("z-table compaction: mutable-warehouse point lookups prune through string blooms and answer exactly (r15)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zwh").toString
    val g = MemGraph(spark)
    val ns = (1 to 200).map(i => g.node("P", "i" -> i).save())
    for (i <- 0 until 199) g.edge(ns(i), "E", ns(i + 1)).save()
    val wh = new WarehouseGraph(spark, dir)
    wh.append(g.changesDf)
    wh.compactZorder(nFiles = 8)
    // the z-table views equal the journal-folded state exactly
    assert(wh.zNodes.count() == 200L && wh.zEdges.count() == 199L)
    assert(wh.zNodes.select("uid").except(wh.nodes.select("uid")).count() == 0)
    assert(wh.zEdges.select("uid").except(wh.edges.select("uid")).count() == 0)
    // getuid / outE / inE: literal string predicates on opaque base36
    // uids — the planner must cut the listing via the STRING bloom (the
    // hash layout's spans deliberately carry no selectivity)
    val probe = ns(57).uid
    val (ndf, nfi) = graft.ops.ZTable.dataFrameWithIndex(spark, s"$dir/znodes")
    assert(ndf.filter(col("uid") === probe).count() == 1L)
    assert(nfi.lastListed > 0 && nfi.lastListed < nfi.inputFiles.length,
      s"getuid must prune: ${nfi.lastListed}/${nfi.inputFiles.length}")
    assert(wh.zPointNode(probe).count() == 1L)
    val (edf, efi) = graft.ops.ZTable.dataFrameWithIndex(spark, s"$dir/zedges")
    assert(edf.filter(col("startuid") === probe).count() == 1L)
    assert(efi.lastListed < efi.inputFiles.length, "outE must prune")
    assert(wh.zOutEdges(probe).select("enduid").head().getString(0) == ns(58).uid)
    assert(wh.zInEdges(probe).select("startuid").head().getString(0) == ns(56).uid)
    // the z-tables are a SNAPSHOT: later journal appends show through
    // nodes/edges, not the compacted views, until the next compaction —
    // which refreshes them in place
    val g2 = MemGraph(spark)
    val extra = g2.node("P", "i" -> 999).save()
    val docs = g2.changesDf.withColumn("seq", col("seq") + lit(wh.maxSeq))
    wh.append(docs)
    assert(wh.nodes.count() == 201L && wh.zNodes.count() == 200L)
    wh.compactZorder(nFiles = 8)
    assert(wh.zNodes.count() == 201L)
    assert(wh.zPointNode(extra.uid).count() == 1L)
  }

  test("incremental z-compaction: the journal tail folds in O(churn) — untouched files carry, creates/modifies/deletes land exactly, crash-replay idempotent (r15)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zwhi").toString
    val g = MemGraph(spark)
    val ns = (1 to 300).map(i => g.node("P", "i" -> i).save()).toIndexedSeq
    for (i <- 0 until 299) g.edge(ns(i), "E", ns(i + 1)).save()
    val wh = new WarehouseGraph(spark, dir)
    wh.append(g.changesDf)
    wh.compactZorder(nFiles = 8)
    assert(wh.compactZorderIncremental() == ((0L, 0L, 0L)),
      "no tail → increment is a no-op")
    // a churn batch in the SAME working set (its journal seqs continue
    // past the already-appended history, so the tail appends directly):
    // one create, one modify, one disconnect-delete (node + its edges)
    val seq0 = wh.maxSeq
    val fresh = g.node("P", "i" -> 9999).save()
    ns(10)("nick") = "renamed"; ns(10).save()
    val doomed = ns(150)
    doomed.delete(disconnect = true)
    val before = graft.ops.Layout.currentSpans(s"$dir/znodes").map(_.file).toSet
    wh.append(g.changesDf.filter(col("seq") > seq0))
    val (touched, nN, nE) = wh.compactZorderIncremental()
    assert(touched > 0 && nN > 0)
    // z-views ≡ the journal-folded truth after the increment
    assert(wh.zNodes.select("uid").except(wh.nodes.select("uid")).count() == 0 &&
      wh.nodes.select("uid").except(wh.zNodes.select("uid")).count() == 0,
      "incremental z-nodes must equal the folded state")
    assert(wh.zEdges.select("uid").except(wh.edges.select("uid")).count() == 0 &&
      wh.edges.select("uid").except(wh.zEdges.select("uid")).count() == 0)
    assert(wh.zPointNode(fresh.uid).count() == 1L)
    assert(wh.zPointNode(doomed.uid).count() == 0L)
    assert(wh.zPointNode(ns(10).uid).select("props").head().getString(0)
      .contains("renamed"), "the modify must land")
    // O(churn): untouched node files carried by name (the increment's
    // delete tombstones, append routes — it never rewrites cold files)
    val after = graft.ops.Layout.currentSpans(s"$dir/znodes").map(_.file).toSet
    assert((before & after).nonEmpty,
      s"untouched files must carry: before=${before.size} after=${after.size}")
    // crash-replay: re-running the SAME tail (marker rolled back) must
    // land net one copy — delete-then-insert idempotence
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/zseq"), seq0.toString)
    // a real crash precedes BOTH marker writes — drop the consumed-file
    // list too (its absence also exercises the pre-r16 full-scan fallback)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/zseq-files"))
    wh.compactZorderIncremental()
    assert(wh.zNodes.filter(col("uid") === fresh.uid).count() == 1L,
      "a replayed increment must land exactly one copy")
    assert(wh.zNodes.count() == wh.nodes.count())
    assert(wh.compactZorderIncremental() == ((0L, 0L, 0L)), "caught-up no-op")
  }

  test("incremental z-compaction DISTRIBUTED path (collectThreshold=0): semi-join readback/deletes land the same state, replay idempotent (r16)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zwhd").toString
    val g = MemGraph(spark)
    val ns = (1 to 250).map(i => g.node("P", "i" -> i).save()).toIndexedSeq
    for (i <- 0 until 249) g.edge(ns(i), "E", ns(i + 1)).save()
    val wh = new WarehouseGraph(spark, dir)
    wh.append(g.changesDf)
    wh.compactZorder(nFiles = 8)
    val seq0 = wh.maxSeq
    val fresh = g.node("P", "i" -> 7777).save()
    ns(20)("nick") = "renamed"; ns(20).save()
    val doomed = ns(100)
    doomed.delete(disconnect = true)
    wh.append(g.changesDf.filter(col("seq") > seq0))
    // threshold 0 → EVERY uid set routes through the distributed path
    // (semi-join readback, DataFrame-keyed vectored deletes) — the exact
    // shape a bulk journal restatement takes at scale
    val (touched, nN, _) = wh.compactZorderIncremental(collectThreshold = 0L)
    assert(touched > 0 && nN > 0)
    assert(wh.zNodes.select("uid").except(wh.nodes.select("uid")).count() == 0 &&
      wh.nodes.select("uid").except(wh.zNodes.select("uid")).count() == 0,
      "distributed-path z-nodes must equal the folded state")
    assert(wh.zEdges.select("uid").except(wh.edges.select("uid")).count() == 0 &&
      wh.edges.select("uid").except(wh.zEdges.select("uid")).count() == 0)
    assert(wh.zPointNode(fresh.uid).count() == 1L)
    assert(wh.zPointNode(doomed.uid).count() == 0L)
    assert(wh.zPointNode(ns(20).uid).select("props").head().getString(0)
      .contains("renamed"))
    // crash-replay through the distributed path: marker rolled back,
    // re-run must land net one copy (delete-then-insert idempotence)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/zseq"), seq0.toString)
    // a real crash precedes BOTH marker writes — drop the consumed-file
    // list too (its absence also exercises the pre-r16 full-scan fallback)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/zseq-files"))
    wh.compactZorderIncremental(collectThreshold = 0L)
    assert(wh.zNodes.filter(col("uid") === fresh.uid).count() == 1L)
    assert(wh.zNodes.count() == wh.nodes.count())
    assert(wh.compactZorderIncremental(collectThreshold = 0L) == ((0L, 0L, 0L)),
      "caught-up no-op")
  }

  test("zView: Fetch chains over the compacted mutable graph equal the journal-fold view (r16)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zview").toString
    val g = MemGraph(spark)
    val ns = (1 to 120).map(i => g.node("P", "i" -> i).save())
    for (i <- 0 until 119) g.edge(ns(i), "E", ns(i + 1)).save()
    val wh = new WarehouseGraph(spark, dir)
    wh.append(g.changesDf)
    wh.compactZorder(nFiles = 8)
    val args = graft.query.Fetch.Args(
      chain = "[a:P] -(e:E)> (b:P)",
      where = Seq("CAST(a.data.i AS BIGINT) % 10 = 3"))
    def rows(src: GraphSource): Seq[String] =
      graft.query.Fetch.df(src, args).select("uid")
        .collect().map(_.getString(0)).toSeq.sorted
    val viaZ = rows(wh.zView)
    val viaFold = rows(new ViewGraph(spark, wh.nodes, wh.edges))
    assert(viaZ.nonEmpty && viaZ == viaFold,
      s"zView chain must equal the journal-fold chain: ${viaZ.size} vs ${viaFold.size}")
  }

  test("incremental z-compaction: a crash BETWEEN append and maintain replays to net one copy (fold-first seam, r16)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zwhc").toString
    val g = MemGraph(spark)
    val ns = (1 to 80).map(i => g.node("P", "i" -> i).save())
    for (i <- 0 until 79) g.edge(ns(i), "E", ns(i + 1)).save()
    val wh = new WarehouseGraph(spark, dir)
    wh.append(g.changesDf)
    wh.compactZorder(nFiles = 4)
    val seq0 = wh.maxSeq
    ns(5)("nick") = "crashy"; ns(5).save()
    wh.append(g.changesDf.filter(col("seq") > seq0))
    // simulate the increment killed between its append and its maintain:
    // touched uid tombstoned, fresh copy sitting in landing/, NO marker
    // advance — the exact at-least-once window the fold-first seam closes
    graft.ops.Layout.zorderDeleteVectoredByKey(spark, s"$dir/znodes",
      "uid", Seq(ns(5).uid))
    graft.ops.Layout.zorderAppend(
      wh.nodes.filter(col("uid") === ns(5).uid)
        .withColumn("_kh", xxhash64(col("uid"))), s"$dir/znodes")
    // the replay must fold the crashed landing FIRST (so its copy is
    // reachable by the re-delete) and land net exactly one updated row
    wh.compactZorderIncremental()
    assert(wh.zNodes.filter(col("uid") === ns(5).uid).count() == 1L,
      "the crashed landing copy must be tombstoned by the replay")
    assert(wh.zPointNode(ns(5).uid).select("props").head().getString(0)
      .contains("crashy"))
    assert(wh.zNodes.count() == wh.nodes.count())
  }

  test("zsnap: a crash BETWEEN the delete commits and the append replays PARTIAL modifies exactly; readers hold the consistent cut (r16)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zsnap").toString
    val g = MemGraph(spark)
    val ns = (1 to 12).map(i => g.node("P", "i" -> i, "nick" -> s"n$i").save())
    for (i <- 0 until 11) g.edge(ns(i), "E", ns(i + 1)).save()
    val wh = new WarehouseGraph(spark, dir)
    wh.append(g.changesDf)
    wh.compactZorder(nFiles = 4)
    val nodes0 = wh.zNodes.count(); val edges0 = wh.zEdges.count()
    val seq0 = wh.maxSeq
    // churn: a PARTIAL modify (write elision diffs only `nick` — the doc
    // that loses its siblings if it ever folds over an empty base), a
    // disconnect delete, and a create with an edge
    ns(2)("nick") = "renamed"; ns(2).save()
    ns(6).delete(disconnect = true)
    val n13 = g.node("P", "i" -> 13, "nick" -> "n13").save()
    g.edge(n13, "E", ns(0)).save()
    wh.append(g.changesDf.filter(col("seq") > seq0))
    // simulate the increment killed right after its DELETE phase: every
    // touched uid tombstoned on BOTH tables, nothing appended, no marker,
    // no pointer — the crash window where the current generations hold a
    // half-applied state
    val touched = wh.journal.filter(col("seq") > seq0)
      .select("uid").distinct().collect().map(_.getString(0)).toSeq
    graft.ops.Layout.zorderDeleteVectoredByKey(spark, s"$dir/znodes",
      "uid", touched)
    graft.ops.Layout.zorderDeleteVectoredByKey(spark, s"$dir/zedges",
      "uid", touched)
    // reader isolation: the pinned cut still serves the full pre-churn
    // graph even though the CURRENT generation lost the touched rows
    assert(graft.ops.ZTable.dataFrame(spark, s"$dir/znodes")
      .filter(col("uid") === ns(2).uid).count() == 0L,
      "the current generation must reflect the crashed delete")
    assert(wh.zNodes.filter(col("uid") === ns(2).uid).count() == 1L &&
      wh.zNodes.count() == nodes0 && wh.zEdges.count() == edges0,
      "pinned readers must hold the last COMPLETED cut")
    assert(wh.zPointNode(ns(2).uid).select("props").head().getString(0)
      .contains("n3"), "the pinned cut serves the pre-churn values")
    // the replay must read its base from the pinned cut too: the partial
    // modify folds over the FULL old payload, keeping kind and `i`
    wh.compactZorderIncremental()
    val row = wh.zPointNode(ns(2).uid)
      .select("kind", "props").head()
    assert(row.getString(0) == "P",
      "replay must not fold a partial modify over an empty base (kind)")
    assert(row.getString(1).contains("renamed") &&
      row.getString(1).contains("\"i\":3"),
      s"partial modify must merge over the snapshot base: ${row.getString(1)}")
    assert(wh.zPointNode(ns(6).uid).count() == 0L, "the delete lands")
    assert(wh.zPointNode(n13.uid).count() == 1L, "the create lands")
    assert(wh.zNodes.select("uid").except(wh.nodes.select("uid")).count() == 0 &&
      wh.nodes.select("uid").except(wh.zNodes.select("uid")).count() == 0 &&
      wh.zEdges.select("uid").except(wh.edges.select("uid")).count() == 0 &&
      wh.edges.select("uid").except(wh.zEdges.select("uid")).count() == 0,
      "replayed increment must converge to the journal fold")
  }

  test("zViewAt: consistent graph time travel over the snapshot log (r16)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ztt").toString
    val g = MemGraph(spark)
    val ns = (1 to 30).map(i => g.node("P", "i" -> i, "nick" -> s"n$i").save())
    for (i <- 0 until 29) g.edge(ns(i), "E", ns(i + 1)).save()
    val wh = new WarehouseGraph(spark, dir)
    wh.append(g.changesDf)
    wh.compactZorder(nFiles = 4)
    val s0 = wh.maxSeq
    ns(4).delete(disconnect = true)
    ns(7)("nick") = "revised"; ns(7).save()
    wh.append(g.changesDf.filter(col("seq") > s0))
    wh.compactZorderIncremental()
    val s1 = wh.maxSeq
    val n31 = g.node("P", "i" -> 31, "nick" -> "n31").save()
    g.edge(n31, "E", ns(0)).save()
    wh.append(g.changesDf.filter(col("seq") > s1))
    wh.compactZorderIncremental()
    val s2 = wh.maxSeq
    // each recorded cut answers exactly as the journal folded to its seq
    for (s <- Seq(s0, s1, s2)) {
      val v = wh.zViewAt(s)
      val exp = Journal.fold(spark,
        wh.journal.filter(col("seq") <= s), Long.MaxValue)
      assert(v.nodes.select("uid").except(exp.nodes.select("uid")).count() == 0 &&
        exp.nodes.select("uid").except(v.nodes.select("uid")).count() == 0,
        s"nodes at seq=$s must equal the fold")
      assert(v.edges.select("uid").except(exp.edges.select("uid")).count() == 0 &&
        exp.edges.select("uid").except(v.edges.select("uid")).count() == 0,
        s"edges at seq=$s must equal the fold")
    }
    // the deleted node exists ONLY before s1; the late node only at s2
    assert(wh.zViewAt(s0).nodes.filter(col("uid") === ns(4).uid).count() == 1L)
    assert(wh.zViewAt(s1).nodes.filter(col("uid") === ns(4).uid).count() == 0L)
    assert(wh.zViewAt(s1).nodes.filter(col("uid") === n31.uid).count() == 0L)
    assert(wh.zViewAt(s2).nodes.filter(col("uid") === n31.uid).count() == 1L)
    // floor semantics: a seq BETWEEN cuts serves the earlier cut
    assert(wh.zViewAt(s1 - 1).nodes
      .filter(col("uid") === ns(4).uid).count() == 1L,
      "a seq inside a tail window must serve the preceding cut")
    // before recorded history: loud refusal
    intercept[IllegalArgumentException] { wh.zViewAt(s0 - 1000) }
    // a full re-materialization resets history to one fresh cut
    wh.compactZorder(nFiles = 4)
    assert(wh.zViewAt(wh.maxSeq).nodes.count() == wh.nodes.count())
    intercept[IllegalArgumentException] { wh.zViewAt(s0) }
  }

  test("compact() (clearchanges) re-bases the z seam: pending tail folds first, post-compact churn still lands, wall-clock travel spans the reset (r16)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zcmp").toString
    val g = MemGraph(spark)
    val ns = (1 to 20).map(i => g.node("P", "i" -> i, "nick" -> s"n$i").save())
    for (i <- 0 until 19) g.edge(ns(i), "E", ns(i + 1)).save()
    val wh = new WarehouseGraph(spark, dir)
    wh.append(g.changesDf)
    wh.compactZorder(nFiles = 4)
    // churn A lands in the journal but is NOT incremented before compact
    val seqA = wh.maxSeq
    ns(0)("nick") = "pending"; ns(0).save()
    wh.append(g.changesDf.filter(col("seq") > seqA))
    // without the re-base, truncation strands the zseq marker above every
    // future append and the z-tables diverge silently
    wh.compact()
    assert(wh.maxSeq == 0L, "journal truncated (clearchanges)")
    assert(wh.zPointNode(ns(0).uid).select("props").head().getString(0)
      .contains("pending"),
      "the pending tail must fold into the z-tables before truncation")
    assert(wh.zNodes.count() == wh.nodes.count())
    val tMid = System.currentTimeMillis()
    Thread.sleep(20)
    // churn B arrives in the RESTARTED seq space (MemGraph's own seqs
    // keep rising — any seq above the re-based marker folds)
    val seqB = g.changesDf.agg(max(col("seq"))).head().getLong(0)
    ns(1)("nick") = "after"; ns(1).save()
    val fresh = g.node("P", "i" -> 99, "nick" -> "fresh").save()
    wh.append(g.changesDf.filter(col("seq") > seqB))
    wh.compactZorderIncremental()
    assert(wh.zPointNode(ns(1).uid).select("props").head().getString(0)
      .contains("after"), "post-compact modifies must land")
    assert(wh.zPointNode(fresh.uid).count() == 1L,
      "post-compact creates must land")
    assert(wh.zNodes.select("uid").except(wh.nodes.select("uid")).count() == 0 &&
      wh.nodes.select("uid").except(wh.zNodes.select("uid")).count() == 0 &&
      wh.zEdges.select("uid").except(wh.edges.select("uid")).count() == 0 &&
      wh.edges.select("uid").except(wh.zEdges.select("uid")).count() == 0,
      "post-compact increment must converge to the fold")
    // seq-keyed history cannot span the reset (one fresh cut at seq 0);
    // WALL-CLOCK travel stays monotonic across it
    assert(wh.zViewAsOfTime(tMid).nodes
      .filter(col("uid") === fresh.uid).count() == 0L,
      "the pre-churn instant must serve the compact-time cut")
    assert(wh.zViewAsOfTime(System.currentTimeMillis()).nodes
      .filter(col("uid") === fresh.uid).count() == 1L,
      "the current instant must serve the newest cut")
  }

  test("warehouse FTS: maintained postings ride the journal seam — resetZFts, churn increments, crash replay, fetch MATCH over zView (r16)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zwfts").toString
    val g = MemGraph(spark)
    val names = Seq("red widget", "blue gear", "red gear", "cold anvil",
      "blue widget")
    val ns = names.zipWithIndex.map { case (n, i) =>
      g.node("P", "name" -> n, "i" -> i).save()
    }
    val rels = Seq("close friend", "distant colleague", "close rival",
      "distant cousin")
    val es = rels.zipWithIndex.map { case (r, i) =>
      g.edge(ns(i), "E", ns(i + 1), "rel" -> r).save()
    }
    val wh = new WarehouseGraph(spark, dir)
    wh.append(g.changesDf)
    wh.compactZorder(nFiles = 4)
    assert(!wh.zFtsEnabled)
    // node + EDGE field lists — the reference's resetfts(nodefields,
    // edgefields) shape (graphydb.py:638-658)
    wh.resetZFts(Seq("name"), edgeFields = Seq("rel"))
    assert(wh.zFtsEnabled)
    def edgeMatches(q: String): Set[String] =
      graft.query.Fetch.df(wh.zView, graft.query.Fetch.Args(
        chain = "(a:P) -[e:E]> (b:P)", params = Map("e_fts" -> q)))
        .select("uid").collect().map(_.getString(0)).toSet
    assert(edgeMatches("close") == Set(es(0).uid, es(2).uid))
    def matches(q: String): Set[String] =
      graft.query.Fetch.df(wh.zView, graft.query.Fetch.Args(
        chain = "(a:P)", params = Map("a_fts" -> q)))
        .select("uid").collect().map(_.getString(0)).toSet
    def uidOf(i: Int*): Set[String] = i.map(ns(_).uid).toSet
    assert(matches("red") == uidOf(0, 2))
    assert(matches("red OR anvil") == uidOf(0, 2, 3))
    assert(matches("\"blue gear\"") == uidOf(1))
    // churn: a rename away from 'red', a delete, a fresh 'red' doc — the
    // increment must tombstone + re-insert exactly the touched uids
    val seq0 = wh.maxSeq
    ns(2)("name") = "green gear"; ns(2).save()
    es(1)("rel") = "close associate"; es(1).save() // edge-side modify
    ns(0).delete(disconnect = true) // also deletes es(0) ("close friend")
    val freshN = g.node("P", "name" -> "red anvil", "i" -> 99).save()
    wh.append(g.changesDf.filter(col("seq") > seq0))
    wh.compactZorderIncremental()
    assert(matches("red") == Set(freshN.uid))
    assert(matches("gear") == uidOf(1, 2))
    assert(matches("green") == uidOf(2))
    // edge index rode the same increment: es0 gone with its node, es1
    // re-tokenized into the 'close' set
    assert(edgeMatches("close") == Set(es(1).uid, es(2).uid))
    // crash replay: marker rollback, re-increment → net one posting copy
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/zseq"), seq0.toString)
    // a real crash precedes BOTH marker writes — drop the consumed-file
    // list too (its absence also exercises the pre-r16 full-scan fallback)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/zseq-files"))
    wh.compactZorderIncremental()
    assert(matches("red") == Set(freshN.uid))
    assert(wh.zFtsPostings.filter(col("uid") === freshN.uid &&
      col("term") === "red").count() == 1L,
      "a replayed increment must land exactly one posting copy")
    // a full re-materialization rebuilds the index wholesale (config
    // survives), answers unchanged
    wh.compactZorder(nFiles = 4)
    assert(wh.zFtsEnabled && matches("red") == Set(freshN.uid))
    assert(edgeMatches("close") == Set(es(1).uid, es(2).uid),
      "the full rebuild must regenerate the edge index too")
  }

  test("incremental z-compaction PROPERTY: random churn batches with random crash rollbacks always converge to the journal fold, FTS included (r16)") {
    val rnd = new scala.util.Random(20260816L)
    val dir = java.nio.file.Files.createTempDirectory("graft_zprop").toString
    val g = MemGraph(spark)
    val vocab = Seq("red", "blue", "gear", "widget", "anvil", "rod")
    def word(): String = vocab(rnd.nextInt(vocab.length))
    val alive = scala.collection.mutable.ArrayBuffer.empty[Node]
    for (i <- 1 to 50) alive += g.node("P", "i" -> i,
      "nick" -> s"${word()} ${word()}").save()
    for (i <- 0 until 49) g.edge(alive(i), "E", alive(i + 1)).save()
    val wh = new WarehouseGraph(spark, dir)
    wh.append(g.changesDf)
    wh.compactZorder(nFiles = 4)
    wh.resetZFts(Seq("nick"))
    def assertConverged(round: Int): Unit = {
      assert(wh.zNodes.select("uid").except(wh.nodes.select("uid")).count() == 0 &&
        wh.nodes.select("uid").except(wh.zNodes.select("uid")).count() == 0,
        s"round $round: z-nodes must equal the fold")
      assert(wh.zEdges.select("uid").except(wh.edges.select("uid")).count() == 0 &&
        wh.edges.select("uid").except(wh.zEdges.select("uid")).count() == 0,
        s"round $round: z-edges must equal the fold")
      // the FTS index must equal a fresh tokenization of the fold state
      val pCols = Seq("term", "field", "uid", "pos").map(col)
      val expected = graft.query.Fts.postings(
        wh.nodes.select(col("uid"),
          get_json_object(col("props"), "$.nick").as("t")),
        "uid", Map("nick" -> "t"), unicode61 = true).select(pCols: _*)
      val live = wh.zFtsPostings.select(pCols: _*)
      assert(live.exceptAll(expected).count() == 0 &&
        expected.exceptAll(live).count() == 0,
        s"round $round: maintained postings must equal a fresh tokenization")
    }
    for (round <- 1 to 4) {
      val seq0 = wh.maxSeq
      // random churn: creates (with an edge to a live node), modifies,
      // disconnect-deletes — all against the SAME working set
      for (_ <- 0 until rnd.nextInt(5)) {
        val n = g.node("P", "i" -> (1000 + rnd.nextInt(100000)),
          "nick" -> s"${word()} ${word()}").save()
        g.edge(n, "E", alive(rnd.nextInt(alive.length))).save()
        alive += n
      }
      for (_ <- 0 until rnd.nextInt(5)) {
        val n = alive(rnd.nextInt(alive.length))
        n("nick") = s"${word()} ${word()}"; n.save()
      }
      for (_ <- 0 until rnd.nextInt(3); if alive.length > 5) {
        val idx = rnd.nextInt(alive.length)
        alive.remove(idx).delete(disconnect = true)
      }
      wh.append(g.changesDf.filter(col("seq") > seq0))
      val threshold = if (rnd.nextBoolean()) 0L else 10000L
      if (rnd.nextBoolean()) {
        // crashed-prefix injection: as if an increment died right after
        // its DELETE phase — touched uids tombstoned on both tables,
        // nothing appended, no markers, no pointer. The increment below
        // IS the replay; its zsnap-pinned readback must recompute from
        // the last completed cut (a partial modify folding over the
        // tombstoned current state would lose its sibling keys)
        val touched = wh.journal.filter(col("seq") > seq0)
          .select("uid").distinct().collect().map(_.getString(0)).toSeq
        if (touched.nonEmpty) {
          graft.ops.Layout.zorderDeleteVectoredByKey(spark,
            s"$dir/znodes", "uid", touched)
          graft.ops.Layout.zorderDeleteVectoredByKey(spark,
            s"$dir/zedges", "uid", touched)
        }
      }
      wh.compactZorderIncremental(collectThreshold = threshold)
      if (rnd.nextBoolean()) { // crash replay: both markers rolled back
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$dir/zseq"), seq0.toString)
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(s"$dir/zseq-files"))
        wh.compactZorderIncremental(collectThreshold = threshold)
      }
      assertConverged(round)
    }
    assert(wh.compactZorderIncremental() == ((0L, 0L, 0L)), "caught-up no-op")
  }

  private def shuffleCount(df: org.apache.spark.sql.DataFrame): Int = {
    // string-count so AQE-wrapped plans are included too
    "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).size
  }

  /** Runs `body` under a job-counting listener; returns (result, jobCount).
    * The listener bus is drained before attaching (so a previous action's
    * in-flight JobStart can't leak into the count) and before reading the
    * counter (so the body's own jobs are all delivered). */
  private def withJobCount[A](body: => A): (A, Int) = {
    import org.apache.spark.grafttest.ListenerDrain.drain
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = body
      drain(spark.sparkContext)
      (result, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("star warehouse: 2-hop co-part motif + per-order agg has ZERO shuffle exchanges") {
    val dir = "/root/testdata/sf0.001"
    val df = graft.SparkEntry.queries("w20_copart_pairs_wh")(spark, dir)
    assert(df.count() > 0)
    val collected = df.queryExecution.executedPlan.collect { case s: ShuffleExchangeExec => s }
    assert(collected.isEmpty && shuffleCount(df) == 0,
      s"bucket-aligned motif must not shuffle:\n${df.queryExecution.executedPlan}")
  }

  test("kHop hop-join over the warehouse never shuffles the edge list (broadcast frontier)") {
    // the exact join shape Traversals.kHop builds per hop: edge pair list
    // vs a small checkpointed frontier, frontier broadcast. The edge side
    // must reach the join with ZERO shuffle exchanges — at 100 TB the edge
    // list is the table you can never afford to move.
    val g = graft.StarWarehouse(spark, "/root/testdata/sf0.001")
    val e = g.edges.select("startuid", "enduid")
    val frontier = g.nodes.filter(col("uid") === "nation:0")
      .select("uid").localCheckpoint(true)
    val hop = e.join(
        broadcast(frontier.select(col("uid").as("startuid"))), Seq("startuid"), "left_semi")
      .select(col("enduid").as("uid"))
    assert(hop.count() > 0)
    val collected = hop.queryExecution.executedPlan.collect { case s: ShuffleExchangeExec => s }
    assert(collected.isEmpty && shuffleCount(hop) == 0,
      s"hop join must broadcast the frontier, not shuffle edges:\n${hop.queryExecution.executedPlan}")

    // and the full traversal over the warehouse agrees with the parquet graph
    val seedW = g.nodes.filter(col("uid") === "nation:0")
    val viaWh = graft.ops.Traversals.kHop(g, seedW, hops = 2)
      .select("uid").collect().map(_.getString(0)).toSet
    val gp = graft.StarGraph(spark, "/root/testdata/sf0.001")
    val seedP = gp.nodes.filter(col("uid") === "nation:0")
    val viaParquet = graft.ops.Traversals.kHop(gp, seedP, hops = 2)
      .select("uid").collect().map(_.getString(0)).toSet
    assert(viaWh == viaParquet && viaWh.nonEmpty)
  }

  test("star warehouse reuse: a second open with matching fingerprint runs zero jobs") {
    val dir = "/root/testdata/sf0.001"
    graft.StarWarehouse.invalidate()
    val g1 = graft.StarWarehouse(spark, dir)
    val n1 = g1.nodes.count()
    assert(n1 > 0)

    // fresh-session simulation: memo gone, catalog (SharedState) persists
    graft.StarWarehouse.invalidate()
    val (g2, jobCount) = withJobCount(graft.StarWarehouse(spark, dir))
    assert(jobCount == 0,
      "re-opening a valid bucketed warehouse must be metadata-only (no write, no scan)")
    assert(g2.nodes.count() == n1)
  }

  test("star warehouse reuse: a FRESH JVM re-registers existing files without a write") {
    // this repo runs the in-memory catalog (no metastore): a JVM restart
    // loses the catalog entries but keeps the external table files + the
    // sidecar. Simulate the restart by dropping the catalog entries —
    // external tables, so the data stays — and clearing the memo.
    val dir = "/root/testdata/sf0.001"
    graft.StarWarehouse.invalidate()
    val n1 = graft.StarWarehouse(spark, dir).nodes.count()
    val (nodesT, edgesT) = graft.StarWarehouse.tableNames(dir)
    spark.sql(s"DROP TABLE $nodesT")
    spark.sql(s"DROP TABLE $edgesT")
    assert(!spark.catalog.tableExists(nodesT), "catalog entry gone (restart simulated)")
    graft.StarWarehouse.invalidate()

    val (g2, jobCount) = withJobCount(graft.StarWarehouse(spark, dir))
    assert(jobCount == 0,
      "re-registering a valid on-disk warehouse must be metadata-only (no write, no scan)")
    assert(g2.nodes.count() == n1)

    // and the re-registered tables keep the bucketed layout: the motif
    // query over them is still exchange-free
    val df = graft.SparkEntry.queries("w20_copart_pairs_wh")(spark, dir)
    assert(df.count() > 0 && shuffleCount(df) == 0,
      s"re-registered tables must keep bucket co-location:\n${df.queryExecution.executedPlan}")
  }

  test("star warehouse: concurrent opens serialize through the build lock") {
    // two threads racing the initial build of the same (dir, buckets) must
    // not interleave delete/write on the table dirs — the second entrant
    // waits, then takes the reuse path. (Same-JVM exclusion is the monitor;
    // the file lock extends it cross-process.)
    val src = java.nio.file.Paths.get("/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_wh_race")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(src).iterator().asScala.foreach { p =>
      java.nio.file.Files.copy(p, dir.resolve(p.getFileName.toString))
    }
    graft.StarWarehouse.invalidate()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // bypass the memo (computeIfAbsent would serialize for us): two distinct
    // sessions so each runs the full check-then-build path
    val s2 = spark.newSession()
    val counts = Await.result(Future.sequence(Seq(
      Future(graft.StarWarehouse(spark, dir.toString).nodes.count()),
      Future(graft.StarWarehouse(s2, dir.toString).nodes.count())
    )), 120.seconds)
    assert(counts.toSet.size == 1 && counts.head > 0,
      s"racing builders must agree on the data: $counts")
  }

  test("star warehouse reuse: a changed source fingerprint triggers a rebuild") {
    // private copy of the sources so we can legally touch an mtime
    val src = java.nio.file.Paths.get("/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_wh_src")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(src).iterator().asScala.foreach { p =>
      java.nio.file.Files.copy(p, dir.resolve(p.getFileName.toString))
    }
    graft.StarWarehouse.invalidate()
    val g1 = graft.StarWarehouse(spark, dir.toString)
    // count BEFORE the rebuild: the rebuild overwrites the table's parquet
    // files, so re-executing g1's plan afterwards would read deleted files
    val n1 = g1.nodes.count()
    assert(n1 > 0)

    // simulate upstream data change: bump one source file's mtime
    val touched = dir.resolve("region.parquet")
    java.nio.file.Files.setLastModifiedTime(touched,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    graft.StarWarehouse.invalidate()
    val (g2, jobCount) = withJobCount(graft.StarWarehouse(spark, dir.toString))
    assert(jobCount > 0, "a stale fingerprint must trigger a rebuild")
    assert(g2.nodes.count() == n1)
  }

  test("star warehouse chains return exactly the parquet-projection results") {
    val dir = "/root/testdata/sf0.001"
    for (pair <- Seq(
        ("w01_order_counts_wh", "g01_order_counts"),
        ("w08_orders_of_customer_wh", "g08_orders_of_customer"))) {
      val (w, g) = pair
      val wRows = graft.SparkEntry.queries(w)(spark, dir)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted
      val gRows = graft.SparkEntry.queries(g)(spark, dir)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted
      assert(wRows sameElements gRows, s"$w must equal $g")
    }
  }

  test("swapRewriteBucketedTable: every crash state self-recovers, including the dropped catalog entry (r11)") {
    import spark.implicits._
    import java.nio.file.Files
    val table = "swap_crash_t"
    val ddl = "id BIGINT, v BIGINT"
    def df(n: Int) = (1 to n).map(i => (i.toLong, i.toLong * 10)).toDF("id", "v")
    WarehouseMeta.replaceBucketedTable(spark, table, "id", 2, df(4), Map("graft.x" -> "1"))
    val loc = WarehouseMeta.tableLocation(spark, table)
    val old = WarehouseMeta.tableLocation(spark, s"${table}_old")

    // HALF-SWAP crash: live dir renamed aside, catalog entry gone (in every
    // _old-present state the DROP already ran) — recovery must move the data
    // back AND re-register from ddl, not refreshTable a dropped entry
    spark.sql(s"DROP TABLE $table")
    Files.move(loc, old)
    WarehouseMeta.swapRewriteBucketedTable(spark, table, "id", 2, ddl, df(6), Map("graft.x" -> "1"))
    assert(spark.table(table).count() == 6, "half-swap state must recover then rewrite")
    assert(!Files.isDirectory(old))

    // DEBRIS crash: _old beside an intact live dir, catalog entry gone
    // (crash after the stage moved in, before cleanup + CREATE)
    spark.sql(s"DROP TABLE $table")
    Files.createDirectories(old)
    Files.write(old.resolve("junk"), Array[Byte](1, 2, 3))
    WarehouseMeta.swapRewriteBucketedTable(spark, table, "id", 2, ddl, df(8), Map.empty)
    assert(spark.table(table).count() == 8, "debris state must clear and rewrite")
    assert(!Files.isDirectory(old))

    // DROPPED-ONLY crash: between the DROP and the dir move there is no
    // _old to trigger the recovery branch — the swap's own DROPs must be
    // idempotent instead of throwing on the missing entry
    spark.sql(s"DROP TABLE $table")
    WarehouseMeta.swapRewriteBucketedTable(spark, table, "id", 2, ddl, df(3), Map.empty)
    assert(spark.table(table).count() == 3, "dropped-entry state must rewrite cleanly")
    spark.sql(s"DROP TABLE $table")
    WarehouseMeta.deleteRecursively(loc)
  }
}
