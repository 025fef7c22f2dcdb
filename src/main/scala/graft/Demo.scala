package graft

import org.apache.spark.sql.functions._
import graft.engine.{MemGraph, ViewGraph}
import graft.query.Fetch

/** End-to-end smoke demo of the public API: build a graph, query it with the
  * chain DSL (docstring example, graphydb.py:26-64), mutate + undo, then run
  * the same engine over a star-schema projection of the driver testdata.
  * Run: `sbt "runMain graft.Demo"`. */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = Bench.buildSession()
    spark.sparkContext.setLogLevel("ERROR")

    // -- the reference docstring example graph ------------------------------
    val g = MemGraph(spark)
    val anne = g.node("Person", "name" -> "Anne", "age" -> 22).save()
    val bob = g.node("Person", "name" -> "Bob", "nickname" -> "Bobby", "age" -> 19).save()
    val charlie = g.node("Person", "name" -> "Charlie", "age" -> 31).save()
    val coffee = g.node("Drink", "sort" -> "Coffee").save()
    val tea = g.node("Drink", "sort" -> "Tea").save()
    g.edge(anne, "Likes", bob).save()
    g.edge(charlie, "Likes", bob).save()
    g.edge(anne, "Drinks", coffee, "strength" -> "strong").save()
    g.edge(charlie, "Drinks", tea).save()
    g.edge(bob, "Drinks", tea, "strength" -> "strong", "preference" -> 1).save()
    g.edge(bob, "Drinks", coffee, "strength" -> "weak", "preference" -> 0).save()

    println("== flagship fetch: coffee drinkers with strength ==")
    val drinkers = g.fetchN("[p:Person,strength] -(e:Drinks)> (d:Drink)",
      Seq("""d.data.sort = "Coffee""""), params = Map("strength" -> "e.data.strength"))
    drinkers.toSeq.foreach(n => println(s"  ${n("name")} strength=${n.get("_strength").orNull}"))

    println("== generated SQL (DEBUG contract) ==")
    println(g.fetchSql("[p:Person,strength] -(e:Drinks)> (d:Drink)",
      Seq("""d.data.sort = "Coffee""""), Map("strength" -> "e.data.strength")))

    println("== traversal: bob.bothN ==")
    println("  " + bob.bothN().toSeq
      .map(n => n.get("name").orElse(n.get("sort")).getOrElse(n.uid).toString)
      .sorted.mkString(", "))

    println("== set algebra: drinkers - likers ==")
    val likers = g.fetchN("[p] -(e:Likes)>")
    println("  " + (drinkers - likers).toSeq.map(_.apply("name")).mkString(", "))

    println("== journal + undo ==")
    println(s"  changes=${g.countChanges}")
    bob("nickname") = "Impaler"; bob.save()
    println(s"  after modify: nickname=${g.getuid(bob.uid).get.apply("nickname")}")
    g.undo()
    println(s"  after undo:   nickname=${g.getuid(bob.uid).get.apply("nickname")}")

    println("== FTS ==")
    g.resetFts(nodeFields = Seq("name"))
    Seq(anne, bob, charlie).foreach(n => n.updatefts("name" -> n("name").toString))
    println("  An* -> " + g.fetchN("(n)", params = Map("n_fts" -> "An*"))
      .toSeq.map(_.apply("name")).mkString(", "))

    // -- same engine over driver testdata (star-schema projection) ----------
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val customer = spark.read.parquet(s"$dir/customer.parquet")
    val nation = spark.read.parquet(s"$dir/nation.parquet")
    val nodes =
      customer.select(concat(lit("customer:"), col("c_custkey")).as("uid"),
        lit("customer").as("kind"), lit(0.0).as("ctime"), lit(0.0).as("mtime"),
        to_json(struct(col("c_name"), col("c_acctbal"))).as("props"))
      .unionByName(nation.select(concat(lit("nation:"), col("n_nationkey")).as("uid"),
        lit("nation").as("kind"), lit(0.0).as("ctime"), lit(0.0).as("mtime"),
        to_json(struct(col("n_name"))).as("props")))
    val edges = customer.select(
      concat(lit("cn:"), col("c_custkey")).as("uid"), lit("InNation").as("kind"),
      concat(lit("customer:"), col("c_custkey")).as("startuid"),
      concat(lit("nation:"), col("c_nationkey")).as("enduid"),
      lit(0.0).as("ctime"), lit(0.0).as("mtime"), lit("{}").as("props"))
    val star = new ViewGraph(spark, nodes, edges)

    println("== native expressions (GraftExtensions) ==")
    graft.functions.GraftExtensions.register(spark)
    println("  cosine_similarity = " + spark.sql(
      "SELECT cosine_similarity(array(1.0F,2.0F,3.0F), array(3.0F,2.0F,1.0F))").head().getDouble(0))
    println("  uid_base36()      = " + spark.sql("SELECT uid_base36()").head().getString(0))

    println("== warehouse: journal append -> snapshot -> compact -> reopen ==")
    val whDir = java.nio.file.Files.createTempDirectory("graft_demo_wh").toString
    val wh = new graft.engine.WarehouseGraph(spark, whDir)
    wh.append(g.changesDf)
    println(s"  nodes=${wh.nodes.count()} edges=${wh.edges.count()} journal=${wh.journal.count()}")
    wh.compact()
    println(s"  after compact: nodes=${wh.nodes.count()} journal=${wh.journal.count()}")

    println("== distributed traversals ==")
    val seed = g.nodes.filter(col("uid") === bob.uid)
    println("  bothN(bob) = " + graft.ops.Traversals.bothN(g, seed).count())
    println("  2-hop(bob) = " + graft.ops.Traversals.kHop(g, seed, 2).count())
    println("  pregel reach(bob) = " + graft.ops.Analytics.hopDistances(spark, g, bob.uid).count())

    println("== streaming: journal tail of the warehouse ==")
    val g3 = graft.engine.MemGraph(spark)
    g3.node("Person", "name" -> "Late Arrival").save()
    wh.append(g3.changesDf)
    val tail = graft.streaming.EventStreams.runToMemory(spark,
      graft.streaming.EventStreams.journalStream(spark, s"$whDir/journal"), "demo_tail",
      org.apache.spark.sql.streaming.OutputMode.Append())
    println(s"  streamed ${tail.count()} journal rows after compaction")

    println(s"== incremental dedup: signature store over $dir documents ==")
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val shard = docs.filter(col("doc_id") % 2 === 1)
    graft.ops.Dedup.writeSignatureStore(spark, corpus, "doc_id", "text", "graft_demo_store")
    val dups = graft.ops.Dedup.dedupIncrement(spark, shard, "doc_id", "text",
      "graft_demo_store", minEstimate = 0.5)
    println(s"  shard-vs-corpus dup pairs (est >= 0.5): ${dups.count()} " +
      "(corpus text NOT re-read - store tables only)")

    println("== takedown: forget a stored doc, increment drops its pairs ==")
    val before = dups.count()
    // the stored (corpus) member of a pair is the even id — least/greatest
    // normalization means it can sit on either side
    val firstHit = dups.select(col("id_a"), col("id_b")).orderBy(col("id_a"))
      .collect().iterator
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).find(_ % 2 == 0)
    firstHit.foreach { victim =>
      graft.ops.Dedup.removeFromSignatureStore(spark, "graft_demo_store", Seq(victim))
      val after = graft.ops.Dedup.dedupIncrement(spark, shard, "doc_id", "text",
        "graft_demo_store", minEstimate = 0.5).count()
      graft.ops.Dedup.compactSignatureStore(spark, "graft_demo_store")
      println(s"  forgot doc $victim: pairs $before -> $after; store compacted")
    }

    println("== data-quality gate over documents ==")
    graft.ops.Quality.check(docs, Seq(
      graft.ops.Quality.notNull("text_not_null", col("text")),
      graft.ops.Quality.inSet("lang_known", col("lang"), Seq("en", "de", "fr", "es"))),
      uniqueKeys = Seq("doc_id")).orderBy(col("rule")).show(truncate = false)

    println("== FTS snippet over documents ==")
    graft.query.Fts.snippet(docs, "doc_id", "text", Seq("spark", "join"), maxTokens = 7)
      .orderBy(col("uid")).show(3, truncate = false)

    println(s"== star projection fetch over $dir ==")
    val df = Fetch.df(star, Fetch.Args(
      chain = "[n:nation,members] <(e:InNation)- (c:customer)",
      group = Some("n.uid"), order = Some("members DESC, uid"), limit = Some(5),
      params = Map("members" -> "COUNT(c.uid)")))
    df.show(truncate = false)
    df.explain("formatted")

    spark.stop()
  }
}
