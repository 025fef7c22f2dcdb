package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Rows

import java.nio.file.{Files, Paths}

/** Durable graph on a Parquet warehouse directory — the analogue of opening
  * a graphydb file (`Graph(path)`, graphydb.py:489-529), re-architected
  * around the append-only journal (SURVEY §7.2):
  *
  * {{{
  *   <path>/journal/   append-only change docs (the source of truth)
  *   <path>/nodes/     compacted snapshot (bucket-friendly Parquet)
  *   <path>/edges/
  * }}}
  *
  * Reads resolve compacted snapshot ⊕ journal tail via [[Journal.snapshot]];
  * `compact()` materializes the current state and truncates the journal —
  * which also implements `clearchanges` (graphydb.py:536-543). Unlike the
  * reference, undo history survives as long as compaction hasn't run.
  *
  * Writes are set-oriented (append a batch of change docs); the single-item
  * OLTP path of the reference is served by [[MemGraph]] working sets and is
  * an explicit non-goal at warehouse scale (BASELINE.md).
  */
final class WarehouseGraph(val spark: SparkSession, val path: String) extends GraphSource {

  private val journalDir = s"$path/journal"
  private val nodesDir = s"$path/nodes"
  private val edgesDir = s"$path/edges"

  Files.createDirectories(Paths.get(journalDir))

  private def emptyChanges: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Rows.changeSchema)

  private def readDir(dir: String, fallback: DataFrame): DataFrame = {
    val hasParquet = Files.exists(Paths.get(dir)) && {
      val s = Files.list(Paths.get(dir))
      try s.anyMatch(p => p.toString.endsWith(".parquet")) finally s.close()
    }
    if (hasParquet) spark.read.schema(fallback.schema).parquet(dir) else fallback
  }

  def journal: DataFrame = readDir(journalDir, emptyChanges)

  def maxSeq: Long = {
    val row = journal.agg(max("seq")).head()
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }

  // ------------------------------ journal tail by FILE (r16 scale fix)
  //
  // snapshotAsChanges seqs come from monotonically_increasing_id, so
  // EVERY append file spans nearly the full seq range — a seq-range
  // predicate prunes no parquet footers and `journal.filter(seq > since)`
  // rescans the WHOLE journal on every increment, an O(history) term the
  // graphdecades probe measured growing 7.3 → 18.2 s across a 16× table.
  // But journal part files are IMMUTABLE once visible (Spark stages to
  // _temporary and moves), so the folded frontier is exactly a FILE SET:
  // the marker records which files each compaction consumed, and an
  // increment reads only the new ones — O(tail), however long the
  // history. Re-reading a file after a torn marker write is harmless:
  // replaying a uid's ordered doc-suffix over a state that already
  // folded it is idempotent (adds overwrite with the same values,
  // removes of removed keys no-op), the same argument the crash-replay
  // pin exercises.

  private def zseqFilesPath = Paths.get(s"$path/zseq-files")

  // --------------------- cross-table snapshot pointer (zsnap, r16)
  //
  // The z-tables commit GENERATIONS independently (znodes, zedges, and
  // the postings tables each have their own manifest chain), so without
  // a cross-table anchor an increment is visible piecewise: a reader
  // between the node-delete commit and the edge-delete commit sees a
  // node updated but its edges not — a torn graph. Worse, a REPLAY of
  // an increment that crashed between its delete commits and its append
  // reads back a base where the touched uids are already tombstoned, so
  // a PARTIAL modify doc (MemGraph write-elision diffs carry only the
  // changed keys) folds over an empty payload and silently drops the
  // node's other keys.
  //
  // `zsnap` fixes both with one atomic file: the (seq, gen-per-table)
  // tuple of the last COMPLETED compaction, advanced only after every
  // table committed. Readers ([[zNodes]]/[[zEdges]]/[[zView]]/the
  // postings) plan AT the pinned generations — always one consistent
  // cross-table cut — and the increment's own readback pins too, so a
  // replay recomputes from the last completed snapshot no matter which
  // phase crashed: the doc algebra never folds over a half-applied
  // base. `zsnap-log` appends one line per advance, giving the mutable
  // graph TIME TRAVEL ([[zViewAt]]) over whatever generations the
  // retention window keeps.
  //
  // Pinned generations survive in-flight increments because
  // [[compactZorder]] raises the tables' retention to
  // [[WarehouseGraph.SnapshotRetention]]; if maintenance ever outruns
  // it (16+ commits with no pointer advance — e.g. heavy external
  // optimize without [[refreshZsnap]]), readers fall back to CURRENT
  // (today's semantics: never wrong data on a quiesced table, only the
  // loss of the isolation pin) and the next advance re-pins.

  private def zsnapPath = Paths.get(s"$path/zsnap")
  private def zsnapLogPath = Paths.get(s"$path/zsnap-log")

  private case class ZSnap(seq: Long, zn: Long, ze: Long, zf: Long,
      zfe: Long, time: Long = -1L)

  private def parseZsnap(line: String): Option[ZSnap] =
    line.split("\t") match {
      case Array(s, a, b, c, d) => // pre-time pointer (upgrade path)
        try Some(ZSnap(s.toLong, a.toLong, b.toLong, c.toLong, d.toLong))
        catch { case _: NumberFormatException => None }
      case Array(s, a, b, c, d, t) =>
        try Some(ZSnap(s.toLong, a.toLong, b.toLong, c.toLong, d.toLong,
          t.toLong))
        catch { case _: NumberFormatException => None }
      case _ => None
    }

  private def readZsnap: Option[ZSnap] =
    if (!Files.isRegularFile(zsnapPath)) None
    else parseZsnap(Files.readString(zsnapPath).trim)

  private def currentZsnap(seq: Long): ZSnap = {
    import graft.ops.Layout
    def g(d: String): Long = Layout.currentGen(d).getOrElse(-1L)
    ZSnap(seq, g(s"$path/znodes"), g(s"$path/zedges"), g(zftsDir),
      g(zftseDir))
  }

  /** Publish the CURRENT generations as the consistent snapshot at
    * `seq`: log line first (an orphaned line is harmless — access is
    * validated), then the pointer via atomic move. */
  private def advanceZsnap(seq: Long): Unit = {
    val zs = currentZsnap(seq)
    val line = s"${zs.seq}\t${zs.zn}\t${zs.ze}\t${zs.zf}\t${zs.zfe}" +
      s"\t${System.currentTimeMillis()}"
    Files.writeString(zsnapLogPath, line + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    val tmp = Paths.get(s"$path/zsnap.tmp")
    Files.writeString(tmp, line)
    Files.move(tmp, zsnapPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Re-pin the snapshot pointer to the tables' CURRENT generations
    * without changing its seq — for callers that ran maintenance
    * OUTSIDE the increment (advisor auto-pilot, manual
    * optimize/vacuum): restatements preserve logical content, so the
    * new pin serves the same graph, but old generations can now age
    * out safely. The streaming cadence calls this after each optimize
    * drain. */
  def refreshZsnap(): Unit = {
    val seq = readZsnap.map(_.seq).orElse {
      // pre-zsnap warehouse (upgrade path): the zseq marker holds the
      // folded frontier; publishing it creates the pointer
      val p = Paths.get(s"$path/zseq")
      if (Files.isRegularFile(p)) Some(Files.readString(p).trim.toLong)
      else None
    }.getOrElse(throw new IllegalStateException(
      s"$path has no z-compaction — run compactZorder() first"))
    advanceZsnap(seq)
  }

  /** The snapshot pointer's journal seq (None before the first
    * z-compaction) — the upper bound of what the pinned z-state folds. */
  def zsnapSeq: Option[Long] = readZsnap.map(_.seq)

  /** A pinned read of one z-table: the zsnap generation when it is
    * still retained, else CURRENT (documented fallback — see the zsnap
    * note above). */
  private def pinnedZ(dir: String, pin: Option[Long],
      helpers: String*): DataFrame =
    pinnedScan(dir, pin).drop(helpers: _*)

  /** [[pinnedZ]] with the helper columns kept: the generation memo's own
    * frame ([[graft.ops.ZTable.dataFrame]]), the same instance for as
    * long as the table's pinned generation is unchanged. */
  private def pinnedScan(dir: String, pin: Option[Long]): DataFrame = {
    import graft.ops.Layout
    pin match {
      case Some(g) if g >= 0 && Layout.currentGen(dir).isDefined &&
          Layout.retainedGens(dir).contains(g) =>
        graft.ops.Layout.zorderReadAsOf(spark, dir, g)
      case _ => graft.ops.ZTable.dataFrame(spark, dir)
    }
  }

  import WarehouseGraph.ZViewKey

  private type ZViewSlot =
    java.util.concurrent.atomic.AtomicReference[(ZViewKey, ViewGraph)]

  /** The last view [[zView]] built, and the last one [[zViewOf]] built
    * (time travel), each with its key. */
  private val lastZView, lastZViewAt: ZViewSlot = new ZViewSlot()

  /** The [[ViewGraph]] over `key`'s frames, helpers dropped: the one held
    * in `slot` when its key is the same, so reads of an unchanged cut
    * build no frame and share one source. */
  private def zViewFor(slot: ZViewSlot, key: ZViewKey): ViewGraph = {
    val last = slot.get
    if (last != null && last._1 == key) last._2
    else {
      val v = new ViewGraph(spark, key.nodes.drop("_kh"), key.edges.drop("_khs", "_khe"),
        nodeFtsDf = key.nodeFts.map(_.drop("_tkh")),
        edgeFtsDf = key.edgeFts.map(_.drop("_tkh")), ftsU61 = key.u61)
      slot.set(key -> v)
      v
    }
  }

  private def journalFileNames(): Seq[String] = {
    val dir = Paths.get(journalDir)
    if (!Files.isDirectory(dir)) return Seq.empty
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toList.sorted
    } finally s.close()
  }

  private def seenJournalFiles: Option[Set[String]] =
    if (Files.isRegularFile(zseqFilesPath))
      Some(Files.readString(zseqFilesPath).linesIterator
        .filter(_.nonEmpty).toSet)
    else None // pre-r16 marker: fall back to the full-scan tail once

  private def writeSeenJournalFiles(files: Seq[String]): Unit = {
    val tmp = Paths.get(s"$path/zseq-files.tmp")
    Files.writeString(tmp, files.sorted.mkString("\n"))
    Files.move(tmp, zseqFilesPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def readJournalFiles(names: Seq[String]): DataFrame =
    if (names.isEmpty) emptyChanges
    else spark.read.schema(Rows.changeSchema)
      .parquet(names.map(n => s"$journalDir/$n"): _*)

  /** Append a batch of change docs (rows in changeSchema). Seq numbers must
    * already be above [[maxSeq]] — [[WarehouseSession.merge]] rebases working
    * sets; raw streams of pre-ordered docs can append directly. */
  def append(changes: DataFrame): Unit = {
    changes.write.mode(SaveMode.Append).parquet(journalDir)
    invalidate()
  }

  // one fold per journal version: nodes/edges share a cached backing; stale
  // caches are unpersisted when appends/compaction invalidate them
  private var stateVersion = 0L
  private var cachedState: Option[(Long, Journal.Snapshot)] = None
  private def invalidate(): Unit = synchronized { stateVersion += 1 }

  /** Warehouses mutate (append/merge/undo/compact all bump stateVersion), so
    * analytics memos keyed on this source must observe every write — without
    * this override the GraphX bridge would serve pre-mutation results. */
  override def analyticsVersion: Long = synchronized { stateVersion }

  private def currentState: (DataFrame, DataFrame) = synchronized {
    cachedState match {
      case Some((v, s)) if v == stateVersion => (s.nodes, s.edges)
      case prev =>
        prev.foreach(_._2.unpersist())
        val base = Seq(nodesDir, edgesDir)
        val compacted =
          if (base.forall(d => Files.exists(Paths.get(d))))
            Some((spark.read.schema(Rows.nodeSchema).parquet(nodesDir),
              spark.read.schema(Rows.edgeSchema).parquet(edgesDir)))
          else None
        val snap = compacted match {
          case None => Journal.fold(spark, journal, Long.MaxValue)
          case Some((n, e)) =>
            // snapshot ⊕ tail: replay the tail over the compacted base
            val baseDocs = Journal.snapshotAsChanges(n, e, startSeq = Long.MinValue + 1)
            Journal.fold(spark, baseDocs.unionByName(journal), Long.MaxValue)
        }
        cachedState = Some((stateVersion, snap))
        (snap.nodes, snap.edges)
    }
  }

  def nodes: DataFrame = currentState._1
  def edges: DataFrame = currentState._2

  /** Compact into BUCKETED tables (`<prefix>_nodes` on uid, `<prefix>_edges`
    * on startuid, same bucket count) so traversal joins
    * (edges.startuid = nodes.uid) are shuffle-free — the co-location story
    * for hop queries at warehouse scale. Uses the session catalog
    * (saveAsTable is how Spark persists bucketing metadata). */
  def compactBucketed(buckets: Int, tablePrefix: String = "graft_wh"): Unit = {
    val (n, e) = currentState
    def replace(name: String)(write: => Unit): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      // a table dir orphaned by a previous JVM (in-memory catalog, durable
      // warehouse dir) blocks CREATE even after DROP — clear it
      val loc = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name)
      if (Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        val walk = Files.walk(loc)
        try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
        finally walk.close()
      }
      write
    }
    replace(s"${tablePrefix}_nodes") {
      n.write.mode(SaveMode.Overwrite)
        .bucketBy(buckets, "uid").sortBy("uid")
        .saveAsTable(s"${tablePrefix}_nodes")
    }
    replace(s"${tablePrefix}_edges") {
      e.write.mode(SaveMode.Overwrite)
        .bucketBy(buckets, "startuid").sortBy("startuid")
        .saveAsTable(s"${tablePrefix}_edges")
    }
  }

  /** Compact into MAINTAINED Z-TABLES (`<path>/znodes`, `<path>/zedges`)
    * — the r15 unification applied to the MUTABLE warehouse: uids here
    * are opaque base36 ids (no numeric suffix to cluster on), so the
    * layout key is `xxhash64(uid)` (uniform spread; spans deliberately
    * carry no selectivity) and point access prunes through STRING-domain
    * bloom sidecars over the uid columns themselves — `getuid`/`outE`/
    * `inE` on a mutable graph become literal string predicates the
    * planner cuts to the file(s) that may contain the key
    * ([[zPointNode]]/[[zOutEdges]]/[[zInEdges]]). Each call is a full
    * re-materialization of the CURRENT state (compaction is a full
    * rewrite by definition); the journal is NOT truncated — pair with
    * [[compact]] for clearchanges semantics. */
  def compactZorder(nFiles: Int = 16): Unit = {
    import graft.ops.Layout
    val upTo = maxSeq // read BEFORE the fold: a racing append stays "tail"
    // captured WITH upTo: a file landing after this listing re-folds on
    // the next increment (suffix replay is idempotent — see the tail-by-
    // file note above)
    val snapFiles = journalFileNames()
    val (n, e) = currentState
    val zn = s"$path/znodes"; val ze = s"$path/zedges"
    Seq(zn, ze).foreach(d => WarehouseMeta.deleteRecursively(Paths.get(d)))
    // the old pointer and log reference generations of the directories
    // just deleted — a full re-materialization starts history fresh
    // (this also makes resetZFts below skip its pointer advance; the
    // single advance at the end publishes the whole new snapshot)
    Files.deleteIfExists(zsnapPath); Files.deleteIfExists(zsnapLogPath)
    Layout.zorderInit(spark, n.withColumn("_kh", xxhash64(col("uid"))),
      zn, "_kh", "_kh", nFiles)
    Layout.setRetention(zn, WarehouseGraph.SnapshotRetention)
    // auto-sized bitsets: the default 2^16 saturates at warehouse row
    // counts and a saturated bloom prunes nothing (r16, zorderBloomAutoBits);
    // auto-sharded sidecars so the incremental refresh can hard-link
    // untouched shards instead of re-serializing the whole sidecar
    Layout.zorderBloomBuild(spark, zn, "uid",
      bits = Layout.zorderBloomAutoBits(zn, "uid"),
      shards = Layout.zorderBloomAutoShards(zn, "uid"))
    Layout.zorderInit(spark,
      e.withColumn("_khs", xxhash64(col("startuid")))
        .withColumn("_khe", xxhash64(col("enduid"))),
      ze, "_khs", "_khe", nFiles)
    Layout.setRetention(ze, WarehouseGraph.SnapshotRetention)
    Layout.zorderBloomBuild(spark, ze, "startuid",
      bits = Layout.zorderBloomAutoBits(ze, "startuid"),
      shards = Layout.zorderBloomAutoShards(ze, "startuid"))
    Layout.zorderBloomBuild(spark, ze, "enduid",
      bits = Layout.zorderBloomAutoBits(ze, "enduid"),
      shards = Layout.zorderBloomAutoShards(ze, "enduid"))
    Layout.zorderBloomBuild(spark, ze, "uid", // edge takedowns prune too
      bits = Layout.zorderBloomAutoBits(ze, "uid"),
      shards = Layout.zorderBloomAutoShards(ze, "uid"))
    // a full re-materialization rebuilds the maintained FTS wholesale
    // (same fields/tokenizer — the config survives the rebuild)
    if (Files.isRegularFile(zftsMetaPath)) {
      val (nf, ef, u61) = zftsConfig
      resetZFts(nf, u61, edgeFields = ef)
    }
    // publish-then-consume: the pointer names the consistent snapshot
    // FIRST; a crash before the markers replays the tail over the
    // published state, which the pinned readback makes idempotent
    advanceZsnap(upTo)
    Files.writeString(Paths.get(s"$path/zseq"), upTo.toString)
    writeSeenJournalFiles(snapFiles)
  }

  /** INCREMENTAL z-compaction — fold only the journal TAIL past the last
    * compaction's seq marker into the z-tables, O(churn) instead of
    * O(table): the touched uids' z-rows AS OF THE ZSNAP CUT read back
    * through bloom-pruned point scans, the tail's diff docs replay over
    * exactly those rows ([[Journal.fold]] over base-docs ∪ tail), and
    * the result applies DELETE-THEN-INSERT — a string-key vectored
    * tombstone of every touched uid (repeat-safe), an append+maintain of
    * the surviving rows, and a gap-fill bloom refresh (only the
    * rewritten files rescan, thanks to the same-generation sidecar
    * carry). The zsnap pointer then publishes the new consistent cut and
    * the markers advance LAST, so a crashed increment simply re-runs —
    * and because the replay's readback pins the last COMPLETED snapshot
    * (not the half-applied current generations), it recomputes the same
    * survivors no matter which phase died: crash-after-delete cannot
    * fold a partial modify over an empty base, crash-after-append
    * re-tombstones the crashed copies (fold-first maintain below), and
    * crash-after-pointer replays the tail as a value-identical no-op.
    *
    * Scale shape (r16, the CDC apply's `collectThreshold` switch applied
    * here): touched uids collect to the driver only while the tail's
    * churn is at most `collectThreshold` distinct uids — the common
    * cadence-sized increment, where driver-side keys buy BLOOM-PRUNED
    * readback and deletes. Above it (a bulk journal restatement: mass
    * re-tag, takedown sweep), uids stay DISTRIBUTED end to end: readback
    * becomes a semi-join of the z-scans against the distinct tail keys
    * and the deletes semi-join the same frame
    * ([[graft.ops.Layout.zorderDeleteVectoredByKey]]'s DataFrame
    * overload) — driver memory stays flat no matter how large the
    * restatement, and no IN-list of that size ever enters a plan.
    *
    * Limit (inherited from the vectored delete's whole-table guard, the
    * CDC apply's same rule): a tail whose touched set covers EVERY live
    * uid of a table refuses rather than tombstone the entire table —
    * a full restatement is a re-materialization by definition; run
    * [[compactZorder]] for it.
    * Returns (touchedUids, nodeRowsLanded, edgeRowsLanded). */
  def compactZorderIncremental(
      collectThreshold: Long = 10000L): (Long, Long, Long) = {
    import graft.ops.Layout
    val zn = s"$path/znodes"; val ze = s"$path/zedges"
    val seqPath = Paths.get(s"$path/zseq")
    require(Files.isRegularFile(seqPath) &&
      Layout.currentGen(zn).isDefined && Layout.currentGen(ze).isDefined,
      s"$path has no z-compaction to increment — run compactZorder() first")
    val since = Files.readString(seqPath).trim.toLong
    // tail by FILE: only journal files the last marker has not consumed
    // are read — O(tail) regardless of history length (see the note at
    // journalFileNames); a pre-r16 marker without a file list falls back
    // to the seq-filtered full scan once and upgrades on commit
    val seenOpt = seenJournalFiles
    val nowFiles = journalFileNames()
    val newFiles = seenOpt match {
      case Some(seen) => nowFiles.filterNot(seen)
      case None => nowFiles
    }
    if (seenOpt.isDefined && newFiles.isEmpty) return (0L, 0L, 0L)
    // fold any landing FIRST: an increment that crashed between its
    // append and its maintain left insert rows in landing/, INVISIBLE to
    // the vectored delete (it tombstones manifest rows only) — committing
    // them here lets the replay's re-delete reach the crashed copies,
    // closing the at-least-once window (the CDC apply's r14 lesson,
    // applied to the graph increment)
    Layout.zorderMaintain(spark, zn)
    Layout.zorderMaintain(spark, ze)
    if (zFtsEnabled) {
      val (nf, ef, _) = zftsConfig
      if (nf.nonEmpty) { Layout.zorderMaintain(spark, zftsDir); () }
      if (ef.nonEmpty) { Layout.zorderMaintain(spark, zftseDir); () }
    }
    val tail = seenOpt match {
      case Some(_) => readJournalFiles(newFiles).filter(col("seq") > since)
      case None => journal.filter(col("seq") > since)
    }
    val mxRow = tail.agg(max("seq")).head() // one agg over the TAIL only
    if (mxRow.isNullAt(0)) { // new files carry no post-marker docs
      writeSeenJournalFiles(
        (seenOpt.getOrElse(Set.empty) ++ newFiles).toSeq)
      return (0L, 0L, 0L)
    }
    val upTo = math.max(since, mxRow.getLong(0))
    val touchedDf = tail.select("uid").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val nTouched = touchedDf.count() // ONE bounded driver action
    if (nTouched == 0L) {
      Files.writeString(seqPath, upTo.toString)
      writeSeenJournalFiles((seenOpt.getOrElse(Set.empty) ++ newFiles).toSeq)
      return (0L, 0L, 0L)
    }
    // churn-bounded increment: driver-side keys (bloom-pruned point
    // scans and deletes — the read cost tracks the churn, not the
    // table); bulk restatement: keys stay distributed (semi-joins)
    val collected: Option[Seq[String]] =
      if (nTouched <= collectThreshold)
        Some(touchedDf.collect().map(_.getString(0)).toSeq)
      else None
    def touchedOnly(df: DataFrame): DataFrame = collected match {
      case Some(keys) => df.filter(col("uid").isin(keys: _*))
      case None => df.join(touchedDf, Seq("uid"), "left_semi")
    }
    // the touched uids' state AS OF THE LAST COMPLETED SNAPSHOT (zsnap
    // pin) — not the current generation: a replay of an increment that
    // crashed after its delete commits would otherwise read back an
    // empty base and fold PARTIAL modify docs over nothing, dropping
    // the untouched keys. Pinning makes every replay recompute from
    // the same completed state, so any crash point converges exactly.
    val pin = readZsnap
    val baseN = touchedOnly(pinnedZ(zn, pin.map(_.zn), "_kh"))
    val baseE = touchedOnly(pinnedZ(ze, pin.map(_.ze), "_khs", "_khe"))
    val baseDocs = Journal.snapshotAsChanges(baseN, baseE,
      startSeq = Long.MinValue + 1)
    val snap = Journal.fold(spark, baseDocs.unionByName(tail), Long.MaxValue)
    val newN = snap.nodes.withColumn("_kh", xxhash64(col("uid")))
      .persist()
    val newE = snap.edges.withColumn("_khs", xxhash64(col("startuid")))
      .withColumn("_khe", xxhash64(col("enduid"))).persist()
    try {
      val (nN, nE) = (newN.count(), newE.count())
      // DELETE-THEN-INSERT by uid: node and edge uids never collide
      // (distinct random ids), so tombstoning the whole touched set
      // against both tables is exact — absent keys are no-ops
      collected match {
        case Some(keys) =>
          Layout.zorderDeleteVectoredByKey(spark, zn, "uid", keys)
          Layout.zorderDeleteVectoredByKey(spark, ze, "uid", keys)
        case None =>
          Layout.zorderDeleteVectoredByKey(spark, zn, "uid", touchedDf)
          Layout.zorderDeleteVectoredByKey(spark, ze, "uid", touchedDf)
      }
      if (nN > 0) { Layout.zorderAppend(newN, zn); Layout.zorderMaintain(spark, zn) }
      if (nE > 0) { Layout.zorderAppend(newE, ze); Layout.zorderMaintain(spark, ze) }
      // gap-fill refresh ONLY where a maintain rewrote files: a
      // delete-only commit CARRIES its sidecars exactly (the DV touches
      // no data file), so a table whose side of the churn landed zero
      // rows skips the O(files × bits) sidecar rewrite entirely — at a
      // node-only increment that halves the tick's fixed cost
      // (auto-bits and auto-shards reuse the current sidecar's params,
      // so carries hold AND untouched shards hard-link: the refresh
      // writes O(touched shards) sidecar bytes, not O(files × bits))
      if (nN > 0) {
        Layout.zorderBloomBuild(spark, zn, "uid",
          bits = Layout.zorderBloomAutoBits(zn, "uid"),
          shards = Layout.zorderBloomAutoShards(zn, "uid"))
        ()
      }
      if (nE > 0) {
        Layout.zorderBloomBuild(spark, ze, "startuid",
          bits = Layout.zorderBloomAutoBits(ze, "startuid"),
          shards = Layout.zorderBloomAutoShards(ze, "startuid"))
        Layout.zorderBloomBuild(spark, ze, "enduid",
          bits = Layout.zorderBloomAutoBits(ze, "enduid"),
          shards = Layout.zorderBloomAutoShards(ze, "enduid"))
        Layout.zorderBloomBuild(spark, ze, "uid",
          bits = Layout.zorderBloomAutoBits(ze, "uid"),
          shards = Layout.zorderBloomAutoShards(ze, "uid"))
        ()
      }
      // maintained FTS rides the same seam: tombstone the touched uids'
      // postings, re-insert the survivors' — before the marker, so a
      // crashed increment replays the index delete-then-insert too
      if (zFtsEnabled) {
        val (nf, ef, u61) = zftsConfig
        def ftsIncrement(dir: String, survivors: DataFrame,
            fs: Seq[String]): Unit = {
          collected match {
            case Some(keys) =>
              Layout.zorderDeleteVectoredByKey(spark, dir, "uid", keys)
            case None =>
              Layout.zorderDeleteVectoredByKey(spark, dir, "uid",
                touchedDf)
          }
          val (docs, f2t) = zftsDocs(survivors, fs)
          graft.ops.ZFts.insert(spark, dir, docs, "uid", f2t, u61)
          ()
        }
        if (nf.nonEmpty) ftsIncrement(zftsDir, newN.drop("_kh"), nf)
        if (ef.nonEmpty)
          ftsIncrement(zftseDir, newE.drop("_khs", "_khe"), ef)
      }
      // publish the new consistent cut BEFORE consuming the tail: a
      // crash between pointer and markers replays the tail over the
      // just-published state, which the doc algebra applies as a no-op
      // (full images re-land identical, partial adds re-merge the same
      // values, removes of removed keys do nothing)
      advanceZsnap(upTo)
      Files.writeString(seqPath, upTo.toString)
      writeSeenJournalFiles((seenOpt.getOrElse(Set.empty) ++ newFiles).toSeq)
      (nTouched, nN, nE)
    } finally { newN.unpersist(); newE.unpersist(); () }
    } finally { touchedDf.unpersist(); () }
  }

  // ------------------------------------------- maintained FTS postings
  //
  // The reference's node FTS (resetfts/updatefts/deletefts,
  // graphydb.py:1141-1196, 1237-1244) for the MUTABLE warehouse: postings
  // live in their own maintained z-table ([[graft.ops.ZFts]] term-major
  // layout) and ride the SAME zseq seam as the z-tables — every
  // compactZorderIncremental tombstones the touched uids' postings and
  // re-inserts the survivors', so a crash replays idempotently and the
  // index is always exactly as-of the z-state. Node AND edge fields
  // (the reference's `resetfts(nodefields, edgefields)`,
  // graphydb.py:638-658): each configured side gets its own table.

  private val zftsDir = s"$path/zfts"
  private val zftseDir = s"$path/zftse"
  private val zftsMetaPath = Paths.get(s"$path/zfts-meta.tsv")

  /** Whether maintained postings z-tables ride this warehouse (every
    * CONFIGURED side must have a committed generation). */
  def zFtsEnabled: Boolean = Files.isRegularFile(zftsMetaPath) && {
    val (nf, ef, _) = zftsConfig
    (nf.isEmpty || graft.ops.Layout.currentGen(zftsDir).isDefined) &&
      (ef.isEmpty || graft.ops.Layout.currentGen(zftseDir).isDefined)
  }

  /** (nodeFields, edgeFields, unicode61); `efields` absent in pre-edge
    * metas → empty (backward compatible). */
  private def zftsConfig: (Seq[String], Seq[String], Boolean) = {
    val kv = Files.readString(zftsMetaPath).linesIterator
      .map(_.split("\t", 2)).collect { case Array(k, v) => k -> v }.toMap
    def fieldsOf(v: Option[String]): Seq[String] =
      v.map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
    (fieldsOf(kv.get("fields")), fieldsOf(kv.get("efields")),
      kv("unicode61").toBoolean)
  }

  /** (docs, field→textCol) for tokenization: one extracted JSON prop
    * column per indexed field (absent props → null → zero postings). */
  private def zftsDocs(nodesDf: DataFrame,
      fields: Seq[String]): (DataFrame, Map[String, String]) = {
    val cols = fields.zipWithIndex.map { case (f, i) =>
      get_json_object(col("props"), s"$$.$f").as(s"_zf$i")
    }
    (nodesDf.select(col("uid") +: cols: _*),
      fields.zipWithIndex.map { case (f, i) => f -> s"_zf$i" }.toMap)
  }

  /** `resetfts` for the warehouse (graphydb.py:638-658 — node AND edge
    * field lists): (re)build the maintained postings z-table(s) from the
    * CURRENT z-state's props (run after [[compactZorder]]); the field
    * lists + tokenizer flag persist so every later increment (manual or
    * streamed) maintains the index automatically. unicode61 defaults ON
    * — the engine default (r15). */
  def resetZFts(fields: Seq[String], unicode61: Boolean = true,
      nFiles: Int = 8, edgeFields: Seq[String] = Seq.empty): Unit = {
    require(fields.nonEmpty || edgeFields.nonEmpty,
      "resetZFts needs at least one node or edge field")
    require((fields ++ edgeFields).forall(f =>
        !f.exists(",\t\n".contains(_))),
      s"field names must not contain ',', tab, or newline: $fields")
    require(graft.ops.Layout.currentGen(s"$path/znodes").isDefined,
      s"$path has no z-compaction — run compactZorder() before resetZFts")
    Seq(zftsDir, zftseDir).foreach(d =>
      WarehouseMeta.deleteRecursively(Paths.get(d)))
    if (fields.nonEmpty) {
      val (docs, f2t) = zftsDocs(zNodes, fields)
      graft.ops.ZFts.init(spark, docs, zftsDir, "uid", f2t, unicode61,
        nFiles)
      graft.ops.Layout.setRetention(zftsDir,
        WarehouseGraph.SnapshotRetention)
    }
    if (edgeFields.nonEmpty) {
      val (docs, f2t) = zftsDocs(zEdges, edgeFields)
      graft.ops.ZFts.init(spark, docs, zftseDir, "uid", f2t, unicode61,
        nFiles)
      graft.ops.Layout.setRetention(zftseDir,
        WarehouseGraph.SnapshotRetention)
    }
    Files.writeString(zftsMetaPath,
      s"fields\t${fields.mkString(",")}\n" +
        s"efields\t${edgeFields.mkString(",")}\nunicode61\t$unicode61\n")
    // a standalone rebuild changes the postings generations under an
    // existing snapshot — re-publish so the pinned view carries the new
    // index (inside compactZorder the pointer is absent here and the
    // compaction's own final advance publishes everything at once)
    if (Files.isRegularFile(zsnapPath)) refreshZsnap()
    ()
  }

  /** The maintained NODE postings (planner-integrated read, pinned to
    * the zsnap cut). */
  def zFtsPostings: DataFrame =
    pinnedZ(zftsDir, readZsnap.map(_.zf), "_tkh")

  /** The maintained EDGE postings (planner-integrated read, pinned to
    * the zsnap cut). */
  def zFtsEdgePostings: DataFrame =
    pinnedZ(zftseDir, readZsnap.map(_.zfe), "_tkh")

  /** The compacted z-table views (planner-integrated reads; require a
    * prior [[compactZorder]]). Snapshot semantics: the z-tables hold the
    * state AS OF the last completed compaction's zsnap pointer — one
    * CONSISTENT cross-table cut, isolated from any in-flight increment's
    * piecewise commits; journal appends after it are visible through
    * [[nodes]]/[[edges]], not here, until the next increment. */
  def zNodes: DataFrame =
    pinnedZ(s"$path/znodes", readZsnap.map(_.zn), "_kh")
  def zEdges: DataFrame =
    pinnedZ(s"$path/zedges", readZsnap.map(_.ze), "_khs", "_khe")

  /** The compacted z-state as a [[ViewGraph]] — every Fetch chain and
    * Traversals operator runs over the MUTABLE warehouse's maintained
    * z-tables unchanged, the same unification [[graft.ZStarWarehouse]]
    * gives the star dir (r16, closing the last accessor gap): point
    * predicates inside the chains prune through the string blooms, and
    * the view carries the z-tables' snapshot semantics (state as of the
    * last compaction/increment). When [[resetZFts]] has run, the view
    * carries the maintained postings too — `*_fts` MATCH params in Fetch
    * chains work over the mutable warehouse, query terms folded to match
    * the index's tokenizer. While the published cut is unchanged, every
    * call returns the same view, built from the z-tables' memoized
    * generation scans. */
  def zView: ViewGraph = {
    // ONE pointer read serves every table — per-accessor reads could
    // straddle a concurrent advance and re-introduce the torn cut
    val pin = readZsnap
    val n = pinnedScan(s"$path/znodes", pin.map(_.zn))
    val e = pinnedScan(s"$path/zedges", pin.map(_.ze))
    zViewFor(lastZView,
      if (zFtsEnabled) {
        val (nf, ef, u61) = zftsConfig
        ZViewKey(n, e,
          if (nf.nonEmpty) Some(pinnedScan(zftsDir, pin.map(_.zf))) else None,
          if (ef.nonEmpty) Some(pinnedScan(zftseDir, pin.map(_.zfe))) else None,
          u61)
      } else ZViewKey(n, e, None, None, u61 = false))
  }

  /** GRAPH TIME TRAVEL over the mutable warehouse (r16): the zsnap log
    * records one consistent (seq, generations) cut per completed
    * compaction/increment, so any journal seq maps to the last cut at
    * or before it — a [[ViewGraph]] whose Fetch chains and traversals
    * answer AS OF that moment, planned from the retained manifests
    * (same pruning as the live view). History depth is the tables'
    * retention window ([[WarehouseGraph.SnapshotRetention]] by default
    * — raise it with [[graft.ops.Layout.setRetention]] BEFORE the
    * history you need); a [[compactZorder]] re-materialization resets
    * history. The postings tables ride along when their generations are
    * still retained (derived state — the view simply omits MATCH
    * support when they aged out). */
  def zViewAt(seq: Long): ViewGraph = {
    val entries = zsnapEntries
    zViewOf(entries.filter(_.seq <= seq).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot at or before seq=$seq (earliest: " +
          s"${entries.headOption.map(_.seq).getOrElse("none")})")))
  }

  /** [[zViewAt]] keyed by WALL CLOCK instead of journal seq: the last
    * consistent cut published at or before `epochMs` (each zsnap-log
    * line records its publish time). Unlike seqs — which restart when
    * [[compact]] truncates the journal — publish times are monotonic
    * for the life of the z-tables, so this is the stable way to name
    * history from outside the seq-space. */
  def zViewAsOfTime(epochMs: Long): ViewGraph = {
    val entries = zsnapEntries.filter(_.time >= 0)
    zViewOf(entries.filter(_.time <= epochMs).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot at or before time=$epochMs (earliest: " +
          s"${entries.headOption.map(_.time).getOrElse("none")})")))
  }

  private def zsnapEntries: Seq[ZSnap] = {
    require(Files.isRegularFile(zsnapLogPath),
      s"$path has no snapshot log — run compactZorder() first")
    Files.readString(zsnapLogPath).linesIterator.flatMap(parseZsnap).toSeq
  }

  private def zViewOf(at: ZSnap): ViewGraph = {
    import graft.ops.Layout
    def asOf(dir: String, gen: Long): DataFrame = {
      require(Layout.currentGen(dir).isDefined &&
        Layout.retainedGens(dir).contains(gen),
        s"generation $gen of $dir is no longer retained — raise " +
          "Layout.setRetention BEFORE the history you need")
      Layout.zorderReadAsOf(spark, dir, gen)
    }
    def ftsAsOf(dir: String, gen: Long): Option[DataFrame] =
      if (gen >= 0 && Layout.currentGen(dir).isDefined &&
        Layout.retainedGens(dir).contains(gen))
        Some(Layout.zorderReadAsOf(spark, dir, gen))
      else None
    val n = asOf(s"$path/znodes", at.zn)
    val e = asOf(s"$path/zedges", at.ze)
    zViewFor(lastZViewAt,
      if (Files.isRegularFile(zftsMetaPath)) {
        val (_, _, u61) = zftsConfig
        ZViewKey(n, e, ftsAsOf(zftsDir, at.zf), ftsAsOf(zftseDir, at.zfe), u61)
      } else ZViewKey(n, e, None, None, u61 = false))
  }

  /** Point node lookup over the compacted z-table — the reference's
    * `getuid` (graphydb.py:1025-1044) as a string-bloom-pruned scan. */
  def zPointNode(uid: String): DataFrame =
    zNodes.filter(col("uid") === uid)

  /** Out-/in-edges of one node over the compacted z-table — the
    * reference's `node.outE`/`inE` (graphydb.py:1335-1357). */
  def zOutEdges(uid: String): DataFrame =
    zEdges.filter(col("startuid") === uid)
  def zInEdges(uid: String): DataFrame =
    zEdges.filter(col("enduid") === uid)

  private def replaceDir(from: String, to: String): Unit = {
    import scala.jdk.CollectionConverters._
    val toPath = Paths.get(to)
    if (Files.exists(toPath)) {
      val walk = Files.walk(toPath)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
    Files.move(Paths.get(from), toPath)
  }

  /** Materialize the snapshot, truncate the journal. The snapshot is written
    * ONCE to a temp dir then renamed over the final location (atomic on one
    * filesystem; a crash mid-compact leaves the journal intact, so the state
    * is recoverable by re-folding).
    *
    * Z-SEAM RE-BASE (r16): truncating the journal RESTARTS the seq-space
    * at 1, which would strand a stale `zseq` marker above every future
    * append — increments would filter the whole tail out forever and the
    * z-tables would silently diverge. When z-tables ride this warehouse,
    * compact() first folds any pending tail into them (so nothing is
    * lost), then re-bases the seam to the new space: marker 0, consumed
    * files = the truncated journal's listing, snapshot log restarted at
    * one cut (clearchanges DROPS history in the reference too,
    * graphydb.py:536-543 — seq-keyed time travel cannot span a seq-space
    * reset; [[zViewAsOfTime]] stays monotonic across it). */
  def compact(): Unit = {
    import graft.ops.Layout
    val hasZ = Files.isRegularFile(Paths.get(s"$path/zseq")) &&
      Layout.currentGen(s"$path/znodes").isDefined &&
      Layout.currentGen(s"$path/zedges").isDefined
    if (hasZ) { compactZorderIncremental(); () }
    val (n, e) = currentState
    n.write.mode(SaveMode.Overwrite).parquet(nodesDir + "_tmp")
    e.write.mode(SaveMode.Overwrite).parquet(edgesDir + "_tmp")
    replaceDir(nodesDir + "_tmp", nodesDir)
    replaceDir(edgesDir + "_tmp", edgesDir)
    // truncate journal (clearchanges semantics)
    val empty = emptyChanges
    empty.write.mode(SaveMode.Overwrite).parquet(journalDir)
    if (hasZ) {
      Files.writeString(Paths.get(s"$path/zseq"), "0")
      writeSeenJournalFiles(journalFileNames())
      Files.deleteIfExists(zsnapLogPath)
      advanceZsnap(0L)
    }
    invalidate()
  }
}

object WarehouseGraph {
  /** Default generation retention for the maintained z-tables: wide
    * enough that the zsnap-pinned cut survives an in-flight increment
    * (≤4 commits per table per tick) plus several crashed replays, and
    * gives [[WarehouseGraph.zViewAt]] a few increments of history out
    * of the box. A retained generation costs one manifest (file-list
    * rows) plus the rewritten-file tail it uniquely references —
    * carried files are shared across manifests — so the window is
    * cheap; raise it per table with [[graft.ops.Layout.setRetention]]
    * for deeper time travel. */
  val SnapshotRetention: Int = 16

  /** The z-table frames a view is built from (helpers kept) and its
    * tokenizer flag. Frames compare by reference, and the generation
    * memo returns one frame per generation, so equal keys mean the same
    * cut. */
  private final case class ZViewKey(nodes: DataFrame, edges: DataFrame,
      nodeFts: Option[DataFrame], edgeFts: Option[DataFrame], u61: Boolean)
}
