package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.WarehouseMeta
import graft.query.{Fetch, Fts}
import graft.ops.{Dedup, Events, Layout, Quality, Sampling, Similarity, TextAnalysis}

/** Driver contract (SURVEY §5.2): one named query per implemented operator
  * family, each with an exactly-equivalent DuckDB SQL twin in [[oracleSql]].
  *
  * Cross-engine determinism rules used throughout:
  *   - money sums go through DECIMAL(18,2) (exact) and only the final result
  *     is cast to DOUBLE;
  *   - every computed column is aliased identically on both sides (the
  *     driver's compare sorts columns by name before hashing);
  *   - ratios/cosines are IEEE-deterministic ordered folds rounded to a fixed
  *     number of digits;
  *   - content hashes are md5-derived so both engines agree bit-for-bit.
  */
object SparkEntry {

  /** Memoized table scan. `spark.read.parquet` runs a file-listing +
    * footer/schema job on EVERY call — measured 300-600 ms each on the r6
    * host — and a bench battery calls `t` ~250 times per pass, so repeated
    * inference alone cost minutes of pure driver overhead. The returned
    * DataFrame is an immutable logical plan over a cached FileIndex: reusing
    * it skips listing and schema work while scans still re-read current
    * file bytes. Keyed per session so tests with separate sessions don't
    * cross-talk; the testdata dirs are immutable, so no invalidation is
    * needed. BOUNDED access-order LRU (not a WeakHashMap: the cached
    * DataFrames strongly reference their SparkSession, so weak keys could
    * never be reclaimed and every test session would be pinned for the JVM
    * lifetime) — at most the 4 most recently used sessions stay pinned, and
    * a long-running process cycling sessions evicts the oldest entries. */
  private val tMemoMaxSessions = 4
  private val tMemo =
    new java.util.LinkedHashMap[String,
        (SparkSession, scala.collection.concurrent.TrieMap[String, DataFrame])](
        16, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String,
            (SparkSession, scala.collection.concurrent.TrieMap[String, DataFrame])]): Boolean =
        size() > tMemoMaxSessions
    }

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = tMemo.synchronized {
      val key = System.identityHashCode(s).toString
      var e = tMemo.get(key)
      if (e == null || !(e._1 eq s)) { // hash reuse after GC: replace entry
        e = (s, scala.collection.concurrent.TrieMap.empty)
        tMemo.put(key, e)
      }
      e._2
    }
    perSession.getOrElseUpdate(s"$dir/$name.parquet",
      s.read.parquet(s"$dir/$name.parquet"))
  }

  /** Scan for CPU-heavy per-row work (decimal aggregation): when the table's
    * on-disk footprint is tiny, fan the rows out to all cores first.
    *
    * Why: test-scale parquet is a single ≤128 MB row group, and Spark's
    * parquet reader assigns whole row groups to splits — an 11 MB lineitem
    * file is ONE task no matter how many cores exist, so a CPU-bound partial
    * aggregate gets zero parallelism (and zero headroom when the stage
    * degrades: BENCH_r05 watched a 1-task q01 burn 400 CPU-seconds on one
    * core). The round-robin repartition costs one tiny local exchange of the
    * pruned columns and buys 32× parallelism on the expensive phase.
    *
    * At production scale the branch never engages: the guard is a
    * driver-side fs-metadata check, and a 100 TB table is thousands of
    * splits already — the plan stays scan → partial agg with no exchange. */
  private val tParSizeMemo = scala.collection.concurrent.TrieMap.empty[String, Long]
  private def tPar(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = t(s, dir, name)
    // memoized per path: on a real warehouse this is a namenode RPC per
    // call otherwise (an unknown/unreadable path memoizes as MaxValue =
    // never fan out, the safe default)
    val bytes = tParSizeMemo.getOrElseUpdate(s"$dir/$name.parquet", {
      val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
      try fs.getContentSummary(path).getLength catch { case _: java.io.IOException => Long.MaxValue }
    })
    if (bytes < 64L * 1024 * 1024) df.repartition(s.sparkContext.defaultParallelism) else df
  }

  /** Schema-adaptive `events` loader. The testdata generator has shipped
    * `ts` two ways across rounds — parquet TIMESTAMP(NANOS) (which Spark's
    * vectorized reader rejects unless read as raw nanos) and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (which Spark reads as
    * TIMESTAMP_NTZ) — so branch on the type the reader actually infers
    * instead of assuming either. All downstream forms normalize to
    * session-TZ TimestampType: sessions are run with
    * spark.sql.session.timeZone=UTC, so the NTZ→timestamp cast is a
    * wall-clock identity and date/epoch/window results hash-match DuckDB's
    * naive-timestamp reading of the same file. */
  private def events(s: SparkSession, dir: String): DataFrame = {
    // harmless for non-NANOS files; required before the read for NANOS ones
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the ts-normalization branch lives in EventStreams so the streaming
    // file source reads the same file through IDENTICAL semantics (r9)
    graft.streaming.EventStreams.normalizeEventTs(t(s, dir, "events"))
  }

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** A durable fixture at its warehouse location, built by
    * [[WarehouseMeta.ensureFixture]] once per source state and memoized by
    * [[WarehouseMeta.memoFixture]] once per (session, dir): `src` is the
    * file or dir the fingerprint lists and `tag` names the recipe; `exists`
    * checks the location (a committed z-table generation unless the
    * fixture says otherwise), which is deleted before a rebuild. Returns
    * the location. */
  private def fixtureAt(s: SparkSession, d: String, prefix: String, src: String,
      tag: String, exists: String => Boolean = p => Layout.currentGen(p).isDefined)(
      build: String => Unit): String =
    WarehouseMeta.memoFixture(s, prefix, d) { name =>
      val loc = WarehouseMeta.tableLocation(s, name)
      WarehouseMeta.ensureFixture(s, name, WarehouseMeta.fingerprint(src, tag),
        exists(loc.toString), Seq(loc))(build(loc.toString))
      loc.toString
    }
  private val isDir: String => Boolean =
    p => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p))

  /** Memoized persisted vector index over `embeddings` (bits=4, the s07
    * configuration) — same durable ensure discipline as [[dedupStoreFor]]. */
  private def vectorIndexFor(s: SparkSession, d: String): String =
    WarehouseMeta.memoFixture(s, "graft_vecindex_", d) { name =>
      Similarity.ensureVectorIndex(s, t(s, d, "embeddings"), "vec_id", "embedding",
        name, WarehouseMeta.fingerprint(s"$d/embeddings.parquet", "#bits4"), bits = 4)
      name
    }

  /** Memoized LIFECYCLE index for s16: built from the even-vec_id half,
    * then mutated through the full maintenance surface — append the odd
    * half (bucket-local insertInto), tombstone-delete {1, 8} and COMPACT
    * them away, then tombstone {2, 13} and leave them UNcompacted so the
    * query path exercises the tombstone anti-join. The mutation sequence
    * is flagged apply-once (`${name}_life`, keyed by the build fingerprint,
    * whose lock is distinct from the index's own), so re-runs (bench warm
    * passes, later JVMs) never double-append; a changed corpus fingerprint
    * rebuilds and re-applies. */
  private def vectorIndexLifecycleFor(s: SparkSession, d: String): String =
    WarehouseMeta.memoFixture(s, "graft_veclife_", d) { name =>
      val fp = WarehouseMeta.fingerprint(s"$d/embeddings.parquet", "#life#bits4")
      val emb = t(s, d, "embeddings")
      def ensure() = Similarity.ensureVectorIndex(s,
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", name, fp,
        bits = 4)
      var built = false
      WarehouseMeta.ensureFixture(s, name, fp, { built = ensure(); !built },
          applyOnce = true) {
        if (!built) {
          // index exists but the mutation flag is absent: a previous run
          // crashed mid-sequence, and the APPEND step is not idempotent
          // (re-running it would duplicate the odd half). Rebuild from a
          // clean base, then apply once.
          s.sql(s"DROP TABLE IF EXISTS ${name}_vlsh")
          WarehouseMeta.deleteRecursively(
            WarehouseMeta.tableLocation(s, s"${name}_vlsh"))
          ensure()
        }
        Similarity.appendVectorIndex(s,
          emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", name)
        Similarity.deleteFromVectorIndex(s, name, Seq(1L, 8L))
        Similarity.compactVectorIndex(s, name)
        Similarity.deleteFromVectorIndex(s, name, Seq(2L, 13L))
      }
      name
    }

  /** Memoized date-partitioned events lake for e05 (Events.writeDateLake
    * under the warehouse dir): built once per corpus state, reread with
    * partition pruning by every later session. */
  private def eventsLakeFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_eventslake_", s"$d/events.parquet", "#dtlake", isDir) { path =>
      graft.ops.Events.writeDateLake(t(s, d, "events"), path)
    }

  /** Memoized synthetic WARC crawl for p04 ([[graft.sources.WarcFile
    * .syntheticWarcCorpus]] over documents — real ISO 28500 framing,
    * content the oracle can re-derive): built once per corpus state;
    * every later session re-parses the same bytes. */
  private def warcCorpusFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_warc_", s"$d/documents.parquet", "#warc4", isDir) { path =>
      graft.sources.WarcFile.syntheticWarcCorpus(s, t(s, d, "documents"),
        "doc_id", "text", path, nFiles = 4)
    }

  /** Memoized Z-ordered lineitem rewrite for w23 (Layout.zorderWrite on
    * the Morton curve of (l_orderkey, l_suppkey)): rewritten once per
    * corpus state, then every later scan prunes on footer min/max spans
    * that are tight on BOTH keys. */
  private def zorderLineitemFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_zorder_", s"$d/lineitem.parquet", "#z16", isDir) { path =>
      Layout.zorderWrite(t(s, d, "lineitem"), path,
        "l_orderkey", "l_suppkey", nFiles = 16)
    }

  /** Memoized 3-key Morton rewrite for w29 — lineitem clustered on
    * z3(l_orderkey, l_suppkey, l_partkey); 64 files (three keys share the
    * tile budget, so the file count sits well above the per-key fan-out —
    * Layout.zValue3's documented operating point). */
  private def zorder3LineitemFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_z3_", s"$d/lineitem.parquet", "#z3x64", isDir) { path =>
      Layout.zorderWrite3(t(s, d, "lineitem"), path,
        "l_orderkey", "l_suppkey", "l_partkey", nFiles = 64)
    }

  /** Memoized 3-key HILBERT rewrite for w31 — [[zorder3LineitemFor]] with
    * the no-jumps 3-D walk (Skilling transpose, codegen'd): the probe
    * behind it measured Morton3 touching 0.50 of files on its weakest
    * axis where the Hilbert3 layout touches 0.33 (LayoutSpec pins the
    * comparison on a controlled grid). */
  private def hilbert3LineitemFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_h3_", s"$d/lineitem.parquet", "#h3x64", isDir) { path =>
      Layout.hilbertWrite3(t(s, d, "lineitem"), path,
        "l_orderkey", "l_suppkey", "l_partkey", nFiles = 64)
    }

  /** Memoized Hilbert-curve lineitem rewrite for w28 — [[zorderLineitemFor]]
    * with the no-jumps curve (the codegen'd hilbert_index expression). */
  private def hilbertLineitemFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_hilbert_", s"$d/lineitem.parquet", "#h16", isDir) { path =>
      Layout.hilbertWrite(t(s, d, "lineitem"), path,
        "l_orderkey", "l_suppkey", nFiles = 16)
    }

  /** Memoized MAINTAINED z-order table for w26: init from the low ~90% of
    * the orderkey domain, blind-append the high tail, then one
    * incremental zorderMaintain — the builder REQUIRES that some files
    * carried over as manifest rows (incrementality engaged, not a silent full
    * rewrite: the tail appends clamp to the curve's edge and route to the
    * last tiles only) and that a second maintain is an exact no-op. */
  private def zorderMaintainedFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_w26_", s"$d/lineitem.parquet", "#zmaint16m") { path =>
      val li = t(s, d, "lineitem")
      val cut = li.agg(max("l_orderkey")).collect()(0).getLong(0) * 9 / 10
      Layout.zorderInit(s, li.filter(col("l_orderkey") <= cut), path,
        "l_orderkey", "l_suppkey", nFiles = 16)
      Layout.zorderAppend(li.filter(col("l_orderkey") > cut), path)
      val (merged, rewritten, linked) = Layout.zorderMaintain(s, path)
      require(merged > 0, "the tail append must hold rows")
      require(linked >= 1 && rewritten >= 1,
        s"maintain must be incremental: rewrote $rewritten, linked $linked")
      require(Layout.zorderMaintain(s, path) == ((0L, 0, 0)),
        "second maintain over a clean table must be an exact no-op")
    }

  /** Memoized STREAM-SINK maintained table for w30: init on the low 80%
    * of the orderkey domain, then [[graft.streaming.EventStreams
    * .streamToZorder]]'s foreachBatch body driven as two deterministic
    * batches through the exactly-once seam (Layout.zorderAppendBatch)
    * with a cadence maintain between them — including a committed-replay
    * no-op proof on the seam — so the oracle hash-checks the END STATE of
    * the streamed lakehouse lifecycle, not just its spec pins. */
  private def zorderStreamSinkFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_w30_", s"$d/lineitem.parquet", "#zsink16") { path =>
      val li = t(s, d, "lineitem")
      val hi = li.agg(max("l_orderkey")).collect()(0).getLong(0)
      val (cut0, cut1) = (hi * 8 / 10, hi * 9 / 10)
      Layout.zorderInit(s, li.filter(col("l_orderkey") <= cut0), path,
        "l_orderkey", "l_suppkey", nFiles = 16)
      val b0 = li.filter(col("l_orderkey") > cut0 && col("l_orderkey") <= cut1)
      val b1 = li.filter(col("l_orderkey") > cut1)
      require(Layout.zorderAppendBatch(s, b0, path, 0L) > 0,
        "batch 0 must land rows")
      require(Layout.zorderMaintain(s, path)._1 > 0,
        "cadence maintain folds batch 0")
      require(Layout.zorderAppendBatch(s, b1, path, 1L) > 0,
        "batch 1 must land rows")
      require(Layout.zorderAppendBatch(s, b1, path, 1L) == -1L,
        "committed-batch replay must no-op")
      val (m, _, carried) = Layout.zorderMaintain(s, path)
      require(m > 0 && carried >= 1,
        s"final maintain must fold batch 1 incrementally (carried $carried)")
    }

  /** Memoized TAKEDOWN-LOOP table for w46: the streaming takedown shape
    * ([[graft.streaming.EventStreams.takedownStream]]'s foreachBatch
    * body) driven as two key batches against a bloom-indexed table —
    * each batch a MERGE-ON-READ delete by l_partkey (a non-layout
    * column), a forced REPLAY of batch 0 proving the loop's exactly-once
    * (repeat vectored deletes are no-ops by DV idempotence — no intent
    * log at all), then the cadence materialize erasing every tombstone
    * physically. The oracle hash-checks the end state against the
    * NOT-IN twin. */
  private def takedownLoopFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_w46_", s"$d/lineitem.parquet", "#ztdown16") { path =>
      val li = t(s, d, "lineitem")
      Layout.zorderInit(s, li, path, "l_orderkey", "l_suppkey", nFiles = 16)
      Layout.zorderBloomBuild(s, path, "l_partkey", shards = 4)
      val batch0 = Seq(1L, 2L, 3L)
      val batch1 = Seq(4L, 5L)
      val (d0, t0) = Layout.zorderDeleteVectoredByKey(s, path, "l_partkey", batch0)
      require(d0 > 0 && t0 >= 1, "batch 0 must tombstone rows")
      require(Layout.zorderDeleteVectoredByKey(s, path, "l_partkey", batch0)
        == ((0L, 0)),
        "a REPLAYED takedown batch must be an exact no-op — the " +
          "loop's exactly-once guarantee")
      val (d1, _) = Layout.zorderDeleteVectoredByKey(s, path, "l_partkey", batch1)
      require(d1 > 0, "batch 1 must tombstone rows")
      val (_, purged) = Layout.zorderDvMaterialize(s, path)
      require(purged == d0 + d1,
        s"cadence materialize must purge every tombstone: $purged vs ${d0 + d1}")
      require(Layout.currentSpans(path).forall(_.dvRows == 0))
    }

  /** Memoized DELETED table for w32: init, one span-pruned zorderDelete
    * of a two-sided band — the builder REQUIRES the prune engaged
    * (rewritten < file count) and a repeat delete to be an exact no-op —
    * then the oracle hash-checks the remaining table against the raw
    * NOT-band twin. */
  private def zorderDeletedFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_w32_", s"$d/lineitem.parquet", "#zdel16") { path =>
      val li = t(s, d, "lineitem")
      val mx = li.agg(max("l_orderkey"), max("l_suppkey")).collect()(0)
      val (ma, mb) = (mx.getLong(0), mx.getLong(1))
      Layout.zorderInit(s, li, path, "l_orderkey", "l_suppkey", nFiles = 16)
      val (aBand, bBand) = ((ma / 4, ma / 2), (mb * 2 / 5, mb / 2))
      val (del, rewritten, carried) = Layout.zorderDelete(s, path, aBand, bBand)
      require(del > 0, "the band must hold rows")
      require(rewritten >= 1 && carried >= 1,
        s"delete must be span-pruned: rewrote $rewritten, carried $carried")
      require(Layout.zorderDelete(s, path, aBand, bBand) ==
        ((0L, 0, rewritten + carried)),
        "repeat delete over the same band must be an exact no-op")
    }

  /** Memoized VECTOR-DELETED table for w41: init on lineitem, one
    * MERGE-ON-READ band delete (`zorderDeleteVectored` — tombstones
    * written, ZERO data files touched: the builder snapshots every data
    * file's mtime and requires the set unchanged) over the SAME band
    * arithmetic as w32's copy-on-write delete. The table keeps its
    * deletion vector permanently, so the oracle row hash-checks the
    * DV-applying live read against the raw NOT-band twin — together with
    * w32 this pins copy-on-write ≡ merge-on-read on real data. */
  private def zorderDvDeletedFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_w41_", s"$d/lineitem.parquet", "#zdv16") { path =>
      val li = t(s, d, "lineitem")
      val mx = li.agg(max("l_orderkey"), max("l_suppkey")).collect()(0)
      val (ma, mb) = (mx.getLong(0), mx.getLong(1))
      Layout.zorderInit(s, li, path, "l_orderkey", "l_suppkey", nFiles = 16)
      val before = layoutDataFiles(path)
      val (aBand, bBand) = ((ma / 4, ma / 2), (mb * 2 / 5, mb / 2))
      val (del, tomb) = Layout.zorderDeleteVectored(s, path, aBand, bBand)
      require(del > 0, "the band must hold rows")
      require(tomb >= 1 && tomb < 16,
        s"vectored delete must be span-pruned: tombstoned $tomb of 16")
      require(layoutDataFiles(path) == before,
        "a merge-on-read delete must not touch any data file")
      require(Layout.zorderDeleteVectored(s, path, aBand, bBand) == ((0L, 0)),
        "repeat vectored delete over the same band must be an exact no-op")
    }

  /** Memoized REPLICA for w44: [[Layout.zorderMirror]] of the w41 table
    * (a maintained table WITH a live deletion vector — so the sync ships
    * manifests, data files, and the DV sidecar). The builder requires the
    * repeat sync to be an exact no-op and the replica to sit at the
    * primary's generation; the oracle then hash-checks the REPLICA's live
    * read against the primary's twin — replication must be byte-faithful
    * including merge-on-read state. Re-syncs from scratch when the
    * primary was rebuilt (signature mismatch): a stale replica of a
    * REBUILT primary must not incrementally sync (manifest numbers would
    * collide across unrelated tables). */
  private def zorderMirroredFor(s: SparkSession, d: String): String = {
    val primary = zorderDvDeletedFor(s, d)
    fixtureAt(s, d, "graft_w44_", s"$d/lineitem.parquet", "#zdv16#mirror") { path =>
      val (files, mans) = Layout.zorderMirror(primary, path)
      require(files >= 1 && mans >= 1,
        s"first sync must ship the table: $files files, $mans manifests")
      require(Layout.zorderMirror(primary, path) == ((0, 0)),
        "repeat sync must be an exact no-op")
      require(Layout.currentGen(path) == Layout.currentGen(primary),
        "replica must sit at the primary's generation")
    }
  }

  /** Memoized STAT-COLUMN table for w45: events z-ordered on
    * (event_id, user_id) with `ts` declared a MANIFEST STAT COLUMN —
    * the auto-increment-id ↔ created-at correlation every event table
    * has (measured 0.99998 on this corpus), so per-file ts min/max spans
    * are tight and a TIME predicate prunes files without ts being a
    * layout key. The builder requires the stat pruning to engage on a
    * mid-range band via both audits (manifest count + the planner's own
    * listing through ZTable). */
  private def zorderEventsStatsFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_w45_", s"$d/events.parquet", "#zstat32") { path =>
      val ev = events(s, d)
        .select("event_id", "user_id", "ts", "event_type", "value")
      Layout.zorderInit(s, ev, path, "event_id", "user_id", nFiles = 32,
        statCols = Seq("ts"))
      val (sec1, sec2) = w45Band(s, path)
      val (hit, total) = Layout.zorderStatFiles(path, "ts",
        (sec1 * 1000000L, sec2 * 1000000L)) // manifest stats are micros
      require(hit > 0 && hit < total,
        s"ts stats must prune the band: $hit/$total files")
    }

  /** The w45 time band in WHOLE SECONDS (floor), 30%–45% of the observed
    * ts range — second-aligned endpoints so the Spark and DuckDB twins
    * compare timestamps at identical precision. */
  private def w45Band(s: SparkSession, path: String): (Long, Long) = {
    val mm = Layout.zorderRead(s, path)
      .agg(min(col("ts").cast("long")), max(col("ts").cast("long")))
      .collect()(0)
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    (lo + (hi - lo) * 3 / 10, lo + (hi - lo) * 45 / 100)
  }

  /** Every data-file path → mtime under a maintained table (DV sidecars
    * excluded) — the w41/w42 builders' zero-write / carried-bytes proof. */
  private def layoutDataFiles(path: String): Map[String, java.nio.file.attribute.FileTime] = {
    import scala.jdk.CollectionConverters._
    val dd = java.nio.file.Paths.get(path, "data")
    if (!java.nio.file.Files.isDirectory(dd)) return Map.empty
    val walk = java.nio.file.Files.walk(dd)
    try walk.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("dv-"))
      .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p))
      .toMap
    finally walk.close()
  }

  /** Memoized PURGED table for w42: its own init + vectored band delete,
    * then [[Layout.zorderDvMaterialize]] — the PHYSICAL erasure step of
    * the takedown two-step. The builder requires the purge to rewrite
    * exactly the tombstoned files (untouched files carried byte-identical
    * by mtime), the deletion vector to be GC'd, and a repeat materialize
    * to be a no-op; the oracle then hash-checks the DV-free table against
    * the same NOT-band twin. */
  private def zorderDvPurgedFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_w42_", s"$d/lineitem.parquet", "#zdvmat16") { path =>
      val li = t(s, d, "lineitem")
      val mx = li.agg(max("l_orderkey"), max("l_suppkey")).collect()(0)
      val (ma, mb) = (mx.getLong(0), mx.getLong(1))
      Layout.zorderInit(s, li, path, "l_orderkey", "l_suppkey", nFiles = 16)
      val (aBand, bBand) = ((ma / 4, ma / 2), (mb * 2 / 5, mb / 2))
      val (del, tomb) = Layout.zorderDeleteVectored(s, path, aBand, bBand)
      require(del > 0 && tomb >= 1)
      val before = layoutDataFiles(path)
      val (rewritten, purged) = Layout.zorderDvMaterialize(s, path)
      require(rewritten == tomb && purged == del,
        s"purge must rewrite exactly the tombstoned files: $rewritten/$tomb, $purged/$del")
      val after = layoutDataFiles(path)
      val carriedUnchanged = before.keySet & after.keySet
      require(carriedUnchanged.forall(f => before(f) == after(f)),
        "carried files must be byte-untouched by the purge")
      require(Layout.zorderDvMaterialize(s, path) == ((0, 0L)),
        "repeat materialize must be a no-op")
      require(Layout.currentSpans(path).forall(_.dvRows == 0),
        "no tombstone survives the purge")
    }

  /** Memoized RETAINED-GENERATIONS table for w33: init with a 2-snapshot
    * window on the low-90% orderkey domain, blind-append the tail, one
    * maintain — then the oracle reads generation 0 AS OF (time travel on
    * the maintained table) and hash-checks it against the low-90% twin,
    * proving retained snapshots stay byte-faithful across later commits. */
  private def zorderRetainedFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_w33_", s"$d/lineitem.parquet", "#zasof2") { path =>
      val li = t(s, d, "lineitem")
      val cut = li.agg(max("l_orderkey")).collect()(0).getLong(0) * 9 / 10
      Layout.zorderInit(s, li.filter(col("l_orderkey") <= cut), path,
        "l_orderkey", "l_suppkey", nFiles = 16, keepGenerations = 2)
      Layout.zorderAppend(li.filter(col("l_orderkey") > cut), path)
      require(Layout.zorderMaintain(s, path)._1 > 0)
      require(Layout.retainedGens(path) == Seq(0L, 1L),
        "both snapshots must be retained")
    }

  /** Memoized CHANGE-FEED table for w35: init on the low-90% orderkey
    * domain with a 4-snapshot window, blind-append the tail + maintain
    * (gen 1), then span-prune-DELETE a two-sided band (gen 2) — so the
    * 0→2 change feed must surface the tail as inserts and the band as
    * deletes, nothing else, even though the rewrites carried thousands of
    * untouched rows through churned files. */
  private def zorderChangedFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_w35_", s"$d/lineitem.parquet", "#zcdc16") { path =>
      val li = t(s, d, "lineitem")
      val mx = li.agg(max("l_orderkey"), max("l_suppkey")).collect()(0)
      val (ma, mb) = (mx.getLong(0), mx.getLong(1))
      Layout.zorderInit(s, li.filter(col("l_orderkey") <= ma * 9 / 10),
        path, "l_orderkey", "l_suppkey", nFiles = 16, keepGenerations = 4)
      Layout.zorderAppend(li.filter(col("l_orderkey") > ma * 9 / 10), path)
      require(Layout.zorderMaintain(s, path)._1 > 0,
        "the tail append must fold rows")
      val (del, _, _) = Layout.zorderDelete(s, path,
        (ma / 4, ma / 2), (mb * 2 / 5, mb / 2))
      require(del > 0, "the band must hold rows")
      require(Layout.retainedGens(path) == Seq(0L, 1L, 2L),
        "all three snapshots must be retained for the feed")
    }

  /** Memoized SCHEMA-EVOLVED table for w38: init on the low-90% orderkey
    * domain with the ORIGINAL lineitem columns, then append the tail WITH
    * AN ADDED l_bonus column (quantity × 2) and maintain — the generation
    * goes mixed, reads reconcile by name (old rows null-fill l_bonus),
    * and the builder REQUIRES the mixed flag engaged. */
  private def zorderEvolvedFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_w38_", s"$d/lineitem.parquet", "#zevo16") { path =>
      val li = t(s, d, "lineitem")
      val cut = li.agg(max("l_orderkey")).collect()(0).getLong(0) * 9 / 10
      Layout.zorderInit(s, li.filter(col("l_orderkey") <= cut), path,
        "l_orderkey", "l_suppkey", nFiles = 16)
      Layout.zorderAppend(li.filter(col("l_orderkey") > cut)
        .withColumn("l_bonus", col("l_quantity") * 2), path)
      require(Layout.zorderMaintain(s, path)._1 > 0,
        "the evolved tail must fold rows")
      require(Layout.zorderStats(s, path).count() >= 1 &&
        Layout.zorderRead(s, path).columns.contains("l_bonus"),
        "the evolved column must be visible through the committed read")
    }

  /** Memoized BIN-PACKED table for w40: 64-file init, a two-sided band
    * delete shrinks the band's boundary files (interior files drop
    * whole), then ONE [[Layout.zorderCompactSmall]] at the mean file
    * size merges the z-adjacent remnants — the builder REQUIRES groups
    * formed, big files carried, and a repeat no-op. */
  private def zorderBinpackedFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_w40_", s"$d/lineitem.parquet", "#zbin64") { path =>
      val li = t(s, d, "lineitem")
      val mx = li.agg(max("l_orderkey"), max("l_suppkey")).collect()(0)
      val (ma, mb) = (mx.getLong(0), mx.getLong(1))
      Layout.zorderInit(s, li, path, "l_orderkey", "l_suppkey", nFiles = 64)
      require(Layout.zorderDelete(s, path,
        (ma / 8, ma * 3 / 8), (mb / 8, mb * 3 / 8))._1 > 0)
      val spans = Layout.currentSpans(path)
      val mean = spans.map(_.rows).sum / spans.size
      val (groups, mergedIn, carried) =
        Layout.zorderCompactSmall(s, path, mean)
      require(groups >= 1 && mergedIn >= 2,
        s"bin-packing must engage: $groups groups / $mergedIn files")
      require(carried >= 1, "adequately-sized files must carry")
      require(Layout.zorderCompactSmall(s, path, mean)._1 == 0,
        "repeat bin-pack at the same target must be a no-op")
    }

  /** Memoized TAKEDOWN table for w39: the w36 shape (orders clustered on
    * (custkey, totalprice), bloom over the unique o_orderkey) — then one
    * bloom-pruned [[Layout.zorderDeleteByKey]] of three known orderkeys;
    * the builder REQUIRES the rewrite set bloom-bounded and the repeat a
    * no-op, so the oracle's NOT-IN twin passes only if exactly those
    * rows vanished. */
  private def zorderTakedownFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_w39_", s"$d/orders.parquet", "#ztake16") { path =>
      val orders = t(s, d, "orders")
      Layout.zorderInit(s, orders, path, "o_custkey", "o_totalprice",
        nFiles = 16)
      Layout.zorderBloomBuild(s, path, "o_orderkey", bits = 1 << 16,
        hashes = 5)
      val mo = orders.agg(max("o_orderkey")).collect()(0).getLong(0)
      val doomed = Seq(mo / 7, mo / 3, mo / 2 + 1)
      val (open, total, used) =
        Layout.zorderLookupFiles(path, "o_orderkey", doomed)
      require(used && open < total, s"bloom must prune: $open/$total")
      val (del, rew, car) =
        Layout.zorderDeleteByKey(s, path, "o_orderkey", doomed)
      require(del == 3L, s"three unique orderkeys must vanish: $del")
      require(rew <= open && car >= 1,
        s"the rewrite set must be bloom-bounded: $rew <= $open, carried $car")
      require(Layout.zorderDeleteByKey(s, path, "o_orderkey", doomed)._1 == 0L,
        "repeat takedown must be a no-op")
    }

  /** Memoized CDC FOLLOWER pair for w51: a primary initialized on the
    * low-90% orderkey domain (unique `l_rowid` = xxhash64 of the full
    * row — (orderkey, linenumber) is NOT unique in the synthetic data,
    * but whole rows are, and the builder REQUIRES key uniqueness
    * loudly), seeded into a follower, then TWO primary
    * commits (tail append+maintain, band delete) applied by ONE
    * [[graft.streaming.EventStreams.cdcFollowStream]] tick — and a
    * replayed tick through a fresh checkpoint proven a cursor-stasis
    * no-op. The follower's final state must equal lineitem minus the
    * band, byte-faithful, which the w51 oracle checks directly. */
  private def zorderCdcFollowerFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_w51_", s"$d/lineitem.parquet", "#zcdcf16",
        root => Layout.currentGen(s"$root/fol").isDefined) { root =>
      import scala.jdk.CollectionConverters._
      val pri = s"$root/pri"; val fol = s"$root/fol"
      val li0 = t(s, d, "lineitem")
      val li = li0.withColumn("l_rowid",
        xxhash64(li0.columns.map(col): _*))
      val uq = li.agg(count(lit(1)), countDistinct(col("l_rowid")))
        .collect()(0)
      require(uq.getLong(0) == uq.getLong(1),
        "l_rowid (xxhash64 of the full row) must be unique — the CDC " +
          "apply key contract")
      val mx = li.agg(max("l_orderkey"), max("l_suppkey")).collect()(0)
      val (ma, mb) = (mx.getLong(0), mx.getLong(1))
      Layout.zorderInit(s, li.filter(col("l_orderkey") <= ma * 9 / 10),
        pri, "l_orderkey", "l_suppkey", nFiles = 16, keepGenerations = 8)
      Layout.zorderCdcSeed(s, pri, fol, nFiles = 16)
      Layout.zorderAppend(li.filter(col("l_orderkey") > ma * 9 / 10), pri)
      require(Layout.zorderMaintain(s, pri)._1 > 0,
        "the tail append must fold rows")
      require(Layout.zorderDelete(s, pri,
        (ma / 4, ma / 2), (mb * 2 / 5, mb / 2))._1 > 0,
        "the band must hold rows")
      // ONE ticker batch drives the follower through both commits
      val ticks = java.nio.file.Paths.get(s"$root/ticks")
      java.nio.file.Files.createDirectories(ticks)
      locally {
        import s.implicits._
        val stage = java.nio.file.Paths.get(s"$root/tick_stage")
        Seq(1L).toDF("t").coalesce(1).write.mode("overwrite")
          .parquet(stage.toString)
        val part = java.nio.file.Files.list(stage).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).next()
        java.nio.file.Files.move(part, ticks.resolve("t0.parquet")); ()
      }
      val tickSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("t",
          org.apache.spark.sql.types.LongType)))
      def runTicks(ckpt: String): Unit =
        graft.streaming.EventStreams.cdcFollowStream(
          s.readStream.schema(tickSchema).parquet(ticks.toString),
          pri, fol, "l_rowid", ckpt).awaitTermination()
      runTicks(s"$root/ckpt")
      def cursor(): Long = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(fol, "cdc-cursor")), "UTF-8").trim.toLong
      require(cursor() == 2L,
        s"the poll must reach the primary's current generation: ${cursor()}")
      // a REPLAYED tick (fresh checkpoint re-delivers t0) must be a
      // cursor-stasis no-op — exactly-once rides the cursor protocol
      runTicks(s"$root/ckpt_replay")
      require(cursor() == 2L, "a replayed tick must not move the cursor")
    } + "/fol"

  /** Memoized STREAMED journal→z mutable graph warehouse for w54 (r16 —
    * the maintenance cadence the reference runs implicitly on every
    * write, graphydb.py:1325-1326, as an exactly-once stream): the star
    * projection (FK edges; Contains excluded — this exercises graph
    * churn, not the fact table) lands as change docs in a
    * [[graft.engine.WarehouseGraph]] journal. The pre-orders state
    * compacts to z-tables, then two journal arrivals — the
    * orders+PlacedBy create wave, and a delete/modify batch (every 7th
    * supplier disconnect-deleted with its SuppNation edge; region nodes
    * touched by a counts-neutral prop modify) — fold in through ONE
    * [[graft.streaming.EventStreams.journalCompactStream]] run with the
    * journal directory itself as the ticker. `collectThreshold = 1000`
    * routes the create wave through the DISTRIBUTED path (semi-join
    * readback + DataFrame-keyed vectored deletes) at every SF, and the
    * cadence runs the advisor auto-pilot after each batch. A
    * fresh-checkpoint replay must commit nothing (the zseq marker is the
    * exactly-once seam) and the final z-state must equal the journal
    * fold exactly — both REQUIREd here; the w54 oracle then counts every
    * surviving kind from the raw tables. */
  private def zGraphStreamFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_w54_", d, "#zgs16b", root =>
        Seq("znodes", "zedges", "zfts")
          .forall(z => Layout.currentGen(s"$root/wh/$z").isDefined)) { root =>
      import graft.engine.{Journal, WarehouseGraph}
      val wpath = s"$root/wh"
      val g = StarGraph.build(s, d)
      val nodes = g.nodes
      val edges = g.edges.filter(col("kind") =!= "Contains")
      val key = substring_index(col("uid"), ":", -1).cast("long")
      val wh = new WarehouseGraph(s, wpath)
      wh.append(Journal.snapshotAsChanges(
        nodes.filter(col("kind") =!= "orders"),
        edges.filter(col("kind") =!= "PlacedBy"), startSeq = 1L))
      wh.compactZorder(nFiles = 16)
      // graph FTS over the mutable warehouse (g22): part names index
      // into the maintained postings z-table; every later increment
      // (including the streamed ones below) keeps it fresh
      wh.resetZFts(Seq("p_name"))
      // arrival 1: the orders wave — a create doc per orders node and
      // per PlacedBy edge (the bulk-restatement shape)
      wh.append(Journal.snapshotAsChanges(
        nodes.filter(col("kind") === "orders"),
        edges.filter(col("kind") === "PlacedBy"),
        startSeq = wh.maxSeq + 1))
      // arrival 2: full-image REMOVE docs (delete = remove every key
      // of the image, the fold's own delete rule) + a modify wave
      // whose add doc merges a new prop over the region images
      val doomedN = nodes.filter(col("kind") === "supplier" && key % 7 === 0)
      val startKey = substring_index(col("startuid"), ":", -1).cast("long")
      val doomedE = edges.filter(col("kind") === "SuppNation" &&
        startKey % 7 === 0)
      val del = Journal.snapshotAsChanges(doomedN, doomedE,
          startSeq = wh.maxSeq + 1)
        .select(col("seq"), col("uid"),
          lit(null).cast("string").as("add"), col("add").as("remove"),
          col("time"), col("rev"), col("batch"))
      val mod = Journal.snapshotAsChanges(
        nodes.filter(col("kind") === "region")
          .withColumn("props", lit("""{"tag":"probed"}""")),
        edges.limit(0), startSeq = wh.maxSeq + 1)
      wh.append(del.unionByName(mod))
      def run(ckpt: String): Unit =
        graft.streaming.EventStreams.journalCompactStream(
          graft.streaming.EventStreams.journalStream(s, s"$wpath/journal"),
          wpath, ckpt, collectThreshold = 1000L, optimizeEvery = 1)
          .awaitTermination()
      run(s"$root/ckpt")
      val genN = Layout.currentGen(s"$wpath/znodes").get
      val genE = Layout.currentGen(s"$wpath/zedges").get
      // fresh-checkpoint replay re-delivers every journal file: each
      // re-tick is a caught-up no-op — nothing may commit
      run(s"$root/ckpt_replay")
      require(Layout.currentGen(s"$wpath/znodes").contains(genN) &&
        Layout.currentGen(s"$wpath/zedges").contains(genE),
        "replayed journal ticks must commit nothing")
      require(wh.zNodes.select("uid").except(wh.nodes.select("uid"))
          .count() == 0 &&
        wh.nodes.select("uid").except(wh.zNodes.select("uid"))
          .count() == 0 &&
        wh.zEdges.select("uid").except(wh.edges.select("uid"))
          .count() == 0 &&
        wh.edges.select("uid").except(wh.zEdges.select("uid"))
          .count() == 0,
        "streamed z-state must equal the journal fold exactly")
      require(wh.zPointNode("region:0").select("props").head()
        .getString(0).contains("probed"), "the modify wave must land")
    } + "/wh"

  /** Memoized TIME-TRAVEL graph warehouse for w55 (r16 — the zsnap
    * snapshot log): the star projection (Contains excluded) lands in a
    * [[graft.engine.WarehouseGraph]], compacts to z-tables (cut 0), then
    * a disconnect-delete wave (every 5th customer with its InNation and
    * PlacedBy edges, full-image REMOVE docs) folds in through ONE
    * increment (cut 1). The zsnap log records both consistent cuts, so
    * [[graft.engine.WarehouseGraph.zViewAt]] at cut 0's seq serves the
    * FULL pre-delete graph — planned from the retained generations —
    * while the live view misses the doomed customers. The builder
    * REQUIREs both cuts' customer counts; `<root>/seq0` persists cut 0's
    * seq for the query. */
  private def zTimeTravelFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_w55_", d, "#ztt16", root =>
        Layout.currentGen(s"$root/wh/znodes").isDefined &&
          java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(s"$root/seq0"))) { root =>
      import graft.engine.{Journal, WarehouseGraph}
      val g = StarGraph.build(s, d)
      val nodes = g.nodes
      val edges = g.edges.filter(col("kind") =!= "Contains")
      val wh = new WarehouseGraph(s, s"$root/wh")
      wh.append(Journal.snapshotAsChanges(nodes, edges, startSeq = 1L))
      wh.compactZorder(nFiles = 16)
      val seq0 = wh.maxSeq
      val nCustFull = nodes.filter(col("kind") === "customer").count()
      // disconnect-delete every 5th customer: the node plus every
      // edge touching it (InNation starts at it, PlacedBy ends at
      // it), as full-image REMOVE docs — the fold's delete rule
      def doomedCust(c: Column): Column =
        c.startsWith("customer:") &&
          substring_index(c, ":", -1).cast("long") % 5 === 0
      val doomedN = nodes.filter(col("kind") === "customer" &&
        doomedCust(col("uid")))
      val doomedE = edges.filter(doomedCust(col("startuid")) ||
        doomedCust(col("enduid")))
      val del = Journal.snapshotAsChanges(doomedN, doomedE,
          startSeq = wh.maxSeq + 1)
        .select(col("seq"), col("uid"),
          lit(null).cast("string").as("add"), col("add").as("remove"),
          col("time"), col("rev"), col("batch"))
      wh.append(del)
      wh.compactZorderIncremental()
      // the live cut lost the doomed customers; the historical cut
      // still serves every one of them — the snapshot log's claim
      val nCustLive = wh.zNodes
        .filter(col("kind") === "customer").count()
      require(nCustLive < nCustFull,
        s"delete wave must land: $nCustLive vs $nCustFull")
      require(wh.zViewAt(seq0).nodes
          .filter(col("kind") === "customer").count() == nCustFull,
        "the historical cut must serve the full pre-delete graph")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$root/seq0"), seq0.toString)
    } + "/wh"

  /** Memoized MAINTAINED FTS POSTINGS z-table for g21 (r16 — VERDICT r15
    * "What's missing" #2): part-name postings stored term-major via
    * [[graft.ops.ZFts.init]] (z key = xxhash64(term), string blooms over
    * term and uid), then exercised through every increment the surface
    * offers before the fingerprint seals: an INSERT wave (the top-decile
    * partkeys arrive via `updatefts`), an idempotent RE-SEND
    * (delete-then-insert of docs already indexed), and a TAKEDOWN +
    * RE-INDEX round trip (two uids tombstoned by `deletefts`, then
    * restored). The builder REQUIREs the maintained index equals a fresh
    * full tokenization EXACTLY (multiset), so the g21 MATCH twin checks
    * the whole lifecycle. */
  private def zFtsFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_g21_", s"$d/part.parquet", "#zfts16") { path =>
      import graft.ops.ZFts
      val parts = t(s, d, "part").select(
        concat(lit("part:"), col("p_partkey")).as("uid"),
        col("p_name"), col("p_partkey"))
      val f2t = Map("name" -> "p_name")
      val cut = parts.agg(max("p_partkey")).collect()(0)
        .getLong(0) * 9 / 10
      ZFts.init(s, parts.filter(col("p_partkey") <= cut), path,
        "uid", f2t)
      // insert increment: the tail docs arrive
      ZFts.updatefts(s, path,
        parts.filter(col("p_partkey") > cut), "uid", f2t)
      // idempotent re-send: already-indexed docs delete-then-insert
      ZFts.updatefts(s, path,
        parts.filter(col("p_partkey") % 5 === 0), "uid", f2t)
      // takedown + re-index round trip
      val twoKeys = parts.orderBy("p_partkey").limit(2)
        .select("uid").collect().map(_.getString(0)).toSeq
      require(ZFts.deletefts(s, path, twoKeys)._1 > 0,
        "deletefts must tombstone the two uids' postings")
      ZFts.updatefts(s, path,
        parts.filter(col("uid").isin(twoKeys: _*)), "uid", f2t)
      // the maintained index ≡ a fresh full tokenization, exactly
      // (name-ordered projection: column order is not part of the
      // contract and exceptAll compares positionally)
      val pCols = Seq("term", "field", "uid", "pos").map(col)
      val full = graft.query.Fts.postings(parts, "uid", f2t)
        .select(pCols: _*)
      val live = ZFts.postings(s, path).select(pCols: _*)
      require(live.exceptAll(full).count() == 0 &&
        full.exceptAll(live).count() == 0,
        "the maintained postings must equal the full build exactly")
    }

  /** Memoized AUTO-PILOT table for w53: a lineitem z-table dirtied every
    * way the advisor census watches — a bloom sidecar that will go stale,
    * unmaintained landing rows (the tail append), clamped-out-of-bounds
    * keys, and a tombstoned band — then [[Layout.zorderOptimize]] runs
    * UNTIL all-clear (one bounded action per call; the builder requires
    * convergence and a clean census). Maintenance must never change
    * answers: the final table is exactly lineitem minus the band, which
    * the w53 oracle checks directly. */
  private def zorderOptimizedFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_w53_", s"$d/lineitem.parquet", "#zopt16") { path =>
      val li = t(s, d, "lineitem")
      val mx = li.agg(max("l_orderkey"), max("l_suppkey")).collect()(0)
      val (ma, mb) = (mx.getLong(0), mx.getLong(1))
      Layout.zorderInit(s, li.filter(col("l_orderkey") <= ma * 9 / 10),
        path, "l_orderkey", "l_suppkey", nFiles = 16, keepGenerations = 2)
      Layout.zorderBloomBuild(s, path, "l_orderkey")
      Layout.zorderAppend(li.filter(col("l_orderkey") > ma * 9 / 10), path)
      require(Layout.zorderDeleteVectored(s, path,
        (ma / 4, ma / 2), (mb * 2 / 5, mb / 2))._1 > 0,
        "the band must hold rows")
      val actions = scala.collection.mutable.ListBuffer.empty[(String, String)]
      var step = Layout.zorderOptimize(s, path,
        smallFileRows = 100L, tombstoneFraction = 0.01)
      var guard = 0
      while (step.isDefined && guard < 16) {
        actions += step.get; guard += 1
        step = Layout.zorderOptimize(s, path,
          smallFileRows = 100L, tombstoneFraction = 0.01)
      }
      // convergence = the LAST probe came back empty (a run needing
      // exactly 16 actions converges too — the guard only bounds the
      // loop, it is not the convergence signal)
      require(step.isEmpty, s"auto-pilot must converge: $actions")
      require(Layout.zorderAdvise(s, path,
          smallFileRows = 100L, tombstoneFraction = 0.01)
        .filter(col("fire")).count() == 0, "census must be all-clear")
      require(actions.map(_._2).contains("zorderMaintain") &&
        actions.map(_._2).contains("zorderDvMaterialize"),
        s"the landing and tombstone signals must have executed: $actions")
    }

  /** Memoized STRING-STATS table for w50/w52: orders plus a zero-padded
    * string business key `o_label` (lexicographic order ≡ numeric
    * orderkey order — the invoice-number shape) declared as a STRING stat
    * column (v3 manifests record its Prefix8-embedded bounds + null
    * counts, so string RANGE predicates prune inside the planner — w50),
    * and `o_ref` — the label's digits REVERSED (an opaque external
    * reference: decorrelated from the layout, so spans are useless for
    * it) with a STRING-domain bloom sidecar, so string POINT predicates
    * prune through the bitsets alone (w52). */
  private def zorderStrStatFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_w50_", s"$d/orders.parquet", "#zstr16b") { path =>
      val orders = t(s, d, "orders")
        .withColumn("o_label",
          lpad(col("o_orderkey").cast("string"), 8, "0"))
        .withColumn("o_ref",
          concat(lit("ref-"), reverse(lpad(col("o_orderkey").cast("string"), 8, "0"))))
      Layout.zorderInit(s, orders, path, "o_orderkey", "o_custkey",
        nFiles = 16, statCols = Seq("o_label"))
      Layout.zorderBloomBuild(s, path, "o_ref")
    }

  /** Memoized 64-file CENSUS table for w37: a plain zorderInit over full
    * lineitem (exact frozen bounds, no appends — tight spans), enough
    * files that a wide interior band fully covers interior tiles and the
    * metadata-only count path genuinely engages. */
  private def zorderCensusFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_w37_", s"$d/lineitem.parquet", "#zcensus64") { path =>
      Layout.zorderInit(s, t(s, d, "lineitem"), path,
        "l_orderkey", "l_suppkey", nFiles = 64)
    }

  /** Memoized BLOOM-INDEXED table for w36: orders clustered on
    * (o_custkey, o_totalprice) — spans useless for orderkey probes — with
    * a bloom sidecar over the UNIQUE o_orderkey, so point lookups must
    * resolve through the bitsets alone. */
  private def zorderBloomFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_w36_", s"$d/orders.parquet", "#zbloom16") { path =>
      Layout.zorderInit(s, t(s, d, "orders"), path,
        "o_custkey", "o_totalprice", nFiles = 16)
      val (scanned, _) = Layout.zorderBloomBuild(s, path, "o_orderkey",
        bits = 1 << 16, hashes = 5)
      require(scanned >= 1, "the bloom build must scan the fresh files")
    }

  /** Memoized UPSERTED table for w34: init from lineitem with a
    * deliberately CORRUPTED orderkey band (quantity ×1000), then one
    * keyed zorderUpsert of the band's true rows — the builder REQUIRES
    * the span prune engaged and the replaced count to equal the band —
    * so the oracle's plain-lineitem twin passes ONLY if the merge
    * replaced every corrupted row and inserted nothing extra. */
  private def zorderUpsertedFor(s: SparkSession, d: String): String =
    fixtureAt(s, d, "graft_w34_", s"$d/lineitem.parquet", "#zup16") { path =>
      val li = t(s, d, "lineitem")
      val ma = li.agg(max("l_orderkey")).collect()(0).getLong(0)
      val band = col("l_orderkey") > ma / 3 && col("l_orderkey") <= ma / 2
      val corrupted = li.withColumn("l_quantity",
        when(band, col("l_quantity") * 1000).otherwise(col("l_quantity")))
      Layout.zorderInit(s, corrupted, path, "l_orderkey", "l_suppkey",
        nFiles = 16)
      val fix = li.filter(band)
      val (replaced, upserted, rewritten) = Layout.zorderUpsert(s, fix, path)
      require(replaced == upserted && replaced > 0,
        s"every corrupted row must be replaced: $replaced vs $upserted")
      require(rewritten < 16,
        s"upsert must be span-pruned: rewrote $rewritten/16 files")
    }

  /** Memoized gopher GATE-ON-ARRIVAL ingest history for w24: the exactly-
    * once gate loop driven as two deterministic batches (doc_id parity),
    * with a committed-replay no-op proof on the seam — the first ingest
    * loop whose end state is ORACLE-checked, not only spec-pinned. The
    * loop takes the store's own lock per batch, inside the ensure's. A
    * FRESH JVM (in-memory catalog) may hold a valid on-disk history whose
    * tables just aren't registered, so the existence check ensures the
    * store first: metadata-only re-registration then, a create only on
    * truly-first use. */
  private def gateStoreFor(s: SparkSession, d: String): String =
    WarehouseMeta.memoFixture(s, "graft_w24_", d) { name =>
      WarehouseMeta.ensureFixture(s, name,
          WarehouseMeta.fingerprint(s"$d/documents.parquet", "#gate#t19"),
          { TextAnalysis.ensureGateStore(s, name); true }) {
        TextAnalysis.resetGateStore(s, name)
        val docs = t(s, d, "documents")
        val out = WarehouseMeta.tableLocation(s, s"${name}_out").toString
        def apply(parity: Int) = TextAnalysis.applyGateIngestBatch(s,
          docs.filter(col("doc_id") % 2 === parity), parity.toLong,
          "doc_id", "text", name, out,
          minWords = 30, maxWords = 90, minMeanWordLen = 4.0,
          maxMeanWordLen = 4.9, minAlphaFrac = 0.8, minStopwords = 2,
          stopwords = Seq("the", "a", "of", "and", "is"))
        require(apply(0) >= 0 && apply(1) >= 0, "both batches must apply")
        require(apply(1) == -1L, "committed-batch replay must no-op")
      }
      name
    }

  /** Memoized BLOCKLIST-ON-ARRIVAL ingest history for w25: t22's URL
    * fixture through the exactly-once blocklist loop as two parity
    * batches with a TAKEDOWN between them — batch 0 gates under
    * {tracker.net} only, batch 1 under {tracker.net, spam-mill.com}, so
    * the oracle checks the list-as-of-apply semantics end to end. Same
    * locking and re-registration rule as [[gateStoreFor]]. */
  private def blockStoreFor(s: SparkSession, d: String): String =
    WarehouseMeta.memoFixture(s, "graft_w25_", d) { name =>
      WarehouseMeta.ensureFixture(s, name,
          WarehouseMeta.fingerprint(s"$d/documents.parquet", "#block#t22"),
          { TextAnalysis.ensureBlocklistStore(s, name); true }) {
        TextAnalysis.resetBlocklistStore(s, name)
        val url = concat(lit("https://"),
          when(col("doc_id") % 5 === 0, lit("user:pw@Ads.Tracker.NET"))
            .when(col("doc_id") % 5 === 1, lit("sub.spam-mill.com"))
            .when(col("doc_id") % 5 === 2, lit("docs.example.org:8080"))
            .when(col("doc_id") % 5 === 3, lit("tracker.net.example.org"))
            .otherwise(lit("example.org")),
          lit("/page/"), col("doc_id"))
        val docs = t(s, d, "documents").withColumn("url", url)
        val out = WarehouseMeta.tableLocation(s, s"${name}_out").toString
        TextAnalysis.addBlockedDomains(s, name, Seq("tracker.net"))
        require(TextAnalysis.applyBlockIngestBatch(s,
          docs.filter(col("doc_id") % 2 === 0), 0L, "doc_id", "url",
          name, out) >= 0)
        TextAnalysis.addBlockedDomains(s, name, Seq("spam-mill.com"))
        require(TextAnalysis.applyBlockIngestBatch(s,
          docs.filter(col("doc_id") % 2 === 1), 1L, "doc_id", "url",
          name, out) >= 0)
        require(TextAnalysis.applyBlockIngestBatch(s,
          docs.filter(col("doc_id") % 2 === 1), 1L, "doc_id", "url",
          name, out) == -1L, "committed-batch replay must no-op")
      }
      name
    }

  /** Memoized FORGET-lifecycle signature store for d16: d14's even-half
    * store taken through the takedown surface — remove {8, 26} and COMPACT
    * them away, then tombstone {58} and leave it uncompacted so the
    * increment's store side exercises the tombstone anti-join. Same
    * apply-once discipline as the s16 vector index: a freshly built store
    * or a missing flag applies the sequence once. */
  private def dedupForgetStoreFor(s: SparkSession, d: String): String =
    WarehouseMeta.memoFixture(s, "graft_dedupforget_", d) { name =>
      val fp = WarehouseMeta.fingerprint(s"$d/documents.parquet", "#even#k3b4r4#forget")
      WarehouseMeta.ensureFixture(s, name, fp,
          !Dedup.ensureSignatureStore(s,
            tPar(s, d, "documents").filter(col("doc_id") % 2 === 0),
            "doc_id", "text", name, fp),
          applyOnce = true) {
        Dedup.removeFromSignatureStore(s, name, Seq(8L, 26L))
        Dedup.compactSignatureStore(s, name)
        Dedup.removeFromSignatureStore(s, name, Seq(58L))
      }
      name
    }

  /** Memoized incremental-dedup signature store over the even-doc_id half
    * of `documents` — the "existing corpus" side of d14. The durable
    * ensure path (fingerprint over the documents file + the batch
    * predicate) means the build runs once per CORPUS STATE, not once per
    * process: bench child JVMs and later sessions re-register the existing
    * bucketed files metadata-only (the StarWarehouse restart-survival
    * contract). The table name is md5-derived from the dir so distinct SF
    * dirs never collide in the shared warehouse. */
  private def dedupStoreFor(s: SparkSession, d: String): String =
    signatureStoreFor(s, d, "graft_dedupstore_", "#even#k3b4r4", col("doc_id") % 2 === 0)

  /** Signature store over the EVAL split (doc_id % 50 == 0) — the fuzzy
    * contamination fixture (d21). */
  private def fuzzyEvalStoreFor(s: SparkSession, d: String): String =
    signatureStoreFor(s, d, "graft_fuzzyeval_", "#eval50#k3b4r4", col("doc_id") % 50 === 0)

  private def signatureStoreFor(s: SparkSession, d: String, prefix: String,
      tag: String, split: Column): String =
    WarehouseMeta.memoFixture(s, prefix, d) { name =>
      Dedup.ensureSignatureStore(s, tPar(s, d, "documents").filter(split),
        "doc_id", "text", name, WarehouseMeta.fingerprint(s"$d/documents.parquet", tag))
      name
    }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q04_region_revenue")(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------------ queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- scans / filters / aggregation ------------------------------------
    "q01_pricing_summary" -> ((s, d) => {
      tPar(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    "q02_topk_orders" -> ((s, d) => {
      t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    }),

    "q06_selective_filter" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01"
          && col("l_discount").between(0.04, 0.06) && col("l_quantity") < 24)
        .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
          .cast("double").as("revenue"),
          count(lit(1)).as("n"))
    }),

    // --- joins -------------------------------------------------------------
    "q03_cust_orders_join" -> ((s, d) => {
      t(s, d, "customer").join(t(s, d, "orders"),
          col("c_custkey") === col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("order_cnt"),
          sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
    }),

    "q04_region_revenue" -> ((s, d) => {
      // examined r17: the decimal sum is ~0.84 CPU-s on a near-serial scan,
      // but a tPar fan-out measured NET SLOWER (1.32 vs 1.21 s — the added
      // exchange + stage outweigh the parallelism at this work size); q01's
      // heavier decimal pass is where the fan-out pays
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    "q05_part_brand" -> ((s, d) => {
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("qty"))
    }),

    "q19_above_nation_avg" -> ((s, d) => {
      val sup = t(s, d, "supplier")
      val agg = sup.groupBy(col("s_nationkey").as("nk"))
        .agg(sum(dec(col("s_acctbal"))).as("sm"), count(lit(1)).as("cnt"))
      sup.join(broadcast(agg), col("s_nationkey") === col("nk"))
        .filter(dec(col("s_acctbal")) * col("cnt") > col("sm"))
        .select("s_suppkey")
    }),

    "q20_self_join_pairs" -> ((s, d) => {
      val l1 = t(s, d, "lineitem").select(col("l_orderkey").as("k"), col("l_linenumber").as("n1"))
      val l2 = t(s, d, "lineitem").select(col("l_orderkey").as("k"), col("l_linenumber").as("n2"))
      l1.join(l2, "k").filter(col("n1") < col("n2")).agg(count(lit(1)).as("pairs"))
    }),

    // --- semi/anti/set operations -----------------------------------------
    "q09_semi_join" -> ((s, d) => {
      t(s, d, "customer")
        .join(t(s, d, "orders").select(col("o_custkey")), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_nationkey").agg(count(lit(1)).as("cust_cnt"))
    }),

    "q10_anti_join" -> ((s, d) => {
      t(s, d, "customer")
        .join(t(s, d, "orders").select(col("o_custkey")), col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey").agg(count(lit(1)).as("cust_cnt"))
    }),

    "q11_union_nationkeys" -> ((s, d) => {
      t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .union(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()
    }),

    "q23_intersect_nationkeys" -> ((s, d) => {
      t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
    }),

    "q24_except_nationkeys" -> ((s, d) => {
      t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .except(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
    }),

    // --- distinct / grouping sets / having --------------------------------
    "q07_distinct_flags" -> ((s, d) =>
      t(s, d, "lineitem").select("l_returnflag", "l_linestatus").distinct()),

    "q08_count_distinct" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").as("distinct_parts"))),

    "q14_rollup" -> ((s, d) =>
      t(s, d, "lineitem").rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))),

    "q25_cube" -> ((s, d) =>
      t(s, d, "orders").cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))),

    "q18_having" -> ((s, d) =>
      t(s, d, "orders").groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 15)),

    // --- windows -----------------------------------------------------------
    "q12_window_topk_per_cust" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "rk")
    }),

    "q13_running_count" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders")
        .withColumn("run_cnt", count(lit(1)).over(w))
        .select("o_orderkey", "run_cnt")
    }),

    // --- expressions: case/string/date/json --------------------------------
    "q15_case_bands" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("band", when(col("o_totalprice") < 50000, "low")
          .when(col("o_totalprice") < 150000, "mid").otherwise("high"))
        .groupBy("band").agg(count(lit(1)).as("cnt"))),

    "q16_string_funcs" -> ((s, d) =>
      t(s, d, "part")
        .select(upper(col("p_brand")).as("ub"),
          substring(col("p_name"), 1, 3).as("pre"),
          length(col("p_name")).as("len"))
        .groupBy("ub", "pre", "len").agg(count(lit(1)).as("cnt"))),

    "q17_date_parts" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("orders"),
          countDistinct(col("o_custkey")).as("custs"))),

    "q21_json_extract" -> ((s, d) =>
      events(s, d)
        .groupBy("event_type")
        .agg(sum(get_json_object(col("props"), "$.k").cast("int")).cast("long").as("k_sum"),
          count(lit(1)).as("cnt"))),

    "q22_daily_windows" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(dec(col("value"))).cast("double").as("value_sum"))
        .select(col("w.start").cast("date").as("day"), col("event_type"),
          col("cnt"), col("value_sum"))),

    // --- graph chain-DSL over the star projection --------------------------
    "g01_order_counts" -> ((s, d) => {
      Fetch.df(StarGraph(s, d), Fetch.Args(
        chain = "[c:customer,ordercount] <(e:PlacedBy)- (o:orders)",
        group = Some("c.uid"),
        params = Map("ordercount" -> "COUNT(o.uid)")))
        .select("uid", "ordercount")
    }),

    "g02_asia_customers" -> ((s, d) => {
      Fetch.df(StarGraph(s, d), Fetch.Args(
        chain = "[c:customer] -(e1:InNation)> (n:nation) -(e2:InRegion)> (r:region)",
        where = Seq("""r.data.r_name = "ASIA"""")))
        .select("uid")
    }),

    "g03_unordered_parts" -> ((s, d) => {
      val g = StarGraph(s, d)
      val parts = Fetch.df(g, Fetch.Args(chain = "(p:part)")).select("uid")
      val ordered = Fetch.df(g, Fetch.Args(chain = "[p:part] <(e:Contains)-")).select("uid")
      parts.join(ordered, Seq("uid"), "left_anti")
    }),

    "g04_region_reach_count" -> ((s, d) => {
      Fetch.df(StarGraph(s, d), Fetch.Args(
        chain = "[c:customer] -(e1:InNation)> (n:nation) -(e2:InRegion)> (r:region)",
        where = Seq("""r.data.r_name = "EUROPE""""), count = true))
    }),

    "g05_region_revenue_dsl" -> ((s, d) => {
      Fetch.df(StarGraph(s, d), Fetch.Args(
        chain = "[r:region,revenue] <(e2:InRegion)- (n:nation) <(e1:InNation)- (c:customer) <(e3:PlacedBy)- (o:orders)",
        group = Some("r.uid"),
        params = Map("revenue" ->
          "CAST(SUM(CAST(o.data.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)")))
        .select("uid", "revenue")
    }),

    "g06_glob_uid" -> ((s, d) => {
      Fetch.df(StarGraph(s, d), Fetch.Args(
        chain = "(c:customer)", where = Seq("c.uid GLOB 'customer:1??'")))
        .select("uid")
    }),

    "g07_fts_parts" -> ((s, d) => {
      Fetch.df(StarGraph(s, d), Fetch.Args(
        chain = "(p:part)", params = Map("p_fts" -> "red")))
        .select("uid")
    }),

    // FTS5 parenthesized boolean grouping (r11 — the last MATCH-grammar
    // gap): OR binds looser than AND without parens, so `(blue OR red) AND
    // widget` is NOT expressible in the flat grammar
    "g18_fts_parens" -> ((s, d) => {
      Fetch.df(StarGraph(s, d), Fetch.Args(
        chain = "(p:part)", params = Map("p_fts" -> "(blue OR red) AND widget")))
        .select("uid")
    }),

    // FTS v2 grammar: OR branches + positional phrase, ranked by the tf
    // score the match subquery exposes (ORDER passthrough = the reference's
    // ranking route, graphydb.py:956-962)
    "g10_fts_or_phrase" -> ((s, d) => {
      Fetch.df(StarGraph(s, d), Fetch.Args(
        chain = "[p:part,score]",
        params = Map(
          "score" -> "p_fts.score",
          "p_fts" -> "red OR widget OR \"red widget\""),
        order = Some("score DESC, p.uid ASC"),
        limit = Some(100)))
        .select("uid", "score")
    }),

    // MAINTAINED POSTINGS z-table (r16): the same OR-of-phrase-and-term
    // match shape as g10, but running over the term-major postings
    // z-table after its full increment lifecycle (insert wave, re-send,
    // takedown+re-index — the builder REQUIREs exact parity with a fresh
    // tokenization) — and the term-equality atoms must prune the
    // planner's file listing through the STRING-domain term bloom
    "g21_fts_ztable" -> ((s, d) => {
      val path = zFtsFor(s, d)
      val (df, fi) = graft.ops.ZTable.dataFrameWithIndex(s, path)
      val res = graft.query.Fts.matchScores(df.drop("_tkh"),
        "\"blue gear\" OR anvil")
      res.collect() // force the planner's real listing, then audit it
      require(fi.lastListed > 0 && fi.lastListed < fi.inputFiles.length,
        s"term blooms must prune the planner listing: " +
          s"${fi.lastListed}/${fi.inputFiles.length}")
      res
    }),

    // DISTINCT collect ordered by a NON-collected alias: customers ranked by
    // their best order's totalprice (DISTINCT→GROUP BY rewrite, max for DESC)
    "g11_order_by_joined" -> ((s, d) => {
      Fetch.df(StarGraph(s, d), Fetch.Args(
        chain = "[c:customer] <(e:PlacedBy)- (o:orders)",
        order = Some("CAST(o.data.o_totalprice AS DECIMAL(18,2)) DESC, c.uid ASC"),
        limit = Some(20)))
        .select("uid")
    }),

    // FTS NEAR/n: both terms within a 3-token window in the same field
    // (r4 — last reference-reachable grammar gap, FTS5 passthrough
    // graphydb.py:876-898)
    "g12_fts_near" -> ((s, d) => {
      Fetch.df(StarGraph(s, d), Fetch.Args(
        chain = "(p:part)", params = Map("p_fts" -> "NEAR(red widget, 3)")))
        .select("uid")
    }),

    // FTS binary NOT: red-matching parts minus widget-matching parts
    "g13_fts_not" -> ((s, d) => {
      Fetch.df(StarGraph(s, d), Fetch.Args(
        chain = "(p:part)", params = Map("p_fts" -> "red NOT widget")))
        .select("uid")
    }),

    // FTS ^term initial-token anchor (r5 — postings carry positions, so the
    // anchor compiles to `pos = 0`): parts whose NAME STARTS with "red"
    "g15_fts_anchor" -> ((s, d) => {
      Fetch.df(StarGraph(s, d), Fetch.Args(
        chain = "(p:part)", params = Map("p_fts" -> "^red")))
        .select("uid")
    }),

    // SQLite iif() through the dialect (rewritten to Spark's if()): account
    // balance banding aggregated over the fetch output
    "g14_iif_band" -> ((s, d) => {
      Fetch.df(StarGraph(s, d), Fetch.Args(
        chain = "[c:customer,band]",
        params = Map("band" ->
          "iif(CAST(c.data.c_acctbal AS DOUBLE) >= 5000, 'high', 'low')")))
        .groupBy("band").agg(count(lit(1)).as("n"))
    }),

    // SQLite aggregate surface through the dialect (SURVEY §2.4 contract):
    // group_concat 1-arg + 2-arg (separator is SQLite's SECOND argument) and
    // total() (always-REAL NULL→0.0 sum). Concat element order is
    // unspecified in both engines, so the pinned outputs are the
    // order-invariant lengths; total() runs over the integer customer key
    // (exact in doubles at any summation order).
    "g19_group_concat_total" -> ((s, d) => {
      Fetch.df(StarGraph(s, d), Fetch.Args(
        chain = "[n:nation,namechars,namechars2,totbal] <(e:InNation)- (c:customer)",
        group = Some("n.uid"),
        params = Map(
          "namechars" -> "CAST(length(group_concat(c.uid)) AS BIGINT)",
          "namechars2" -> "CAST(length(group_concat(c.uid, '; ')) AS BIGINT)",
          "totbal" -> "total(substr(c.uid, 10))")))
        .select("uid", "namechars", "namechars2", "totbal")
    }),

    "g08_orders_of_customer" -> ((s, d) => {
      Fetch.df(StarGraph(s, d), Fetch.Args(
        chain = "[o:orders] -(e:PlacedBy)> (c:customer)",
        where = Seq("c.uid = 'customer:42'")))
        .select("uid")
    }),

    "g09_order_limit_offset" -> ((s, d) => {
      Fetch.df(StarGraph(s, d), Fetch.Args(
        chain = "[c:customer,ordercount] <(e:PlacedBy)- (o:orders)",
        group = Some("c.uid"),
        order = Some("ordercount DESC, uid"),
        limit = Some(10), offset = Some(5),
        params = Map("ordercount" -> "COUNT(o.uid)")))
        .select("uid", "ordercount")
    }),

    // --- the same chains over the BUCKETED warehouse (r4) -------------------
    // w* twins of g01/g05/g08: identical Fetch args, identical oracle SQL,
    // but the graph lives in bucketed catalog tables (nodes by uid, edges by
    // startuid) — startuid joins read co-located buckets with no exchange on
    // either base table. BENCH w* vs g* measures the co-location story.
    "w01_order_counts_wh" -> ((s, d) => {
      Fetch.df(StarWarehouse(s, d), Fetch.Args(
        chain = "[c:customer,ordercount] <(e:PlacedBy)- (o:orders)",
        group = Some("c.uid"),
        params = Map("ordercount" -> "COUNT(o.uid)")))
        .select("uid", "ordercount")
    }),

    "w05_region_revenue_wh" -> ((s, d) => {
      Fetch.df(StarWarehouse(s, d), Fetch.Args(
        chain = "[r:region,revenue] <(e2:InRegion)- (n:nation) <(e1:InNation)- (c:customer) <(e3:PlacedBy)- (o:orders)",
        group = Some("r.uid"),
        params = Map("revenue" ->
          "CAST(SUM(CAST(o.data.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)")))
        .select("uid", "revenue")
    }),

    "w08_orders_of_customer_wh" -> ((s, d) => {
      Fetch.df(StarWarehouse(s, d), Fetch.Args(
        chain = "[o:orders] -(e:PlacedBy)> (c:customer)",
        where = Seq("c.uid = 'customer:42'")))
        .select("uid")
    }),

    // 2-hop motif with ZERO shuffle exchanges: both Contains edges and the
    // per-order aggregation key off startuid, which is the bucket column —
    // the self-join reads co-located sorted buckets and the groupBy reuses
    // the same clustering, so no data-bearing shuffle exists in the plan
    // (BucketingSpec asserts this; PLANS.md captures it at sf0.1)
    "w20_copart_pairs_wh" -> ((s, d) => {
      val g = StarWarehouse(s, d)
      def contains(as: String) = g.edges.filter(col("kind") === "Contains")
        .select(col("startuid"), col("uid").as(as))
      contains("uid_a").join(contains("uid_b"), "startuid")
        .filter(col("uid_a") < col("uid_b"))
        .groupBy("startuid")
        .agg(count(lit(1)).as("pairs"))
        .select(col("startuid").as("uid"), col("pairs"))
    }),

    // FTS5 aux-function surface: snippet() — postings-position window
    // choice + highlight render over the documents corpus; completes the
    // ranking surface bm25 (t05) started (FTS5 reaches snippet only via
    // raw-SQL passthrough in the reference)
    "g16_fts_snippet" -> ((s, d) =>
      Fts.snippet(tPar(s, d, "documents"), "doc_id", "text",
        Seq("spark", "join"), maxTokens = 7)),

    // whole-document highlight with match count — snippet's sibling,
    // completing the FTS5 aux-function surface (bm25 → snippet → highlight)
    "g17_fts_highlight" -> ((s, d) =>
      Fts.highlight(tPar(s, d, "documents"), "doc_id", "text",
        Seq("spark", "join"))),

    // JOURNAL REPLAY over the star warehouse — the §7.2 storage inversion
    // under the oracle hash check: the whole graph becomes full-image create
    // docs, then three deterministic change waves land at fixed seq tiers
    // (customers gain a "vip" prop at 2^50; suppliers are deleted by
    // full-image remove docs at 2^51; nations would gain "vip2" at 2^52),
    // and snapshotAt time-travels to just past the deletes. The distributed
    // per-uid fold must therefore apply creates+modifies+deletes and NOT the
    // future wave. Output: per-kind item counts + folded-prop presence. The
    // DuckDB twin states the expected post-fold world from the base tables
    // directly (suppliers gone, every customer vip, vip2 nowhere) — any
    // fold defect (wrong order, missed remove, leaked future doc) breaks
    // the hash.
    "w21_journal_snapshot" -> ((s, d) => {
      import graft.engine.Journal
      val g = StarWarehouse(s, d)
      val modSeq = 1L << 50; val delSeq = 1L << 51; val futSeq = 1L << 52
      val creates = Journal.snapshotAsChanges(g.nodes, g.edges, startSeq = 0L)
      def wave(items: DataFrame, seq: Long, add: Option[String], remove: Option[Column]) =
        items.select(lit(seq).as("seq"), col("uid"),
          add.map(lit(_)).getOrElse(lit(null)).cast("string").as("add"),
          remove.getOrElse(lit(null)).cast("string").as("remove"),
          lit(1.0).as("time"), md5(col("uid")).as("rev"),
          lit(null).cast("string").as("batch"))
      val mods = wave(g.nodes.filter(col("kind") === "customer"), modSeq,
        Some("""{"vip":true}"""), None)
      // remove values are ignored by the fold — only KEYS matter, and the
      // full supplier image is core keys + its two prop keys
      val dels = wave(g.nodes.filter(col("kind") === "supplier"), delSeq,
        None, Some(lit("""{"uid":0,"kind":0,"ctime":0,"mtime":0,"s_name":0,"s_acctbal":0}""")))
      val future = wave(g.nodes.filter(col("kind") === "nation"), futSeq,
        Some("""{"vip2":true}"""), None)
      val journal = creates.unionByName(mods).unionByName(dels).unionByName(future)
      // one grouped pass over the folded backing instead of
      // stats(nodes) ∪ stats(edges) (r17 opt, guide §2.3 aggregate-once):
      // node and edge rows partition the backing and their kind sets are
      // disjoint, so grouping the backing by kind yields the identical row
      // set while scanning the fold output (and running the JSON probes)
      // once instead of twice. Oracle-pinned.
      val snap = Journal.fold(s, journal, maxSeq = delSeq + 1)
      // json_tuple: BOTH prop probes from ONE parse of props per row (r17,
      // guide §1.2 per-task work) — two get_json_object calls each re-parsed
      // the JSON; presence semantics are identical (both return NULL exactly
      // when the top-level key is absent). Oracle-pinned.
      snap.backing
        .select(col("kind"),
          json_tuple(col("props"), "vip", "vip2").as(Seq("_vip", "_vip2")))
        .groupBy("kind").agg(
          count(lit(1)).as("n"),
          sum(when(col("_vip").isNotNull, 1).otherwise(0)).as("n_vip"),
          sum(when(col("_vip2").isNotNull, 1).otherwise(0)).as("n_vip2"))
    }),

    // --- dedup family (documents) ------------------------------------------
    "d01_exact_dedup_stats" -> ((s, d) =>
      t(s, d, "documents").agg(
        count(lit(1)).as("total_docs"),
        countDistinct(md5(col("text"))).as("distinct_docs"),
        countDistinct(TextAnalysis.fingerprint(col("text"), 32)).as("distinct_norm"))),

    "d02_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(tPar(s, d, "documents"), "doc_id", "text", k = 3, threshold = 0.5)),

    // explicit bucket cap (matches the oracle's HAVING <= 1000) — capping is
    // opt-in since r4; production pipelines pair it with lshOverflowBuckets
    "d03_lsh_candidates" -> ((s, d) =>
      Dedup.lshCandidates(tPar(s, d, "documents"), "doc_id", "text",
        k = 3, bands = 4, rowsPerBand = 4, maxBucket = 1000L)),

    "d04_simhash" -> ((s, d) =>
      Dedup.simhash(tPar(s, d, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")),

    "d05_embedding_dups" -> ((s, d) =>
      Dedup.embeddingDupPairs(t(s, d, "embeddings"), "vec_id", "embedding", "label", 0.35)),

    "d06_embedding_dups_lsh" -> ((s, d) =>
      Dedup.embeddingDupPairsLsh(t(s, d, "embeddings"), "vec_id", "embedding", 0.35, bits = 4)),

    // SemDeDup-style semantic dedup (r11): codebook cells via shuffle-free
    // argmax-cosine assignment (s09's quantizer), exact cosine pairs WITHIN
    // cells, transitive clusters, min-id survivor per semantic cluster
    "d18_semantic_dedup" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cb = emb.filter(col("vec_id").isin(1, 5, 9))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble).toSeq))
        .sortBy(_._1).toSeq
      Dedup.semanticDedup(s, emb, "vec_id", "embedding", cb, threshold = 0.35)
        .select(col("vec_id"), col("label"))
    }),

    // multi-probe LSH self-dedup (r11): 8 hyperplane bits keep buckets
    // small at corpus scale, radius-1 probing recovers the pairs that
    // straddle one plane — result = {bucket-hamming <= 1 AND cosine >= t},
    // which the DuckDB twin expresses as a bit_count(xor) theta-join
    "d17_embedding_dups_probed" -> ((s, d) =>
      Dedup.embeddingDupPairsLshProbed(t(s, d, "embeddings"), "vec_id", "embedding",
        0.35, bits = 8, probeRadius = 1)),

    "d07_simhash_pairs" -> ((s, d) =>
      Dedup.simhashDupPairs(tPar(s, d, "documents"), "doc_id", "text", maxHamming = 3)),

    // multimodal driver entry (r11): the oracle corpus carries no binary
    // media, so the fixture derives REAL decodable BMPs from doc ids and
    // runs the full encode→decode→dHash→band-join path. Deliberately NO
    // oracleSql twin — DuckDB cannot decode pixels — so the driver records
    // the weaker rows-only check (MultimodalSpec pins the exact pair set)
    "m01_image_dup_pairs" -> ((s, d) => {
      val media = graft.ops.Multimodal.syntheticBmpCorpus(s,
        tPar(s, d, "documents").select("doc_id"), "doc_id")
      graft.ops.Multimodal.imageDupPairs(s, media).orderBy("id_a", "id_b")
    }),

    // audio path end-to-end (rows-only: no SQL engine decodes RIFF/PCM):
    // synthetic-but-REAL WAVs from doc ids → PCM16 decode → 8 kHz → 4 kHz
    // linear resample; per-row resample outcomes are the checked rows
    "m02_audio_resample" -> ((s, d) => {
      val media = graft.ops.Multimodal.syntheticWavCorpus(s,
        tPar(s, d, "documents").select("doc_id"), "doc_id")
        .withColumn("kind", lit("wav"))
      graft.ops.Multimodal.resampleAudio(s, media, targetRate = 4000)
        .toDF().select("media_id", "kind", "resampled", "out_rate", "n_samples")
        .orderBy("media_id")
    }),

    // video path end-to-end (rows-only: no SQL engine decodes GIF frames):
    // synthetic-but-REAL animated GIFs from doc ids → multi-frame decode →
    // uniform 4-slot sampling with container-delay timestamps + per-frame
    // dHash; per-frame outcomes are the checked rows
    "m03_video_frames" -> ((s, d) => {
      val media = graft.ops.Multimodal.syntheticGifCorpus(s,
        tPar(s, d, "documents").select("doc_id"), "doc_id")
      graft.ops.Multimodal.sampleVideoFrames(s, media, targetFrames = 4)
        .toDF().select("media_id", "slot", "frame_idx", "ts_ms", "dhash", "status")
        .orderBy("media_id", "slot")
    }),

    // video near-dup: temporally-aligned sampled-frame dHashes through the
    // SAME Hamming band machinery as m01/d07 — within-4-block ids pair on
    // all 4 slots (MultimodalSpec pins the exact pair set + slot counts)
    "m04_video_dup_pairs" -> ((s, d) => {
      val media = graft.ops.Multimodal.syntheticGifCorpus(s,
        tPar(s, d, "documents").select("doc_id"), "doc_id")
      graft.ops.Multimodal.videoDupPairs(s, media)
        .orderBy("video_a", "video_b")
    }),

    // audio near-dup (rows-only: no SQL engine runs Goertzel over PCM):
    // deterministic tone-ladder WAVs → REAL PCM16 decode → 65-band spectral
    // sign fingerprint → the SAME Hamming band machinery as m01/m04 —
    // within-4-block ids pair exactly (MultimodalSpec pins the pair set)
    "m05_audio_dup_pairs" -> ((s, d) => {
      val media = graft.ops.Multimodal.syntheticToneCorpus(s,
        tPar(s, d, "documents").select("doc_id"), "doc_id")
      graft.ops.Multimodal.audioDupPairs(s, media).orderBy("id_a", "id_b")
    }),

    // FUZZY contamination: MinHash near-dup (not exact shingles — catches
    // paraphrased/lightly-edited benchmark leaks d08/d20 miss) of TRAIN
    // docs against a signature store built over the EVAL split; per train
    // doc, the closest eval doc and its estimated Jaccard. Eval/train ids
    // are disjoint (%50), so the normalized pair recovers its sides.
    // Fixture note: the corpus' near-dup clusters rarely straddle the 1/50
    // eval split — sf0.01 surfaces exactly one leak (est 0.9375), whose
    // hash must still match exactly.
    "d21_fuzzy_contamination" -> ((s, d) => {
      val store = fuzzyEvalStoreFor(s, d)
      val train = tPar(s, d, "documents").filter(col("doc_id") % 50 =!= 0)
      Dedup.dedupIncrement(s, train, "doc_id", "text", store, minEstimate = 0.5)
        .select(
          when(col("id_a") % 50 === 0, col("id_b")).otherwise(col("id_a")).as("doc_id"),
          when(col("id_a") % 50 === 0, col("id_a")).otherwise(col("id_b")).as("eval_id"),
          col("est_jaccard"))
        .groupBy("doc_id")
        .agg(max(col("est_jaccard")).as("max_est"),
          max_by(col("eval_id"),
            struct(col("est_jaccard"), -col("eval_id"))).as("closest_eval"))
    }),

    // Adamic–Adar link prediction over the urgent-order co-purchase graph
    // (x08's edge derivation): which part pairs are LIKELY to co-purchase
    // next. maxDegree=40 actually engages on this fixture (hub parts are
    // excluded as intermediaries, audited by hubIntermediaries)
    "x10_adamic_adar" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        .join(t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"))
      val pairs = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("src"))
        .join(li.select(col("l_orderkey").as("ok"), col("l_partkey").as("dst")), "ok")
        .filter(col("src") < col("dst")) // one orientation per unordered pair:
        // canonEdges least/greatest+distinct downstream yields the identical
        // simple graph from half the join output (r16 opt, guide §2.3)
      graft.ops.Analytics.adamicAdar(pairs, maxDegree = 40)
        .orderBy(col("aa_score").desc, col("a"), col("b"))
        .limit(20)
        .select(col("a").as("part_a"), col("b").as("part_b"), col("aa_score"))
    }),

    // container metadata extraction end-to-end (rows-only: no SQL engine
    // parses MP4 boxes / FLAC STREAMINFO / MPEG frame headers): ids rotate
    // through REAL minimal FLAC/MP4/MP3 headers with id-keyed durations
    // plus junk rows — every parser arm including the quarantine one
    "m06_container_meta" -> ((s, d) => {
      val media = graft.ops.Multimodal.syntheticContainerCorpus(s,
        tPar(s, d, "documents").select("doc_id"), "doc_id")
      graft.ops.Multimodal.extractContainerMetadata(s, media)
        .toDF().orderBy("media_id")
    }),

    // benchmark-contamination: eval split = doc_id % 50 == 0, 5-gram shingles
    "d08_contamination" -> ((s, d) =>
      Dedup.contamination(tPar(s, d, "documents"), "doc_id", "text",
        col("doc_id") % 50 === 0, k = 5)
        .withColumnRenamed("id", "doc_id")),

    // the guard transposes d08: a persisted eval-shingle store (bucketed,
    // restart-surviving — the static side of contaminationGuardStream)
    // scores candidate TRAINING docs for benchmark leakage
    "d20_contamination_guard" -> ((s, d) => {
      // dir-keyed name (the dedupStoreFor discipline): distinct SF dirs
      // must never share one store in the common warehouse
      val store = WarehouseMeta.fixtureName("graft_d20_guard_", d)
      val docs = tPar(s, d, "documents")
      Dedup.writeEvalShingleStore(s, docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", store, k = 5)
      Dedup.contaminationAgainstStore(s, docs.filter(col("doc_id") % 50 =!= 0),
          "doc_id", "text", store)
        .withColumnRenamed("id", "doc_id")
    }),

    // production Jaccard: df-capped pairing (shingles in >3 docs are hot join
    // keys — excluded from pairing, audited by d10). d02 is the uncapped
    // correctness twin; this is the scale-path entry. maxDf=3 on this
    // fixture yields 21 pairs vs d02's uncapped 25, so the twin check
    // actually exercises the cap (maxDf=2 returned 0 rows — vacuous).
    "d09_jaccard_capped" -> ((s, d) =>
      Dedup.ngramJaccardPairs(tPar(s, d, "documents"), "doc_id", "text",
        k = 3, threshold = 0.5, maxDf = 3)),

    // the cap's audit: exactly which shingle hashes d09 refused to pair on
    "d10_jaccard_overflow" -> ((s, d) =>
      Dedup.jaccardOverflowShingles(tPar(s, d, "documents"), "doc_id", "text",
        k = 3, maxDf = 3)),

    // repeated-n-gram scrub (fixed-length exact-substring dedup): n=3 grams
    // in >= 3 distinct docs are boilerplate; covered positions drop.
    // Fixture-scaled parameters (2275 hot grams, 498/500 docs touched —
    // non-vacuous); production uses n >= 10 and a high minDf
    "d11_ngram_scrub" -> ((s, d) =>
      Dedup.scrubRepeatedNgrams(tPar(s, d, "documents"), "doc_id", "text", n = 3, minDf = 3)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_removed"),
          col("cleaned_text"))),

    // partial-dup metric: shared / min(|A|,|B|) — catches a doc embedded in
    // a much larger one, which Jaccard under-scores (quote/boilerplate case)
    "d13_containment" -> ((s, d) =>
      Dedup.ngramContainmentPairs(tPar(s, d, "documents"), "doc_id", "text",
        k = 3, threshold = 0.8)),

    // exact-substring dedup, detection view (Lee et al. 2021 re-expressed
    // distributed): per-doc count of word-anchored 40-char windows whose
    // text recurs ANYWHERE in the corpus — the twin re-derives the same
    // word-start anchors from split-on-space prefix sums
    "d22_dup_substrings" -> ((s, d) =>
      Dedup.duplicatedWindows(tPar(s, d, "documents"), "doc_id", "text",
          windowLen = 40)
        .groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_dup_windows"))),

    // substring-granular contamination: eval docs (doc_id % 17 == 0)
    // probed against the train split — verbatim 40-char spans count even
    // when the surrounding document is novel (shingle-set scores dilute
    // them); the twin mirrors the window CTEs + a distinct semi-join
    "d24_substring_contamination" -> ((s, d) => {
      val docs = tPar(s, d, "documents")
      Dedup.substringContamination(
          docs.filter(col("doc_id") % 17 === 0),
          docs.filter(col("doc_id") % 17 =!= 0),
          "doc_id", "text", windowLen = 40)
        .withColumnRenamed("id", "doc_id")
    }),

    // exact-substring SCRUB (the Lee 2021 removal): every duplicated
    // window's span cut except the corpus-first occurrence, overlapping
    // cuts merged — checked through per-doc scrubbed LENGTH, which the
    // twin re-derives with the same election (row_number over (id, pos))
    // and a gaps-and-islands merge of the fixed-length spans
    "d23_substring_scrub" -> ((s, d) =>
      Dedup.scrubDuplicatedSpans(tPar(s, d, "documents"), "doc_id", "text",
          windowLen = 40)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("scrubbed_len"))),

    // INCREMENTAL dedup — the maintained-index production shape: batch 2
    // (odd doc_ids) deduped against the PERSISTED signature store of batch 1
    // (even doc_ids). Candidates come from a bucket join of new band
    // signatures vs the store; est-jaccard re-scores from stored signature
    // arrays. Batch-1 TEXT is never re-scanned (DedupSpec pins the plan);
    // the oracle twin re-derives both batches from scratch, proving the
    // store loses nothing vs full recomputation.
    "d14_incremental_dedup" -> ((s, d) => {
      val store = dedupStoreFor(s, d)
      val batch2 = tPar(s, d, "documents").filter(col("doc_id") % 2 === 1)
      Dedup.dedupIncrement(s, batch2, "doc_id", "text", store,
        k = 3, bands = 4, rowsPerBand = 4, minEstimate = 0.5)
    }),

    // TAKEDOWN over the maintained index — d14 against a store that has
    // FORGOTTEN docs {8, 26} (removed + compacted) and {58} (tombstoned,
    // uncompacted): their pairs vanish from the increment without any
    // re-shingling, and the twin re-derives from raw text minus the
    // forgotten ids, proving forget ≡ rebuild-without-them.
    "d16_forget_increment" -> ((s, d) => {
      val store = dedupForgetStoreFor(s, d)
      val batch2 = tPar(s, d, "documents").filter(col("doc_id") % 2 === 1)
      Dedup.dedupIncrement(s, batch2, "doc_id", "text", store,
        k = 3, bands = 4, rowsPerBand = 4, minEstimate = 0.5)
    }),

    // END-TO-END cleaned corpus — the deliverable the dedup family exists
    // to produce: LSH candidates → transitive clusters (x04's machinery) →
    // keep the min-id representative per cluster, emit every surviving
    // row's manifest. The manifest (not text) is the output so the result
    // stays shuffle-light; at 100 TB it joins back to the corpus by doc_id
    // for the physical rewrite.
    "d15_dedup_corpus" -> ((s, d) => {
      val docs = tPar(s, d, "documents")
      val cands = Dedup.lshCandidates(docs, "doc_id", "text")
      val clusters = Dedup.dupClusters(s, cands)
      Dedup.dedupByClusters(docs, "doc_id", clusters)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),

    // quality-aware variant of d15: near-dup clusters keep their BEST copy
    // (highest distinct-token count, ties → min id) instead of their
    // oldest — the curation keep-rule. Same LSH/cluster plumbing; only the
    // winner election differs (one max_by aggregate on the cluster key).
    "d19_dedup_best" -> ((s, d) => {
      val docs = tPar(s, d, "documents")
      val cands = Dedup.lshCandidates(docs, "doc_id", "text")
      val clusters = Dedup.dupClusters(s, cands)
      val scored = docs.select(col("doc_id"),
        TextAnalysis.distinctTokenCount(col("text")).as("q"))
      Dedup.dedupByClustersBest(docs, "doc_id", clusters, scored, "q")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),

    // LSH verify stage: candidates re-scored from their MinHash signatures
    // (no second shingle pass over the corpus — see Dedup scaladoc)
    "d12_lsh_verified" -> ((s, d) => {
      val docs = tPar(s, d, "documents")
      val cands = Dedup.lshCandidates(docs, "doc_id", "text",
        k = 3, bands = 4, rowsPerBand = 4, maxBucket = 1000L)
      Dedup.estimateJaccardBySignature(docs, "doc_id", "text", cands,
        k = 3, numHashes = 16, minEstimate = 0.5)
    }),

    // --- similarity search (embeddings) -------------------------------------
    "s01_cosine_knn" -> ((s, d) =>
      Similarity.bruteForceTopK(t(s, d, "embeddings"), "vec_id", "embedding", queryId = 0, k = 5)),

    // maximum-inner-product top-k (magnitude-aware retrieval/recsys
    // scoring) — exact baseline via the codegen'd dot_product expression
    "s21_mips" -> ((s, d) =>
      Similarity.mipsTopK(t(s, d, "embeddings"), "vec_id", "embedding", queryId = 3, k = 5)),

    // the MIPS→cosine reduction driven end-to-end: augmented corpus, LSH
    // bucket blocking at FULL probe radius (= every bucket — the d02-style
    // correctness-twin posture), exact inner-product re-score. Must equal
    // s21 row-for-row; the approximate radius-1 path is spec-pinned.
    "s22_mips_lsh" -> ((s, d) =>
      Similarity.mipsTopKLsh(t(s, d, "embeddings"), "vec_id", "embedding",
        queryId = 3, k = 5, bits = 4, probeRadius = 4)),

    "s02_ann_ivf" -> ((s, d) =>
      Similarity.ivfTopK(t(s, d, "embeddings"), "vec_id", "embedding", "label", queryId = 7, k = 5)),

    "s03_vector_stats" -> ((s, d) =>
      // array-function surface: per-label norm statistics over ARRAY<FLOAT>
      t(s, d, "embeddings")
        .select(col("label"), Similarity.norm(col("embedding")).as("nrm"),
          aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + abs(x.cast("double"))).as("l1"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          round(max(col("nrm")), 4).as("max_norm"),
          round(max(col("l1")), 4).as("max_l1"))),

    // --- sampling (deterministic, hash-keyed) --------------------------------
    "s04_stratified_sample" -> ((s, d) =>
      Sampling.stratifiedExact(t(s, d, "embeddings"), "label", "vec_id", n = 3)
        .select("vec_id", "label")),

    "s05_hash_sample" -> ((s, d) =>
      Sampling.hashSample(t(s, d, "documents"), "doc_id", fraction = 0.1)
        .select("doc_id")),

    // data mixing: explicit per-label counts (labels 0/1/3/7 at 5/2/4/1)
    "s06_weighted_mix" -> ((s, d) =>
      Sampling.weightedMix(t(s, d, "embeddings"), "label", "vec_id",
        Map("0" -> 5, "1" -> 2, "3" -> 4, "7" -> 1))
        .select("vec_id", "label")),

    // batched ANN: one corpus pass answers a 3-query batch (bits=4 LSH
    // buckets, same deterministic planes as d06)
    "s07_ann_batch" -> ((s, d) => {
      val bucketed = Similarity.bucketize(t(s, d, "embeddings"), "embedding", bits = 4)
      Similarity.cosineLshTopKBatch(bucketed,
        bucketed.filter(col("vec_id").isin(0, 7, 11)), "vec_id", "embedding", k = 5)
    }),

    // ANN quality evaluation: recall@5 of the LSH-bucketed batch against the
    // exact brute-force baseline on the same query set — the measurement
    // loop that tunes bits/probes at corpus scale
    "s12_ann_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val bucketed = Similarity.bucketize(emb, "embedding", bits = 4)
      val queries = bucketed.filter(col("vec_id").isin(0, 7, 11))
      val approx = Similarity.cosineLshTopKBatch(bucketed, queries,
        "vec_id", "embedding", k = 5)
      val exact = Similarity.bruteForceTopKBatch(emb, queries.drop("_bucket"),
        "vec_id", "embedding", k = 5)
      Similarity.recallAtK(approx, exact)
    }),

    // the SHIPPED high-recall ANN configuration (s12 is the meter; this is
    // the operating point): bits=5 multi-probe radius=3, chosen by a
    // tri-SF sweep (PLANS.md §Round-9) as the cheapest config with
    // recall@5 ≥ 0.8 for EVERY query at every SF — 26/32 of bucket space
    // on this unstructured synthetic corpus (real clustered embeddings
    // reach the target at far lower probe fractions; the dial is the
    // deliverable, the point is corpus-specific)
    "s13_ann_high_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val bucketed = Similarity.bucketize(emb, "embedding", bits = 5)
      val queries = bucketed.filter(col("vec_id").isin(0, 7, 11))
      val approx = Similarity.cosineLshTopKBatchMultiProbe(bucketed, queries,
        "vec_id", "embedding", k = 5, bits = 5, radius = 3)
      val exact = Similarity.bruteForceTopKBatch(emb, queries.drop("_bucket"),
        "vec_id", "embedding", k = 5)
      Similarity.recallAtK(approx, exact)
    }),

    // IVF with a REAL coarse quantizer (not the label stand-in of s02): the
    // codebook = embeddings of rows 1/5/9, folded into one shuffle-free
    // assignment expression; the query probes only its own centroid's cell
    "s09_ann_ivf_codebook" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cb = emb.filter(col("vec_id").isin(1, 5, 9))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble).toSeq))
        .sortBy(_._1).toSeq
      val assigned = Similarity.assignByCodebook(emb, "embedding", cb)
      val q = assigned.filter(col("vec_id") === 7)
        .select(col("embedding").as("qv"),
          Similarity.norm(col("embedding")).as("qn"), col("_cid").as("qcid"))
      assigned.filter(col("vec_id") =!= 7)
        .join(broadcast(q), col("_cid") === col("qcid"))
        .select(col("vec_id").as("id"), col("_cid").as("cid"),
          round(Similarity.dot(col("embedding"), col("qv"))
            / (Similarity.norm(col("embedding")) * col("qn")), 4).as("cosine"))
        .orderBy(col("cosine").desc, col("id")).limit(5)
    }),

    // s07 through a PERSISTED vector index (the durable-layout twin): the
    // corpus's LSH layout lives in a bucketed table that survives process
    // restarts (fingerprint + sidecar re-registration, like the d14
    // signature store) — probes read pre-clustered partitions with no
    // per-session re-bucketing, and results are bit-identical to s07
    "s15_ann_index_store" -> ((s, d) => {
      val name = vectorIndexFor(s, d)
      val (bucketed, _) = Similarity.vectorIndex(s, name, "vec_id", "embedding")
      Similarity.cosineLshTopKBatch(bucketed,
        bucketed.filter(col("vec_id").isin(0, 7, 11)), "vec_id", "embedding", k = 5)
    }),

    // INDEX LIFECYCLE: the s15 layout taken through its full maintenance
    // surface — build on the even half, APPEND the odd half (bucket-local
    // insertInto, no reshuffle of existing files), tombstone-DELETE
    // {1,8} + COMPACT, tombstone {2,13} left uncompacted — then query.
    // The oracle recomputes the same ANN batch over the surviving set from
    // raw embeddings, proving the mutation path loses nothing vs rebuild.
    "s16_ann_index_lifecycle" -> ((s, d) => {
      val name = vectorIndexLifecycleFor(s, d)
      val (bucketed, _) = Similarity.vectorIndex(s, name, "vec_id", "embedding")
      Similarity.cosineLshTopKBatch(bucketed,
        bucketed.filter(col("vec_id").isin(0, 7, 11)), "vec_id", "embedding", k = 5)
    }),

    // IVF multi-probe (the recall dial s09's single-cell probe lacks): the
    // query scans its 2 nearest of the 3 cells — scanned fraction
    // nprobe/nlist; probe-set derivation is the same shuffle-free codegen
    // projection as the corpus assignment
    "s14_ann_ivf_nprobe" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cb = emb.filter(col("vec_id").isin(1, 5, 9))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble).toSeq))
        .sortBy(_._1).toSeq
      Similarity.ivfTopKNprobe(emb, "vec_id", "embedding", cb,
        queryId = 7, k = 5, nprobe = 2)
    }),

    // epoch-style fractional upsampling: label 0 ×2.5, label 1 ×0.5 (halved),
    // label 3 ×1.25 — weights chosen with exact binary fractions so the
    // hash-threshold comparison is FP-identical across engines
    "s08_weighted_mix_frac" -> ((s, d) =>
      Sampling.weightedMixFractional(t(s, d, "embeddings"), "label", "vec_id",
        Map("0" -> 2.5, "1" -> 0.5, "3" -> 1.25))
        .select("vec_id", "label", "copy_idx")),

    // temperature resampling over the skewed lang distribution (en 2-3x
    // the others): alpha=0.5 flattens toward uniform — en downsamples,
    // fr upsamples past 1.0 (fractional copies) — the standard
    // multilingual mixing trick with weights derived from observed sizes
    "s17_temperature_mix" -> ((s, d) =>
      Sampling.temperatureMix(t(s, d, "documents"), "lang", "doc_id",
        alpha = 0.5, targetRows = 400)
        .select("doc_id", "lang", "copy_idx")),

    // epoch-2 deterministic shuffle into 4 shards: reproducible training
    // order, per-shard windows only
    "s10_epoch_shuffle" -> ((s, d) =>
      Sampling.epochShuffle(t(s, d, "documents"), "doc_id", shards = 4, seed = 2)
        .select(col("doc_id"), col("_shard").as("shard"), col("_pos").as("pos"))),

    // deterministic 90/5/5 train/val/test split: disjoint + exhaustive by
    // cumulative md5 bands, stable under corpus growth (leakage-safe);
    // the full per-doc assignment is the hashed result
    "s20_hash_split" -> ((s, d) =>
      Sampling.hashSplit(t(s, d, "documents"), "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("split"))),

    // product quantization + asymmetric-distance scan: 64-dim vectors tile
    // into 4×16-dim subspaces, codebooks = subvector slices of rows 1/5/9
    // (the offline-learned-codebook stand-in, same recipe as s09), corpus
    // compresses to 4 small codes, and the query ranks by summed lookup-
    // table entries — pure map work + physical top-k, no join, no shuffle
    "s11_pq_adc" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val rows = emb.filter(col("vec_id").isin(1, 5, 9))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble).toSeq))
        .sortBy(_._1).toSeq
      val books: Similarity.PqCodebooks =
        (0 until 4).map(j => rows.map { case (cid, v) => (cid, v.slice(j * 16, (j + 1) * 16)) })
      val q = emb.filter(col("vec_id") === 7)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
      Similarity.pqTopK(
        Similarity.encodePq(emb.filter(col("vec_id") =!= 7), "embedding", books),
        "vec_id", q, books, k = 5)
    }),

    // scalar quantization (SQ8): per-dim min/max train in one aggregation,
    // 8-bit encode, ADC ranking over codes only — the cheap 4× tier below
    // PQ. Query 3 excluded from the ranked corpus, as s11/s01 do.
    "s23_sq8_adc" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val p = Similarity.trainSq(emb, "embedding")
      val q = emb.filter(col("vec_id") === 3)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
      Similarity.sqTopK(
        Similarity.encodeSq(emb.filter(col("vec_id") =!= 3), "embedding", p),
        "vec_id", q, p, k = 5)
    }),

    // IVFADC: coarse cells from the s09 quantizer (rows 1/5/9), residual
    // PQ codebooks from a fixed residual trio (row2−row1, row6−row5,
    // row10−row9), query probes its top-2 cells with per-cell ADC tables —
    // the true billion-scale layout: cell id + M residual bytes per row
    "s19_ivfadc" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      def vecOf(id: Long) = emb.filter(col("vec_id") === id)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
      val cb = Seq(1L, 5L, 9L).map(i => (i.toInt, vecOf(i)))
      val trio = Seq((2L, 1L), (6L, 5L), (10L, 9L)).zipWithIndex.map {
        case ((a, b), i) => (i, vecOf(a).zip(vecOf(b)).map { case (x, y) => x - y })
      }
      val books: Similarity.PqCodebooks =
        (0 until 4).map(j => trio.map { case (cid, v) => (cid, v.slice(j * 16, (j + 1) * 16)) })
      Similarity.ivfAdcTopK(emb.filter(col("vec_id") =!= 7), "vec_id", "embedding",
        cb, books, vecOf(7L), nprobe = 2, k = 5)
    }),

    // shortlist-refine over the same PQ layout as s11: the compact codes
    // rank the whole corpus, the top-20 shortlist broadcasts, and ONLY
    // those 20 rows' full vectors are re-read for the exact-cosine top-5 —
    // the IVFPQ+refine serving recipe where full-precision access is O(k'),
    // not O(corpus)
    "s18_pq_rerank" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val rows = emb.filter(col("vec_id").isin(1, 5, 9))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble).toSeq))
        .sortBy(_._1).toSeq
      val books: Similarity.PqCodebooks =
        (0 until 4).map(j => rows.map { case (cid, v) => (cid, v.slice(j * 16, (j + 1) * 16)) })
      val q = emb.filter(col("vec_id") === 7)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
      val corpus = emb.filter(col("vec_id") =!= 7)
      Similarity.pqTopKRerank(
        Similarity.encodePq(corpus, "embedding", books), corpus,
        "vec_id", "embedding", q, books, shortlist = 20, k = 5)
    }),

    // HLL sketch vs exact (r5: oracle-checkable after all). The raw sketch
    // value has no DuckDB twin (different HLL implementations), but the
    // sketch's CONTRACT does: |approx − exact| ≤ 10% · exact (HLL++ default
    // rsd is 5%; 2× headroom). Spark's HLL is deterministic for fixed data,
    // so the boolean is stable; DuckDB's twin asserts the same rows with a
    // literal TRUE — a dishonest sketch hash-mismatches.
    "x01_approx_distinct" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx") - col("exact_parts"))
            <= col("exact_parts") * 0.1).as("approx_ok"))),

    // approx_percentile scale twin (the x01 HLL pattern for quantiles):
    // exact percentiles are DISCRETE rank picks — value at row number
    // floor(p*(n-1))+1 — integral and engine-identical, no interpolation
    // arithmetic to diverge in the last ulp; the sketch result is bound by
    // the rank-error contract (accuracy=100 → guaranteed rank error
    // ≤ 1/100; the band picks p ± 0.02). The exact side's per-group sort
    // is the MEASUREMENT cost a recall/error evaluation pays on a sample,
    // not a production-path shape — production keeps only the sketch.
    "x06_approx_percentiles" -> ((s, d) => {
      val w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
      val wAll = Window.partitionBy("l_returnflag")
      def pickAt(pos: Column) =
        max(when(col("rn") === pos, col("l_extendedprice")))
      def rank(p: Double) = floor((col("n") - 1) * p).cast("long") + 1
      def rankLo(p: Double) = greatest(lit(1L), rank(math.max(0.0, p - 0.02)))
      def rankHi(p: Double) = least(col("n"), rank(math.min(1.0, p + 0.02)))
      val ranked = t(s, d, "lineitem").select(col("l_returnflag"), col("l_extendedprice"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wAll))
      val exact = ranked.groupBy("l_returnflag").agg(
        pickAt(rank(0.5)).as("p50"), pickAt(rank(0.9)).as("p90"),
        pickAt(rank(0.99)).as("p99"),
        pickAt(rankLo(0.5)).as("lo50"), pickAt(rankHi(0.5)).as("hi50"),
        pickAt(rankLo(0.9)).as("lo90"), pickAt(rankHi(0.9)).as("hi90"),
        pickAt(rankLo(0.99)).as("lo99"), pickAt(rankHi(0.99)).as("hi99"))
      val approx = t(s, d, "lineitem").groupBy("l_returnflag").agg(
        expr("approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 100)")
          .as("ap"))
      exact.join(approx, "l_returnflag").select(col("l_returnflag"),
        col("p50"), col("p90"), col("p99"),
        (element_at(col("ap"), 1).between(col("lo50"), col("hi50")) &&
         element_at(col("ap"), 2).between(col("lo90"), col("hi90")) &&
         element_at(col("ap"), 3).between(col("lo99"), col("hi99")))
          .as("approx_ok"))
    }),

    // count-min-sketch heavy hitters (the x01/x06 pattern for frequency):
    // ONE distributed pass folds the corpus into a mergeable d×w counter
    // grid (the merge is counter addition — commutative, so the estimate
    // is deterministic for a fixed seed regardless of partition order);
    // estimates are bound by the CMS guarantee — never under exact, over
    // by at most eps·total across the top-20 — against the exact counts
    // the twin re-derives. Production keeps only the sketch: frequency
    // queries over 100 TB of tokens answer from kilobytes of counters.
    "x07_heavy_hitters" -> ((s, d) => {
      import s.implicits._
      val toks = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
      val eps = 0.001
      val cms = toks.stat.countMinSketch("tok", eps, 0.99, 42)
      val slack = (eps * cms.totalCount()).toLong
      val top = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
        .orderBy(col("exact").desc, col("tok")).limit(20).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      top.toSeq.map { case (tok, exact) =>
        val est = cms.estimateCount(tok)
        (tok, exact, est >= exact && est <= exact + slack)
      }.toDF("tok", "exact", "cms_ok")
    }),

    // per-part triangle counts over the urgent-order co-purchase graph
    // (parts sharing an order are adjacent) — compact-forward with degree
    // orientation, so the wedge set stays O(m^1.5) under any skew; the
    // DuckDB twin enumerates the same triangle set via id-ordered 3-joins
    "x08_copart_triangles" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        .join(t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"))
      val pairs = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("src"))
        .join(li.select(col("l_orderkey").as("ok"), col("l_partkey").as("dst")), "ok")
        .filter(col("src") < col("dst")) // one orientation per unordered pair:
        // canonEdges least/greatest+distinct downstream yields the identical
        // simple graph from half the join output (r16 opt, guide §2.3)
      graft.ops.Analytics.triangleCounts(pairs)
        .orderBy(col("triangles").desc, col("v"))
        .limit(20)
        .select(col("v").as("part"), col("triangles"))
    }),

    // local clustering coefficients over the same co-purchase graph —
    // community tightness per part; deg ≥ 2 only, 6 dp, top-20 by
    // (coeff, triangles, part) for a deterministic cut
    "x09_clustering_coeff" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        .join(t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"))
      val pairs = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("src"))
        .join(li.select(col("l_orderkey").as("ok"), col("l_partkey").as("dst")), "ok")
        .filter(col("src") < col("dst")) // one orientation per unordered pair:
        // canonEdges least/greatest+distinct downstream yields the identical
        // simple graph from half the join output (r16 opt, guide §2.3)
      graft.ops.Analytics.clusteringCoefficients(pairs)
        .orderBy(col("coeff").desc, col("triangles").desc, col("v"))
        .limit(20)
        .select(col("v").as("part"), col("degree"), col("triangles"), col("coeff"))
    }),

    // FIXED-iteration PageRank so a DuckDB twin exists (r5): GraphX
    // staticPageRank(5) is deterministic — 5 rounds of
    // rank = 0.15 + 0.85 * Σ incoming rank/outdeg from rank₀ = 1, then a
    // final rank *= N/Σrank normalization (PageRank.normalizeRankSum,
    // confirmed against the spark-graphx 4.1.2 bytecode) — all plain SQL.
    // ROUND before ranking per the determinism doctrine; uid tiebreak.
    "x02_pagerank" -> ((s, d) => {
      // StarGraph memoizes + caches the projection per (session, dir)
      graft.ops.Analytics.staticPageRank(s, StarGraph(s, d), numIter = 5)
        .select(col("uid"), round(col("rank"), 4).as("rank"))
        .orderBy(col("rank").desc, col("uid")).limit(20)
    }),

    "x03_khop_reach" -> ((s, d) => {
      val g = StarGraph(s, d)
      val seed = g.nodes.filter(col("uid") === "nation:0")
      graft.ops.Traversals.kHop(g, seed, hops = 2)
        .groupBy("kind").agg(count(lit(1)).as("reached"))
    }),

    // the SAME k-hop over the z-table warehouse (r15 unification): a
    // whole-graph traversal operator running unchanged over the
    // planner-integrated maintained tables — the storage layout (plain
    // parquet / bucketed catalog / manifest-backed z-tables) must never
    // change a traversal's answer; x03/x03w/x03z triangulate all three
    "x03z_khop_ztable" -> ((s, d) => {
      val g = ZStarWarehouse(s, d)
      val seed = g.nodes.filter(col("uid") === "nation:0")
      graft.ops.Traversals.kHop(g, seed, hops = 2)
        .groupBy("kind").agg(count(lit(1)).as("reached"))
    }),

    // whole-graph BFS distances from one seed (GraphX Pregel, one superstep
    // per level) histogrammed by (kind, dist) — the unbounded-k counterpart
    // of x03; oracle = recursive CTE with a depth bound above the diameter
    "x05_hop_distances" -> ((s, d) =>
      graft.ops.Analytics.hopDistances(s, StarGraph(s, d), "nation:0")
        .select(split(col("uid"), ":").getItem(0).as("kind"), col("dist"))
        .groupBy("kind", "dist").agg(count(lit(1)).as("n"))),

    // r5: the same 2-hop walk over the BUCKETED warehouse — the hop joins
    // broadcast the frontier so the edge list is never shuffled (asserted
    // in BucketingSpec); oracle identical to x03
    "x03w_khop_bucketed" -> ((s, d) => {
      val g = StarWarehouse(s, d)
      val seed = g.nodes.filter(col("uid") === "nation:0")
      graft.ops.Traversals.kHop(g, seed, hops = 2)
        .groupBy("kind").agg(count(lit(1)).as("reached"))
    }),

    // transitive dup clustering: LSH candidates → connected components →
    // per-cluster sizes (Spark-only: recursive closure has no DuckDB twin)
    "x04_dup_clusters" -> ((s, d) => {
      val cands = Dedup.lshCandidates(tPar(s, d, "documents"), "doc_id", "text")
      Dedup.dupClusters(s, cands)
        .groupBy("cluster").agg(count(lit(1)).as("members"))
        .groupBy("members").agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("members"))
    }),

    // --- text analysis (documents) ------------------------------------------
    "t01_lang_tokens" -> ((s, d) =>
      t(s, d, "documents").groupBy("lang")
        .agg(count(lit(1)).as("docs"),
          sum(TextAnalysis.tokenCount(col("text"))).cast("long").as("total_tokens"),
          sum(length(col("text"))).cast("long").as("total_chars"))),

    "t02_quality_features" -> ((s, d) =>
      TextAnalysis.qualityFeatures(t(s, d, "documents"), "doc_id", "text")),

    "t03_langid" -> ((s, d) =>
      TextAnalysis.langId(t(s, d, "documents"), "doc_id", "text")),

    "t04_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))),

    "t06_repetition" -> ((s, d) =>
      TextAnalysis.repetitionFeatures(t(s, d, "documents"), "doc_id", "text")),

    // context-window chunking: 16-token chunks, 4-token overlap
    "t07_chunks" -> ((s, d) =>
      TextAnalysis.chunkTokens(t(s, d, "documents"), "doc_id", "text",
        size = 16, overlap = 4)),

    // PII scrubbing over a contact-bearing derived column (the raw corpus is
    // word-salad; the derivation is a deterministic transform of real ids)
    "t08_pii_redact" -> ((s, d) => {
      val contact = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com via https://ex.org/d/"), col("doc_id").cast("string"),
        lit(" or 555-000-"), lpad(col("doc_id").cast("string"), 4, "0"))
      TextAnalysis.piiRedact(
        t(s, d, "documents").withColumn("text", contact), "doc_id", "text")
    }),

    // domain-level corpus profile over a deterministic derived URL column
    // (same derivation trick as t08 — the raw corpus carries no URLs)
    "t10_domain_stats" -> ((s, d) => {
      val domains = array(lit("example.com"), lit("data.org"), lit("corp.net"),
        lit("news.io"), lit("wiki.edu"))
      val url = concat(lit("https://"),
        element_at(domains, (col("doc_id") % 5 + 1).cast("int")),
        lit("/d/"), col("doc_id"))
      TextAnalysis.domainStats(
        t(s, d, "documents").withColumn("url", url), "url", "text")
    }),

    // exact interpolated token-length percentiles per lang shard — the cut
    // points for corpus-relative length filtering
    "t11_length_percentiles" -> ((s, d) =>
      TextAnalysis.lengthPercentiles(t(s, d, "documents"), "lang", "text")),

    // corpus vocabulary profile: top-50 tokens by term frequency with doc
    // frequency — one token aggregation + physical top-k
    "t12_vocab_topk" -> ((s, d) =>
      TextAnalysis.vocabProfile(t(s, d, "documents"), "doc_id", "text", k = 50)),

    // CCNet-style cross-corpus segment dedup: 8-token segments, corpus-first
    // occurrence survives, docs reassembled from their kept segments
    "t13_paragraph_dedup" -> ((s, d) =>
      TextAnalysis.paragraphDedup(t(s, d, "documents"), "doc_id", "text", window = 8)),

    // self-trained unigram-LM surprisal per doc — the CCNet perplexity-
    // bucket signal (natural log, corpus-wide model, 4 dp)
    "t14_unigram_logprob" -> ((s, d) =>
      TextAnalysis.unigramLogProb(t(s, d, "documents"), "doc_id", "text")),

    // HTML → text extraction over a deterministic HTML wrapper of the raw
    // corpus (the t08/t10 derived-column trick: the corpus carries no
    // markup, so the test constructs real markup from real rows) — script
    // block dropped whole, tags stripped, entity decoded, title extracted
    "t17_html_extract" -> ((s, d) => {
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit("</title><script>var x = 1 &amp;&amp; 2;</script></head>"),
        lit("<body><nav>home | about</nav><p>"), col("text"),
        lit("</p><div class=\"footer\">&copy; example &amp; co</div></body></html>"))
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.htmlTitle(html).as("title"),
        TextAnalysis.htmlToText(html).as("extracted"))
        .withColumn("n_chars", length(col("extracted")))
    }),

    // URL canonicalization over deterministically messy URLs (mixed-case
    // authority, default port, tracking params, fragment) — the key-level
    // normalization URL dedup runs on
    "t18_url_canonical" -> ((s, d) => {
      val url = concat(lit("HTTPS://Example"), col("doc_id") % 3,
        lit(".COM:443/Path/"), col("doc_id"),
        lit("/?utm_source=x&ref=abc&id="), col("doc_id"), lit("#frag"))
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.canonicalizeUrl(url).as("canonical_url"))
    }),

    // order-2 perplexity signal: self-trained Laplace bigram model
    "t21_bigram_logprob" -> ((s, d) =>
      // examined r17: the three single-task model/vocab/doc map passes
      // already overlap as independent jobs; a tPar fan-out measured NET
      // slower (2.86 vs 2.45 s — 3 added stages beat the parallelism win)
      TextAnalysis.bigramLogProb(t(s, d, "documents"), "doc_id", "text")),

    // top-3 TF-IDF keywords per doc (rank on the ROUNDED score + term
    // tie-break so the cut reproduces across engines)
    "t24_tfidf_keywords" -> ((s, d) =>
      TextAnalysis.tfidfKeywords(t(s, d, "documents"), "doc_id", "text", k = 3)),

    // the BPE trainer's inner loop: corpus-wide adjacent symbol-pair
    // counts (char symbols + end-of-word marker), top-20; the iterative
    // merge trainer is TextAnalysisSpec-pinned (Sennrich's own example)
    "t25_bpe_pairs" -> ((s, d) =>
      TextAnalysis.bpePairCounts(t(s, d, "documents"), "text")
        .orderBy(col("n").desc, col("left"), col("right"))
        .limit(20)),

    // tokenizer APPLICATION: merges trained by the t25 trainer (10 rounds,
    // deterministic lexicographic ties) applied corpus-wide — per-doc word
    // and BPE-token counts + fertility, the tokenizer-fit signal mixing
    // decisions read per language/source. Rows-only: replaying iterative
    // merge training is not SQL-expressible; TextAnalysisSpec pins the
    // greedy encode ≡ sequential merge replay (the trainer's own pass) on
    // randomized corpora and the exact stats on a hand-built one
    "t26_bpe_tokens" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = TextAnalysis.trainBpeMerges(s, docs, "text", nMerges = 10)
      TextAnalysis.bpeEncodeStats(s, docs, "doc_id", "text", merges)
    }),

    // domain-shift signal: unigram-distribution divergence (KL both ways +
    // bounded Jensen–Shannon) between the en slice and the rest, add-one
    // smoothing over the UNION vocab so both sides are proper distributions
    // on the same support; only (token, side-count) rows shuffle
    "t27_token_divergence" -> ((s, d) =>
      TextAnalysis.tokenDivergence(t(s, d, "documents"), "text",
        col("lang") === "en")),

    // Unicode canonicalization (dedup/match-key folding) via the codegen'd
    // normalize_text expression; twin = DuckDB's own
    // lower(strip_accents(nfc_normalize(x))) — independent implementations
    // of the same recipe (both strip via canonical decomposition)
    "t23_normalize" -> ((s, d) => {
      graft.functions.GraftExtensions.register(s)
      val accented = concat(
        org.apache.spark.sql.functions.elt((col("doc_id") % 4 + 1).cast("int"),
          lit("Café RÉSUMÉ"), lit("Zürich FAÇADE"),
          lit("naïve Señor"), lit("àéîõü COÖP")),
        lit(" "), upper(col("text")))
      t(s, d, "documents").select(col("doc_id"),
        call_function("normalize_text", accented).as("norm_text"))
    }),

    // 1-bit binary quantization: per-dim mean thresholds (one aggregation),
    // sign bits packed 64-per-long, Hamming ranking over the packed words
    // only — the coarsest ANN tier (32× smaller than float32)
    "s24_bq_hamming" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val means = Similarity.trainBq(emb, "embedding")
      val q = emb.filter(col("vec_id") === 3)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
      Similarity.bqTopK(
        Similarity.encodeBq(emb.filter(col("vec_id") =!= 3), "embedding", means),
        "vec_id", q, means, k = 5)
    }),

    // domain blocklist: suffix-set equality join vs the twin's naive LIKE
    // scan. Host %5==0 is a blocked domain behind USERINFO (the classic
    // bypass — 'user@tracker.net' must still block), %5==1 a subdomain of
    // one, %5==3 embeds 'tracker.net' as a label PREFIX — suffix
    // semantics must keep it
    "t22_domain_blocklist" -> ((s, d) => {
      import s.implicits._
      val url = concat(lit("https://"),
        when(col("doc_id") % 5 === 0, lit("user:pw@Ads.Tracker.NET"))
          .when(col("doc_id") % 5 === 1, lit("sub.spam-mill.com"))
          .when(col("doc_id") % 5 === 2, lit("docs.example.org:8080"))
          .when(col("doc_id") % 5 === 3, lit("tracker.net.example.org"))
          .otherwise(lit("example.org")),
        lit("/page/"), col("doc_id"))
      val blocked = Seq("tracker.net", "spam-mill.com").toDF("domain")
      TextAnalysis.blockByDomain(
          t(s, d, "documents").withColumn("url", url), "doc_id", "url", blocked)
        .select("doc_id", "lang")
    }),

    // Gopher quality rules, fixture-scaled so every data-driven flag varies
    // on the test corpus (word counts span 10–99, mean word length
    // 3.7–5.3, stopword hits 0–14; production uses the paper's 50–100k /
    // 3–10 / ≥0.8 / ≥2 web defaults). The alpha rule is constant-true here
    // (the fixture vocabulary is all-alpha) — its behavior is pinned in
    // TextAnalysisSpec with digit-bearing docs instead.
    "t19_gopher_rules" -> ((s, d) =>
      TextAnalysis.gopherRules(t(s, d, "documents"), "doc_id", "text",
        minWords = 30, maxWords = 90,
        minMeanWordLen = 4.0, maxMeanWordLen = 4.9,
        minAlphaFrac = 0.8, minStopwords = 2,
        stopwords = Seq("the", "a", "of", "and", "is"))),

    // compression-ratio quality signal (engine-only: DuckDB ships no
    // deflate) — rows-only check; the spec pins exact DEFLATE lengths and
    // compressibility orderings on known strings
    "t20_compression_ratio" -> ((s, d) =>
      TextAnalysis.compressionSignals(s, t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // DSIR importance weights with the en-language slice as the target
    // domain: log p_target/p_raw summed over token occurrences — the
    // domain-selection score the resampling step ranks on
    "t15_dsir_weights" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.importanceWeights(docs, "doc_id", "text",
        target = docs.filter(col("lang") === "en"))
    }),

    // sequence packing: 256-token next-fit bins per lang shard
    "t09_pack_bins" -> ((s, d) =>
      TextAnalysis.packBins(t(s, d, "documents"), "lang", "doc_id", "text", budget = 256)
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_tokens")).cast("long").as("bin_tokens"))),

    // Okapi BM25 ranking over the documents inverted index (two-atom OR —
    // FP-addition order stays commutative-exact across engines)
    "t05_bm25_rank" -> ((s, d) =>
      Fts.matchBm25(
        Fts.postings(t(s, d, "documents"), "doc_id", Map("text" -> "text")),
        "spark OR vector")
        .withColumnRenamed("uid", "doc_id")
        .orderBy(col("score").desc, col("doc_id"))
        .limit(50)),

    // FTS5 bm25(idx, w…) per-column weights driven end-to-end: a two-field
    // corpus (title = first 3 tokens, body = full text), title weighted 3× —
    // both the tf sums AND the doc length weigh occurrences by field,
    // mirroring FTS5's own bm25 (weights are exact binary fractions, so the
    // weighted sums stay FP-exact across engines)
    "t16_bm25_weighted" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("title", concat_ws(" ", slice(split(col("text"), " "), 1, 3)))
      Fts.matchBm25(
        Fts.postings(docs, "doc_id", Map("title" -> "title", "body" -> "text")),
        "spark OR vector", fieldWeights = Map("title" -> 3.0))
        .withColumnRenamed("uid", "doc_id")
        .orderBy(col("score").desc, col("doc_id"))
        .limit(50)
    }),

    // unicode61 remove_diacritics tokenizer fidelity (the reference's FTS5
    // tables use the default unicode61 tokenizer, graphydb.py:652-658): the
    // corpus is deterministically accent-ified (e→é, a→à), indexed through
    // the normalize_text fold, and queried with one accented and one plain
    // term — all four accent combinations land on the same folded tokens,
    // so the ASCII oracle twin (plain lower()) is exactly equivalent
    "g20_fts_unicode61" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("text_acc",
          translate(col("text"), "ea", "éà"))
      // AND-of-terms compiles to a per-atom match-set intersection JOINed
      // against the grouped score pass — four reads of the postings view,
      // and these DERIVED postings re-tokenize the corpus on every read as
      // serial one-task stages (measured r16 opt: 4 × ~300 ms). Materialize
      // once; the four reads scan the stored blocks (guide §5).
      // localCheckpoint, NOT persist (r17): persist pinned a CacheManager
      // entry for the session's lifetime (no unpersist point — the result
      // is lazy); checkpoint blocks ride the result plan and are freed by
      // the ContextCleaner when the result is dropped. The g-family chains
      // need no such hand-holding — their postings live in StarGraph's
      // per-kind cache already.
      val postings = Fts.postings(docs, "doc_id", Map("text" -> "text_acc"),
        unicode61 = true)
        .localCheckpoint(true)
      Fts.matchScoresU61(postings, "thé AND scan")
        .withColumnRenamed("uid", "doc_id")
    }),

    // --- event analytics ----------------------------------------------------
    "e01_sessions" -> ((s, d) =>
      Events.sessionStats(events(s, d), gapSeconds = 1800)),

    "e02_funnel" -> ((s, d) =>
      Events.funnelCount(events(s, d), Seq("view", "click", "purchase"))),

    "e03_retention" -> ((s, d) =>
      Events.retention(events(s, d))),

    // as-of join: each purchase matched to its user's most recent prior view
    "e04_asof_join" -> ((s, d) =>
      Events.asofJoin(events(s, d), leftType = "purchase", rightType = "view")
        .withColumnRenamed("event_id", "purchase_id")),

    // Deequ-style batch gate: every expectation evaluated in ONE aggregate
    // pass (map side reduces the scan to |rules| longs per task); the
    // value<=100 and core-type rules are deliberately tight so the meter
    // shows real violations, not vacuous zeros
    "e06_quality_checks" -> ((s, d) =>
      Quality.check(events(s, d), Seq(
        Quality.notNull("user_id_not_null", col("user_id")),
        Quality.inRange("value_0_100", col("value"), 0.0, 100.0),
        Quality.inSet("event_type_known", col("event_type"),
          Seq("view", "click", "purchase", "signup", "error")),
        Quality.inSet("event_type_core", col("event_type"),
          Seq("view", "click", "purchase"))),
        uniqueKeys = Seq("event_id"))),

    // DATE-PARTITIONED lake: a 3-day aggregate read from the dt=YYYY-MM-DD
    // layout — the filter prunes day DIRECTORIES at planning time
    // (EventsSpec pins partitionCount == days in range), and the layout
    // never changes answers: the twin derives the same days from raw ts
    "e05_partitioned_days" -> ((s, d) => {
      val lake = eventsLakeFor(s, d)
      Events.readDateLake(s, lake, "2024-01-10", "2024-01-12")
        .groupBy("dt")
        .agg(count(lit(1)).as("events"),
          countDistinct(col("user_id")).as("users"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"))
    }),

    // day-grain incremental view maintenance: the rollup rebuilds from
    // scratch, then a second maintain proves idempotence (no-op) before
    // the read-back; incremental/restate legs are EventsSpec-pinned
    "w22_daily_rollup" -> ((s, d) => {
      val lake = eventsLakeFor(s, d)
      val roll = WarehouseMeta.tableLocation(s,
        WarehouseMeta.fixtureName("graft_w22_", d)).toString
      WarehouseMeta.deleteRecursively(
        java.nio.file.Paths.get(roll.stripPrefix("file:")))
      Events.maintainDailyRollup(s, lake, roll)
      require(Events.maintainDailyRollup(s, lake, roll).isEmpty,
        "second maintain over an unchanged lake must be a no-op")
      Events.readDailyRollup(s, roll)
    }),

    // multi-dimensional layout: lineitem rewritten z-ordered on
    // (l_orderkey, l_suppkey) — the lakehouse OPTIMIZE ZORDER effect. The
    // answer comes FROM THE REWRITTEN FILES with a two-sided range
    // predicate (layout must never change answers — the twin derives the
    // same bands from raw lineitem); before answering, the query ASSERTS
    // the layout's point: per-file spans must let footer pruning skip most
    // files on a range over EITHER key, which a single-sort-key layout can
    // only do for its own key (LayoutSpec pins the comparison)
    "w23_zorder" -> ((s, d) => {
      val dir = zorderLineitemFor(s, d)
      val spans = Layout.fileSpans(s, dir, "l_orderkey", "l_suppkey").cache()
      try {
        val nFiles = spans.count()
        if (nFiles >= 8) { // tiny SFs can't spread 16 files; skip the audit
          val mx = spans.agg(max("a_max"), max("b_max")).collect()(0)
          val (aHi, bHi) = (mx.getLong(0), mx.getLong(1))
          val fa = Layout.touchedFraction(spans, "a_min", "a_max",
            aHi * 2 / 5, aHi / 2)
          val fb = Layout.touchedFraction(spans, "b_min", "b_max",
            bHi * 2 / 5, bHi / 2)
          require(fa <= 0.75 && fb <= 0.75,
            s"z layout must prune on both keys: a=$fa b=$fb of $nFiles files")
        }
      } finally spans.unpersist()
      val li = s.read.parquet(dir)
      val bHi = li.agg(max("l_suppkey")).collect()(0).getLong(0)
      li.filter(col("l_suppkey").between(bHi * 2 / 5, bHi / 2))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
    }),

    // THREE-key Morton layout: lineitem clustered on z3(orderkey, suppkey,
    // partkey) — band predicates on any of the three keys prune; the
    // entry asserts pruning on ALL three spans before answering a
    // partkey-band aggregate (partkey holds the most significant
    // interleave bits — the documented most-selective-key-third rule)
    "w29_zorder3" -> ((s, d) => {
      val dir = zorder3LineitemFor(s, d)
      val spans = s.read.parquet(dir)
        .groupBy(input_file_name().as("file"))
        .agg(min("l_orderkey").as("a_min"), max("l_orderkey").as("a_max"),
          min("l_suppkey").as("b_min"), max("l_suppkey").as("b_max"),
          min("l_partkey").as("c_min"), max("l_partkey").as("c_max")).cache()
      try {
        if (spans.count() >= 32) { // tiny SFs can't spread 64 files
          val mx = spans.agg(max("a_max"), max("b_max"), max("c_max")).collect()(0)
          val fs = Seq(("a", mx.getLong(0)), ("b", mx.getLong(1)),
            ("c", mx.getLong(2))).map { case (k, hi) =>
            k -> Layout.touchedFraction(spans, s"${k}_min", s"${k}_max",
              hi * 2 / 5, hi / 2)
          }
          require(fs.forall(_._2 <= 0.8),
            s"z3 layout must prune on all three keys: $fs")
        }
      } finally spans.unpersist()
      val li = s.read.parquet(dir)
      val cHi = li.agg(max("l_partkey")).collect()(0).getLong(0)
      li.filter(col("l_partkey").between(cHi * 2 / 5, cHi / 2))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_discount").cast("decimal(18,2)")).cast("double").as("sum_disc"))
    }),

    // THREE-key Hilbert layout (w29's no-jumps twin): same all-three-keys
    // pruning audit, then a band aggregate on the FIRST key — the axis
    // the 3-D walk tightens hardest over Morton3 (0.50 → 0.33 measured)
    "w31_hilbert3" -> ((s, d) => {
      val dir = hilbert3LineitemFor(s, d)
      val spans = s.read.parquet(dir)
        .groupBy(input_file_name().as("file"))
        .agg(min("l_orderkey").as("a_min"), max("l_orderkey").as("a_max"),
          min("l_suppkey").as("b_min"), max("l_suppkey").as("b_max"),
          min("l_partkey").as("c_min"), max("l_partkey").as("c_max")).cache()
      try {
        if (spans.count() >= 32) { // tiny SFs can't spread 64 files
          val mx = spans.agg(max("a_max"), max("b_max"), max("c_max")).collect()(0)
          val fs = Seq(("a", mx.getLong(0)), ("b", mx.getLong(1)),
            ("c", mx.getLong(2))).map { case (k, hi) =>
            k -> Layout.touchedFraction(spans, s"${k}_min", s"${k}_max",
              hi * 2 / 5, hi / 2)
          }
          require(fs.forall(_._2 <= 0.8),
            s"hilbert3 layout must prune on all three keys: $fs")
        }
      } finally spans.unpersist()
      val li = s.read.parquet(dir)
      val aHi = li.agg(max("l_orderkey")).collect()(0).getLong(0)
      li.filter(col("l_orderkey").between(aHi * 2 / 5, aHi / 2))
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
    }),

    // Hilbert-curve layout (the no-jumps quality option next to w23's
    // Morton): same two-sided pruning audit on the rewritten files, and
    // the same layout-never-changes-answers twin from raw lineitem
    "w28_hilbert" -> ((s, d) => {
      val dir = hilbertLineitemFor(s, d)
      val spans = Layout.fileSpans(s, dir, "l_orderkey", "l_suppkey").cache()
      try {
        val nFiles = spans.count()
        if (nFiles >= 8) {
          val mx = spans.agg(max("a_max"), max("b_max")).collect()(0)
          val (aHi, bHi) = (mx.getLong(0), mx.getLong(1))
          val fa = Layout.touchedFraction(spans, "a_min", "a_max",
            aHi * 2 / 5, aHi / 2)
          val fb = Layout.touchedFraction(spans, "b_min", "b_max",
            bHi * 2 / 5, bHi / 2)
          require(fa <= 0.75 && fb <= 0.75,
            s"hilbert layout must prune on both keys: a=$fa b=$fb of $nFiles files")
        }
      } finally spans.unpersist()
      val li = s.read.parquet(dir)
      val bHi = li.agg(max("l_suppkey")).collect()(0).getLong(0)
      li.filter(col("l_suppkey").between(bHi * 2 / 5, bHi / 2))
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    }),

    // span-pruned scan over the MAINTAINED table — the reader-side payoff:
    // the file list is cut driver-side from the committed spans sidecar
    // before Spark opens a footer (the entry REQUIRES pruning engaged),
    // then the residual two-sided band filter applies; twin from raw
    // lineitem — pruning must never change answers
    "w27_zorder_scan" -> ((s, d) => {
      val path = zorderMaintainedFor(s, d)
      val mx = Layout.zorderRead(s, path)
        .agg(max("l_orderkey"), max("l_suppkey")).collect()(0)
      val (ma, mb) = (mx.getLong(0), mx.getLong(1))
      val (aBand, bBand) = ((ma / 4, ma / 2), (mb * 2 / 5, mb / 2))
      val (hit, total) = Layout.zorderScanFiles(path, aBand, bBand)
      require(hit < total, s"span pruning must engage: $hit/$total files")
      Layout.zorderScan(s, path, aBand, bBand)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
    }),

    // CATALYST-INTEGRATED table read (ZTable: a manifest-backed FileIndex
    // inside Spark's scan planning, the Delta TahoeFileIndex shape): the
    // SAME band as w27 expressed as a plain .filter on a plain DataFrame —
    // no zorderScan call — must prune files at PLANNING time (the entry
    // requires listFiles to cut the list) and hash-match the same twin;
    // together w27 and w43 pin driver-side scan ≡ planner-integrated scan
    "w43_zorder_fileindex" -> ((s, d) => {
      val path = zorderMaintainedFor(s, d)
      val mx = Layout.zorderRead(s, path)
        .agg(max("l_orderkey"), max("l_suppkey")).collect()(0)
      val (ma, mb) = (mx.getLong(0), mx.getLong(1))
      val (aBand, bBand) = ((ma / 4, ma / 2), (mb * 2 / 5, mb / 2))
      val (df, fi) = graft.ops.ZTable.dataFrameWithIndex(s, path)
      val pred = col("l_orderkey").between(aBand._1, aBand._2) &&
        col("l_suppkey").between(bBand._1, bBand._2)
      val res = df.filter(pred)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
      // planner-level audit: run the aggregate once eagerly so the REAL
      // FileSourceScanExec listing happens, then require it pruned
      res.collect()
      require(fi.lastListed > 0 && fi.lastListed < fi.inputFiles.length,
        s"FileIndex must prune the band scan: ${fi.lastListed}/${fi.inputFiles.length}")
      res
    }),

    // MANIFEST COLUMN STATS (Iceberg column-stats shape): ts is a STAT
    // column, not a layout key, yet a time-band .filter on the ZTable
    // relation prunes files at planning time (id ↔ created-at
    // correlation keeps per-file ts spans tight); the twin re-derives the
    // band from raw events — stats must never change answers
    "w45_zorder_colstats" -> ((s, d) => {
      val path = zorderEventsStatsFor(s, d)
      val (sec1, sec2) = w45Band(s, path)
      val (df, fi) = graft.ops.ZTable.dataFrameWithIndex(s, path)
      val res = df.filter(col("ts").between(
          lit(java.time.Instant.ofEpochSecond(sec1)),
          lit(java.time.Instant.ofEpochSecond(sec2))))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_val"))
      res.collect() // force the planner's real listing, then audit it
      require(fi.lastListed > 0 && fi.lastListed < fi.inputFiles.length,
        s"ts stats must prune in the planner: ${fi.lastListed}/${fi.inputFiles.length}")
      res
    }),

    // the ZTable relation COMPOSES: a broadcast dimension join + band
    // filter over the planner-integrated read — pruning still engages
    // (filters push to the scan through the join's streamed side), and
    // the aggregate matches the raw lineitem ⨝ supplier twin
    "w47_ztable_join" -> ((s, d) => {
      val path = zorderMaintainedFor(s, d)
      val mx = Layout.zorderRead(s, path)
        .agg(max("l_orderkey"), max("l_suppkey")).collect()(0)
      val (ma, mb) = (mx.getLong(0), mx.getLong(1))
      val pred = col("l_orderkey").between(ma / 4, ma / 2) &&
        col("l_suppkey").between(mb * 2 / 5, mb / 2)
      val (df, fi) = graft.ops.ZTable.dataFrameWithIndex(s, path)
      val supp = t(s, d, "supplier").select("s_suppkey", "s_nationkey")
      val res = df.filter(pred)
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
      res.collect() // force the planner's listing, then audit the prune
      require(fi.lastListed > 0 && fi.lastListed < fi.inputFiles.length,
        s"band must prune through the join: ${fi.lastListed}/${fi.inputFiles.length}")
      res
    }),

    // gate-on-arrival ingest loop driven end to end (two parity batches +
    // a committed-replay no-op proof in the builder), then the AUDIT
    // HISTORY read back — the twin re-derives each batch's per-rule
    // reject counts from scratch, so the exactly-once loop's end state is
    // hash-checked, not just spec-pinned
    "w24_gate_loop" -> ((s, d) =>
      TextAnalysis.readGateAudit(s, gateStoreFor(s, d))),

    // blocklist-on-arrival loop with a TAKEDOWN between the two batches:
    // batch 0 gates under {tracker.net}, batch 1 under {tracker.net,
    // spam-mill.com} — the audit twin re-derives both lists' hit counts,
    // checking the list-as-of-apply semantics end to end
    "w25_block_loop" -> ((s, d) =>
      TextAnalysis.readBlockAudit(s, blockStoreFor(s, d))),

    // incremental z-order maintenance (the lakehouse OPTIMIZE lifecycle):
    // init on the low 90% of the orderkey domain, blind-append the tail,
    // ONE incremental maintain (builder requires manifest-row carry-over +
    // a no-op second maintain), then answer a full aggregate FROM THE
    // MAINTAINED GENERATION — layout and maintenance must never change
    // answers, so the twin derives from raw lineitem
    "w26_zorder_maintain" -> ((s, d) =>
      Layout.zorderRead(s, zorderMaintainedFor(s, d))
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_discount").cast("decimal(18,2)")).cast("double").as("sum_disc"))),

    // span-pruned DELETE WHERE over the maintained table (builder proves
    // the prune engaged + repeat no-op): the remaining table must equal
    // raw lineitem minus the band, exactly — a delete must never touch a
    // row outside the band or leave one inside it
    "w32_zorder_delete" -> ((s, d) =>
      Layout.zorderRead(s, zorderDeletedFor(s, d))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_discount").cast("decimal(18,2)")).cast("double").as("sum_disc"))),

    // MERGE-ON-READ delete (deletion vectors): the same band as w32 is
    // tombstoned, not rewritten — zero data files touched (builder proves
    // by mtime snapshot) — and every read applies the DV anti-join. The
    // identical twin as w32 certifies copy-on-write ≡ merge-on-read.
    "w41_zorder_dv_delete" -> ((s, d) => {
      val path = zorderDvDeletedFor(s, d)
      // the demonstration lives in the read: this table must still carry
      // live tombstones (nothing materialized them)
      require(Layout.currentSpans(path).map(_.dvRows).sum > 0,
        "w41 table must read through a live deletion vector")
      Layout.zorderRead(s, path)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_discount").cast("decimal(18,2)")).cast("double").as("sum_disc"))
    }),

    // STREAMING TAKEDOWN LOOP end state (two key batches + a forced
    // replay no-op + cadence materialize, the takedownStream body): the
    // table must equal lineitem minus every taken-down partkey's rows —
    // exactly-once takedown certified by hash, not just spec
    "w46_takedown_loop" -> ((s, d) => {
      val path = takedownLoopFor(s, d)
      require(Layout.currentSpans(path).forall(_.dvRows == 0),
        "w46 table must be physically purged")
      Layout.zorderRead(s, path)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_discount").cast("decimal(18,2)")).cast("double").as("sum_disc"))
    }),

    // REPLICATION (zorderMirror): the replica of the w41 table — synced
    // manifests + data files + the deletion-vector sidecar, repeat-sync
    // no-op proven in the builder — must hash-match the primary's twin:
    // replication is byte-faithful including merge-on-read state
    "w44_zorder_mirror" -> ((s, d) => {
      val path = zorderMirroredFor(s, d)
      require(Layout.currentSpans(path).map(_.dvRows).sum > 0,
        "w44 replica must read through the mirrored deletion vector")
      Layout.zorderRead(s, path)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_discount").cast("decimal(18,2)")).cast("double").as("sum_disc"))
    }),

    // PHYSICAL purge (zorderDvMaterialize): only the tombstoned files
    // rewrote, the DV is GC'd (builder proves), answers unchanged — the
    // GDPR erasure step after w41's instant logical delete
    "w42_zorder_dv_purge" -> ((s, d) => {
      val path = zorderDvPurgedFor(s, d)
      require(Layout.currentSpans(path).forall(_.dvRows == 0),
        "w42 table must be tombstone-free after the purge")
      Layout.zorderRead(s, path)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_discount").cast("decimal(18,2)")).cast("double").as("sum_disc"))
    }),

    // keyed UPSERT (MERGE INTO) over the maintained table: a corrupted
    // band healed by one span-pruned upsert of the true rows — the plain
    // raw-lineitem twin passes only if every corrupted row was replaced
    // and nothing extra landed
    "w34_zorder_upsert" -> ((s, d) =>
      Layout.zorderRead(s, zorderUpsertedFor(s, d))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_discount").cast("decimal(18,2)")).cast("double").as("sum_disc"))),

    // SCHEMA EVOLUTION through maintenance: the tail appended WITH an
    // added l_bonus column, old rows null-fill by name — the aggregate
    // proves both legs (full-corpus counts intact, bonus sums only over
    // the evolved tail); the twin re-derives l_bonus with a CASE over the
    // same cut from raw lineitem
    "w38_zorder_evolve" -> ((s, d) => {
      val path = zorderEvolvedFor(s, d)
      Layout.zorderRead(s, path)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_bonus").cast("decimal(18,2)")).cast("double").as("sum_bonus"))
    }),

    // METADATA-ONLY band count over a maintained 64-file table: files
    // fully inside the wide interior band count from their manifest rows
    // without being opened (the entry REQUIRES some did — the python
    // presim measured 15-21 covered of 64 at every SF), only perimeter
    // files scan — the twin counts the same band from raw lineitem
    "w37_zorder_meta_count" -> ((s, d) => {
      import s.implicits._
      val path = zorderCensusFor(s, d)
      val mx = Layout.zorderRead(s, path)
        .agg(max("l_orderkey"), max("l_suppkey")).collect()(0)
      val (ma, mb) = (mx.getLong(0), mx.getLong(1))
      val (aB, bB) = ((ma / 8, ma * 7 / 8), (mb / 8, mb * 7 / 8))
      val (covered, boundary, total) = Layout.zorderCountFiles(path, aB, bB)
      require(covered >= 1,
        s"the interior band must cover whole files: $covered/$boundary/$total")
      require(covered + boundary < total,
        s"the band must also prune files outright: $covered/$boundary/$total")
      Seq(Layout.zorderCountBand(s, path, aB, bB)).toDF("n_band")
    }),

    // SMALL-FILE BIN-PACKING (incremental OPTIMIZE): after a band delete
    // shrinks the boundary files, z-adjacent remnants merge into ~mean-
    // size files while everything else carries — compaction must never
    // change answers, so the twin is raw lineitem minus the band
    "w40_zorder_binpack" -> ((s, d) =>
      Layout.zorderRead(s, zorderBinpackedFor(s, d))
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))),

    // KEYED TAKEDOWN (DELETE WHERE key IN ...) on a non-layout column,
    // bloom-pruned: three known orderkeys removed from the maintained
    // orders table (builder proves the bloom bounded the rewrite and the
    // repeat no-ops); the twin is raw orders minus the same keys
    "w39_zorder_takedown" -> ((s, d) =>
      Layout.zorderRead(s, zorderTakedownFor(s, d))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))),

    // BLOOM POINT LOOKUP on a non-layout column: orders clustered on
    // (custkey, totalprice) — z-spans prune nothing for orderkey probes —
    // so the per-file bloom sidecar alone must cut the file list (the
    // entry REQUIRES pruning engaged; one probe key is deliberately
    // absent); the twin is a plain IN filter over raw orders — bitsets
    // must never change answers
    "w36_zorder_bloom" -> ((s, d) => {
      val path = zorderBloomFor(s, d)
      val mo = Layout.zorderRead(s, path)
        .agg(max("o_orderkey")).collect()(0).getLong(0)
      val probes = Seq(mo / 7, mo / 3, mo / 2 + 1, mo + 99999)
      val (open, total, used) = Layout.zorderLookupFiles(path, "o_orderkey", probes)
      require(used && open < total, s"bloom must prune: $open/$total")
      Layout.zorderPointLookup(s, path, "o_orderkey", probes)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    }),

    // PLANNER-INTEGRATED bloom point lookup (r14): the SAME probes as w36
    // expressed as a plain .isin filter on the ZTable relation — no
    // zorderPointLookup call — must cut the file list at PLANNING time
    // via the bloom sidecar (z-spans prune nothing for orderkey probes)
    // and hash-match w36's twin; together w36 and w48 pin explicit
    // lookup ≡ planner-integrated lookup
    "w48_ztable_point" -> ((s, d) => {
      val path = zorderBloomFor(s, d)
      val mo = Layout.zorderRead(s, path)
        .agg(max("o_orderkey")).collect()(0).getLong(0)
      val probes = Seq(mo / 7, mo / 3, mo / 2 + 1, mo + 99999)
      val (df, fi) = graft.ops.ZTable.dataFrameWithIndex(s, path)
      val res = df.filter(col("o_orderkey").isin(probes: _*))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      res.collect() // force the planner's real listing, then audit it
      require(fi.lastListed > 0 && fi.lastListed < fi.inputFiles.length,
        s"bloom must prune the planner listing: " +
          s"${fi.lastListed}/${fi.inputFiles.length}")
      res
    }),

    // PLANNER-INTEGRATED graph traversal (r15 — the warehouse halves
    // unified): g08's point traversal ("orders of customer 42") over the
    // star graph stored as maintained z-tables — the PlacedBy/enduid
    // lookup is a literal _end_key equality on the edge ZTable, so the
    // bloom sidecar + z spans must cut the planner's file listing (the
    // entry REQUIRES it); kind/enduid filter residually. Twin = g08's
    // oracle verbatim: storage layout must never change a traversal's
    // answer.
    "w49_ztable_traverse" -> ((s, d) => {
      val (edf, fi) = ZStarWarehouse.edgesWithIndex(s, d)
      val res = edf
        .filter(col("_end_key") === 42L && col("kind") === "PlacedBy" &&
          col("enduid") === "customer:42")
        .select(col("startuid").as("uid"))
      res.collect() // force the planner's real listing, then audit it
      require(fi.lastListed > 0 && fi.lastListed < fi.inputFiles.length,
        s"the point traversal must prune the planner listing: " +
          s"${fi.lastListed}/${fi.inputFiles.length}")
      res
    }),

    // STREAMING CDC FOLLOWER (r15): the follower table after ONE ticker
    // poll applied two primary commits (tail append+maintain, band
    // delete), with a replayed tick proven a cursor-stasis no-op in the
    // builder — the follower must equal lineitem minus the band exactly
    // (exactly-once through the cursor + poll-intent protocol)
    "w51_cdc_follower" -> ((s, d) =>
      Layout.zorderRead(s, zorderCdcFollowerFor(s, d))
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))),

    // STRING COLUMN STATS (r15, manifest v3): a string range predicate
    // on the z-table's o_label stat column must prune the planner's file
    // listing through the Prefix8-embedded bounds (the entry REQUIRES
    // it) and still answer exactly — the twin applies the same
    // lexicographic band to raw orders via the same lpad derivation
    "w50_zorder_strstats" -> ((s, d) => {
      val path = zorderStrStatFor(s, d)
      val mo = Layout.zorderRead(s, path)
        .agg(max("o_orderkey")).collect()(0).getLong(0)
      val (loS, hiS) = (f"${mo / 4}%08d", f"${mo / 2}%08d")
      val (df, fi) = graft.ops.ZTable.dataFrameWithIndex(s, path)
      val res = df.filter(col("o_label") >= loS && col("o_label") <= hiS)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
      res.collect() // force the planner's real listing, then audit it
      require(fi.lastListed > 0 && fi.lastListed < fi.inputFiles.length,
        s"string stats must prune the planner listing: " +
          s"${fi.lastListed}/${fi.inputFiles.length}")
      res
    }),

    // STREAMED JOURNAL→Z COMPACTION (r16): the mutable graph warehouse
    // after the maintenance stream folded two journal arrivals (the
    // orders create wave through the DISTRIBUTED path, then supplier
    // disconnect-deletes + region modifies) into the z-tables, with the
    // auto-pilot on the cadence and a replayed run proven commit-free in
    // the builder — surviving per-kind counts must equal the raw tables
    "w54_journal_z_stream" -> ((s, d) => {
      val wh = new graft.engine.WarehouseGraph(s, zGraphStreamFor(s, d))
      wh.zNodes.groupBy("kind").agg(count(lit(1)).as("n"))
        .withColumn("side", lit("node"))
        .unionByName(wh.zEdges.groupBy("kind").agg(count(lit(1)).as("n"))
          .withColumn("side", lit("edge")))
        .select("side", "kind", "n")
    }),

    // GRAPH TIME TRAVEL (r16): the mutable warehouse's zsnap log maps
    // any journal seq to a CONSISTENT cross-table cut; reading cut 0
    // after a delete wave folded in must serve the FULL pre-delete
    // graph (the entry REQUIREs the live cut differs, so this cannot
    // accidentally read current state) — per-kind counts equal the raw
    // tables with no survivors rule
    "w55_zview_time_travel" -> ((s, d) => {
      val wpath = zTimeTravelFor(s, d)
      val wh = new graft.engine.WarehouseGraph(s, wpath)
      val seq0 = java.nio.file.Files.readString(java.nio.file.Paths
        .get(wpath).getParent.resolve("seq0")).trim.toLong
      val v = wh.zViewAt(seq0)
      require(wh.zNodes.filter(col("kind") === "customer").count() <
        v.nodes.filter(col("kind") === "customer").count(),
        "the historical cut must predate the delete wave")
      v.nodes.groupBy("kind").agg(count(lit(1)).as("n"))
        .withColumn("side", lit("node"))
        .unionByName(v.edges.groupBy("kind").agg(count(lit(1)).as("n"))
          .withColumn("side", lit("edge")))
        .select("side", "kind", "n")
    }),

    // GRAPH FTS OVER THE MUTABLE WAREHOUSE (r16): a Fetch MATCH param
    // running through w54's maintained postings z-table — resetZFts
    // indexed part names before the streamed increments, every increment
    // kept the index fresh along the same zseq seam, and the chain's
    // match set must equal a fresh regex scan of raw part names
    "g22_wh_fts_fetch" -> ((s, d) => {
      val wh = new graft.engine.WarehouseGraph(s, zGraphStreamFor(s, d))
      graft.query.Fetch.df(wh.zView, graft.query.Fetch.Args(
        chain = "(p:part)", params = Map("p_fts" -> "red OR anvil")))
        .select("uid")
    }),

    // ADVISOR AUTO-PILOT (r15): the table was dirtied every way the
    // census watches (stale bloom, landing rows, clamped bounds,
    // tombstones) and zorderOptimize ran until all-clear in the builder
    // (bounded steps, census-clean require) — maintenance must never
    // change answers, so the twin is raw lineitem minus the band
    "w53_zorder_optimize" -> ((s, d) =>
      Layout.zorderRead(s, zorderOptimizedFor(s, d))
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))),

    // STRING-KEY BLOOM POINT LOOKUP (r15): .isin over the OPAQUE string
    // reference o_ref — reversed digits decorrelate it from the layout,
    // so z-spans prune nothing and any listing cut is the STRING-domain
    // bitset's (the entry REQUIRES it; one probe is deliberately absent);
    // the twin derives the same references over raw orders — bitsets
    // must never change answers
    "w52_ztable_strpoint" -> ((s, d) => {
      val path = zorderStrStatFor(s, d)
      val mo = Layout.zorderRead(s, path)
        .agg(max("o_orderkey")).collect()(0).getLong(0)
      val probes = Seq(mo / 7, mo / 3, mo / 2 + 1, mo + 99999)
        .map(k => "ref-" + f"$k%08d".reverse)
      val (df, fi) = graft.ops.ZTable.dataFrameWithIndex(s, path)
      val res = df.filter(col("o_ref").isin(probes: _*))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      res.collect() // force the planner's real listing, then audit it
      require(fi.lastListed > 0 && fi.lastListed < fi.inputFiles.length,
        s"the string bloom must prune the planner listing: " +
          s"${fi.lastListed}/${fi.inputFiles.length}")
      res
    }),

    // CHANGE FEED (CDC) across the maintained table's lifecycle: the 0→2
    // manifest diff must net out to exactly the appended tail (inserts)
    // and the deleted band (deletes) — carried rows in churned files
    // cancel, shared files are never read (the entry REQUIRES some were
    // skipped); the twin re-derives both row sets from raw lineitem
    "w35_zorder_changes" -> ((s, d) => {
      val path = zorderChangedFor(s, d)
      val (_, _, shared) = Layout.zorderChangesFiles(path, 0L, 2L)
      require(shared >= 1, "the feed must skip shared files")
      Layout.zorderChanges(s, path, 0L, 2L)
        .groupBy("change_type", "l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    }),

    // TIME TRAVEL on the maintained table: generation 0 read AS OF, after
    // a later maintain committed generation 1 on top — the snapshot must
    // still equal the low-90% corpus it froze, byte-faithful
    "w33_zorder_asof" -> ((s, d) =>
      Layout.zorderReadAsOf(s, zorderRetainedFor(s, d), 0L)
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))),

    // the streaming zorder sink's END STATE (two exactly-once batches +
    // cadence maintains, built with a committed-replay no-op proof):
    // layout, landing, and maintenance must never change answers, so the
    // twin derives the same full aggregate from raw lineitem
    "w30_zorder_stream_sink" -> ((s, d) =>
      Layout.zorderRead(s, zorderStreamSinkFor(s, d))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))),

    // --- pipeline composition ----------------------------------------------
    // END-TO-END ingest chain as ONE composed plan — the deliverable the
    // operator catalog exists to feed: raw documents → quality gate (keep
    // rows passing every row rule) → near-dup survivors (d15's LSH →
    // transitive-cluster machinery over the GATED corpus) → temperature
    // mixture resampling (alpha=0.5 toward uniform langs; target 800 > the
    // corpus so low-resource langs UPSAMPLE through fractional copies) →
    // 256-token next-fit packing per lang shard, summarized per bin.
    // Everything between the corpus scan and the final aggregate is lazy
    // composition: the only driver-side materializations are the two
    // BOUNDED ones the operators document (dupClusters' exact-count-gated
    // pair manifest — GraphX above the gate — and temperatureMix's
    // |strata|-counter size aggregate);
    // PipelineSpec pins stage-composition ≡ stage-by-stage materialization
    // and audits the executed plan. The oracle twin re-derives all four
    // stages from scratch in one SQL statement.
    "p01_ingest_pipeline" -> ((s, d) => {
      val docs = tPar(s, d, "documents")
      val gated = Quality.gate(docs, Seq(
        Quality.Expect("min_tokens", TextAnalysis.tokenCount(col("text")) >= 20),
        Quality.Expect("chars_max", col("n_chars") <= 520),
        Quality.Expect("chars_consistent", col("n_chars") === length(col("text")))))
      val clusters = Dedup.dupClusters(s, Dedup.lshCandidates(gated, "doc_id", "text"))
      val surv = Dedup.dedupByClusters(gated, "doc_id", clusters)
      val mixed = Sampling.temperatureMix(surv, "lang", "doc_id",
        alpha = 0.5, targetRows = 800)
      // replicas need a unique pack key: doc_id*1024+copy_idx is injective
      // iff copy_idx < 1024 (weights are single digits on every shipped
      // corpus, but the bound is CORPUS-DEPENDENT — a rare stratum under a
      // large target can exceed it), so the bound is asserted in the plan:
      // assert_true returns NULL when it holds (coalesce → +0) and fails
      // the query loudly instead of silently colliding pack keys
      TextAnalysis.packBins(
          mixed.withColumn("pack_id", col("doc_id") * 1024 + col("copy_idx") +
            coalesce(assert_true(col("copy_idx") < 1024), lit(0)).cast("long")),
          "lang", "pack_id", "text", budget = 256)
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_tokens")).cast("long").as("bin_tokens"))
    }),

    // trailing-window rate anomalies: hourly event counts z-scored against
    // the 6 preceding hours (self-excluded); NULL z under 2 observations
    // or zero spread — explicit semantics, no engine div-by-zero
    "e08_rate_anomalies" -> ((s, d) =>
      Events.rateAnomalies(t(s, d, "events"), "ts", trailing = 6, zThreshold = 3.0)),

    // per-column dataset profile — one Expand+aggregate pass for every
    // column's nulls + exact distinct cardinality, unpivoted to long form
    "e07_profile" -> ((s, d) =>
      Quality.profile(t(s, d, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority"))),

    // second composed pipeline, from the round-11 curation operators:
    // cross-corpus segment scrub (drop all-boilerplate docs) → self-trained
    // unigram surprisal over the CLEANED text, keep at-or-below the corpus
    // mean (the outlier gate; threshold rounded to 6 dp for cross-engine
    // equality) → 128-token next-fit packing per lang — one lazy plan,
    // mirrored stage-for-stage by a single CTE chain in the twin
    "p02_curation_pipeline" -> ((s, d) => {
      val docs = tPar(s, d, "documents")
      val scrubbed = TextAnalysis.paragraphDedup(docs, "doc_id", "text", window = 8)
        .filter(col("kept_segments") > 0)
        .join(docs.select("doc_id", "lang"), "doc_id")
      val scores = TextAnalysis.unigramLogProb(scrubbed, "doc_id", "clean_text")
      val mean = scores.agg(round(avg(col("avg_neg_logp")), 6).as("_mean"))
      val kept = scores.crossJoin(broadcast(mean))
        .filter(col("avg_neg_logp") <= col("_mean"))
        .select("doc_id")
      TextAnalysis.packBins(scrubbed.join(kept, "doc_id"),
          "lang", "doc_id", "clean_text", budget = 128)
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_tokens")).cast("long").as("bin_tokens"))
    }),

    // curation v2 — this round's operators composed end-to-end: Gopher
    // rule gate (t19 thresholds) → near-dup clusters keep their BEST copy
    // (d19 keep-rule) → 128-token packing. Rule flags, clustering, and the
    // winner election all run over the GATED corpus only.
    "p03_curation_v2" -> ((s, d) => {
      val docs = tPar(s, d, "documents")
      val gate = TextAnalysis.gopherRules(docs, "doc_id", "text",
          minWords = 30, maxWords = 90,
          minMeanWordLen = 4.0, maxMeanWordLen = 4.9,
          minAlphaFrac = 0.8, minStopwords = 2,
          stopwords = Seq("the", "a", "of", "and", "is"))
        .filter(col("pass_gopher")).select("doc_id")
      val gated = docs.join(gate, "doc_id")
      val clusters = Dedup.dupClusters(s,
        Dedup.lshCandidates(gated, "doc_id", "text"))
      val scored = gated.select(col("doc_id"),
        TextAnalysis.distinctTokenCount(col("text")).as("q"))
      val kept = Dedup.dedupByClustersBest(gated, "doc_id", clusters, scored, "q")
      TextAnalysis.packBins(kept, "lang", "doc_id", "text", budget = 128)
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_tokens")).cast("long").as("bin_tokens"))
    }),

    // RAW-CRAWL front door composed end-to-end: a synthetic WARC archive
    // (real ISO 28500 framing, content derived from documents so the
    // oracle can re-derive it) → record parse → responses only →
    // htmlToText → canonicalizeUrl (tracking params drop) → word-count
    // gate → exact-text dedup keeping the lexically-first canonical URL
    // (the injected /alt/ duplicates lose or win deterministically) →
    // per-host census. One lazy plan from the binary scan to the
    // aggregate; the only driver materialization is the fixture build's
    // nFiles-bounded manifest.
    // the Lee-2021 prep chain as ONE composed lazy plan: exact-substring
    // scrub (word-anchored windows, corpus-first survives) → minimum-size
    // gate over the SCRUBBED text → per-lang training census. The twin
    // reconstructs the scrubbed text itself in SQL (kept segments between
    // merged cut islands, string_agg'd in order), so the census only
    // matches if the distributed excision is byte-exact corpus-wide —
    // this is the text-level check d23's length row approximates
    "p05_substring_pipeline" -> ((s, d) =>
      Dedup.scrubDuplicatedSpans(tPar(s, d, "documents"), "doc_id", "text",
          windowLen = 40)
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .filter(col("n_tokens") >= 30)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("sum_tokens"),
          sum(length(col("text"))).cast("long").as("sum_chars"))),

    "p04_warc_pipeline" -> ((s, d) => {
      val dir = warcCorpusFor(s, d)
      val resp = graft.sources.WarcFile.read(s, dir).toDF()
        .filter(col("warc_type") === "response")
        .select(
          TextAnalysis.canonicalizeUrl(col("url")).as("url"),
          TextAnalysis.htmlToText(col("body").cast("string")).as("text"))
        .filter(size(split(col("text"), " ")) >= 30) // arrival gate
      resp.groupBy("text") // exact-content dedup across crawl copies
        .agg(min("url").as("url"), count(lit(1)).as("copies"))
        .withColumn("host", regexp_extract(col("url"), "^https://([^/]+)/", 1))
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"),
          sum("copies").cast("long").as("n_records"),
          sum(size(split(col("text"), " "))).cast("long").as("sum_words"),
          sum(when(col("url").contains("/alt/"), 1L).otherwise(0L))
            .cast("long").as("alt_survivors"))
    })
  )

  // ---------------------------------------------------------------- oracles

  // shared by the g* chain queries and their bucketed-warehouse w* twins
  // (identical data, identical semantics — only the storage layout differs)
  /** Batched LSH top-k twin (bits=4, queries 0/7/11, k=5) — shared by s07
    * (ad-hoc bucketize) and s15 (persisted vector index): identical math,
    * different corpus layout. */
  private def annBatchSql(corpusWhere: String): String = {
    def proj(p: Int): String =
      s"list_sum(list_transform(embedding, (x, i) -> CAST(x AS DOUBLE) * " +
      s"((('0x' || substr(md5(concat('$p:', i - 1)), 1, 8))::BIGINT / 4294967296.0) - 0.5)))"
    s"""WITH e AS (SELECT vec_id, embedding,
      |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings $corpusWhere),
      |eb AS (SELECT vec_id, embedding, nrm,
      |    (CASE WHEN ${proj(0)} > 0 THEN 1 ELSE 0 END)
      |  + (CASE WHEN ${proj(1)} > 0 THEN 2 ELSE 0 END)
      |  + (CASE WHEN ${proj(2)} > 0 THEN 4 ELSE 0 END)
      |  + (CASE WHEN ${proj(3)} > 0 THEN 8 ELSE 0 END) AS blk
      |  FROM e),
      |q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn, blk AS qb
      |  FROM eb WHERE vec_id IN (0, 7, 11)),
      |scored AS (SELECT q.query_id, eb.vec_id AS id,
      |  ROUND(list_sum(list_transform(list_zip(eb.embedding, q.qv),
      |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (eb.nrm * q.qn), 4) AS cosine
      |  FROM eb JOIN q ON eb.blk = q.qb AND eb.vec_id <> q.query_id)
      |SELECT query_id, id, cosine FROM (
      |  SELECT query_id, id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, id) AS rk
      |  FROM scored) WHERE rk <= 5""".stripMargin
  }
  /** Incremental-dedup twin (d14/d16): both batches re-derived from raw
    * text; `storeExtra` narrows the store (even doc_id) side — d16 uses it
    * to exclude forgotten ids. */
  private def incrementOracleSql(storeExtra: String): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id,
      |  unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS shingle
      |  FROM toks WHERE len(t) >= 3),
      |h AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 4294967311 AS hh FROM sh),
      |mh AS (SELECT doc_id, i, MIN(((101 + 37*i) * hh + 12345 + 789*i) % 4294967311) AS mh
      |  FROM h CROSS JOIN range(0, 16) r(i) GROUP BY 1, 2),
      |sig AS (SELECT doc_id, i // 4 AS band,
      |  string_agg(CAST(mh AS VARCHAR), '_' ORDER BY i) AS sig FROM mh GROUP BY 1, 2),
      |cand AS (SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS id_a, GREATEST(a.doc_id, b.doc_id) AS id_b
      |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
      |  WHERE a.doc_id % 2 = 0 $storeExtra AND b.doc_id % 2 = 1)
      |SELECT c.id_a, c.id_b,
      |  ROUND(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / 16.0, 6) AS est_jaccard
      |FROM cand c
      |JOIN mh a ON a.doc_id = c.id_a
      |JOIN mh b ON b.doc_id = c.id_b AND b.i = a.i
      |GROUP BY 1, 2
      |HAVING ROUND(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / 16.0, 6) >= 0.5""".stripMargin

  private val AnnBatchSql = annBatchSql("")
  // s16's surviving set: full corpus minus the four lifecycle deletes
  // (compacted {1,8} and tombstoned {2,13} are equally gone to a reader)
  private val AnnLifecycleSql = annBatchSql("WHERE vec_id NOT IN (1, 2, 8, 13)")

  private val OrderCountsSql =
    """SELECT 'customer:' || c_custkey AS uid, COUNT(*) AS ordercount
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin
  private val RegionRevenueDslSql =
    """SELECT 'region:' || r_regionkey AS uid,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1""".stripMargin
  private val OrdersOfCustomerSql =
    "SELECT 'orders:' || o_orderkey AS uid FROM orders WHERE o_custkey = 42"

  // shared by x03 (parquet StarGraph) and x03w (bucketed warehouse): the
  // storage layout can't change a traversal's answer. Undirected 2-hop
  // frontier from nation:0 over the star-projected edges; min-distance
  // dedup, seed excluded — mirrors Traversals.kHop semantics.
  private val KhopReachSql =
    """WITH RECURSIVE
      |edges AS (
      |  SELECT 'customer:' || c_custkey AS a, 'nation:' || c_nationkey AS b FROM customer
      |  UNION ALL SELECT 'supplier:' || s_suppkey, 'nation:' || s_nationkey FROM supplier
      |  UNION ALL SELECT 'nation:' || n_nationkey, 'region:' || n_regionkey FROM nation
      |  UNION ALL SELECT 'orders:' || o_orderkey, 'customer:' || o_custkey FROM orders
      |  UNION ALL SELECT 'orders:' || l_orderkey, 'part:' || l_partkey FROM lineitem
      |),
      |und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
      |reach(uid, d) AS (
      |  SELECT 'nation:0', 0
      |  UNION
      |  SELECT u.b, r.d + 1 FROM reach r JOIN und u ON u.a = r.uid WHERE r.d < 2
      |)
      |SELECT split_part(uid, ':', 1) AS kind, COUNT(*) AS reached
      |FROM (SELECT uid, MIN(d) AS d FROM reach GROUP BY uid)
      |WHERE uid <> 'nation:0'
      |GROUP BY 1""".stripMargin

  /** x02's twin: GraphX staticPageRank(5) unrolled — 5 rounds of
    * rank = 0.15 + (1-0.15)·Σ rank/outdeg over the directed star edges
    * (initial rank 1.0, dangling mass NOT redistributed), then the final
    * rank·N/Σrank normalization GraphX applies (normalizeRankSum). Edge
    * MULTIPLICITY matters: outdeg = COUNT(*) and each parallel edge sends
    * its own message, exactly as aggregateMessages does. `(1.0 - 0.15)`
    * instead of the literal 0.85: GraphX computes the damping factor by
    * subtraction and the two doubles differ in the last ulp. */
  private val PageRankSql = {
    def iter(k: Int) =
      s"""r$k AS (SELECT n.uid, 0.15 + (1.0 - 0.15) * COALESCE(m.s, 0) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.b AS uid, SUM(p.r / o.d) AS s
         |    FROM edges e JOIN outdeg o ON o.a = e.a JOIN r${k - 1} p ON p.uid = e.a
         |    GROUP BY e.b) m ON m.uid = n.uid)""".stripMargin
    s"""WITH edges AS (
       |  SELECT 'customer:' || c_custkey AS a, 'nation:' || c_nationkey AS b FROM customer
       |  UNION ALL SELECT 'supplier:' || s_suppkey, 'nation:' || s_nationkey FROM supplier
       |  UNION ALL SELECT 'nation:' || n_nationkey, 'region:' || n_regionkey FROM nation
       |  UNION ALL SELECT 'orders:' || o_orderkey, 'customer:' || o_custkey FROM orders
       |  UNION ALL SELECT 'orders:' || l_orderkey, 'part:' || l_partkey FROM lineitem
       |),
       |nodes AS (
       |  SELECT 'customer:' || c_custkey AS uid FROM customer
       |  UNION ALL SELECT 'supplier:' || s_suppkey FROM supplier
       |  UNION ALL SELECT 'nation:' || n_nationkey FROM nation
       |  UNION ALL SELECT 'region:' || r_regionkey FROM region
       |  UNION ALL SELECT 'part:' || p_partkey FROM part
       |  UNION ALL SELECT 'orders:' || o_orderkey FROM orders
       |),
       |outdeg AS (SELECT a, COUNT(*) AS d FROM edges GROUP BY a),
       |r0 AS (SELECT uid, CAST(1.0 AS DOUBLE) AS r FROM nodes),
       |${(1 to 5).map(iter).mkString(",\n")},
       |norm AS (SELECT CAST(COUNT(*) AS DOUBLE) / SUM(r) AS f FROM r5)
       |SELECT uid, ROUND(r * (SELECT f FROM norm), 4) AS rank
       |FROM r5 ORDER BY rank DESC, uid LIMIT 20""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "w01_order_counts_wh" -> OrderCountsSql,
    "w05_region_revenue_wh" -> RegionRevenueDslSql,
    "w08_orders_of_customer_wh" -> OrdersOfCustomerSql,

    // same string-ordered pair predicate as the edge uids ('li:<ok>:<ln>')
    "w20_copart_pairs_wh" ->
      """SELECT 'orders:' || l1.l_orderkey AS uid, COUNT(*) AS pairs
        |FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
        |WHERE ('li:' || l1.l_orderkey || ':' || l1.l_linenumber)
        |    < ('li:' || l2.l_orderkey || ':' || l2.l_linenumber)
        |GROUP BY 1""".stripMargin,

    // mirrors Fts.snippet's deterministic contract: anchor windows at match
    // positions, rank by (distinct terms, occurrences, earliest), pull the
    // start back to fill trailing slack, render the lowercase token stream
    // with markers and edge ellipses
    "g16_fts_snippet" -> {
      val terms = "('spark', 'join')"
      val w = 7
      s"""WITH t AS (SELECT doc_id AS uid, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks FROM documents),
        |p AS (SELECT uid, u.s.t AS term, u.s.p AS pos
        |      FROM t, unnest([{'t': toks[i], 'p': i - 1} for i in range(1, len(toks) + 1)]) u(s)),
        |m AS (SELECT uid, pos, term FROM p WHERE term IN $terms),
        |sc AS (SELECT a.uid, a.pos AS anchor, COUNT(DISTINCT q.term) AS nterms, COUNT(*) AS nhits
        |  FROM m a JOIN m q ON q.uid = a.uid AND q.pos >= a.pos AND q.pos < a.pos + $w
        |  GROUP BY 1, 2),
        |best AS (SELECT uid, anchor FROM (
        |  SELECT uid, anchor, ROW_NUMBER() OVER (PARTITION BY uid ORDER BY nterms DESC, nhits DESC, anchor) AS rk
        |  FROM sc) WHERE rk = 1),
        |win AS (SELECT b.uid, GREATEST(0, LEAST(b.anchor, len(t.toks) - $w)) AS wstart, len(t.toks) AS ntok, t.toks AS toks
        |  FROM best b JOIN t ON t.uid = b.uid)
        |SELECT uid,
        |  (CASE WHEN wstart > 0 THEN '...' ELSE '' END) ||
        |  array_to_string([CASE WHEN toks[i] IN $terms THEN '<b>' || toks[i] || '</b>' ELSE toks[i] END
        |                   for i in range(wstart + 1, LEAST(wstart + $w, ntok) + 1)], ' ') ||
        |  (CASE WHEN wstart + $w < ntok THEN '...' ELSE '' END) AS snippet
        |FROM win""".stripMargin
    },

    "g17_fts_highlight" ->
      """WITH t AS (SELECT doc_id AS uid,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT uid,
        |  array_to_string([CASE WHEN toks[i] IN ('spark', 'join')
        |    THEN '<b>' || toks[i] || '</b>' ELSE toks[i] END
        |    for i in range(1, len(toks) + 1)], ' ') AS highlighted,
        |  len(list_filter(toks, x -> x IN ('spark', 'join'))) AS nmatches
        |FROM t
        |WHERE len(list_filter(toks, x -> x IN ('spark', 'join'))) > 0""".stripMargin,

    // the expected post-fold world stated from the base tables: suppliers
    // deleted (node kind absent, supplier-anchored EDGES untouched — the
    // journal is per-item), every customer carries the folded "vip" prop,
    // and the future "vip2" wave is invisible at the snapshot point.
    // Contains counts DISTINCT edge uids: the synthetic lineitem does not
    // enforce (orderkey, linenumber) uniqueness, and the per-uid fold
    // rightly collapses duplicate-uid create docs into one item
    "w21_journal_snapshot" ->
      """SELECT 'customer' AS kind, COUNT(*) AS n, COUNT(*) AS n_vip, CAST(0 AS BIGINT) AS n_vip2 FROM customer
        |UNION ALL SELECT 'nation', COUNT(*), CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM nation
        |UNION ALL SELECT 'region', COUNT(*), CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM region
        |UNION ALL SELECT 'part', COUNT(*), CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM part
        |UNION ALL SELECT 'orders', COUNT(*), CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM orders
        |UNION ALL SELECT 'InNation', COUNT(*), CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM customer
        |UNION ALL SELECT 'SuppNation', COUNT(*), CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM supplier
        |UNION ALL SELECT 'InRegion', COUNT(*), CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM nation
        |UNION ALL SELECT 'PlacedBy', COUNT(*), CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM orders
        |UNION ALL SELECT 'Contains', COUNT(DISTINCT l_orderkey || ':' || l_linenumber), CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM lineitem""".stripMargin,

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q06_selective_filter" ->
      """SELECT
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity < 24""".stripMargin,

    "q03_cust_orders_join" ->
      """SELECT c_mktsegment, COUNT(*) AS order_cnt,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q04_region_revenue" ->
      """SELECT r_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "q05_part_brand" ->
      """SELECT p_brand, COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,

    "q19_above_nation_avg" ->
      """SELECT s_suppkey FROM supplier
        |JOIN (SELECT s_nationkey AS nk,
        |        SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS sm, COUNT(*) AS cnt
        |      FROM supplier GROUP BY s_nationkey) a ON s_nationkey = nk
        |WHERE CAST(s_acctbal AS DECIMAL(18,2)) * cnt > sm""".stripMargin,

    "q20_self_join_pairs" ->
      """SELECT COUNT(*) AS pairs FROM lineitem l1
        |JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey AND l1.l_linenumber < l2.l_linenumber""".stripMargin,

    "q09_semi_join" ->
      """SELECT c_nationkey, COUNT(*) AS cust_cnt FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_nationkey""".stripMargin,

    "q10_anti_join" ->
      """SELECT c_nationkey, COUNT(*) AS cust_cnt FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_nationkey""".stripMargin,

    "q11_union_nationkeys" ->
      "SELECT c_nationkey AS nationkey FROM customer UNION SELECT s_nationkey FROM supplier",

    "q23_intersect_nationkeys" ->
      "SELECT c_nationkey AS nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier",

    "q24_except_nationkeys" ->
      "SELECT c_nationkey AS nationkey FROM customer EXCEPT SELECT s_nationkey FROM supplier",

    "q07_distinct_flags" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "q08_count_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS distinct_parts
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q14_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q25_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,

    "q18_having" ->
      """SELECT o_custkey, COUNT(*) AS cnt FROM orders
        |GROUP BY o_custkey HAVING COUNT(*) >= 15""".stripMargin,

    "q12_window_topk_per_cust" ->
      """SELECT o_custkey, o_orderkey, rk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin,

    "q13_running_count" ->
      """SELECT o_orderkey,
        | COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_cnt
        |FROM orders""".stripMargin,

    "q15_case_bands" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
        |  WHEN o_totalprice < 150000 THEN 'mid' ELSE 'high' END AS band,
        | COUNT(*) AS cnt
        |FROM orders GROUP BY 1""".stripMargin,

    "q16_string_funcs" ->
      """SELECT UPPER(p_brand) AS ub, SUBSTRING(p_name, 1, 3) AS pre,
        | CAST(LENGTH(p_name) AS INT) AS len, COUNT(*) AS cnt
        |FROM part GROUP BY 1, 2, 3""".stripMargin,

    "q17_date_parts" ->
      """SELECT CAST(YEAR(o_orderdate) AS INT) AS yr, CAST(MONTH(o_orderdate) AS INT) AS mo,
        | COUNT(*) AS orders, COUNT(DISTINCT o_custkey) AS custs
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "q21_json_extract" ->
      """SELECT event_type,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
        | COUNT(*) AS cnt
        |FROM events GROUP BY event_type""".stripMargin,

    "q22_daily_windows" ->
      """SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS DATE) AS day, event_type,
        | COUNT(*) AS cnt,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1, 2""".stripMargin,

    "g01_order_counts" -> OrderCountsSql,

    "g02_asia_customers" ->
      """SELECT 'customer:' || c_custkey AS uid
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'""".stripMargin,

    "g03_unordered_parts" ->
      """SELECT 'part:' || p_partkey AS uid FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)""".stripMargin,

    "g04_region_reach_count" ->
      """SELECT COUNT(DISTINCT c_custkey) AS cnt
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'""".stripMargin,

    "g05_region_revenue_dsl" -> RegionRevenueDslSql,

    "g06_glob_uid" ->
      """SELECT 'customer:' || c_custkey AS uid FROM customer
        |WHERE c_custkey BETWEEN 100 AND 199""".stripMargin,

    "g07_fts_parts" ->
      """SELECT 'part:' || p_partkey AS uid FROM part
        |WHERE regexp_matches(LOWER(p_name), '\bred\b')""".stripMargin,

    "g18_fts_parens" ->
      """SELECT 'part:' || p_partkey AS uid FROM part
        |WHERE (regexp_matches(LOWER(p_name), '\bblue\b')
        |       OR regexp_matches(LOWER(p_name), '\bred\b'))
        |  AND regexp_matches(LOWER(p_name), '\bwidget\b')""".stripMargin,

    "g08_orders_of_customer" -> OrdersOfCustomerSql,

    // the accentify→unicode61-fold pipeline is an exact no-op over the
    // ASCII corpus, so the twin is plain lower() tokenization — that
    // equivalence IS the fidelity claim under test
    "g20_fts_unicode61" ->
      """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
        |  FROM documents),
        |m AS (SELECT doc_id,
        |  len(list_filter(t, x -> x = 'the')) AS c1,
        |  len(list_filter(t, x -> x = 'scan')) AS c2 FROM toks)
        |SELECT doc_id, CAST(c1 + c2 AS BIGINT) AS score FROM m
        |WHERE c1 > 0 AND c2 > 0""".stripMargin,

    "g19_group_concat_total" ->
      """SELECT 'nation:' || n_nationkey AS uid,
        |  CAST(length(string_agg('customer:' || c_custkey, ',')) AS BIGINT) AS namechars,
        |  CAST(length(string_agg('customer:' || c_custkey, '; ')) AS BIGINT) AS namechars2,
        |  COALESCE(SUM(CAST(c_custkey AS DOUBLE)), 0.0) AS totbal
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY n_nationkey""".stripMargin,

    "g14_iif_band" ->
      """SELECT CASE WHEN CAST(c_acctbal AS DOUBLE) >= 5000 THEN 'high' ELSE 'low' END AS band,
        | COUNT(*) AS n
        |FROM customer GROUP BY 1""".stripMargin,

    "g11_order_by_joined" ->
      """SELECT 'customer:' || c_custkey AS uid
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey
        |ORDER BY MAX(CAST(o_totalprice AS DECIMAL(18,2))) DESC, uid ASC
        |LIMIT 20""".stripMargin,

    // rebuilds the positional postings inline, then mirrors the three-atom
    // match (two terms + one phrase) with the same tf score and tiebreak
    "g10_fts_or_phrase" ->
      """WITH t AS (SELECT 'part:' || p_partkey AS uid, list_filter(string_split_regex(lower(p_name), '[^a-z0-9]+'), x -> x <> '') AS toks FROM part),
        |p AS (SELECT uid, u.s.t AS term, u.s.p AS pos
        |      FROM t, unnest([{'t': toks[i], 'p': i - 1} for i in range(1, len(toks) + 1)]) u(s)),
        |m AS (
        |  (SELECT DISTINCT uid FROM p WHERE term = 'red')
        |  UNION
        |  (SELECT DISTINCT uid FROM p WHERE term = 'widget')
        |  UNION
        |  (SELECT DISTINCT p0.uid AS uid FROM p p0 JOIN p p1 ON p1.uid = p0.uid AND p1.pos = p0.pos + 1 AND p1.term = 'widget' WHERE p0.term = 'red')
        |),
        |sc AS (SELECT uid, CAST(SUM(c) AS BIGINT) AS score FROM (
        |  SELECT uid, COUNT(*) AS c FROM p WHERE term = 'red' GROUP BY uid
        |  UNION ALL
        |  SELECT uid, COUNT(*) AS c FROM p WHERE term = 'widget' GROUP BY uid
        |  UNION ALL
        |  SELECT p0.uid AS uid, COUNT(*) AS c FROM p p0 JOIN p p1 ON p1.uid = p0.uid AND p1.pos = p0.pos + 1 AND p1.term = 'widget' WHERE p0.term = 'red' GROUP BY p0.uid
        |) parts GROUP BY uid)
        |SELECT m.uid AS uid, sc.score AS score FROM m JOIN sc ON m.uid = sc.uid
        |ORDER BY score DESC, uid ASC LIMIT 100""".stripMargin,

    // the maintained postings lifecycle must be invisible to the match:
    // the twin rebuilds positional postings inline from raw part (same
    // CTE shape as g10) and mirrors the phrase + term atoms and tf score
    "g21_fts_ztable" ->
      """WITH t AS (SELECT 'part:' || p_partkey AS uid, list_filter(string_split_regex(lower(p_name), '[^a-z0-9]+'), x -> x <> '') AS toks FROM part),
        |p AS (SELECT uid, u.s.t AS term, u.s.p AS pos
        |      FROM t, unnest([{'t': toks[i], 'p': i - 1} for i in range(1, len(toks) + 1)]) u(s)),
        |m AS (
        |  (SELECT DISTINCT uid FROM p WHERE term = 'anvil')
        |  UNION
        |  (SELECT DISTINCT p0.uid AS uid FROM p p0 JOIN p p1 ON p1.uid = p0.uid AND p1.pos = p0.pos + 1 AND p1.term = 'gear' WHERE p0.term = 'blue')
        |),
        |sc AS (SELECT uid, CAST(SUM(c) AS BIGINT) AS score FROM (
        |  SELECT uid, COUNT(*) AS c FROM p WHERE term = 'anvil' GROUP BY uid
        |  UNION ALL
        |  SELECT p0.uid AS uid, COUNT(*) AS c FROM p p0 JOIN p p1 ON p1.uid = p0.uid AND p1.pos = p0.pos + 1 AND p1.term = 'gear' WHERE p0.term = 'blue' GROUP BY p0.uid
        |) parts GROUP BY uid)
        |SELECT m.uid AS uid, sc.score AS score FROM m JOIN sc ON m.uid = sc.uid""".stripMargin,

    // mirrors the NEAR proximity join over inline-rebuilt positional postings
    "g12_fts_near" ->
      """WITH t AS (SELECT 'part:' || p_partkey AS uid, list_filter(string_split_regex(lower(p_name), '[^a-z0-9]+'), x -> x <> '') AS toks FROM part),
        |p AS (SELECT uid, u.s.t AS term, u.s.p AS pos
        |      FROM t, unnest([{'t': toks[i], 'p': i - 1} for i in range(1, len(toks) + 1)]) u(s))
        |SELECT DISTINCT o0.uid AS uid
        |FROM (SELECT uid, pos FROM p WHERE term = 'red') o0
        |JOIN (SELECT uid, pos FROM p WHERE term = 'widget') o1 ON o1.uid = o0.uid
        |WHERE greatest(o0.pos, o1.pos) - least(o0.pos, o1.pos) <= 3""".stripMargin,

    // mirrors the NOT set difference
    "g13_fts_not" ->
      """WITH t AS (SELECT 'part:' || p_partkey AS uid, list_filter(string_split_regex(lower(p_name), '[^a-z0-9]+'), x -> x <> '') AS toks FROM part),
        |p AS (SELECT uid, u.s.t AS term, u.s.p AS pos
        |      FROM t, unnest([{'t': toks[i], 'p': i - 1} for i in range(1, len(toks) + 1)]) u(s))
        |SELECT uid FROM (
        |  (SELECT DISTINCT uid FROM p WHERE term = 'red')
        |  EXCEPT
        |  (SELECT DISTINCT uid FROM p WHERE term = 'widget'))""".stripMargin,

    "g09_order_limit_offset" ->
      """SELECT 'customer:' || c_custkey AS uid, COUNT(*) AS ordercount
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY ordercount DESC, uid LIMIT 10 OFFSET 5""".stripMargin,

    // mirrors the ^anchor: same postings CTE, initial token only (pos = 0).
    // Positions number the FILTERED token list (empty split slots dropped
    // before numbering), matching Fts.postings' FTS5-style token positions.
    "g15_fts_anchor" ->
      """WITH t AS (SELECT 'part:' || p_partkey AS uid,
        |  list_filter(string_split_regex(lower(p_name), '[^a-z0-9]+'), x -> x <> '') AS toks FROM part),
        |p AS (SELECT uid, u.s.t AS term, u.s.p AS pos
        |      FROM t, unnest([{'t': toks[i], 'p': i - 1} for i in range(1, len(toks) + 1)]) u(s))
        |SELECT DISTINCT uid FROM p WHERE term = 'red' AND pos = 0""".stripMargin,

    "d01_exact_dedup_stats" ->
      """SELECT COUNT(*) AS total_docs,
        | COUNT(DISTINCT md5(text)) AS distinct_docs,
        | COUNT(DISTINCT substr(md5(LOWER(regexp_replace(text, '\s+', ' ', 'g'))), 1, 32)) AS distinct_norm
        |FROM documents""".stripMargin,

    "d02_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id,
        |  unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |sized AS (SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY doc_id) AS n FROM sh),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared,
        |    ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
        |  FROM sized a JOIN sized b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  ROUND(CAST(shared AS DOUBLE) / (na + nb - shared), 6) AS jaccard
        |FROM pairs WHERE ROUND(CAST(shared AS DOUBLE) / (na + nb - shared), 6) >= 0.5""".stripMargin,

    // d02 with the df-cap: pairing restricted to shingles in 2..maxDf docs
    // (|A|/|B| still count ALL shingles, mirroring the Spark side)
    "d09_jaccard_capped" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id,
        |  unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |fits AS (SELECT ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
        |  FROM sh GROUP BY 1 HAVING COUNT(*) BETWEEN 2 AND 3),
        |sized AS (SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY doc_id) AS n FROM sh),
        |kept AS (SELECT s.doc_id, s.shingle, s.n FROM sized s
        |  JOIN fits f ON ('0x' || substr(md5(s.shingle), 1, 15))::BIGINT = f.h),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared,
        |    ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
        |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  ROUND(CAST(shared AS DOUBLE) / (na + nb - shared), 6) AS jaccard
        |FROM pairs WHERE ROUND(CAST(shared AS DOUBLE) / (na + nb - shared), 6) >= 0.5""".stripMargin,

    // d09's CTEs, uncapped (df >= 2), containment = shared / LEAST(|A|,|B|)
    "d13_containment" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id,
        |  unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |fits AS (SELECT ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
        |  FROM sh GROUP BY 1 HAVING COUNT(*) >= 2),
        |sized AS (SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY doc_id) AS n FROM sh),
        |kept AS (SELECT s.doc_id, s.shingle, s.n FROM sized s
        |  JOIN fits f ON ('0x' || substr(md5(s.shingle), 1, 15))::BIGINT = f.h),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared,
        |    ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
        |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  ROUND(CAST(shared AS DOUBLE) / LEAST(na, nb), 6) AS containment
        |FROM pairs WHERE ROUND(CAST(shared AS DOUBLE) / LEAST(na, nb), 6) >= 0.8""".stripMargin,

    // word-anchored 40-char windows (anchors = split-on-space prefix sums,
    // empty tokens included — the exact positions anchoredWindows derives),
    // duplicated = window text seen >= 2 times corpus-wide
    "d22_dup_substrings" ->
      """WITH st AS (
        |  SELECT doc_id, text,
        |    1 + COALESCE(SUM(length(tok) + 1) OVER (PARTITION BY doc_id ORDER BY idx
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos
        |  FROM (SELECT doc_id, text, unnest(string_split(text, ' ')) AS tok,
        |               generate_subscripts(string_split(text, ' '), 1) AS idx
        |        FROM documents)),
        |w AS (SELECT doc_id, pos, substr(text, pos::INT, 40) AS win
        |      FROM st WHERE pos + 39 <= length(text)),
        |d AS (SELECT win FROM w GROUP BY win HAVING COUNT(*) > 1)
        |SELECT doc_id, COUNT(*) AS n_dup_windows
        |FROM w JOIN d USING (win) GROUP BY doc_id""".stripMargin,

    // the scrub twin taken all the way to TEXT: kept segments between
    // merged cut islands rebuilt with string_agg (fully-scrubbed docs
    // rebuild as '', via the zero-length-segment GREATEST guard), then
    // the same size gate and census — byte-exact excision or no match
    "p05_substring_pipeline" ->
      """WITH st AS (
        |  SELECT doc_id, text,
        |    1 + COALESCE(SUM(length(tok) + 1) OVER (PARTITION BY doc_id ORDER BY idx
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos
        |  FROM (SELECT doc_id, text, unnest(string_split(text, ' ')) AS tok,
        |               generate_subscripts(string_split(text, ' '), 1) AS idx
        |        FROM documents)),
        |w AS (SELECT doc_id, pos, substr(text, pos::INT, 40) AS win
        |      FROM st WHERE pos + 39 <= length(text)),
        |ranked AS (SELECT doc_id, pos,
        |    ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn,
        |    COUNT(*) OVER (PARTITION BY win) AS c FROM w),
        |rm AS (SELECT doc_id, pos FROM ranked WHERE c > 1 AND rn > 1),
        |isl AS (SELECT doc_id, pos,
        |    CASE WHEN pos > COALESCE(MAX(pos + 40) OVER (
        |      PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |    THEN 1 ELSE 0 END AS new_island FROM rm),
        |isl2 AS (SELECT doc_id, pos,
        |    SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl),
        |merged AS (SELECT doc_id, island, MIN(pos) AS cut_lo, MAX(pos + 40) AS cut_hi
        |  FROM isl2 GROUP BY doc_id, island),
        |segs AS (
        |  SELECT doc_id,
        |    COALESCE(LAG(cut_hi) OVER (PARTITION BY doc_id ORDER BY cut_lo), 1) AS seg_start,
        |    cut_lo AS seg_end
        |  FROM merged
        |  UNION ALL
        |  SELECT m.doc_id, MAX(m.cut_hi) AS seg_start, MAX(length(d.text)) + 1 AS seg_end
        |  FROM merged m JOIN documents d USING (doc_id) GROUP BY m.doc_id),
        |rebuilt AS (
        |  SELECT s.doc_id,
        |    string_agg(substr(d.text, s.seg_start::INT,
        |      GREATEST(s.seg_end - s.seg_start, 0)::INT), '' ORDER BY s.seg_start) AS scrubbed
        |  FROM segs s JOIN documents d USING (doc_id)
        |  GROUP BY s.doc_id),
        |final AS (
        |  SELECT d.doc_id, d.lang, COALESCE(r.scrubbed, d.text) AS text
        |  FROM documents d LEFT JOIN rebuilt r USING (doc_id))
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
        |FROM final WHERE len(string_split(text, ' ')) >= 30
        |GROUP BY lang""".stripMargin,

    // eval windows (doc_id % 17 == 0) semi-joined against the train
    // split's distinct windows; docs shorter than a window emit no row
    "d24_substring_contamination" ->
      """WITH st AS (
        |  SELECT doc_id, text,
        |    1 + COALESCE(SUM(length(tok) + 1) OVER (PARTITION BY doc_id ORDER BY idx
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos
        |  FROM (SELECT doc_id, text, unnest(string_split(text, ' ')) AS tok,
        |               generate_subscripts(string_split(text, ' '), 1) AS idx
        |        FROM documents)),
        |w AS (SELECT doc_id, substr(text, pos::INT, 40) AS win
        |      FROM st WHERE pos + 39 <= length(text)),
        |ew AS (SELECT doc_id, win FROM w WHERE doc_id % 17 = 0),
        |cw AS (SELECT DISTINCT win FROM w WHERE doc_id % 17 <> 0),
        |tot AS (SELECT doc_id, COUNT(*) AS n_windows FROM ew GROUP BY doc_id),
        |hit AS (SELECT doc_id, COUNT(*) AS n_hit FROM ew
        |        WHERE win IN (SELECT win FROM cw) GROUP BY doc_id)
        |SELECT t.doc_id, t.n_windows, COALESCE(h.n_hit, 0) AS n_hit,
        |  ROUND(COALESCE(h.n_hit, 0)::DOUBLE / t.n_windows, 6) AS hit_frac
        |FROM tot t LEFT JOIN hit h USING (doc_id)""".stripMargin,

    // the scrub's election (first occurrence by (doc_id, pos) survives) as
    // row_number, then a gaps-and-islands merge of the fixed 40-char spans
    // gives each doc's removed-char total; scrubbed length = len - removed
    "d23_substring_scrub" ->
      """WITH st AS (
        |  SELECT doc_id, text,
        |    1 + COALESCE(SUM(length(tok) + 1) OVER (PARTITION BY doc_id ORDER BY idx
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos
        |  FROM (SELECT doc_id, text, unnest(string_split(text, ' ')) AS tok,
        |               generate_subscripts(string_split(text, ' '), 1) AS idx
        |        FROM documents)),
        |w AS (SELECT doc_id, pos, substr(text, pos::INT, 40) AS win
        |      FROM st WHERE pos + 39 <= length(text)),
        |ranked AS (SELECT doc_id, pos,
        |    ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn,
        |    COUNT(*) OVER (PARTITION BY win) AS c
        |  FROM w),
        |rm AS (SELECT doc_id, pos FROM ranked WHERE c > 1 AND rn > 1),
        |isl AS (SELECT doc_id, pos,
        |    CASE WHEN pos > COALESCE(MAX(pos + 40) OVER (
        |      PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |    THEN 1 ELSE 0 END AS new_island
        |  FROM rm),
        |isl2 AS (SELECT doc_id, pos,
        |    SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM isl),
        |merged AS (SELECT doc_id, island, MAX(pos + 40) - MIN(pos) AS cut
        |  FROM isl2 GROUP BY doc_id, island),
        |cuts AS (SELECT doc_id, SUM(cut) AS cut FROM merged GROUP BY doc_id)
        |SELECT d.doc_id, CAST(length(d.text) - COALESCE(c.cut, 0) AS BIGINT) AS scrubbed_len
        |FROM documents d LEFT JOIN cuts c USING (doc_id)""".stripMargin,

    "d10_jaccard_overflow" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id,
        |  unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS shingle
        |  FROM toks WHERE len(t) >= 3)
        |SELECT ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h, COUNT(*) AS df
        |FROM sh GROUP BY 1 HAVING COUNT(*) > 3""".stripMargin,

    // mirrors scrubRepeatedNgrams: 0-based gram starts, hot = 3-gram hash in
    // >= 3 distinct docs, covered positions dropped, survivors rejoin in
    // original order; LEFT JOIN keeps fully-scrubbed docs as empty strings
    "d11_ngram_scrub" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, i AS start,
        |  ('0x' || substr(md5(array_to_string(toks[i+1:i+3], ' ')), 1, 15))::BIGINT AS gram
        |  FROM d, UNNEST(range(len(toks) - 2)) AS u(i) WHERE len(toks) >= 3),
        |hot AS (SELECT gram FROM (
        |  SELECT gram, COUNT(DISTINCT doc_id) AS gdf FROM g GROUP BY gram) WHERE gdf >= 3),
        |cov AS (SELECT DISTINCT g.doc_id, p.pos
        |  FROM g JOIN hot USING (gram), UNNEST(range(g.start, g.start + 3)) AS p(pos)),
        |tok AS (SELECT doc_id, unnest(toks) AS tok, unnest(range(len(toks))) AS pos FROM d),
        |kept AS (SELECT t.doc_id, COUNT(*) AS n_kept,
        |  string_agg(t.tok, ' ' ORDER BY t.pos) AS cleaned_text
        |  FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
        |  WHERE c.pos IS NULL GROUP BY t.doc_id)
        |SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tokens,
        |  CAST(len(d.toks) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
        |  COALESCE(k.cleaned_text, '') AS cleaned_text
        |FROM d LEFT JOIN kept k USING (doc_id)""".stripMargin,

    "d03_lsh_candidates" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id,
        |  unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |h AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 4294967311 AS hh FROM sh),
        |mh AS (SELECT doc_id, i, MIN(((101 + 37*i) * hh + 12345 + 789*i) % 4294967311) AS mh
        |  FROM h CROSS JOIN range(0, 16) r(i) GROUP BY 1, 2),
        |sig AS (SELECT doc_id, i // 4 AS band,
        |  string_agg(CAST(mh AS VARCHAR), '_' ORDER BY i) AS sig FROM mh GROUP BY 1, 2),
        |fits AS (SELECT band, sig FROM sig GROUP BY band, sig HAVING COUNT(*) <= 1000)
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM sig a JOIN fits f ON a.band = f.band AND a.sig = f.sig
        |JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id""".stripMargin,

    // d03's CTEs + per-pair equal-component fraction over the 16 minhashes
    "d12_lsh_verified" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id,
        |  unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |h AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 4294967311 AS hh FROM sh),
        |mh AS (SELECT doc_id, i, MIN(((101 + 37*i) * hh + 12345 + 789*i) % 4294967311) AS mh
        |  FROM h CROSS JOIN range(0, 16) r(i) GROUP BY 1, 2),
        |sig AS (SELECT doc_id, i // 4 AS band,
        |  string_agg(CAST(mh AS VARCHAR), '_' ORDER BY i) AS sig FROM mh GROUP BY 1, 2),
        |fits AS (SELECT band, sig FROM sig GROUP BY band, sig HAVING COUNT(*) <= 1000),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sig a JOIN fits f ON a.band = f.band AND a.sig = f.sig
        |  JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
        |SELECT c.id_a, c.id_b,
        |  ROUND(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / 16.0, 6) AS est_jaccard
        |FROM cand c
        |JOIN mh a ON a.doc_id = c.id_a
        |JOIN mh b ON b.doc_id = c.id_b AND b.i = a.i
        |GROUP BY 1, 2
        |HAVING ROUND(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / 16.0, 6) >= 0.5""".stripMargin,

    // the incremental path must equal full recomputation restricted to
    // cross-batch pairs: the twin re-derives BOTH batches' signatures from
    // text (it has no store), joins bands across the even/odd split, and
    // re-scores — d03/d12's CTEs with a batch predicate in the pair join
    "d14_incremental_dedup" -> incrementOracleSql(""),

    // d14's CTE chain with eval/train split roles + per-train arg-max
    "d21_fuzzy_contamination" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id,
        |  unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |h AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 4294967311 AS hh FROM sh),
        |mh AS (SELECT doc_id, i, MIN(((101 + 37*i) * hh + 12345 + 789*i) % 4294967311) AS mh
        |  FROM h CROSS JOIN range(0, 16) r(i) GROUP BY 1, 2),
        |sig AS (SELECT doc_id, i // 4 AS band,
        |  string_agg(CAST(mh AS VARCHAR), '_' ORDER BY i) AS sig FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS id_a, GREATEST(a.doc_id, b.doc_id) AS id_b
        |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
        |  WHERE a.doc_id % 50 = 0 AND b.doc_id % 50 <> 0),
        |est AS (SELECT c.id_a, c.id_b,
        |  ROUND(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / 16.0, 6) AS est
        | FROM cand c
        | JOIN mh a ON a.doc_id = c.id_a
        | JOIN mh b ON b.doc_id = c.id_b AND b.i = a.i
        | GROUP BY 1, 2
        | HAVING ROUND(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / 16.0, 6) >= 0.5),
        |sided AS (SELECT
        |  CASE WHEN id_a % 50 = 0 THEN id_b ELSE id_a END AS doc_id,
        |  CASE WHEN id_a % 50 = 0 THEN id_a ELSE id_b END AS eval_id, est FROM est),
        |rk AS (SELECT doc_id, eval_id, est,
        |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY est DESC, eval_id ASC) AS r
        |  FROM sided)
        |SELECT doc_id, est AS max_est, eval_id AS closest_eval FROM rk WHERE r = 1""".stripMargin,

    // the store side (even doc_ids) additionally excludes the forgotten
    // docs — forget ≡ rebuild-without-them, derived from raw text
    "d16_forget_increment" ->
      incrementOracleSql("AND a.doc_id NOT IN (8, 26, 58)"),

    "d04_simhash" ->
      """WITH toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents),
        |th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
        |bits AS (SELECT doc_id, b,
        |  CASE WHEN SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
        |       THEN (CAST(1 AS BIGINT) << b) ELSE 0 END AS bit
        |  FROM th CROSS JOIN range(0, 60) r(b) GROUP BY doc_id, b)
        |SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS simhash FROM bits GROUP BY doc_id""".stripMargin,

    "d05_embedding_dups" ->
      """WITH e AS (SELECT vec_id, label, embedding,
        |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.nrm * b.nrm), 6) AS cosine
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.nrm * b.nrm), 6) >= 0.35""".stripMargin,

    // extends the d04 simhash CTEs with 15-bit band blocking + exact
    // hamming verify (pigeonhole-complete for <=3 with 4 bands)
    "d07_simhash_pairs" ->
      """WITH toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents),
        |th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
        |bits AS (SELECT doc_id, b,
        |  CASE WHEN SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
        |       THEN (CAST(1 AS BIGINT) << b) ELSE 0 END AS bit
        |  FROM th CROSS JOIN range(0, 60) r(b) GROUP BY doc_id, b),
        |sh AS (SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS simhash FROM bits GROUP BY doc_id),
        |banded AS (SELECT doc_id, simhash, r.b AS band, (simhash >> (CAST(r.b AS INT) * 15)) & 32767 AS slice
        |  FROM sh CROSS JOIN range(0, 4) r(b))
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |FROM banded a JOIN banded b ON a.band = b.band AND a.slice = b.slice AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,

    // mirrors Similarity.lshBucket: plane component (p, i) =
    // md5("p:i")[0:8] as uint32 / 2^32 - 0.5; bucket = Σ sign-bits. The
    // 4 planes are expanded literally; list_sum/list_transform keep the
    // same left-fold summation order as Spark's `aggregate`.
    "d06_embedding_dups_lsh" -> {
      def proj(p: Int): String =
        s"list_sum(list_transform(embedding, (x, i) -> CAST(x AS DOUBLE) * " +
        s"((('0x' || substr(md5(concat('$p:', i - 1)), 1, 8))::BIGINT / 4294967296.0) - 0.5)))"
      s"""WITH e AS (SELECT vec_id, embedding,
        |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |eb AS (SELECT vec_id, embedding, nrm,
        |    (CASE WHEN ${proj(0)} > 0 THEN 1 ELSE 0 END)
        |  + (CASE WHEN ${proj(1)} > 0 THEN 2 ELSE 0 END)
        |  + (CASE WHEN ${proj(2)} > 0 THEN 4 ELSE 0 END)
        |  + (CASE WHEN ${proj(3)} > 0 THEN 8 ELSE 0 END) AS blk
        |  FROM e)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.nrm * b.nrm), 6) AS cosine
        |FROM eb a JOIN eb b ON a.blk = b.blk AND a.vec_id < b.vec_id
        |WHERE ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.nrm * b.nrm), 6) >= 0.35""".stripMargin
    },

    // s09's codebook-assignment CTEs (argmax cosine vs rows 1/5/9, 6-dp
    // rounding, lowest-cid ties) + within-cell cosine pairs + d15's
    // recursive-CTE transitive closure and min-id survivor rule
    "d18_semantic_dedup" ->
      """WITH RECURSIVE
        |e AS (SELECT vec_id, embedding,
        |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |cb AS (SELECT vec_id AS cid, embedding AS cvec, nrm AS cnrm FROM e WHERE vec_id IN (1, 5, 9)),
        |scored AS (SELECT e.vec_id, cb.cid,
        |  ROUND(list_sum(list_transform(list_zip(e.embedding, cb.cvec),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (e.nrm * cb.cnrm), 6) AS sim
        |  FROM e CROSS JOIN cb),
        |asg AS (SELECT vec_id, cid FROM (
        |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rk
        |  FROM scored) WHERE rk = 1),
        |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM e a JOIN asg aa ON aa.vec_id = a.vec_id
        |  JOIN e b ON a.vec_id < b.vec_id
        |  JOIN asg ab ON ab.vec_id = b.vec_id AND ab.cid = aa.cid
        |  WHERE ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.nrm * b.nrm), 6) >= 0.35),
        |und AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |walk(id, r) AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT w.id, u.b FROM walk w JOIN und u ON u.a = w.r
        |),
        |clusters AS (SELECT id, LEAST(id, MIN(r)) AS cluster FROM walk GROUP BY id),
        |drops AS (SELECT id FROM clusters WHERE id <> cluster)
        |SELECT m.vec_id, m.label FROM embeddings m
        |LEFT JOIN drops x ON m.vec_id = x.id
        |WHERE x.id IS NULL""".stripMargin,

    // d06's plane/bucket recomputation at 8 bits; the multi-probe candidate
    // set {bucket-hamming <= 1} is a bit_count(xor) theta-join in DuckDB —
    // the RESULT contract of the probed operator, independent of the
    // mask-explosion plan Spark uses to reach it
    "d17_embedding_dups_probed" -> {
      def proj(p: Int): String =
        s"list_sum(list_transform(embedding, (x, i) -> CAST(x AS DOUBLE) * " +
        s"((('0x' || substr(md5(concat('$p:', i - 1)), 1, 8))::BIGINT / 4294967296.0) - 0.5)))"
      val blk = (0 until 8).map(p =>
        s"(CASE WHEN ${proj(p)} > 0 THEN ${1 << p} ELSE 0 END)").mkString("\n  + ")
      s"""WITH e AS (SELECT vec_id, embedding,
        |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |eb AS (SELECT vec_id, embedding, nrm, $blk AS blk
        |  FROM e)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.nrm * b.nrm), 6) AS cosine
        |FROM eb a JOIN eb b ON a.vec_id < b.vec_id AND bit_count(xor(a.blk::BIGINT, b.blk::BIGINT)) <= 1
        |WHERE ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.nrm * b.nrm), 6) >= 0.35""".stripMargin
    },

    // mirrors Dedup.contamination: distinct 5-gram shingles per eval doc,
    // probed against the train split's distinct shingle hashes
    "d08_contamination" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id,
        |  unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
        |    for i in range(1, len(t) - 3)])) AS shingle
        |  FROM t WHERE len(t) >= 5),
        |ev AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
        |  FROM sh WHERE doc_id % 50 = 0),
        |tr AS (SELECT DISTINCT ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
        |  FROM sh WHERE doc_id % 50 <> 0)
        |SELECT ev.doc_id AS doc_id, COUNT(*) AS n_shingles,
        |  CAST(SUM(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  ROUND(CAST(SUM(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS contamination
        |FROM ev LEFT JOIN tr ON ev.h = tr.h GROUP BY 1""".stripMargin,

    // Adamic–Adar re-derived relationally: canonical edges, adjacency
    // both ways, capped intermediaries, wedge join, existing-edge anti
    "x10_adamic_adar" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey WHERE o_orderpriority = '1-URGENT'),
        |e0 AS (SELECT DISTINCT LEAST(a.pk, b.pk) AS a, GREATEST(a.pk, b.pk) AS b
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
        |und AS (SELECT a AS z, b AS n FROM e0 UNION ALL SELECT b, a FROM e0),
        |deg AS (SELECT z, COUNT(*) AS d FROM und GROUP BY z),
        |w AS (SELECT u1.n AS a, u2.n AS b, 1.0 / LN(deg.d) AS wt
        |  FROM und u1 JOIN und u2 ON u1.z = u2.z AND u1.n < u2.n
        |  JOIN deg ON deg.z = u1.z WHERE deg.d <= 40),
        |s AS (SELECT a, b, ROUND(SUM(wt), 6) AS aa_score FROM w GROUP BY 1, 2),
        |ne AS (SELECT s.a, s.b, s.aa_score FROM s
        |  LEFT JOIN e0 ON s.a = e0.a AND s.b = e0.b WHERE e0.a IS NULL)
        |SELECT a AS part_a, b AS part_b, aa_score FROM ne
        |ORDER BY aa_score DESC, a, b LIMIT 20""".stripMargin,

    // d08 transposed: train docs probe the DISTINCT eval-shingle set
    "d20_contamination_guard" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id,
        |  unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
        |    for i in range(1, len(t) - 3)])) AS shingle
        |  FROM t WHERE len(t) >= 5),
        |ev AS (SELECT DISTINCT ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
        |  FROM sh WHERE doc_id % 50 = 0),
        |tr AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
        |  FROM sh WHERE doc_id % 50 <> 0)
        |SELECT tr.doc_id AS doc_id, COUNT(*) AS n_shingles,
        |  CAST(SUM(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  ROUND(CAST(SUM(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS contamination
        |FROM tr LEFT JOIN ev ON tr.h = ev.h GROUP BY 1""".stripMargin,

    // r4: recursive-CTE twins for the closure queries; r5 closed x02 with
    // the unrolled fixed-iteration PageRank and x01 via its error-contract
    // form — every query in the battery is now oracle-checked
    "x01_approx_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS approx_ok
        |FROM lineitem GROUP BY 1""".stripMargin,

    "x07_heavy_hitters" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |SELECT tok, COUNT(*) AS exact, TRUE AS cms_ok
        |FROM toks WHERE tok <> ''
        |GROUP BY tok ORDER BY exact DESC, tok LIMIT 20""".stripMargin,

    // discrete rank picks (floor(p*(n-1))+1) — integral, no interpolation
    // arithmetic to diverge across engines; the sketch side is
    // contract-bound on the Spark side, TRUE here
    "x06_approx_percentiles" ->
      """WITH r AS (SELECT l_returnflag, l_extendedprice,
        |  ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
        |  COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  MAX(CASE WHEN rn = CAST(FLOOR((n-1) * 0.5) AS BIGINT) + 1 THEN l_extendedprice END) AS p50,
        |  MAX(CASE WHEN rn = CAST(FLOOR((n-1) * 0.9) AS BIGINT) + 1 THEN l_extendedprice END) AS p90,
        |  MAX(CASE WHEN rn = CAST(FLOOR((n-1) * 0.99) AS BIGINT) + 1 THEN l_extendedprice END) AS p99,
        |  TRUE AS approx_ok
        |FROM r GROUP BY 1""".stripMargin,

    // id-ordered triangle enumeration (x<y<z via e1.a<e1.b=e2.a<e2.b) over
    // the distinct urgent-order co-purchase edges — the same triangle set
    // the degree-oriented Spark plan finds (orientation changes cost only)
    "x08_copart_triangles" ->
      """WITH li AS (SELECT l.l_orderkey, l.l_partkey FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_orderpriority = '1-URGENT'),
        |e AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
        |    greatest(a.l_partkey, b.l_partkey) AS b
        |  FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |n AS (SELECT x AS v FROM tri
        |  UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |SELECT v AS part, COUNT(*) AS triangles FROM n GROUP BY v
        |ORDER BY triangles DESC, part LIMIT 20""".stripMargin,

    // x08's edge/triangle CTEs + a degree CTE; the deg≥2 filter and the
    // 2T/(d(d−1)) formula at 6 dp; triangle-free nodes COALESCE to 0
    "x09_clustering_coeff" ->
      """WITH li AS (SELECT l.l_orderkey, l.l_partkey FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_orderpriority = '1-URGENT'),
        |e AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
        |    greatest(a.l_partkey, b.l_partkey) AS b
        |  FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT v, COUNT(*) AS degree FROM
        |  (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |n AS (SELECT x AS v FROM tri
        |  UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri),
        |tc AS (SELECT v, COUNT(*) AS triangles FROM n GROUP BY v)
        |SELECT d.v AS part, d.degree,
        |  COALESCE(tc.triangles, CAST(0 AS BIGINT)) AS triangles,
        |  ROUND(COALESCE(tc.triangles, 0) * 2.0 / (d.degree * (d.degree - 1)), 6) AS coeff
        |FROM deg d LEFT JOIN tc ON tc.v = d.v WHERE d.degree >= 2
        |ORDER BY coeff DESC, triangles DESC, part LIMIT 20""".stripMargin,

    "x02_pagerank" -> PageRankSql,
    "x03_khop_reach" -> KhopReachSql,
    "x03w_khop_bucketed" -> KhopReachSql,
    "x03z_khop_ztable" -> KhopReachSql,

    // BFS distances: same undirected star edges as x03, recursion bounded at
    // d < 8 (star-graph eccentricity from nation:0 is ~5), MIN(d) per uid =
    // the exact BFS level Pregel computes
    "x05_hop_distances" ->
      """WITH RECURSIVE
        |edges AS (
        |  SELECT 'customer:' || c_custkey AS a, 'nation:' || c_nationkey AS b FROM customer
        |  UNION ALL SELECT 'supplier:' || s_suppkey, 'nation:' || s_nationkey FROM supplier
        |  UNION ALL SELECT 'nation:' || n_nationkey, 'region:' || n_regionkey FROM nation
        |  UNION ALL SELECT 'orders:' || o_orderkey, 'customer:' || o_custkey FROM orders
        |  UNION ALL SELECT 'orders:' || l_orderkey, 'part:' || l_partkey FROM lineitem
        |),
        |und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
        |reach(uid, d) AS (
        |  SELECT 'nation:0', 0
        |  UNION
        |  SELECT u.b, r.d + 1 FROM reach r JOIN und u ON u.a = r.uid WHERE r.d < 8
        |)
        |SELECT split_part(uid, ':', 1) AS kind, CAST(d AS INT) AS dist, COUNT(*) AS n
        |FROM (SELECT uid, MIN(d) AS d FROM reach GROUP BY uid)
        |GROUP BY 1, 2""".stripMargin,

    // transitive closure of the (uncapped) LSH candidate pairs by reachable-
    // set min-label: cluster(id) = least(id, min reachable id) — the GraphX
    // connectedComponents invariant — then the cluster-size histogram
    "x04_dup_clusters" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id,
        |  unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |h AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 4294967311 AS hh FROM sh),
        |mh AS (SELECT doc_id, i, MIN(((101 + 37*i) * hh + 12345 + 789*i) % 4294967311) AS mh
        |  FROM h CROSS JOIN range(0, 16) r(i) GROUP BY 1, 2),
        |sig AS (SELECT doc_id, i // 4 AS band,
        |  string_agg(CAST(mh AS VARCHAR), '_' ORDER BY i) AS sig FROM mh GROUP BY 1, 2),
        |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        |und AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |walk(id, r) AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT w.id, u.b FROM walk w JOIN und u ON u.a = w.r
        |),
        |clusters AS (SELECT id, LEAST(id, MIN(r)) AS cluster FROM walk GROUP BY id),
        |sizes AS (SELECT cluster, COUNT(*) AS members FROM clusters GROUP BY cluster)
        |SELECT members, COUNT(*) AS n_clusters FROM sizes GROUP BY members ORDER BY members""".stripMargin,

    // x04's CTE chain through `clusters`, then the survivor manifest: a doc
    // survives iff it never paired (absent from clusters) or is its
    // cluster's min-id representative — DuckDB twin of dedupByClusters
    "d15_dedup_corpus" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id,
        |  unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |h AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 4294967311 AS hh FROM sh),
        |mh AS (SELECT doc_id, i, MIN(((101 + 37*i) * hh + 12345 + 789*i) % 4294967311) AS mh
        |  FROM h CROSS JOIN range(0, 16) r(i) GROUP BY 1, 2),
        |sig AS (SELECT doc_id, i // 4 AS band,
        |  string_agg(CAST(mh AS VARCHAR), '_' ORDER BY i) AS sig FROM mh GROUP BY 1, 2),
        |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        |und AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |walk(id, r) AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT w.id, u.b FROM walk w JOIN und u ON u.a = w.r
        |),
        |clusters AS (SELECT id, LEAST(id, MIN(r)) AS cluster FROM walk GROUP BY id),
        |drops AS (SELECT id FROM clusters WHERE id <> cluster)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
        |LEFT JOIN drops x ON d.doc_id = x.id
        |WHERE x.id IS NULL""".stripMargin,

    // d15's pair/cluster CTEs verbatim; only the keep-rule differs — the
    // highest distinct-token member wins its cluster (ties → min id)
    "d19_dedup_best" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id,
        |  unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |h AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 4294967311 AS hh FROM sh),
        |mh AS (SELECT doc_id, i, MIN(((101 + 37*i) * hh + 12345 + 789*i) % 4294967311) AS mh
        |  FROM h CROSS JOIN range(0, 16) r(i) GROUP BY 1, 2),
        |sig AS (SELECT doc_id, i // 4 AS band,
        |  string_agg(CAST(mh AS VARCHAR), '_' ORDER BY i) AS sig FROM mh GROUP BY 1, 2),
        |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        |und AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |walk(id, r) AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT w.id, u.b FROM walk w JOIN und u ON u.a = w.r
        |),
        |clusters AS (SELECT id, LEAST(id, MIN(r)) AS cluster FROM walk GROUP BY id),
        |q AS (SELECT doc_id, len(list_distinct(string_split(text, ' '))) AS q FROM documents),
        |keeps AS (SELECT cluster, keep_id FROM (
        |  SELECT c.cluster, c.id AS keep_id,
        |    ROW_NUMBER() OVER (PARTITION BY c.cluster ORDER BY q.q DESC, c.id ASC) AS rk
        |  FROM clusters c JOIN q ON q.doc_id = c.id) WHERE rk = 1),
        |drops AS (SELECT c.id FROM clusters c JOIN keeps k
        |  ON k.cluster = c.cluster AND c.id <> k.keep_id)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
        |LEFT JOIN drops x ON d.doc_id = x.id
        |WHERE x.id IS NULL""".stripMargin,

    "s04_stratified_sample" ->
      """SELECT vec_id, label FROM (
        |  SELECT vec_id, label,
        |    ROW_NUMBER() OVER (PARTITION BY label
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
        |  FROM embeddings) WHERE rk <= 3""".stripMargin,

    // threshold = floor(0.1 * 2^32), the same literal Sampling.hashSample computes
    "s05_hash_sample" ->
      """SELECT doc_id FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < 429496729""".stripMargin,

    "s06_weighted_mix" ->
      """SELECT vec_id, label FROM (
        |  SELECT vec_id, label,
        |    ROW_NUMBER() OVER (PARTITION BY label
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
        |  FROM embeddings)
        |WHERE (label = 0 AND rk <= 5) OR (label = 1 AND rk <= 2)
        |   OR (label = 3 AND rk <= 4) OR (label = 7 AND rk <= 1)""".stripMargin,

    // mirrors Similarity.bucketize(bits=4) + cosineLshTopKBatch: same
    // hyperplane construction as the d06 oracle, per-query window top-k
    "s07_ann_batch" -> AnnBatchSql,

    // the persisted index must return EXACTLY the ad-hoc bucketize answer:
    // same twin as s07 — the index changes where the layout lives (a
    // bucketed table vs a per-query repartition), never the results
    "s15_ann_index_store" -> AnnBatchSql,
    "s16_ann_index_lifecycle" -> AnnLifecycleSql,

    // s07's approx CTEs + a bucketless exact baseline, joined per (query, id)
    "s12_ann_recall" -> {
      def proj(p: Int): String =
        s"list_sum(list_transform(embedding, (x, i) -> CAST(x AS DOUBLE) * " +
        s"((('0x' || substr(md5(concat('$p:', i - 1)), 1, 8))::BIGINT / 4294967296.0) - 0.5)))"
      s"""WITH e AS (SELECT vec_id, embedding,
        |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |eb AS (SELECT vec_id, embedding, nrm,
        |    (CASE WHEN ${proj(0)} > 0 THEN 1 ELSE 0 END)
        |  + (CASE WHEN ${proj(1)} > 0 THEN 2 ELSE 0 END)
        |  + (CASE WHEN ${proj(2)} > 0 THEN 4 ELSE 0 END)
        |  + (CASE WHEN ${proj(3)} > 0 THEN 8 ELSE 0 END) AS blk
        |  FROM e),
        |q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn, blk AS qb
        |  FROM eb WHERE vec_id IN (0, 7, 11)),
        |ascored AS (SELECT q.query_id, eb.vec_id AS id,
        |  ROUND(list_sum(list_transform(list_zip(eb.embedding, q.qv),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (eb.nrm * q.qn), 4) AS cosine
        |  FROM eb JOIN q ON eb.blk = q.qb AND eb.vec_id <> q.query_id),
        |approx AS (SELECT query_id, id FROM (
        |  SELECT query_id, id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, id) AS rk
        |  FROM ascored) WHERE rk <= 5),
        |escored AS (SELECT q.query_id, e.vec_id AS id,
        |  ROUND(list_sum(list_transform(list_zip(e.embedding, q.qv),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (e.nrm * q.qn), 4) AS cosine
        |  FROM e JOIN q ON e.vec_id <> q.query_id),
        |exact AS (SELECT query_id, id FROM (
        |  SELECT query_id, id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, id) AS rk
        |  FROM escored) WHERE rk <= 5)
        |SELECT x.query_id,
        |  ROUND(SUM(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) AS recall
        |FROM exact x LEFT JOIN approx a ON a.query_id = x.query_id AND a.id = x.id
        |GROUP BY 1""".stripMargin
    },

    // s12's CTEs with 5 planes and the probe widened from blk equality to
    // Hamming ≤ 3 (xor + bit_count) — the multi-probe operating point
    "s13_ann_high_recall" -> {
      def proj(p: Int): String =
        s"list_sum(list_transform(embedding, (x, i) -> CAST(x AS DOUBLE) * " +
        s"((('0x' || substr(md5(concat('$p:', i - 1)), 1, 8))::BIGINT / 4294967296.0) - 0.5)))"
      s"""WITH e AS (SELECT vec_id, embedding,
        |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |eb AS (SELECT vec_id, embedding, nrm,
        |    (CASE WHEN ${proj(0)} > 0 THEN 1 ELSE 0 END)
        |  + (CASE WHEN ${proj(1)} > 0 THEN 2 ELSE 0 END)
        |  + (CASE WHEN ${proj(2)} > 0 THEN 4 ELSE 0 END)
        |  + (CASE WHEN ${proj(3)} > 0 THEN 8 ELSE 0 END)
        |  + (CASE WHEN ${proj(4)} > 0 THEN 16 ELSE 0 END) AS blk
        |  FROM e),
        |q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn, blk AS qb
        |  FROM eb WHERE vec_id IN (0, 7, 11)),
        |ascored AS (SELECT q.query_id, eb.vec_id AS id,
        |  ROUND(list_sum(list_transform(list_zip(eb.embedding, q.qv),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (eb.nrm * q.qn), 4) AS cosine
        |  FROM eb JOIN q ON bit_count(xor(eb.blk, q.qb)) <= 3 AND eb.vec_id <> q.query_id),
        |approx AS (SELECT query_id, id FROM (
        |  SELECT query_id, id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, id) AS rk
        |  FROM ascored) WHERE rk <= 5),
        |escored AS (SELECT q.query_id, e.vec_id AS id,
        |  ROUND(list_sum(list_transform(list_zip(e.embedding, q.qv),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (e.nrm * q.qn), 4) AS cosine
        |  FROM e JOIN q ON e.vec_id <> q.query_id),
        |exact AS (SELECT query_id, id FROM (
        |  SELECT query_id, id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, id) AS rk
        |  FROM escored) WHERE rk <= 5)
        |SELECT x.query_id,
        |  ROUND(SUM(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) AS recall
        |FROM exact x LEFT JOIN approx a ON a.query_id = x.query_id AND a.id = x.id
        |GROUP BY 1""".stripMargin
    },

    // mirrors assignByCodebook (argmax cosine vs the 1/5/9 codebook, ties →
    // lowest cid, sims rounded to 6 before ranking) + the cell-local probe
    "s09_ann_ivf_codebook" ->
      """WITH e AS (SELECT vec_id, embedding,
        |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |cb AS (SELECT vec_id AS cid, embedding AS cvec, nrm AS cnrm FROM e WHERE vec_id IN (1, 5, 9)),
        |scored AS (SELECT e.vec_id, cb.cid,
        |  ROUND(list_sum(list_transform(list_zip(e.embedding, cb.cvec),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (e.nrm * cb.cnrm), 6) AS sim
        |  FROM e CROSS JOIN cb),
        |asg AS (SELECT vec_id, cid FROM (
        |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rk
        |  FROM scored) WHERE rk = 1),
        |q AS (SELECT e.vec_id, e.embedding AS qv, e.nrm AS qn, a.cid AS qcid
        |  FROM e JOIN asg a ON a.vec_id = e.vec_id WHERE e.vec_id = 7)
        |SELECT e.vec_id AS id, a.cid AS cid,
        |  ROUND(list_sum(list_transform(list_zip(e.embedding, q.qv),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (e.nrm * q.qn), 4) AS cosine
        |FROM e JOIN asg a ON a.vec_id = e.vec_id CROSS JOIN q
        |WHERE e.vec_id <> 7 AND a.cid = q.qcid
        |ORDER BY cosine DESC, id LIMIT 5""".stripMargin,

    // s09's CTEs with the probe widened from the argmax cell to the
    // query's top-2 cells (same 6-dp rounding and lowest-cid tie rule)
    "s14_ann_ivf_nprobe" ->
      """WITH e AS (SELECT vec_id, embedding,
        |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |cb AS (SELECT vec_id AS cid, embedding AS cvec, nrm AS cnrm FROM e WHERE vec_id IN (1, 5, 9)),
        |scored AS (SELECT e.vec_id, cb.cid,
        |  ROUND(list_sum(list_transform(list_zip(e.embedding, cb.cvec),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (e.nrm * cb.cnrm), 6) AS sim
        |  FROM e CROSS JOIN cb),
        |asg AS (SELECT vec_id, cid FROM (
        |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rk
        |  FROM scored) WHERE rk = 1),
        |qprobe AS (SELECT cid FROM (
        |  SELECT cid, ROW_NUMBER() OVER (ORDER BY sim DESC, cid) AS rk
        |  FROM scored WHERE vec_id = 7) WHERE rk <= 2),
        |q AS (SELECT embedding AS qv, nrm AS qn FROM e WHERE vec_id = 7)
        |SELECT e.vec_id AS id, a.cid AS cid,
        |  ROUND(list_sum(list_transform(list_zip(e.embedding, q.qv),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (e.nrm * q.qn), 4) AS cosine
        |FROM e JOIN asg a ON a.vec_id = e.vec_id CROSS JOIN q
        |WHERE e.vec_id <> 7 AND a.cid IN (SELECT cid FROM qprobe)
        |ORDER BY cosine DESC, id LIMIT 5""".stripMargin,

    // mirrors encodePq + pqTopK: per-subspace squared-L2 to the 1/5/9
    // subvector centroids (rounded to 6 before the argmin, ties → lowest
    // cid), then ADC = left-associated sum of the query's table entries for
    // the assigned cids, rounded to 4 before ranking. The query row (7) is
    // excluded from the corpus on both sides.
    "s11_pq_adc" ->
      """WITH sub AS (SELECT vec_id, j, list_slice(embedding, j*16+1, j*16+16) AS se
        |  FROM embeddings, (SELECT UNNEST(range(4)) AS j) js),
        |cb AS (SELECT j, vec_id AS cid, se AS ce FROM sub WHERE vec_id IN (1, 5, 9)),
        |dist AS (SELECT sub.vec_id, sub.j, cb.cid,
        |  ROUND(list_sum(list_transform(list_zip(sub.se, cb.ce),
        |    x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |       * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6) AS d
        |  FROM sub JOIN cb ON cb.j = sub.j),
        |asg AS (SELECT vec_id, j, cid FROM (
        |  SELECT vec_id, j, cid,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, cid) AS rk
        |  FROM dist) WHERE rk = 1),
        |qd AS (SELECT j, cid, d FROM dist WHERE vec_id = 7),
        |terms AS (SELECT a.vec_id, a.j, q.d
        |  FROM asg a JOIN qd q ON q.j = a.j AND q.cid = a.cid WHERE a.vec_id <> 7)
        |SELECT vec_id AS id,
        |  ROUND(((MAX(CASE WHEN j = 0 THEN d END) + MAX(CASE WHEN j = 1 THEN d END))
        |       + MAX(CASE WHEN j = 2 THEN d END)) + MAX(CASE WHEN j = 3 THEN d END), 4) AS approx_dist
        |FROM terms GROUP BY vec_id
        |ORDER BY approx_dist, id LIMIT 5""".stripMargin,

    // IVFADC stage by stage: s09's cosine cell assignment (6-dp, low-cid
    // ties), residuals vs the assigned centroid, residual PQ codes against
    // the fixed trio's slices (squared-L2 rounded 6, low-cid ties), top-2
    // probe cells for the query, per-cell query-residual ADC tables, and
    // the left-associated 4-term sum rounded 4 — every rounding mirrors
    // the Spark driver/codegen arithmetic
    "s19_ivfadc" ->
      """WITH e AS (SELECT vec_id, embedding,
        |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |cb AS (SELECT vec_id AS cid, embedding AS cvec, nrm AS cnrm FROM e WHERE vec_id IN (1, 5, 9)),
        |scored AS (SELECT e.vec_id, cb.cid,
        |  ROUND(list_sum(list_transform(list_zip(e.embedding, cb.cvec),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (e.nrm * cb.cnrm), 6) AS sim
        |  FROM e CROSS JOIN cb),
        |asg AS (SELECT vec_id, cid FROM (
        |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rk
        |  FROM scored) WHERE rk = 1),
        |rcb AS (
        |  SELECT 0 AS rcid, list_transform(list_zip(a.embedding, b.embedding),
        |    x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS rvec
        |  FROM e a, e b WHERE a.vec_id = 2 AND b.vec_id = 1
        |  UNION ALL
        |  SELECT 1, list_transform(list_zip(a.embedding, b.embedding),
        |    x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |  FROM e a, e b WHERE a.vec_id = 6 AND b.vec_id = 5
        |  UNION ALL
        |  SELECT 2, list_transform(list_zip(a.embedding, b.embedding),
        |    x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |  FROM e a, e b WHERE a.vec_id = 10 AND b.vec_id = 9),
        |rsub AS (SELECT rcid, j, list_slice(rvec, j*16+1, j*16+16) AS ce
        |  FROM rcb, (SELECT UNNEST(range(4)) AS j) js),
        |res AS (SELECT e.vec_id, a.cid,
        |  list_transform(list_zip(e.embedding, c.cvec),
        |    x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS rvec
        |  FROM e JOIN asg a ON a.vec_id = e.vec_id JOIN cb c ON c.cid = a.cid
        |  WHERE e.vec_id <> 7),
        |sub AS (SELECT vec_id, cid, j, list_slice(rvec, j*16+1, j*16+16) AS se
        |  FROM res, (SELECT UNNEST(range(4)) AS j) js),
        |dist AS (SELECT sub.vec_id, sub.cid, sub.j, rsub.rcid,
        |  ROUND(list_sum(list_transform(list_zip(sub.se, rsub.ce),
        |    x -> (x[1] - x[2]) * (x[1] - x[2]))), 6) AS d
        |  FROM sub JOIN rsub ON rsub.j = sub.j),
        |code AS (SELECT vec_id, cid, j, rcid FROM (
        |  SELECT vec_id, cid, j, rcid,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, rcid) AS rk
        |  FROM dist) WHERE rk = 1),
        |qprobe AS (SELECT cid FROM (
        |  SELECT cid, ROW_NUMBER() OVER (ORDER BY sim DESC, cid) AS rk
        |  FROM scored WHERE vec_id = 7) WHERE rk <= 2),
        |qres AS (SELECT c.cid,
        |  list_transform(list_zip(q.embedding, c.cvec),
        |    x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS rvec
        |  FROM e q, cb c WHERE q.vec_id = 7 AND c.cid IN (SELECT cid FROM qprobe)),
        |qtab AS (SELECT qres.cid, rsub.j, rsub.rcid,
        |  ROUND(list_sum(list_transform(list_zip(
        |      list_slice(qres.rvec, rsub.j*16+1, rsub.j*16+16), rsub.ce),
        |    x -> (x[1] - x[2]) * (x[1] - x[2]))), 6) AS d
        |  FROM qres CROSS JOIN rsub),
        |terms AS (SELECT c.vec_id, c.j, t.d
        |  FROM code c JOIN qtab t ON t.cid = c.cid AND t.j = c.j AND t.rcid = c.rcid)
        |SELECT vec_id AS id,
        |  ROUND(((MAX(CASE WHEN j = 0 THEN d END) + MAX(CASE WHEN j = 1 THEN d END))
        |       + MAX(CASE WHEN j = 2 THEN d END)) + MAX(CASE WHEN j = 3 THEN d END), 4) AS approx_dist
        |FROM terms GROUP BY vec_id
        |ORDER BY approx_dist, id LIMIT 5""".stripMargin,

    // s11's ADC ranking kept as a 20-row shortlist CTE, then the exact
    // cosine (s01's formula) re-ranks ONLY the shortlisted ids to top-5
    "s18_pq_rerank" ->
      """WITH sub AS (SELECT vec_id, j, list_slice(embedding, j*16+1, j*16+16) AS se
        |  FROM embeddings, (SELECT UNNEST(range(4)) AS j) js),
        |cb AS (SELECT j, vec_id AS cid, se AS ce FROM sub WHERE vec_id IN (1, 5, 9)),
        |dist AS (SELECT sub.vec_id, sub.j, cb.cid,
        |  ROUND(list_sum(list_transform(list_zip(sub.se, cb.ce),
        |    x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |       * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6) AS d
        |  FROM sub JOIN cb ON cb.j = sub.j),
        |asg AS (SELECT vec_id, j, cid FROM (
        |  SELECT vec_id, j, cid,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, cid) AS rk
        |  FROM dist) WHERE rk = 1),
        |qd AS (SELECT j, cid, d FROM dist WHERE vec_id = 7),
        |terms AS (SELECT a.vec_id, a.j, q.d
        |  FROM asg a JOIN qd q ON q.j = a.j AND q.cid = a.cid WHERE a.vec_id <> 7),
        |short AS (SELECT vec_id,
        |  ROUND(((MAX(CASE WHEN j = 0 THEN d END) + MAX(CASE WHEN j = 1 THEN d END))
        |       + MAX(CASE WHEN j = 2 THEN d END)) + MAX(CASE WHEN j = 3 THEN d END), 4) AS approx_dist
        |  FROM terms GROUP BY vec_id
        |  ORDER BY approx_dist, vec_id LIMIT 20),
        |q AS (SELECT embedding AS qv,
        |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
        |  FROM embeddings WHERE vec_id = 7)
        |SELECT e.vec_id AS id,
        |  ROUND(list_sum(list_transform(list_zip(e.embedding, q.qv),
        |     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * q.qn), 4) AS cosine
        |FROM embeddings e JOIN short s ON s.vec_id = e.vec_id CROSS JOIN q
        |ORDER BY cosine DESC, id LIMIT 5""".stripMargin,

    // same copies rule as s08, weights re-derived from observed sizes:
    // ROUND(pow(n, 0.5)/Σpow * target/n, 6) — the 6-dp pin makes the
    // double bit-identical across engines
    "s17_temperature_mix" ->
      """WITH n AS (SELECT lang AS stratum, COUNT(*) AS cnt FROM documents GROUP BY 1),
        |w AS (SELECT stratum,
        |  ROUND(POW(cnt, 0.5) / (SELECT SUM(POW(cnt, 0.5)) FROM n) * 400.0 / cnt, 6) AS wt
        |  FROM n),
        |x AS (SELECT doc_id, lang, wt,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
        |  FROM documents JOIN w ON lang = stratum),
        |c AS (SELECT doc_id, lang,
        |  CAST(FLOOR(wt) AS BIGINT)
        |    + (CASE WHEN CAST(h AS DOUBLE) < (wt - FLOOR(wt)) * 4294967296.0 THEN 1 ELSE 0 END) AS copies
        |  FROM x)
        |SELECT doc_id, lang, CAST(u.c AS BIGINT) AS copy_idx
        |FROM c, unnest(range(0, copies)) u(c)
        |WHERE copies > 0""".stripMargin,

    // same md5→32-bit value, same cumulative bands in split order, last
    // split absorbs the tail
    "s20_hash_split" ->
      """SELECT doc_id, CASE
        | WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |   < 0.9 * 4294967296.0 THEN 'train'
        | WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |   < 0.95 * 4294967296.0 THEN 'val'
        | ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    "s08_weighted_mix_frac" ->
      """WITH w(stratum, wt) AS (VALUES ('0', 2.5), ('1', 0.5), ('3', 1.25)),
        |x AS (SELECT vec_id, label, wt,
        |  ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT AS h
        |  FROM embeddings JOIN w ON CAST(label AS VARCHAR) = stratum),
        |c AS (SELECT vec_id, label,
        |  CAST(FLOOR(wt) AS BIGINT)
        |    + (CASE WHEN CAST(h AS DOUBLE) < (wt - FLOOR(wt)) * 4294967296.0 THEN 1 ELSE 0 END) AS copies
        |  FROM x)
        |SELECT vec_id, label, CAST(u.c AS BIGINT) AS copy_idx
        |FROM c, unnest(range(0, copies)) u(c)
        |WHERE copies > 0""".stripMargin,

    "s01_cosine_knn" ->
      """WITH q AS (SELECT embedding AS qv,
        |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
        |  FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id AS id,
        |  ROUND(list_sum(list_transform(list_zip(embedding, q.qv),
        |     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * q.qn), 4) AS cosine
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY cosine DESC, id LIMIT 5""".stripMargin,

    "s21_mips" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 3)
        |SELECT vec_id AS id,
        |  ROUND(list_sum(list_transform(list_zip(embedding, q.qv),
        |     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 4) AS ip
        |FROM embeddings, q WHERE vec_id <> 3
        |ORDER BY ip DESC, id LIMIT 5""".stripMargin,

    // full-radius probing covers every bucket, so the reduction path must
    // reproduce the exact MIPS answer — same twin as s21
    "s22_mips_lsh" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 3)
        |SELECT vec_id AS id,
        |  ROUND(list_sum(list_transform(list_zip(embedding, q.qv),
        |     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 4) AS ip
        |FROM embeddings, q WHERE vec_id <> 3
        |ORDER BY ip DESC, id LIMIT 5""".stripMargin,

    // SQ8 re-derived relationally: per-dim min/max, quantize, reconstruct,
    // rank by squared L2 — the quantizer "model" is plain SQL here
    "s23_sq8_adc" ->
      """WITH d AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |mm AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM d GROUP BY i),
        |q AS (SELECT generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS qx FROM embeddings WHERE vec_id = 3),
        |rec AS (SELECT vec_id, d.i,
        |  CASE WHEN mx > mn
        |    THEN mn + round((x - mn) / (mx - mn) * 255) / 255.0 * (mx - mn)
        |    ELSE mn END AS xr
        |  FROM d JOIN mm USING (i) WHERE vec_id <> 3)
        |SELECT vec_id AS id,
        |  ROUND(SUM((qx - xr) * (qx - xr)), 4) AS approx_dist
        |FROM rec JOIN q USING (i) GROUP BY vec_id
        |ORDER BY approx_dist ASC, id LIMIT 5""".stripMargin,

    "s02_ann_ivf" ->
      """WITH q AS (SELECT embedding AS qv, label AS ql,
        |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
        |  FROM embeddings WHERE vec_id = 7)
        |SELECT vec_id AS id,
        |  ROUND(list_sum(list_transform(list_zip(embedding, q.qv),
        |     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * q.qn), 4) AS cosine
        |FROM embeddings, q WHERE vec_id <> 7 AND label = q.ql
        |ORDER BY cosine DESC, id LIMIT 5""".stripMargin,

    "s03_vector_stats" ->
      """SELECT label, COUNT(*) AS n,
        | ROUND(MAX(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS max_norm,
        | ROUND(MAX(list_sum(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))), 4) AS max_l1
        |FROM embeddings GROUP BY label""".stripMargin,

    "s10_epoch_shuffle" ->
      """SELECT doc_id,
        | ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 4 AS shard,
        | CAST(ROW_NUMBER() OVER (
        |   PARTITION BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 4
        |   ORDER BY md5('2:' || CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS pos
        |FROM documents""".stripMargin,

    "t01_lang_tokens" ->
      """SELECT lang, COUNT(*) AS docs,
        | CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        | CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang""".stripMargin,

    "t02_quality_features" ->
      """SELECT doc_id,
        | CAST(LENGTH(text) AS INT) AS n_chars,
        | CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        | CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
        | ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |   / len(string_split(text, ' ')), 4) AS lex_diversity,
        | CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS INT) AS n_punct,
        | CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')) AS INT) AS n_digits
        |FROM documents""".stripMargin,

    "t03_langid" ->
      """WITH s AS (SELECT doc_id,
        |  len(list_filter(string_split(text, ' '), x -> x IN ('der','die','das','und','ist'))) AS score_de,
        |  len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','and','is'))) AS score_en,
        |  len(list_filter(string_split(text, ' '), x -> x IN ('el','los','y','es','las'))) AS score_es,
        |  len(list_filter(string_split(text, ' '), x -> x IN ('le','la','et','est','les'))) AS score_fr
        | FROM documents)
        |SELECT doc_id,
        | CAST(score_de AS INT) AS score_de, CAST(score_en AS INT) AS score_en,
        | CAST(score_es AS INT) AS score_es, CAST(score_fr AS INT) AS score_fr,
        | CASE WHEN GREATEST(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
        |  WHEN score_de >= GREATEST(score_en, score_es, score_fr) THEN 'de'
        |  WHEN score_en >= GREATEST(score_es, score_fr) THEN 'en'
        |  WHEN score_es >= score_fr THEN 'es'
        |  ELSE 'fr' END AS pred_lang
        |FROM s""".stripMargin,

    "t04_fingerprint" ->
      """SELECT doc_id,
        | substr(md5(LOWER(regexp_replace(text, '\s+', ' ', 'g'))), 1, 16) AS fp
        |FROM documents""".stripMargin,

    "t06_repetition" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS tokens,
        |  ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS dup_token_ratio,
        |  ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_token_share
        |FROM tc GROUP BY doc_id""".stripMargin,

    // start sequence mirrors Spark's inclusive sequence(0, greatest(n-overlap-1, 0), stride)
    "t07_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, toks,
        |  unnest(range(0, greatest(len(toks) - 4 - 1, 0) + 1, 12)) AS start FROM t)
        |SELECT doc_id, CAST(start // 12 AS INTEGER) AS chunk_id,
        |  array_to_string(toks[CAST(start + 1 AS INT) : CAST(start + 16 AS INT)], ' ') AS chunk,
        |  CAST(least(16, len(toks) - start) AS INTEGER) AS chunk_tokens
        |FROM s""".stripMargin,

    // same derived contact column, same RE2-safe patterns, URL→EMAIL→PHONE
    // replacement order; counts over the original text ('g' = replace all,
    // Spark's regexp_replace default)
    "t08_pii_redact" ->
      """WITH x AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR)
        |    || '@example.com via https://ex.org/d/' || CAST(doc_id AS VARCHAR)
        |    || ' or 555-000-' || lpad(CAST(doc_id AS VARCHAR), 4, '0') AS text
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        | CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS INT) AS n_urls,
        | CAST(len(regexp_extract_all(text, '\+?[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones,
        | regexp_replace(regexp_replace(regexp_replace(text,
        |     'https?://[^ ]+', '<URL>', 'g'),
        |     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |     '\+?[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
        |FROM x""".stripMargin,

    // same synthesized URLs, same host regexp
    "t10_domain_stats" ->
      """WITH x AS (SELECT doc_id, text,
        |  'https://' || (['example.com', 'data.org', 'corp.net', 'news.io', 'wiki.edu'])[CAST(doc_id % 5 + 1 AS INT)]
        |    || '/d/' || doc_id AS url
        | FROM documents)
        |SELECT regexp_extract(url, 'https?://([^/]+)', 1) AS domain,
        | COUNT(*) AS docs,
        | CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |FROM x GROUP BY 1""".stripMargin,

    // quantile_cont interpolates at rank p*(n-1), the same definition as
    // Spark's exact percentile(); ROUND(...,4) absorbs FP ulps
    "t11_length_percentiles" ->
      """SELECT lang,
        | ROUND(quantile_cont(len(string_split(text, ' ')), 0.5), 4) AS p50,
        | ROUND(quantile_cont(len(string_split(text, ' ')), 0.9), 4) AS p90,
        | COUNT(*) AS docs
        |FROM documents GROUP BY lang""".stripMargin,

    // t07's chunking at overlap 0 (window 8), corpus-first occurrence via
    // row_number over (doc_id, chunk_id), docs reassembled ordered by
    // chunk_id; all-dropped docs keep a row with '' via the left join
    "t13_paragraph_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, toks,
        |  unnest(range(0, greatest(len(toks) - 1, 0) + 1, 8)) AS start FROM t),
        |c AS (SELECT doc_id, CAST(start // 8 AS INT) AS chunk_id,
        |  array_to_string(toks[CAST(start + 1 AS INT) : CAST(start + 8 AS INT)], ' ') AS chunk
        |  FROM s),
        |w AS (SELECT doc_id, chunk_id, chunk,
        |  ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_id) AS rk FROM c),
        |tot AS (SELECT doc_id, COUNT(*) AS total_segments FROM c GROUP BY 1),
        |k AS (SELECT doc_id, COUNT(*) AS kept,
        |  string_agg(chunk, ' ' ORDER BY chunk_id) AS ct
        |  FROM w WHERE rk = 1 GROUP BY doc_id)
        |SELECT doc_id, total_segments,
        |  COALESCE(kept, CAST(0 AS BIGINT)) AS kept_segments,
        |  COALESCE(ct, '') AS clean_text
        |FROM tot LEFT JOIN k USING (doc_id)""".stripMargin,

    // same self-trained unigram model: p = tf/total over every occurrence,
    // per-doc Σ n·(−ln p)/Σ n — natural log both engines, 4 dp absorbs
    // summation-order ulps
    "t14_unigram_logprob" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |m AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM toks),
        |dt AS (SELECT doc_id, tok, COUNT(*) AS n FROM toks GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS tokens,
        |  ROUND(SUM(n * -LN(tf / total)) / SUM(n), 4) AS avg_neg_logp
        |FROM dt JOIN m USING (tok) CROSS JOIN tot GROUP BY doc_id""".stripMargin,

    // same derived HTML, same RE2-safe pattern chain in the same order
    // (script/style blocks → tags → the five entities with &amp; LAST →
    // whitespace collapse); DuckDB needs the explicit 'g' flag where Spark
    // replaces globally by default
    "t17_html_extract" ->
      """WITH x AS (SELECT doc_id,
        |  '<html><head><title>Doc ' || doc_id || '</title><script>var x = 1 &amp;&amp; 2;</script></head><body><nav>home | about</nav><p>'
        |   || text || '</p><div class="footer">&copy; example &amp; co</div></body></html>' AS html
        | FROM documents),
        |y AS (SELECT doc_id,
        |  regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1) AS title,
        |  trim(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(html,
        |        '(?s)<!--.*?-->', ' ', 'g'),
        |        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |      '</?[A-Za-z!][^>]*>', ' ', 'g'),
        |      '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |      '&#39;', '''', 'g'), '&amp;', '&', 'g'),
        |    '\s+', ' ', 'g')) AS extracted
        | FROM x)
        |SELECT doc_id, title, extracted, CAST(length(extracted) AS INT) AS n_chars
        |FROM y""".stripMargin,

    // same messy URLs, same pass order (lowercase authority → default
    // ports → fragment → tracking params global → dangling separator);
    // backreferences are \1 in DuckDB, $1 in Spark — same RE2 semantics
    "t21_bigram_logprob" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg0 AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS b
        |  FROM toks WHERE len(t) >= 2),
        |bg AS (SELECT doc_id, split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2 FROM bg0),
        |m AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT w1, SUM(c12) AS c1 FROM m GROUP BY 1),
        |v AS (SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
        |dbg AS (SELECT doc_id, w1, w2, COUNT(*) AS n FROM bg GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS bigrams,
        |  ROUND(SUM(n * -LN((COALESCE(c12, 0) + 1.0) / (COALESCE(c1, 0) + v))) / SUM(n), 4)
        |    AS avg_neg_logp
        |FROM dbg LEFT JOIN m USING (w1, w2) LEFT JOIN ctx USING (w1)
        |CROSS JOIN v GROUP BY doc_id""".stripMargin,

    "t25_bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |s AS (SELECT list_append(string_split(w, ''), '</w>') AS s FROM w WHERE len(w) > 0),
        |p AS (SELECT s[i] AS "left", s[i+1] AS "right" FROM s
        |  CROSS JOIN LATERAL unnest(range(1, len(s))) AS r(i))
        |SELECT "left", "right", COUNT(*) AS n FROM p GROUP BY 1, 2
        |ORDER BY n DESC, "left", "right" LIMIT 20""".stripMargin,

    // smoothed unigram sums are plain SQL: per-token side counts, add-one
    // over the union vocab, KL/JS via SUM+LN, rounded to 4 as the Spark
    // side does
    "t27_token_divergence" ->
      """WITH toks AS (SELECT (lang = 'en') AS a,
        |    unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT tok,
        |    SUM(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN a THEN 0 ELSE 1 END) AS cb
        |  FROM toks WHERE len(tok) > 0 GROUP BY 1),
        |tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb,
        |    CAST(COUNT(*) AS DOUBLE) AS v FROM c),
        |p AS (SELECT ca, cb,
        |    (ca + 1.0) / (na + v) AS pa, (cb + 1.0) / (nb + v) AS pb,
        |    ((ca + 1.0) / (na + v) + (cb + 1.0) / (nb + v)) / 2 AS m
        |  FROM c, tot)
        |SELECT CAST(SUM(ca) AS BIGINT) AS n_tokens_a,
        |  CAST(SUM(cb) AS BIGINT) AS n_tokens_b,
        |  CAST(COUNT(*) AS BIGINT) AS vocab,
        |  ROUND(SUM(pa * LN(pa / pb)), 4) AS kl_ab,
        |  ROUND(SUM(pb * LN(pb / pa)), 4) AS kl_ba,
        |  ROUND(SUM(pa * LN(pa / m)) / 2 + SUM(pb * LN(pb / m)) / 2, 4) AS js_div
        |FROM p""".stripMargin,

    "t24_tfidf_keywords" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
        |sc AS (SELECT doc_id, term, tf,
        |  ROUND(tf * LN(n.n / df), 6) AS tfidf FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |rk AS (SELECT doc_id, term, tfidf,
        |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk FROM sc)
        |SELECT doc_id, term, CAST(rk AS INT) AS rk, tfidf FROM rk WHERE rk <= 3""".stripMargin,

    "t23_normalize" ->
      """SELECT doc_id,
        | lower(strip_accents(nfc_normalize(
        |  CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN 'Café RÉSUMÉ' WHEN 1 THEN 'Zürich FAÇADE'
        |    WHEN 2 THEN 'naïve Señor' ELSE 'àéîõü COÖP' END
        |  || ' ' || upper(text)))) AS norm_text
        |FROM documents""".stripMargin,

    "s24_bq_hamming" ->
      """WITH d AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |mm AS (SELECT i, AVG(x) AS m FROM d GROUP BY i),
        |q AS (SELECT generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS qx FROM embeddings WHERE vec_id = 3)
        |SELECT vec_id AS id,
        |  CAST(SUM(CASE WHEN (x > m) <> (qx > m) THEN 1 ELSE 0 END) AS BIGINT) AS hamming
        |FROM d JOIN mm USING (i) JOIN q USING (i)
        |WHERE vec_id <> 3 GROUP BY vec_id
        |ORDER BY hamming ASC, id LIMIT 5""".stripMargin,

    // the naive-LIKE independent evaluator of the suffix-join semantics
    // (same authority → host recipe: drop userinfo, port, trailing dots)
    "t22_domain_blocklist" ->
      """WITH x AS (SELECT doc_id, lang,
        |  'https://' || CASE CAST(doc_id % 5 AS INT)
        |    WHEN 0 THEN 'user:pw@Ads.Tracker.NET' WHEN 1 THEN 'sub.spam-mill.com'
        |    WHEN 2 THEN 'docs.example.org:8080' WHEN 3 THEN 'tracker.net.example.org'
        |    ELSE 'example.org' END || '/page/' || doc_id AS url
        | FROM documents),
        |h AS (SELECT doc_id, lang,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
        |    '^[^/?#]*@', ''), ':[0-9]+$', ''), '\.+$', '') AS host FROM x)
        |SELECT doc_id, lang FROM h
        |WHERE NOT (host = 'tracker.net' OR host LIKE '%.tracker.net'
        |  OR host = 'spam-mill.com' OR host LIKE '%.spam-mill.com')""".stripMargin,

    "t19_gopher_rules" ->
      """WITH s AS (SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_words,
        |  list_sum(list_transform(string_split(text, ' '), x -> length(x)))::DOUBLE
        |    / len(string_split(text, ' ')) AS mean_word_len,
        |  len(list_filter(string_split(text, ' '), x -> regexp_matches(x, '^[A-Za-z]+$')))::DOUBLE
        |    / len(string_split(text, ' ')) AS alpha_frac,
        |  len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','and','is'))) AS n_stopwords
        | FROM documents)
        |SELECT doc_id,
        | CAST(n_words AS INT) AS n_words,
        | ROUND(mean_word_len, 4) AS mean_word_len,
        | ROUND(alpha_frac, 4) AS alpha_frac,
        | CAST(n_stopwords AS INT) AS n_stopwords,
        | (n_words >= 30 AND n_words <= 90) AS ok_word_count,
        | (mean_word_len >= 4.0 AND mean_word_len <= 4.9) AS ok_mean_word_len,
        | (alpha_frac >= 0.8) AS ok_alpha,
        | (n_stopwords >= 2) AS ok_stopwords,
        | (n_words >= 30 AND n_words <= 90
        |  AND mean_word_len >= 4.0 AND mean_word_len <= 4.9
        |  AND alpha_frac >= 0.8 AND n_stopwords >= 2) AS pass_gopher
        |FROM s""".stripMargin,

    "t18_url_canonical" ->
      """WITH x AS (SELECT doc_id,
        |  'HTTPS://Example' || (doc_id % 3) || '.COM:443/Path/' || doc_id
        |   || '/?utm_source=x&ref=abc&id=' || doc_id || '#frag' AS url
        | FROM documents)
        |SELECT doc_id,
        | regexp_replace(
        |  regexp_replace(
        |   regexp_replace(
        |    regexp_replace(
        |     regexp_replace(
        |      regexp_replace(
        |       regexp_replace(
        |        lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*'))
        |          || regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''),
        |        '^(https://[^/:?#]+):443(/|\?|#|$)', '\1\2'),
        |       '^(http://[^/:?#]+):80(/|\?|#|$)', '\1\2'),
        |      '#.*$', ''),
        |     '([?&])(utm_[^&#]*|ref=[^&#]*)', '\1', 'g'),
        |    '&&+', '&', 'g'),
        |   '\?&', '?'),
        |  '[?&]$', '') AS canonical_url
        |FROM x""".stripMargin,

    // same two unigram models (target = lang 'en' slice, raw = whole
    // corpus), add-one floor on both, natural log, 4 dp
    "t15_dsir_weights" ->
      """WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |mt AS (SELECT tok, COUNT(*) AS tft FROM toks WHERE lang = 'en' GROUP BY 1),
        |mr AS (SELECT tok, COUNT(*) AS tfr FROM toks GROUP BY 1),
        |tt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS tott FROM toks WHERE lang = 'en'),
        |tr AS (SELECT CAST(COUNT(*) AS DOUBLE) AS totr FROM toks),
        |dt AS (SELECT doc_id, tok, COUNT(*) AS n FROM toks GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS tokens,
        |  ROUND(SUM(n * (LN(COALESCE(tft, 1) / tott) - LN(COALESCE(tfr, 1) / totr))), 4) AS log_ratio
        |FROM dt LEFT JOIN mt USING (tok) LEFT JOIN mr USING (tok)
        |CROSS JOIN tt CROSS JOIN tr GROUP BY doc_id""".stripMargin,

    // mirrors vocabProfile: single-space tokenization, tf DESC then token
    // ASC (both engines order ASCII strings bytewise)
    "t12_vocab_topk" ->
      """SELECT token, CAST(COUNT(*) AS BIGINT) AS tf,
        | CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY tf DESC, token LIMIT 50""".stripMargin,

    // exclusive running token sum per lang shard → floor(cum/budget) bin
    "t09_pack_bins" ->
      """WITH x AS (SELECT lang, doc_id, len(string_split(text, ' ')) AS toks FROM documents),
        |c AS (SELECT lang, doc_id, toks,
        |  COALESCE(SUM(toks) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        | FROM x)
        |SELECT lang, CAST(FLOOR(cum / 256.0) AS INT) AS bin,
        | COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS bin_tokens
        |FROM c GROUP BY 1, 2""".stripMargin,

    // textually the same bm25 formula as Fts.bm25Sql (pre-folded 2.2 / 0.25
    // literals, identical association) over identically-tokenized postings
    "t05_bm25_rank" ->
      """WITH p AS (SELECT doc_id AS uid, u.tok AS term
        |  FROM (SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS t FROM documents),
        |       unnest([x for x in t if x <> '']) u(tok)),
        |lens AS (SELECT uid, COUNT(*) AS len FROM p GROUP BY uid),
        |stats AS (SELECT COUNT(*) AS n, AVG(len) AS avgdl FROM lens),
        |tf0 AS (SELECT uid, COUNT(*) AS c FROM p WHERE term = 'spark' GROUP BY uid),
        |tf1 AS (SELECT uid, COUNT(*) AS c FROM p WHERE term = 'vector' GROUP BY uid),
        |m AS ((SELECT DISTINCT uid FROM p WHERE term = 'spark')
        |      UNION (SELECT DISTINCT uid FROM p WHERE term = 'vector')),
        |parts AS (
        |  SELECT t.uid AS uid,
        |    LN(1 + (st.n - (SELECT COUNT(*) FROM tf0) + 0.5) / ((SELECT COUNT(*) FROM tf0) + 0.5))
        |    * t.c * 2.2 / (t.c + 1.2 * (0.25 + 0.75 * l.len / st.avgdl)) AS part
        |  FROM tf0 t JOIN lens l ON l.uid = t.uid CROSS JOIN stats st
        |  UNION ALL
        |  SELECT t.uid AS uid,
        |    LN(1 + (st.n - (SELECT COUNT(*) FROM tf1) + 0.5) / ((SELECT COUNT(*) FROM tf1) + 0.5))
        |    * t.c * 2.2 / (t.c + 1.2 * (0.25 + 0.75 * l.len / st.avgdl)) AS part
        |  FROM tf1 t JOIN lens l ON l.uid = t.uid CROSS JOIN stats st)
        |SELECT m.uid AS doc_id, ROUND(SUM(part), 4) AS score
        |FROM m JOIN parts ON parts.uid = m.uid GROUP BY m.uid
        |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin,

    // t05's formula with FTS5 column weights: every occurrence (tf sums AND
    // doc length) weighs by CASE field='title' → 3.0 ELSE 1.0 — textually
    // the same CASE Fts.fieldWeightCase emits; same pre-folded literals
    "t16_bm25_weighted" ->
      """WITH base AS (SELECT doc_id, lower(text) AS body,
        |  lower(array_to_string(string_split(text, ' ')[1:3], ' ')) AS title FROM documents),
        |p AS (
        |  SELECT doc_id AS uid, 'title' AS field, u.tok AS term
        |  FROM (SELECT doc_id, string_split_regex(title, '[^a-z0-9]+') AS t FROM base),
        |       unnest([x for x in t if x <> '']) u(tok)
        |  UNION ALL
        |  SELECT doc_id AS uid, 'body' AS field, u.tok AS term
        |  FROM (SELECT doc_id, string_split_regex(body, '[^a-z0-9]+') AS t FROM base),
        |       unnest([x for x in t if x <> '']) u(tok)),
        |lens AS (SELECT uid, SUM(CASE WHEN field = 'title' THEN 3.0 ELSE 1.0 END) AS len
        |  FROM p GROUP BY uid),
        |stats AS (SELECT COUNT(*) AS n, AVG(len) AS avgdl FROM lens),
        |tf0 AS (SELECT uid, SUM(CASE WHEN field = 'title' THEN 3.0 ELSE 1.0 END) AS c
        |  FROM p WHERE term = 'spark' GROUP BY uid),
        |tf1 AS (SELECT uid, SUM(CASE WHEN field = 'title' THEN 3.0 ELSE 1.0 END) AS c
        |  FROM p WHERE term = 'vector' GROUP BY uid),
        |m AS ((SELECT DISTINCT uid FROM p WHERE term = 'spark')
        |      UNION (SELECT DISTINCT uid FROM p WHERE term = 'vector')),
        |parts AS (
        |  SELECT t.uid AS uid,
        |    LN(1 + (st.n - (SELECT COUNT(*) FROM tf0) + 0.5) / ((SELECT COUNT(*) FROM tf0) + 0.5))
        |    * t.c * 2.2 / (t.c + 1.2 * (0.25 + 0.75 * l.len / st.avgdl)) AS part
        |  FROM tf0 t JOIN lens l ON l.uid = t.uid CROSS JOIN stats st
        |  UNION ALL
        |  SELECT t.uid AS uid,
        |    LN(1 + (st.n - (SELECT COUNT(*) FROM tf1) + 0.5) / ((SELECT COUNT(*) FROM tf1) + 0.5))
        |    * t.c * 2.2 / (t.c + 1.2 * (0.25 + 0.75 * l.len / st.avgdl)) AS part
        |  FROM tf1 t JOIN lens l ON l.uid = t.uid CROSS JOIN stats st)
        |SELECT m.uid AS doc_id, ROUND(SUM(part), 4) AS score
        |FROM m JOIN parts ON parts.uid = m.uid GROUP BY m.uid
        |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin,

    "e01_sessions" ->
      """WITH x AS (SELECT user_id, ts, event_id,
        |  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        | FROM events)
        |SELECT user_id,
        | CAST(SUM(CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS sessions,
        | COUNT(*) AS events
        |FROM x GROUP BY user_id""".stripMargin,

    "e03_retention" ->
      """WITH fs AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id)
        |SELECT fs.cohort_day AS cohort_day,
        |  CAST(CAST(e.ts AS DATE) - fs.cohort_day AS INTEGER) AS day_offset,
        |  COUNT(DISTINCT e.user_id) AS users
        |FROM events e JOIN fs ON e.user_id = fs.user_id
        |GROUP BY 1, 2""".stripMargin,

    // same (ts, event_id) total order as Events.asofJoin; ts truncated to
    // microseconds so ordering agrees with Spark's micros-converted column
    "e04_asof_join" ->
      """WITH x AS (SELECT event_id, user_id, event_type,
        |  LAST_VALUE(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
        |    OVER (PARTITION BY user_id
        |          ORDER BY date_trunc('microseconds', ts), event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS asof_id
        | FROM events WHERE event_type IN ('purchase', 'view'))
        |SELECT event_id AS purchase_id, user_id, asof_id
        |FROM x WHERE event_type = 'purchase'""".stripMargin,

    "e02_funnel" ->
      """WITH f AS (SELECT user_id,
        |  MIN(CASE WHEN event_type = 'view' THEN ts END) AS view,
        |  MIN(CASE WHEN event_type = 'click' THEN ts END) AS click,
        |  MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS purchase
        | FROM events WHERE event_type IN ('view', 'click', 'purchase')
        | GROUP BY user_id)
        |SELECT COUNT(*) AS users FROM f
        |WHERE view IS NOT NULL AND click IS NOT NULL AND purchase IS NOT NULL
        |  AND view < click AND click < purchase""".stripMargin,

    "e06_quality_checks" ->
      """SELECT 'user_id_not_null' AS rule,
        |  CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
        |  COUNT(*) AS total FROM events
        |UNION ALL SELECT 'value_0_100',
        |  CAST(SUM(CASE WHEN value >= 0 AND value <= 100 THEN 0 ELSE 1 END) AS BIGINT), COUNT(*) FROM events
        |UNION ALL SELECT 'event_type_known',
        |  CAST(SUM(CASE WHEN event_type IN ('view','click','purchase','signup','error') THEN 0 ELSE 1 END) AS BIGINT), COUNT(*) FROM events
        |UNION ALL SELECT 'event_type_core',
        |  CAST(SUM(CASE WHEN event_type IN ('view','click','purchase') THEN 0 ELSE 1 END) AS BIGINT), COUNT(*) FROM events
        |UNION ALL SELECT 'unique:event_id',
        |  CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT), COUNT(*) FROM events""".stripMargin,

    // the lake answers from its dt directories; the twin re-derives the
    // same days from raw timestamps — layout must never change answers
    // the maintained rollup must equal a direct full-corpus aggregate
    "w22_daily_rollup" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1, 2""".stripMargin,

    // the z-ordered rewrite answers from its own files; the twin derives
    // the same two-sided suppkey band from raw lineitem — layout must
    // never change answers (// is DuckDB integer division, matching
    // Scala's Long floor division on the band bounds)
    "w23_zorder" ->
      """WITH mx AS (SELECT MAX(l_suppkey) AS m FROM lineitem)
        |SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem, mx
        |WHERE l_suppkey BETWEEN m * 2 // 5 AND m // 2
        |GROUP BY 1""".stripMargin,

    // maintenance must preserve every row and value: full-corpus aggregate
    // from the maintained generation ≡ raw lineitem
    "w26_zorder_maintain" ->
      """SELECT l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
        |FROM lineitem GROUP BY 1""".stripMargin,

    // the 3-key rewrite answers from its own files; the twin derives the
    // same partkey band from raw lineitem
    "w29_zorder3" ->
      """WITH mx AS (SELECT MAX(l_partkey) AS m FROM lineitem)
        |SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
        |FROM lineitem, mx
        |WHERE l_partkey BETWEEN m * 2 // 5 AND m // 2
        |GROUP BY 1""".stripMargin,

    // the 3-key Hilbert rewrite answers from its own files; the twin
    // derives the same orderkey band from raw lineitem
    "w31_hilbert3" ->
      """WITH mx AS (SELECT MAX(l_orderkey) AS m FROM lineitem)
        |SELECT l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem, mx
        |WHERE l_orderkey BETWEEN m * 2 // 5 AND m // 2
        |GROUP BY 1""".stripMargin,

    // the Hilbert rewrite answers from its own files; the twin derives the
    // same suppkey band from raw lineitem
    "w28_hilbert" ->
      """WITH mx AS (SELECT MAX(l_suppkey) AS m FROM lineitem)
        |SELECT l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem, mx
        |WHERE l_suppkey BETWEEN m * 2 // 5 AND m // 2
        |GROUP BY 1""".stripMargin,

    // the deleted table ≡ raw lineitem minus the two-sided band (// =
    // integer division, matching the builder's Long floor division)
    "w32_zorder_delete" ->
      """WITH mx AS (SELECT MAX(l_orderkey) AS ma, MAX(l_suppkey) AS mb FROM lineitem)
        |SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
        |FROM lineitem, mx
        |WHERE NOT (l_orderkey BETWEEN ma // 4 AND ma // 2
        |       AND l_suppkey BETWEEN mb * 2 // 5 AND mb // 2)
        |GROUP BY 1""".stripMargin,

    // merge-on-read delete reads ≡ the SAME not-band twin as w32: the
    // deletion vector must hide exactly the band, nothing else
    "w41_zorder_dv_delete" ->
      """WITH mx AS (SELECT MAX(l_orderkey) AS ma, MAX(l_suppkey) AS mb FROM lineitem)
        |SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
        |FROM lineitem, mx
        |WHERE NOT (l_orderkey BETWEEN ma // 4 AND ma // 2
        |       AND l_suppkey BETWEEN mb * 2 // 5 AND mb // 2)
        |GROUP BY 1""".stripMargin,

    // the takedown-loop end state ≡ lineitem minus the victims' rows
    "w46_takedown_loop" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
        |FROM lineitem
        |WHERE l_partkey NOT IN (1, 2, 3, 4, 5)
        |GROUP BY 1""".stripMargin,

    // the replica ≡ the primary ≡ the not-band twin
    "w44_zorder_mirror" ->
      """WITH mx AS (SELECT MAX(l_orderkey) AS ma, MAX(l_suppkey) AS mb FROM lineitem)
        |SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
        |FROM lineitem, mx
        |WHERE NOT (l_orderkey BETWEEN ma // 4 AND ma // 2
        |       AND l_suppkey BETWEEN mb * 2 // 5 AND mb // 2)
        |GROUP BY 1""".stripMargin,

    // the physical purge changes bytes, never answers
    "w42_zorder_dv_purge" ->
      """WITH mx AS (SELECT MAX(l_orderkey) AS ma, MAX(l_suppkey) AS mb FROM lineitem)
        |SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
        |FROM lineitem, mx
        |WHERE NOT (l_orderkey BETWEEN ma // 4 AND ma // 2
        |       AND l_suppkey BETWEEN mb * 2 // 5 AND mb // 2)
        |GROUP BY 1""".stripMargin,

    // the upserted table ≡ raw lineitem, full stop: the corrupted-band
    // init is invisible iff the keyed merge healed it exactly
    "w34_zorder_upsert" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
        |FROM lineitem GROUP BY 1""".stripMargin,

    // evolved reads ≡ raw lineitem with l_bonus derived for the tail only
    "w38_zorder_evolve" ->
      """WITH mx AS (SELECT MAX(l_orderkey) * 9 // 10 AS cut FROM lineitem)
        |SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CASE WHEN l_orderkey > cut
        |    THEN CAST(l_quantity * 2 AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_bonus
        |FROM lineitem, mx GROUP BY 1""".stripMargin,

    // the metadata-assisted band count ≡ a plain band count
    "w37_zorder_meta_count" ->
      """WITH mx AS (SELECT MAX(l_orderkey) AS ma, MAX(l_suppkey) AS mb FROM lineitem)
        |SELECT COUNT(*) AS n_band FROM lineitem, mx
        |WHERE l_orderkey BETWEEN ma // 8 AND ma * 7 // 8
        |  AND l_suppkey BETWEEN mb // 8 AND mb * 7 // 8""".stripMargin,

    // the bin-packed table ≡ raw lineitem minus the deleted band
    "w40_zorder_binpack" ->
      """WITH mx AS (SELECT MAX(l_orderkey) AS ma, MAX(l_suppkey) AS mb FROM lineitem)
        |SELECT l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem, mx
        |WHERE NOT (l_orderkey BETWEEN ma // 8 AND ma * 3 // 8
        |       AND l_suppkey BETWEEN mb // 8 AND mb * 3 // 8)
        |GROUP BY 1""".stripMargin,

    // the taken-down table ≡ raw orders minus exactly the three keys
    "w39_zorder_takedown" ->
      """WITH mx AS (SELECT MAX(o_orderkey) AS mo FROM orders)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders, mx
        |WHERE o_orderkey NOT IN (mo // 7, mo // 3, mo // 2 + 1)
        |GROUP BY 1""".stripMargin,

    // bloom-pruned point lookups ≡ a plain IN filter (one key absent on
    // purpose — a false positive may open a file but never lands a row)
    "w36_zorder_bloom" ->
      """WITH mx AS (SELECT MAX(o_orderkey) AS mo FROM orders)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders, mx
        |WHERE o_orderkey IN (mo // 7, mo // 3, mo // 2 + 1, mo + 99999)""".stripMargin,

    // the planner-pruned point traversal over z-table edges ≡ g08's
    // oracle verbatim (storage layout never changes a traversal's answer)
    "w49_ztable_traverse" -> OrdersOfCustomerSql,

    // the streamed CDC follower's final state ≡ raw lineitem minus the
    // band (low-90% seed + tail append − band delete = full − band);
    // exactly-once means not one row more or less
    "w51_cdc_follower" ->
      """WITH mx AS (SELECT MAX(l_orderkey) AS ma, MAX(l_suppkey) AS mb FROM lineitem)
        |SELECT l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem, mx
        |WHERE NOT (l_orderkey BETWEEN ma // 4 AND ma // 2
        |       AND l_suppkey BETWEEN mb * 2 // 5 AND mb // 2)
        |GROUP BY 1""".stripMargin,

    // the string-stat-pruned band ≡ the same lexicographic band over raw
    // orders (identical lpad derivation on both sides; zero-padded labels
    // order exactly like the numeric key, so the band is well-defined)
    "w50_zorder_strstats" ->
      """WITH mx AS (SELECT MAX(o_orderkey) AS mo FROM orders)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders, mx
        |WHERE lpad(CAST(o_orderkey AS VARCHAR), 8, '0')
        |        >= lpad(CAST(mo // 4 AS VARCHAR), 8, '0')
        |  AND lpad(CAST(o_orderkey AS VARCHAR), 8, '0')
        |        <= lpad(CAST(mo // 2 AS VARCHAR), 8, '0')
        |GROUP BY 1""".stripMargin,

    // the auto-piloted table ≡ raw lineitem minus the band (the advisor's
    // maintain/bloom/binpack/compact/materialize chain never changes rows)
    "w53_zorder_optimize" ->
      """WITH mx AS (SELECT MAX(l_orderkey) AS ma, MAX(l_suppkey) AS mb FROM lineitem)
        |SELECT l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem, mx
        |WHERE NOT (l_orderkey BETWEEN ma // 4 AND ma // 2
        |       AND l_suppkey BETWEEN mb * 2 // 5 AND mb // 2)
        |GROUP BY 1""".stripMargin,

    // the maintained-postings MATCH through a Fetch chain ≡ a regex word
    // scan of raw part names (parts survive w54's churn untouched)
    "g22_wh_fts_fetch" ->
      """SELECT 'part:' || p_partkey AS uid FROM part
        |WHERE regexp_matches(LOWER(p_name), '\bred\b')
        |   OR regexp_matches(LOWER(p_name), '\banvil\b')""".stripMargin,

    // the historical cut predates the customer delete wave entirely, so
    // every kind counts FULL from the raw tables (each edge kind is
    // 1:1 with its source table's rows)
    "w55_zview_time_travel" ->
      """SELECT 'node' AS side, 'customer' AS kind, COUNT(*) AS n FROM customer
        |UNION ALL SELECT 'node', 'supplier', COUNT(*) FROM supplier
        |UNION ALL SELECT 'node', 'nation', COUNT(*) FROM nation
        |UNION ALL SELECT 'node', 'region', COUNT(*) FROM region
        |UNION ALL SELECT 'node', 'part', COUNT(*) FROM part
        |UNION ALL SELECT 'node', 'orders', COUNT(*) FROM orders
        |UNION ALL SELECT 'edge', 'InNation', COUNT(*) FROM customer
        |UNION ALL SELECT 'edge', 'SuppNation', COUNT(*) FROM supplier
        |UNION ALL SELECT 'edge', 'InRegion', COUNT(*) FROM nation
        |UNION ALL SELECT 'edge', 'PlacedBy', COUNT(*) FROM orders""".stripMargin,

    // the streamed z-state ≡ per-kind counts over the raw tables: every
    // kind survives whole except suppliers (and their SuppNation edges),
    // which lose the % 7 == 0 keys to the delete wave; region modifies
    // and the orders create wave are count-exact by construction
    "w54_journal_z_stream" ->
      """SELECT 'node' AS side, 'customer' AS kind, COUNT(*) AS n FROM customer
        |UNION ALL SELECT 'node', 'supplier', COUNT(*) FROM supplier WHERE s_suppkey % 7 <> 0
        |UNION ALL SELECT 'node', 'nation', COUNT(*) FROM nation
        |UNION ALL SELECT 'node', 'region', COUNT(*) FROM region
        |UNION ALL SELECT 'node', 'part', COUNT(*) FROM part
        |UNION ALL SELECT 'node', 'orders', COUNT(*) FROM orders
        |UNION ALL SELECT 'edge', 'InNation', COUNT(*) FROM customer
        |UNION ALL SELECT 'edge', 'SuppNation', COUNT(*) FROM supplier WHERE s_suppkey % 7 <> 0
        |UNION ALL SELECT 'edge', 'InRegion', COUNT(*) FROM nation
        |UNION ALL SELECT 'edge', 'PlacedBy', COUNT(*) FROM orders""".stripMargin,

    // string-keyed point lookups through the planner ≡ a plain IN over
    // the same derived references on raw orders (the absent probe may
    // open a file via a bloom false positive but never lands a row)
    "w52_ztable_strpoint" ->
      """WITH mx AS (SELECT MAX(o_orderkey) AS mo FROM orders)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders, mx
        |WHERE 'ref-' || reverse(lpad(CAST(o_orderkey AS VARCHAR), 8, '0')) IN (
        |  'ref-' || reverse(lpad(CAST(mo // 7 AS VARCHAR), 8, '0')),
        |  'ref-' || reverse(lpad(CAST(mo // 3 AS VARCHAR), 8, '0')),
        |  'ref-' || reverse(lpad(CAST(mo // 2 + 1 AS VARCHAR), 8, '0')),
        |  'ref-' || reverse(lpad(CAST(mo + 99999 AS VARCHAR), 8, '0')))""".stripMargin,

    // the planner-integrated lookup over the same table and probes must
    // produce the identical rows (w36's twin verbatim)
    "w48_ztable_point" ->
      """WITH mx AS (SELECT MAX(o_orderkey) AS mo FROM orders)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders, mx
        |WHERE o_orderkey IN (mo // 7, mo // 3, mo // 2 + 1, mo + 99999)""".stripMargin,

    // the 0→2 change feed ≡ inserts = the appended tail, deletes = the
    // banded rows (the band sits inside the low-90% init domain and the
    // tail outside it, so the two legs are disjoint by construction)
    "w35_zorder_changes" ->
      """WITH mx AS (SELECT MAX(l_orderkey) AS ma, MAX(l_suppkey) AS mb FROM lineitem)
        |SELECT 'insert' AS change_type, l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem, mx WHERE l_orderkey > ma * 9 // 10
        |GROUP BY 1, 2
        |UNION ALL
        |SELECT 'delete' AS change_type, l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem, mx
        |WHERE l_orderkey BETWEEN ma // 4 AND ma // 2
        |  AND l_suppkey BETWEEN mb * 2 // 5 AND mb // 2
        |GROUP BY 1, 2""".stripMargin,

    // generation 0 as-of ≡ the low-90% corpus it froze
    "w33_zorder_asof" ->
      """WITH mx AS (SELECT MAX(l_orderkey) * 9 // 10 AS cut FROM lineitem)
        |SELECT l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem, mx
        |WHERE l_orderkey <= cut
        |GROUP BY 1""".stripMargin,

    // the streamed-in table answers from its committed generation; the
    // twin is the same full aggregate from raw lineitem (exactly-once
    // landing means not one row more or less)
    "w30_zorder_stream_sink" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY 1""".stripMargin,

    // span-pruned reads must equal full-filter reads — the twin applies
    // the same two-sided band to raw lineitem (// = integer division,
    // matching Scala Long floor division on the band bounds)
    "w27_zorder_scan" ->
      """WITH mx AS (SELECT MAX(l_orderkey) AS ma, MAX(l_suppkey) AS mb FROM lineitem)
        |SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem, mx
        |WHERE l_orderkey BETWEEN ma // 4 AND ma // 2
        |  AND l_suppkey BETWEEN mb * 2 // 5 AND mb // 2
        |GROUP BY 1""".stripMargin,

    // the stat-pruned time band ≡ the raw events band (second-aligned
    // endpoints; // = integer division, matching the builder's Long math)
    "w45_zorder_colstats" ->
      """WITH mx AS (SELECT CAST(FLOOR(MIN(epoch(ts))) AS BIGINT) AS lo,
        |                  CAST(FLOOR(MAX(epoch(ts))) AS BIGINT) AS hi FROM events)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        |FROM events, mx
        |WHERE ts >= make_timestamp((lo + (hi - lo) * 3 // 10) * 1000000)
        |  AND ts <= make_timestamp((lo + (hi - lo) * 45 // 100) * 1000000)
        |GROUP BY 1""".stripMargin,

    // the joined-and-pruned ZTable read ≡ the raw band join
    "w47_ztable_join" ->
      """WITH mx AS (SELECT MAX(l_orderkey) AS ma, MAX(l_suppkey) AS mb FROM lineitem)
        |SELECT s_nationkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem, mx, supplier
        |WHERE l_suppkey = s_suppkey
        |  AND l_orderkey BETWEEN ma // 4 AND ma // 2
        |  AND l_suppkey BETWEEN mb * 2 // 5 AND mb // 2
        |GROUP BY 1""".stripMargin,

    // the planner-integrated read of the same maintained table over the
    // same band must produce the identical aggregate
    "w43_zorder_fileindex" ->
      """WITH mx AS (SELECT MAX(l_orderkey) AS ma, MAX(l_suppkey) AS mb FROM lineitem)
        |SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem, mx
        |WHERE l_orderkey BETWEEN ma // 4 AND ma // 2
        |  AND l_suppkey BETWEEN mb * 2 // 5 AND mb // 2
        |GROUP BY 1""".stripMargin,

    // the audit table answers from the loop's committed history; the twin
    // re-derives each parity batch's gopher rule counts from raw documents
    "w24_gate_loop" ->
      """WITH s AS (SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_words,
        |  list_sum(list_transform(string_split(text, ' '), x -> length(x)))::DOUBLE
        |    / len(string_split(text, ' ')) AS mean_word_len,
        |  len(list_filter(string_split(text, ' '), x -> regexp_matches(x, '^[A-Za-z]+$')))::DOUBLE
        |    / len(string_split(text, ' ')) AS alpha_frac,
        |  len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','and','is'))) AS n_stopwords
        | FROM documents),
        |f AS (SELECT doc_id % 2 AS batch_id,
        |  (n_words >= 30 AND n_words <= 90) AS ok_w,
        |  (mean_word_len >= 4.0 AND mean_word_len <= 4.9) AS ok_m,
        |  (alpha_frac >= 0.8) AS ok_a,
        |  (n_stopwords >= 2) AS ok_s
        | FROM s)
        |SELECT batch_id, COUNT(*) AS n_in,
        |  SUM(CASE WHEN ok_w AND ok_m AND ok_a AND ok_s THEN 1 ELSE 0 END)::BIGINT AS n_pass,
        |  SUM(CASE WHEN NOT ok_w THEN 1 ELSE 0 END)::BIGINT AS n_fail_words,
        |  SUM(CASE WHEN NOT ok_m THEN 1 ELSE 0 END)::BIGINT AS n_fail_mean_len,
        |  SUM(CASE WHEN NOT ok_a THEN 1 ELSE 0 END)::BIGINT AS n_fail_alpha,
        |  SUM(CASE WHEN NOT ok_s THEN 1 ELSE 0 END)::BIGINT AS n_fail_stopwords
        |FROM f GROUP BY 1""".stripMargin,

    // batch 0 gated by {tracker.net} only; batch 1 ALSO by the
    // mid-ingest spam-mill.com takedown — suffix semantics as t22
    "w25_block_loop" ->
      """WITH x AS (SELECT doc_id,
        |  'https://' || CASE CAST(doc_id % 5 AS INT)
        |    WHEN 0 THEN 'user:pw@Ads.Tracker.NET' WHEN 1 THEN 'sub.spam-mill.com'
        |    WHEN 2 THEN 'docs.example.org:8080' WHEN 3 THEN 'tracker.net.example.org'
        |    ELSE 'example.org' END || '/page/' || doc_id AS url
        | FROM documents),
        |h AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |    regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
        |    '^[^/?#]*@', ''), ':[0-9]+$', ''), '\.+$', '') AS host FROM x),
        |f AS (SELECT doc_id % 2 AS batch_id,
        |  (host = 'tracker.net' OR host LIKE '%.tracker.net') AS hit_t,
        |  (host = 'spam-mill.com' OR host LIKE '%.spam-mill.com') AS hit_s
        | FROM h),
        |g AS (SELECT batch_id,
        |  CASE WHEN batch_id = 0 THEN hit_t ELSE hit_t OR hit_s END AS hit
        | FROM f)
        |SELECT batch_id, COUNT(*) AS n_in,
        |  SUM(CASE WHEN hit THEN 1 ELSE 0 END)::BIGINT AS n_blocked,
        |  SUM(CASE WHEN hit THEN 0 ELSE 1 END)::BIGINT AS n_kept
        |FROM g GROUP BY 1""".stripMargin,

    "e05_partitioned_days" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, COUNT(*) AS events,
        |  COUNT(DISTINCT user_id) AS users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events
        |WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-10' AND '2024-01-12'
        |GROUP BY 1""".stripMargin,

    // the full ingest chain re-derived stage by stage: gate (same three row
    // rules) → the d15 LSH/CC chain over GATED docs → s17's temperature
    // weights re-derived from SURVIVOR sizes (target 800, 6-dp pin) →
    // t09's exclusive-running-sum packing keyed by doc_id*1024+copy_idx
    "p01_ingest_pipeline" ->
      """WITH RECURSIVE
        |gated AS (SELECT * FROM documents
        |  WHERE len(string_split(text, ' ')) >= 20 AND n_chars <= 520
        |    AND n_chars = LENGTH(text)),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM gated),
        |sh AS (SELECT doc_id,
        |  unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |h AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 4294967311 AS hh FROM sh),
        |mh AS (SELECT doc_id, i, MIN(((101 + 37*i) * hh + 12345 + 789*i) % 4294967311) AS mh
        |  FROM h CROSS JOIN range(0, 16) r(i) GROUP BY 1, 2),
        |sig AS (SELECT doc_id, i // 4 AS band,
        |  string_agg(CAST(mh AS VARCHAR), '_' ORDER BY i) AS sig FROM mh GROUP BY 1, 2),
        |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        |und AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |walk(id, r) AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT w.id, u.b FROM walk w JOIN und u ON u.a = w.r
        |),
        |clusters AS (SELECT id, LEAST(id, MIN(r)) AS cluster FROM walk GROUP BY id),
        |drops AS (SELECT id FROM clusters WHERE id <> cluster),
        |surv AS (SELECT g.* FROM gated g LEFT JOIN drops x ON g.doc_id = x.id
        |  WHERE x.id IS NULL),
        |n AS (SELECT lang AS stratum, COUNT(*) AS cnt FROM surv GROUP BY 1),
        |wt AS (SELECT stratum,
        |  ROUND(POW(cnt, 0.5) / (SELECT SUM(POW(cnt, 0.5)) FROM n) * 800.0 / cnt, 6) AS w
        |  FROM n),
        |hx AS (SELECT doc_id, lang, text, w,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hsh
        |  FROM surv JOIN wt ON lang = stratum),
        |cp AS (SELECT doc_id, lang, text,
        |  CAST(FLOOR(w) AS BIGINT)
        |    + (CASE WHEN CAST(hsh AS DOUBLE) < (w - FLOOR(w)) * 4294967296.0 THEN 1 ELSE 0 END) AS copies
        |  FROM hx),
        |mixed AS (SELECT doc_id, lang, text, CAST(u.c AS BIGINT) AS copy_idx
        |  FROM cp, unnest(range(0, copies)) u(c) WHERE copies > 0),
        |pk AS (SELECT lang, doc_id * 1024 + copy_idx AS pack_id,
        |  len(string_split(text, ' ')) AS ptoks FROM mixed),
        |cum AS (SELECT lang, pack_id, ptoks,
        |  COALESCE(SUM(ptoks) OVER (PARTITION BY lang ORDER BY pack_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cm
        | FROM pk)
        |SELECT lang, CAST(FLOOR(cm / 256.0) AS INT) AS bin,
        | COUNT(*) AS n_docs, CAST(SUM(ptoks) AS BIGINT) AS bin_tokens
        |FROM cum GROUP BY 1, 2""".stripMargin,

    // same hourly buckets, same ROWS frame (self-excluded), stddev_samp in
    // both engines, NULLIF guards the zero-spread division explicitly
    "e08_rate_anomalies" ->
      """WITH b AS (SELECT date_trunc('hour', ts) AS bucket_ts, COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |w AS (SELECT bucket_ts, n,
        |  COUNT(n) OVER tw AS trail_n,
        |  AVG(n) OVER tw AS mean,
        |  STDDEV_SAMP(n) OVER tw AS std
        |  FROM b WINDOW tw AS (ORDER BY bucket_ts ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING))
        |SELECT bucket_ts, n, ROUND(mean, 4) AS trailing_mean,
        |  CASE WHEN trail_n >= 2 AND std > 0
        |       THEN ROUND((n - mean) / NULLIF(std, 0), 4) END AS z,
        |  COALESCE(CASE WHEN trail_n >= 2 AND std > 0
        |       THEN abs(ROUND((n - mean) / NULLIF(std, 0), 4)) > 3.0 END, FALSE) AS anomalous
        |FROM w""".stripMargin,

    // one SELECT per profiled column, unioned — CAST sums to BIGINT
    // (DuckDB SUM(int) is HUGEINT)
    "e07_profile" -> Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderpriority")
      .map(c =>
        s"""SELECT '$c' AS "column", COUNT(*) AS n_rows,
           | CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           | COUNT(DISTINCT $c) AS n_distinct FROM orders""".stripMargin)
      .mkString("\nUNION ALL\n"),

    // the curation chain stage by stage: t13's segment scrub (window 8,
    // drop all-boilerplate docs) → t14's surprisal over CLEAN text with the
    // model trained on the scrubbed corpus itself → keep ≤ ROUND(mean, 6) →
    // t09's packing at budget 128 over clean_text keyed by doc_id
    "p02_curation_pipeline" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, toks,
        |  unnest(range(0, greatest(len(toks) - 1, 0) + 1, 8)) AS start FROM t),
        |c AS (SELECT doc_id, CAST(start // 8 AS INT) AS chunk_id,
        |  array_to_string(toks[CAST(start + 1 AS INT) : CAST(start + 8 AS INT)], ' ') AS chunk
        |  FROM s),
        |w AS (SELECT doc_id, chunk_id, chunk,
        |  ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_id) AS rk FROM c),
        |k AS (SELECT doc_id, COUNT(*) AS kept,
        |  string_agg(chunk, ' ' ORDER BY chunk_id) AS clean_text
        |  FROM w WHERE rk = 1 GROUP BY doc_id),
        |scrub AS (SELECT d.doc_id, d.lang, k.clean_text
        |  FROM documents d JOIN k ON k.doc_id = d.doc_id WHERE k.kept > 0),
        |stoks AS (SELECT doc_id, unnest(string_split(clean_text, ' ')) AS tok FROM scrub),
        |m AS (SELECT tok, COUNT(*) AS tf FROM stoks GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM stoks),
        |dt AS (SELECT doc_id, tok, COUNT(*) AS n FROM stoks GROUP BY 1, 2),
        |sc AS (SELECT doc_id, ROUND(SUM(n * -LN(tf / total)) / SUM(n), 4) AS score
        |  FROM dt JOIN m USING (tok) CROSS JOIN tot GROUP BY doc_id),
        |mn AS (SELECT ROUND(AVG(score), 6) AS mean FROM sc),
        |keep AS (SELECT doc_id FROM sc CROSS JOIN mn WHERE score <= mean),
        |x AS (SELECT lang, s.doc_id, len(string_split(clean_text, ' ')) AS ntoks
        |  FROM scrub s JOIN keep ON keep.doc_id = s.doc_id),
        |cum AS (SELECT lang, doc_id, ntoks,
        |  COALESCE(SUM(ntoks) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cm
        |  FROM x)
        |SELECT lang, CAST(FLOOR(cm / 128.0) AS INT) AS bin,
        | COUNT(*) AS n_docs, CAST(SUM(ntoks) AS BIGINT) AS bin_tokens
        |FROM cum GROUP BY 1, 2""".stripMargin,

    // t19's gate CTEs + d19's pair/cluster/keep CTEs (over the gated set)
    // + p02's packing tail — the composed twin
    "p03_curation_v2" ->
      """WITH RECURSIVE
        |g0 AS (SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_words,
        |  list_sum(list_transform(string_split(text, ' '), x -> length(x)))::DOUBLE
        |    / len(string_split(text, ' ')) AS mwl,
        |  len(list_filter(string_split(text, ' '), x -> regexp_matches(x, '^[A-Za-z]+$')))::DOUBLE
        |    / len(string_split(text, ' ')) AS af,
        |  len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','and','is'))) AS ns
        | FROM documents),
        |gated AS (SELECT d.doc_id, d.lang, d.text FROM documents d JOIN g0 USING (doc_id)
        |  WHERE n_words >= 30 AND n_words <= 90 AND mwl >= 4.0 AND mwl <= 4.9
        |    AND af >= 0.8 AND ns >= 2),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM gated),
        |sh AS (SELECT doc_id,
        |  unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS shingle
        |  FROM toks WHERE len(t) >= 3),
        |h AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 4294967311 AS hh FROM sh),
        |mh AS (SELECT doc_id, i, MIN(((101 + 37*i) * hh + 12345 + 789*i) % 4294967311) AS mh
        |  FROM h CROSS JOIN range(0, 16) r(i) GROUP BY 1, 2),
        |sig AS (SELECT doc_id, i // 4 AS band,
        |  string_agg(CAST(mh AS VARCHAR), '_' ORDER BY i) AS sig FROM mh GROUP BY 1, 2),
        |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        |und AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |walk(id, r) AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT w.id, u.b FROM walk w JOIN und u ON u.a = w.r
        |),
        |clusters AS (SELECT id, LEAST(id, MIN(r)) AS cluster FROM walk GROUP BY id),
        |q AS (SELECT doc_id, len(list_distinct(string_split(text, ' '))) AS q FROM gated),
        |keeps AS (SELECT cluster, keep_id FROM (
        |  SELECT c.cluster, c.id AS keep_id,
        |    ROW_NUMBER() OVER (PARTITION BY c.cluster ORDER BY q.q DESC, c.id ASC) AS rk
        |  FROM clusters c JOIN q ON q.doc_id = c.id) WHERE rk = 1),
        |drops AS (SELECT c.id FROM clusters c JOIN keeps k
        |  ON k.cluster = c.cluster AND c.id <> k.keep_id),
        |x AS (SELECT g.lang, g.doc_id, len(string_split(g.text, ' ')) AS ntoks
        |  FROM gated g LEFT JOIN drops dr ON g.doc_id = dr.id WHERE dr.id IS NULL),
        |cum AS (SELECT lang, doc_id, ntoks,
        |  COALESCE(SUM(ntoks) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cm
        |  FROM x)
        |SELECT lang, CAST(FLOOR(cm / 128.0) AS INT) AS bin,
        | COUNT(*) AS n_docs, CAST(SUM(ntoks) AS BIGINT) AS bin_tokens
        |FROM cum GROUP BY 1, 2""".stripMargin,

    // the WARC pipeline's twin re-derives the crawl from the SAME fixture
    // rules (host by doc_id % 5, /alt/ duplicate every 7th doc, tracking
    // param canonicalized away, title prefixes the stripped text) and
    // replays gate → exact-text dedup (min canonical URL survives) →
    // per-host census in plain SQL
    "p04_warc_pipeline" ->
      """WITH base AS (SELECT doc_id,
        |    trim(regexp_replace('Doc ' || doc_id || ' ' || text, '\s+', ' ', 'g')) AS t,
        |    CASE (doc_id % 5) WHEN 0 THEN 'alpha.example.org'
        |      WHEN 1 THEN 'beta.example.org' WHEN 2 THEN 'gamma.example.com'
        |      WHEN 3 THEN 'delta.example.net' ELSE 'epsilon.example.org' END AS h
        |  FROM documents),
        |recs AS (
        |  SELECT h, 'https://' || h || '/doc/' || doc_id || '?id=' || doc_id AS url, t FROM base
        |  UNION ALL
        |  SELECT h, 'https://' || h || '/alt/' || doc_id || '?id=' || doc_id AS url, t
        |  FROM base WHERE doc_id % 7 = 0),
        |gated AS (SELECT * FROM recs WHERE len(string_split(t, ' ')) >= 30),
        |dedup AS (SELECT t, MIN(url) AS url, COUNT(*) AS copies FROM gated GROUP BY t)
        |SELECT regexp_extract(url, '^https://([^/]+)/', 1) AS host,
        |  COUNT(*) AS n_docs, CAST(SUM(copies) AS BIGINT) AS n_records,
        |  CAST(SUM(len(string_split(t, ' '))) AS BIGINT) AS sum_words,
        |  CAST(SUM(CASE WHEN url LIKE '%/alt/%' THEN 1 ELSE 0 END) AS BIGINT) AS alt_survivors
        |FROM dedup GROUP BY 1""".stripMargin
  )
}
