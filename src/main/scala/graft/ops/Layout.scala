package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton-curve) clustering, the
  * lakehouse OPTIMIZE ZORDER effect (public: Morton 1966; Delta/Iceberg docs).
  *
  * Why it matters at 100 TB: a table laid out by ONE sort key prunes scans
  * only on that key — range predicates on the second key touch every file.
  * Interleaving the key bits makes file min/max spans tight on BOTH columns,
  * so either predicate skips ~all non-matching files using nothing but the
  * footer statistics Spark and every lakehouse reader already consult. The
  * curve computation is pure codegen'd bit arithmetic (no UDF), and the
  * rewrite is one `repartitionByRange` — sampled range boundaries, fully
  * parallel, no global sort barrier.
  */
object Layout {

  /** Spread the low 16 bits of `x` to even bit positions (bit i → bit 2i) —
    * the classic shift-or-mask ladder, entirely codegen'd built-ins. Values
    * are masked to 16 bits first, so foreign inputs wrap rather than
    * colliding the interleave. */
  def spread16(x: Column): Column = {
    val x0 = x.cast("long").bitwiseAND(lit(0xFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Z-order value of two 16-bit keys: bits of `a` at even positions,
    * bits of `b` at odd. Nearby (a, b) points land near each other on the
    * curve, which is exactly what makes per-file min/max spans tight on both
    * columns after a z-sorted write. Raw form — callers with keys outside
    * [0, 65535] must bucketize first ([[scale16]]); [[zorderWrite]] does so
    * automatically. */
  def zValue(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Linear bucketization of `[lo, hi]` onto the 16-bit z domain: monotone,
    * endpoints pinned (lo → 0, hi → 65535), degenerate range → 0. Pure
    * codegen'd arithmetic; double math so arbitrary long ranges can't
    * overflow. Linear (not rank) bucketing keeps this one cheap map — for
    * heavily skewed keys compose with an explicit rank/ntile first; for
    * clustering locality the buckets only need to be monotone, which linear
    * always is. */
  def scale16(x: Column, lo: Long, hi: Long): Column =
    if (hi <= lo) lit(0L)
    else least(lit(65535L), greatest(lit(0L),
      // range in double space: hi - lo overflows Long for the full domain
      floor((x.cast("double") - lo.toDouble) / (hi.toDouble - lo.toDouble) * 65535.0)
        .cast("long")))

  /** Rewrite `df` into `nFiles` files clustered by z(a, b). Both keys first
    * bucketize to the 16-bit z domain from their observed min/max (ONE
    * 1-row aggregate — the only driver materialization), so arbitrary and
    * negative key domains are safe; then one `repartitionByRange` on the z
    * value (sampled boundaries — no global sort barrier) + a
    * within-partition sort, so every written file covers a contiguous,
    * disjoint z range. LayoutSpec pins the resulting spans and the
    * two-sided pruning win over a single-key linear layout. */
  /** Column names the layout machinery injects during writes (`_z`, `_zm`,
    * `_fid`, `_h`) and vectored deletes (`_fname`, `_pos`). A user column
    * with one of these names would be silently overwritten and dropped, so
    * every data ingestion edge rejects them up front — loud at write time,
    * never corrupt at read time. */
  private[ops] val ReservedCols: Set[String] = Set(
    "_z", "_zm", "_fid", "_h", "_pos", "_fname")

  private[ops] def requireNoReservedCols(df: DataFrame): Unit = {
    val clash = df.columns.filter(c => ReservedCols.contains(c))
    require(clash.isEmpty,
      s"column name(s) ${clash.mkString(", ")} are reserved by the layout " +
        "machinery (scan/DV helper columns) — rename them before writing " +
        "to a maintained table")
  }

  def zorderWrite(df: DataFrame, path: String, colA: String, colB: String,
      nFiles: Int): Unit = {
    require(nFiles >= 1, "need nFiles >= 1")
    requireNoReservedCols(df)
    val bounds = df.agg(
      min(col(colA).cast("long")), max(col(colA).cast("long")),
      min(col(colB).cast("long")), max(col(colB).cast("long"))).collect()(0)
    if (bounds.isNullAt(0)) { // empty input still writes an empty table
      df.write.mode("overwrite").parquet(path); return
    }
    val (aLo, aHi, bLo, bHi) =
      (bounds.getLong(0), bounds.getLong(1), bounds.getLong(2), bounds.getLong(3))
    df.withColumn("_z", zValue(
        scale16(col(colA), aLo, aHi), scale16(col(colB), bLo, bHi)))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Spread the low 16 bits of `x` to every-third bit positions
    * (bit i → bit 3i) — the canonical Morton3D shift-or-mask ladder
    * (public 21-bit masks, fed 16-bit inputs), entirely codegen'd. */
  def spread3(x: Column): Column = {
    val x0 = x.cast("long").bitwiseAND(lit(0xFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 32)).bitwiseAND(lit(0x1F00000000FFFFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 16)).bitwiseAND(lit(0x1F0000FF0000FFL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 8)).bitwiseAND(lit(0x100F00F00F00F00FL))
    val x4 = x3.bitwiseOR(shiftleft(x3, 4)).bitwiseAND(lit(0x10C30C30C30C30C3L))
    x4.bitwiseOR(shiftleft(x4, 2)).bitwiseAND(lit(0x1249249249249249L))
  }

  /** 48-bit Morton value of THREE 16-bit keys — (time, user, item)-style
    * layouts where range predicates arrive on any of three columns. Same
    * contract as [[zValue]]: inputs pre-bucketized by [[scale16]]. Bit
    * significance rises with argument position (c holds the top bit of
    * each triple), so the LAST key prunes hardest — put the
    * most-selective key third. With three keys sharing the tile budget,
    * run file counts well above the per-key fan-out (LayoutSpec measures
    * 0.50/0.38/0.30 touched at 64 files on a 32³ grid). */
  def zValue3(a: Column, b: Column, c: Column): Column =
    spread3(a).bitwiseOR(shiftleft(spread3(b), 1))
      .bitwiseOR(shiftleft(spread3(c), 2))

  /** Three-key [[zorderWrite]]: one bounds aggregate, one range
    * repartition on z3, per-file spans tight on ALL THREE columns. */
  def zorderWrite3(df: DataFrame, path: String, colA: String, colB: String,
      colC: String, nFiles: Int): Unit = {
    require(nFiles >= 1, "need nFiles >= 1")
    requireNoReservedCols(df)
    val bounds = df.agg(
      min(col(colA).cast("long")), max(col(colA).cast("long")),
      min(col(colB).cast("long")), max(col(colB).cast("long")),
      min(col(colC).cast("long")), max(col(colC).cast("long"))).collect()(0)
    if (bounds.isNullAt(0)) {
      df.write.mode("overwrite").parquet(path); return
    }
    df.withColumn("_z", zValue3(
        scale16(col(colA), bounds.getLong(0), bounds.getLong(1)),
        scale16(col(colB), bounds.getLong(2), bounds.getLong(3)),
        scale16(col(colC), bounds.getLong(4), bounds.getLong(5))))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Hilbert-curve variant of [[zorderWrite]] — same scaling, same single
    * `repartitionByRange`, but clustering on the Hilbert index (the
    * codegen'd [[graft.functions.HilbertIndex]] expression) instead of the
    * Morton interleave. The Hilbert walk has no Morton "jumps" (consecutive
    * indices are always grid-adjacent), so per-file spans come out as tight
    * or tighter on both keys; Morton stays the default because its value is
    * pure bit arithmetic with no lookup state, but for span-pruned scans
    * over hot two-sided predicates the Hilbert layout is the quality
    * option. LayoutSpec measures both on the same grid. */
  def hilbertWrite(df: DataFrame, path: String, colA: String, colB: String,
      nFiles: Int): Unit = {
    require(nFiles >= 1, "need nFiles >= 1")
    requireNoReservedCols(df)
    graft.functions.GraftExtensions.register(df.sparkSession)
    val bounds = df.agg(
      min(col(colA).cast("long")), max(col(colA).cast("long")),
      min(col(colB).cast("long")), max(col(colB).cast("long"))).collect()(0)
    if (bounds.isNullAt(0)) {
      df.write.mode("overwrite").parquet(path); return
    }
    val (aLo, aHi, bLo, bHi) =
      (bounds.getLong(0), bounds.getLong(1), bounds.getLong(2), bounds.getLong(3))
    df.withColumn("_h", call_function("hilbert_index",
        scale16(col(colA), aLo, aHi), scale16(col(colB), bLo, bHi)))
      .repartitionByRange(nFiles, col("_h"))
      .sortWithinPartitions("_h")
      .drop("_h")
      .write.mode("overwrite").parquet(path)
  }

  /** Three-key [[hilbertWrite]] — the no-jumps twin of [[zorderWrite3]],
    * clustering on the codegen'd 3-D Hilbert walk
    * ([[graft.functions.Hilbert3Index]], Skilling 2004). The round-13
    * probe that motivated it: Morton3 at 64 files on a 32³ grid touches
    * 0.50/0.38/0.30 of files per 4-wide axis band where ideal 4×4×4
    * tiling touches 0.25 — the first key's Morton jumps leave 2× on the
    * table; the adjacent walk tightens it (LayoutSpec measures both). */
  def hilbertWrite3(df: DataFrame, path: String, colA: String, colB: String,
      colC: String, nFiles: Int): Unit = {
    require(nFiles >= 1, "need nFiles >= 1")
    requireNoReservedCols(df)
    graft.functions.GraftExtensions.register(df.sparkSession)
    val bounds = df.agg(
      min(col(colA).cast("long")), max(col(colA).cast("long")),
      min(col(colB).cast("long")), max(col(colB).cast("long")),
      min(col(colC).cast("long")), max(col(colC).cast("long"))).collect()(0)
    if (bounds.isNullAt(0)) {
      df.write.mode("overwrite").parquet(path); return
    }
    df.withColumn("_h", call_function("hilbert3_index",
        scale16(col(colA), bounds.getLong(0), bounds.getLong(1)),
        scale16(col(colB), bounds.getLong(2), bounds.getLong(3)),
        scale16(col(colC), bounds.getLong(4), bounds.getLong(5))))
      .repartitionByRange(nFiles, col("_h"))
      .sortWithinPartitions("_h")
      .drop("_h")
      .write.mode("overwrite").parquet(path)
  }

  /** Per-file (min, max) spans of the two layout columns — the statistics a
    * footer-pruning scan consults. Used to measure what fraction of files a
    * range predicate on either column would touch. */
  def fileSpans(spark: SparkSession, path: String, colA: String,
      colB: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n"),
        min(colA).as("a_min"), max(colA).as("a_max"),
        min(colB).as("b_min"), max(colB).as("b_max"))

  /** Fraction of files whose [lo, hi] span on `boundCol` intersects
    * [qLo, qHi] — the files a stats-pruning reader must open. */
  def touchedFraction(spans: DataFrame, loCol: String, hiCol: String,
      qLo: Long, qHi: Long): Double = {
    val Array(total, touched) = spans.agg(
      count(lit(1)).cast("double"),
      sum(when(col(loCol) <= qHi && col(hiCol) >= qLo, 1).otherwise(0))
        .cast("double")).collect()(0).toSeq.map(_.asInstanceOf[Double]).toArray
    if (total == 0) 0.0 else touched / total
  }

  // ------------------------------------------- incremental maintenance
  //
  // The lakehouse OPTIMIZE lifecycle on top of zorderWrite: appends land
  // BLIND (no clustering cost on the write path), and maintenance folds
  // them into the curve INCREMENTALLY — only the files whose z-range the
  // new rows fall into rewrite; every other file CARRIES OVER AS A
  // MANIFEST ROW, zero filesystem work. A generation IS its manifest
  // (`manifest-<N>.tsv`): the frozen curve bounds, the landing files it
  // consumed, and one row per data file (relative path, row count,
  // z-span, raw key spans — the statistics both maintenance routing and
  // the driver-side pruned scan consult). Data files are immutable and
  // live under `data/g<N>/`, named uniquely per write; nothing ever
  // rewrites in place, so the design needs only PUT + LIST + DELETE and
  // ports to object storage unchanged (the mini-Iceberg shape: Iceberg
  // snapshots/manifests, public spec). Readers get snapshot isolation
  // through the manifest: `manifest-<N>` is immutable once written, a
  // one-line CURRENT pointer flips atomically, and a crash anywhere
  // leaves CURRENT on the old generation with debris healed by exactly
  // three rules (stray manifests, consumed landing files, unreferenced
  // data files). The z scaling bounds are FROZEN at init (carried in
  // every manifest header) so all generations share one curve; appended
  // keys outside the initial domain clamp to the curve's edge — their
  // files' spans widen, pruning elsewhere keeps working, and a domain
  // drift big enough to matter is a zorderCompact (which re-freezes), not
  // a maintain.

  private def currentPtr(path: String) = java.nio.file.Paths.get(path, "CURRENT")
  private def dataDir(path: String) = java.nio.file.Paths.get(path, "data")
  private def genDataDir(path: String, gen: Long) = dataDir(path).resolve(s"g$gen")
  private def landingDir(path: String) = java.nio.file.Paths.get(path, "landing")
  private def manifestPath(path: String, gen: Long) =
    java.nio.file.Paths.get(path, s"manifest-$gen.tsv")

  /** The storage seam: every finalize (staged file → committed name) in
    * the layout machinery goes through here. On a local filesystem that's
    * an atomic rename; on an object store there IS no rename — finalize
    * is a server-side copy (or a direct upload) and the commit protocol's
    * atomicity point is the whole-object PUT of the manifest/pointer,
    * which object stores provide natively. `noRename = true` is the
    * in-test object-store model: rename and hard-link are forbidden,
    * finalize degrades to copy+delete — the suite passing under it proves
    * the protocol's correctness never leans on rename atomicity for data
    * files (only on per-object PUT, which writeAtomic models). */
  private[ops] object Store {
    @volatile private[ops] var noRename: Boolean = false
    private[ops] def finalizeFile(src: java.nio.file.Path,
        dst: java.nio.file.Path): Unit = {
      import java.nio.file.{Files, StandardCopyOption}
      if (noRename) {
        Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
        Files.delete(src)
      } else
        Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      ()
    }
  }

  private def writeAtomic(target: java.nio.file.Path, body: String): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp, body.getBytes("UTF-8"))
    Store.finalizeFile(tmp, target)
  }

  /** Maintenance and compaction hold this cross-process lock (advisory
    * file lock on `<path>/.lock` + a PER-TABLE JVM monitor — OS file
    * locks are per-process, so a second lock() from the same JVM would
    * throw instead of blocking, but one global monitor would serialize
    * unrelated tables: two streaming sinks landing into two maintained
    * tables must not block each other's micro-batches). Two concurrent
    * maintainers of the SAME table would otherwise interleave one
    * builder's heal sweep with the other's staged files. */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[ops] def withTableLock[A](path: String)(body: => A): A =
    withNamedLock(path, ".lock")(body)

  /** NOT REENTRANT across the file-lock layer (a second `lock()` on the
    * same channel file from the same JVM throws) — an operation composed
    * OF locked operations must take a DIFFERENT lock name
    * ([[zorderCdcApply]]'s `.cdc-lock`), never nest the same one. */
  private def withNamedLock[A](path: String, name: String)(body: => A): A = {
    val key = java.nio.file.Paths.get(path).toAbsolutePath.normalize
      .toString + "::" + name
    val monitor = tableLocks.computeIfAbsent(key, _ => new Object)
    monitor.synchronized {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
      val ch = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(path, name),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try body finally lock.release()
      } finally ch.close()
    }
  }

  /** The committed generation number, or None before init. */
  def currentGen(path: String): Option[Long] =
    if (!java.nio.file.Files.isRegularFile(currentPtr(path))) None
    else Some(new String(java.nio.file.Files.readAllBytes(currentPtr(path)),
      "UTF-8").trim.toLong)

  // ------------------------------------------------ generation retention
  //
  // A generation is one manifest file, so SNAPSHOT RETENTION is nearly
  // free: keep the last K manifests instead of 1, GC only data files no
  // RETAINED manifest references, and any retained generation reads back
  // exactly ([[zorderReadAsOf]]) — the journal's time travel applied to
  // the maintained table, same as Iceberg snapshots. Carried files are
  // SHARED across manifests (a manifest row is the only cost of keeping
  // them visible in K snapshots), so retention's storage overhead is the
  // rewritten-file tail, not K copies of the table.

  private def retentionPath(path: String) = java.nio.file.Paths.get(path, "RETENTION")
  private def tableIdPath(path: String) = java.nio.file.Paths.get(path, "TABLEID")

  /** The table's immutable identity (a UUID written at init). Pre-existing
    * tables that predate the marker get one lazily, under the table lock —
    * the identity only needs to exist before the first mirror reads it. */
  private def ensureTableId(path: String): String = {
    val p = tableIdPath(path)
    if (java.nio.file.Files.isRegularFile(p))
      return new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
    withTableLock(path) {
      if (!java.nio.file.Files.isRegularFile(p))
        writeAtomic(p, java.util.UUID.randomUUID().toString)
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
    }
  }

  /** How many committed generations this table retains (1 = current only). */
  def retentionOf(path: String): Int =
    if (!java.nio.file.Files.isRegularFile(retentionPath(path))) 1
    else new String(java.nio.file.Files.readAllBytes(retentionPath(path)),
      "UTF-8").trim.toInt

  /** Change the retention window. Raising it protects generations from
    * the NEXT commit on; lowering it lets the next heal age them out. */
  def setRetention(path: String, keepGenerations: Int): Unit =
    withTableLock(path) {
      require(keepGenerations >= 1, "need keepGenerations >= 1")
      writeAtomic(retentionPath(path), keepGenerations.toString)
    }

  /** Retained generation numbers, oldest first (manifests on disk within
    * the retention window of CURRENT). */
  def retainedGens(path: String): Seq[Long] = {
    val cur = currentGen(path).getOrElse(
      throw new IllegalStateException(s"no zorderInit at $path"))
    val keep = retentionOf(path)
    (math.max(0L, cur - keep + 1) to cur).filter(g =>
      java.nio.file.Files.isRegularFile(manifestPath(path, g)))
  }

  /** TIME TRAVEL: read a RETAINED generation exactly as committed. */
  def zorderReadAsOf(spark: SparkSession, path: String, gen: Long): DataFrame = {
    require(java.nio.file.Files.isRegularFile(manifestPath(path, gen)),
      s"generation $gen of $path is not retained (window: " +
        s"${retainedGens(path).mkString(", ")}) — raise keepGenerations " +
        "BEFORE the commits you want to travel to")
    liveScan(spark, path, gen, readManifest(path, gen))._1
  }

  /** [[zorderScan]] against a RETAINED generation: the same driver-side
    * span pruning, planned from that generation's manifest — band queries
    * over a snapshot prune exactly like queries over CURRENT. */
  def zorderScanAsOf(spark: SparkSession, path: String, gen: Long,
      aRange: (Long, Long), bRange: (Long, Long)): DataFrame = {
    require(java.nio.file.Files.isRegularFile(manifestPath(path, gen)),
      s"generation $gen of $path is not retained")
    val man = readManifest(path, gen)
    val hit = man.spans.filter(s =>
      s.aMin <= aRange._2 && s.aMax >= aRange._1 &&
      s.bMin <= bRange._2 && s.bMax >= bRange._1)
    val base =
      if (hit.isEmpty) spanFiles(spark, path, gen, man, man.spans).limit(0)
      else spanFilesLive(spark, path, gen, man, hit)
    base.filter(col(man.colA).between(aRange._1, aRange._2) &&
      col(man.colB).between(bRange._1, bRange._2))
  }

  /** Operator-facing table census, all from manifests (never a data
    * scan): one row per retained generation — files, rows, the clustered
    * columns, frozen bounds, and unmaintained landing files. */
  def zorderStats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val landing = landingFiles(path).size.toLong
    retainedGens(path).map { g =>
      val m = readManifest(path, g)
      (g, g == currentGen(path).get, m.spans.size.toLong,
        m.spans.map(s => s.rows - s.dvRows).sum, m.colA, m.colB, // LIVE rows
        s"[${m.aLo}, ${m.aHi}]", s"[${m.bLo}, ${m.bHi}]", landing)
    }.toDF("gen", "is_current", "files", "rows", "col_a", "col_b",
      "a_bounds", "b_bounds", "landing_files")
  }

  /** One manifest row per data file: relative path (under the table
    * root), row count, z range (what maintenance routes on), the raw
    * key ranges (what [[zorderScan]] prunes on), and `dvRows` — how many
    * of the file's PHYSICAL rows the generation's deletion vector
    * tombstones (`rows` stays the physical count; live = rows − dvRows). */
  private[ops] final case class Span(file: String, rows: Long, zLo: Long,
      zHi: Long, aMin: Long, aMax: Long, bMin: Long, bMax: Long,
      dvRows: Long = 0L, stats: Seq[(Long, Long)] = Nil,
      bytes: Long = -1L, // -1: written before manifests carried lengths
      // v3: per-stat-column NULL count in this file (aligned with stats;
      // -1 = unknown — a span parsed from a pre-v3 manifest row). What
      // lets count(col) answer from metadata and IsNull/IsNotNull prune.
      nulls: Seq[Long] = Nil)

  /** A generation's full state — the curve metadata travels INSIDE the
    * manifest, so a compaction that re-freezes the scaling bounds commits
    * them atomically with the file list: a crashed compact can never
    * leave new bounds visible against old spans. `consumed` lists the
    * landing files this generation folded — the exactly-once guard for
    * the crash window between pointer flip and landing cleanup.
    * `mixedSchema` records that this generation's files do not all share
    * one column set (SCHEMA EVOLUTION through maintain/upsert: appends
    * may add or omit non-key columns, reconciled BY NAME with null fill —
    * the Iceberg/Delta rule); readers then merge footer schemas, the one
    * extra planning cost evolution carries, and a compact rewrites every
    * file and resets the flag — homogeneous tables keep the fast path.
    * `dv` names the generation's DELETION VECTOR file (relative path of a
    * parquet of (fname, pos) tombstones — merge-on-read row deletes);
    * None means no tombstones anywhere in this generation. */
  private[ops] final case class Manifest(colA: String, colB: String,
      aLo: Long, aHi: Long, bLo: Long, bHi: Long,
      consumed: Seq[String], spans: Seq[Span], mixedSchema: Boolean = false,
      dv: Option[String] = None, statCols: Seq[String] = Nil,
      // the generation's data schema (StructType.json), recorded at commit
      // time for HOMOGENEOUS generations so planners build the read schema
      // driver-side with ZERO parquet footer fetches (the Iceberg
      // schema-in-metadata idea); None for mixed generations (readers
      // merge footers — the documented evolution cost until a compact
      // heals) and for pre-schema manifests (footer fallback)
      schemaJson: Option[String] = None)

  /** The schema to persist for a generation: everything NULLABLE, exactly
    * as a parquet footer read reports it — persisting a non-null field
    * would let the optimizer assert non-nullness the files don't enforce
    * (e.g. fold `IsNull` to false), and init-time DataFrame schemas carry
    * non-null flags (spark.range) that footers drop. */
  private def persistableSchemaJson(
      schema: org.apache.spark.sql.types.StructType): String = {
    import org.apache.spark.sql.types._
    def nullableize(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullableize(f.dataType), nullable = true)))
      case a: ArrayType =>
        a.copy(elementType = nullableize(a.elementType), containsNull = true)
      case m: MapType =>
        m.copy(keyType = nullableize(m.keyType),
          valueType = nullableize(m.valueType), valueContainsNull = true)
      case other => other
    }
    nullableize(schema).asInstanceOf[StructType].json
  }

  private def writeManifest(path: String, gen: Long, m: Manifest): Unit = {
    val hdr = Seq(s"#colA\t${m.colA}", s"#colB\t${m.colB}",
      s"#aLo\t${m.aLo}", s"#aHi\t${m.aHi}", s"#bLo\t${m.bLo}", s"#bHi\t${m.bHi}",
      s"#mixed\t${if (m.mixedSchema) 1 else 0}") ++
      m.dv.map(f => s"#dv\t$f").toSeq ++
      // base64: the TSV header splits key/value on the first tab, and a
      // field name could legally contain one
      m.schemaJson.map(j => s"#schema\t${java.util.Base64.getEncoder
        .encodeToString(j.getBytes(java.nio.charset.StandardCharsets.UTF_8))}")
        .toSeq ++
      (if (m.statCols.isEmpty) Seq.empty
       else Seq(s"#statcols\t${m.statCols.mkString(",")}")) ++
      m.consumed.map(f => s"#consumed\t$f")
    // format v2: field 9 is the file's BYTE LENGTH (the Iceberg
    // file_size_in_bytes idea) so planners build FileStatus objects from
    // the manifest alone — zero per-file stat/HEAD calls at query time.
    // format v3: each stat column carries THREE fields (lo, hi, nulls) —
    // the null count Iceberg records as null_value_counts; -1 = unknown
    // (a span carried from a pre-v3 manifest keeps its honest unknown)
    val rows = m.spans.map(s =>
      s"${s.file}\t${s.rows}\t${s.zLo}\t${s.zHi}\t${s.aMin}\t${s.aMax}\t${s.bMin}\t${s.bMax}\t${s.dvRows}\t${s.bytes}" +
        s.stats.zipWithIndex.map { case ((lo, hi), i) =>
          s"\t$lo\t$hi\t${s.nulls.lift(i).getOrElse(-1L)}"
        }.mkString)
    writeAtomic(manifestPath(path, gen), (Seq("#v\t3") ++ hdr ++ rows).mkString("\n"))
  }

  private[ops] def readManifest(path: String, gen: Long): Manifest = {
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.readAllLines(manifestPath(path, gen))
      .asScala.filter(_.nonEmpty).toSeq
    val (hdr, rows) = lines.partition(_.startsWith("#"))
    val kv = hdr.map(_.stripPrefix("#").split("\t", 2)).collect {
      case Array(k, v) => (k, v)
    }
    val meta = kv.filterNot(_._1 == "consumed").toMap
    Manifest(meta("colA"), meta("colB"),
      meta("aLo").toLong, meta("aHi").toLong, meta("bLo").toLong, meta("bHi").toLong,
      kv.collect { case ("consumed", f) => f },
      rows.map { l =>
        val p = l.split("\t")
        val v = meta.get("v").map(_.toInt).getOrElse(1)
        val statStart = if (v >= 2) 10 else 9
        val stride = if (v >= 3) 3 else 2 // v3 adds per-column null counts
        Span(p(0), p(1).toLong, p(2).toLong, p(3).toLong, p(4).toLong,
          p(5).toLong, p(6).toLong, p(7).toLong,
          dvRows = if (p.length > 8) p(8).toLong else 0L, // pre-DV manifests: 8 cols
          bytes = if (v >= 2) p(9).toLong else -1L,
          stats = (statStart until p.length by stride).map(i =>
            (p(i).toLong, p(i + 1).toLong)),
          nulls = (statStart until p.length by stride).map(i =>
            if (v >= 3) p(i + 2).toLong else -1L)) // pre-v3: honest unknown
      }.sortBy(_.zLo),
      mixedSchema = meta.get("mixed").contains("1"),
      dv = meta.get("dv"),
      statCols = meta.get("statcols").map(_.split(",").toSeq).getOrElse(Nil),
      schemaJson = meta.get("schema").map(b => new String(
        java.util.Base64.getDecoder.decode(b),
        java.nio.charset.StandardCharsets.UTF_8)))
  }

  /** The CURRENT generation's manifest rows — the statistics a probe or
    * an external planner consults (file count, per-file row counts and
    * key spans) without touching data. */
  def currentSpans(path: String): Seq[Span] = {
    val gen = currentGen(path).getOrElse(
      throw new IllegalStateException(s"no zorderInit at $path"))
    readManifest(path, gen).spans
  }

  /** [[currentSpans]] as a DataFrame shaped like [[fileSpans]] (columns
    * `file, n, a_min, a_max, b_min, b_max` + the z span), so
    * [[touchedFraction]] audits maintained tables too. */
  def currentSpansDF(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    currentSpans(path).toDF()
      .select(col("file"), col("rows").as("n"), col("zLo").as("z_lo"),
        col("zHi").as("z_hi"), col("aMin").as("a_min"), col("aMax").as("a_max"),
        col("bMin").as("b_min"), col("bMax").as("b_max"))
  }

  /** The Long-domain view of a stat column, chosen to MATCH the internal
    * representation Catalyst literals carry for that type — so manifest
    * stat spans compare directly against planner filter literals
    * ([[ManifestFileIndex]]): integral → the value, timestamp → micros
    * since epoch, date → days since epoch, string → the order-preserving
    * [[graft.functions.Prefix8]] embedding (Iceberg's truncated string
    * bounds, as a numeric interval; the index relaxes strict comparisons
    * for it and never answers min/max from it). Anything else is rejected
    * at [[zorderInit]]. */
  private def statLongExpr(dt: org.apache.spark.sql.types.DataType,
      c: String): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case TimestampType => unix_micros(col(c))
      case DateType => unix_date(col(c)).cast("long")
      case ByteType | ShortType | IntegerType | LongType => col(c).cast("long")
      case StringType => call_function("str_prefix8", col(c))
      case other => throw new IllegalArgumentException(
        s"stat column $c has unsupported type $other — integral, " +
          "timestamp, date, and string columns carry manifest stats")
    }
  }

  /** Scan freshly-written data files ONCE for their manifest rows: row
    * count, z range, raw key spans, and per-file min/max of every
    * declared stat column (the Iceberg column-stats shape — what lets
    * [[ManifestFileIndex]] prune on NON-layout predicates). `files` are
    * paths relative to the table root. A file where a stat column is
    * all-NULL (or absent, on an evolved table) records the EMPTY interval
    * (MaxValue, MinValue) — it provably holds no row matching any range
    * predicate on that column, so empty always prunes. */
  private def spanStats(spark: SparkSession, root: String, files: Seq[String],
      colA: String, colB: String, aLo: Long, aHi: Long, bLo: Long,
      bHi: Long, statCols: Seq[String] = Nil): Seq[Span] = {
    if (statCols.nonEmpty) // string stats use the str_prefix8 expression
      graft.functions.GraftExtensions.register(spark)
    val rootPath = java.nio.file.Paths.get(root).toAbsolutePath
    val z = zValue(scale16(col(colA), aLo, aHi), scale16(col(colB), bLo, bHi))
    // mergeSchema: evolved appends may omit a stat column in some files
    val rd = if (statCols.isEmpty) spark.read
      else spark.read.option("mergeSchema", "true")
    val df = rd.parquet(files.map(f => rootPath.resolve(f).toString): _*)
    val statSel = statCols.map { c =>
      if (df.columns.contains(c)) statLongExpr(df.schema(c).dataType, c).as(s"_s_$c")
      else lit(null).cast("long").as(s"_s_$c") // absent on this file set
    }
    // per column: min, max, NON-NULL count (the transforms above are
    // null-preserving, so count(_s_c) counts the source column's
    // non-null rows; nulls = file rows − that)
    val statAggs = statCols.flatMap(c =>
      Seq(min(col(s"_s_$c")), max(col(s"_s_$c")), count(col(s"_s_$c"))))
    df.select(Seq(input_file_name().as("f"), z.as("_z"),
        col(colA).cast("long").as("_a"), col(colB).cast("long").as("_b")) ++
        statSel: _*)
      .groupBy("f").agg(count(lit(1)),
        (Seq(min(col("_z")), max(col("_z")), min(col("_a")), max(col("_a")),
          min(col("_b")), max(col("_b"))) ++ statAggs): _*)
      .collect()
      .map { r =>
        val rel = rootPath.relativize(java.nio.file.Paths.get(
          new java.net.URI(r.getString(0)).getPath)).toString
        val rows = r.getLong(1)
        Span(rel,
          rows, r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7),
          stats = statCols.indices.map { i =>
            val (loI, hiI) = (8 + 3 * i, 9 + 3 * i)
            if (r.isNullAt(loI)) (Long.MaxValue, Long.MinValue) // empty: prunes
            else (r.getLong(loI), r.getLong(hiI))
          },
          nulls = statCols.indices.map(i => rows - r.getLong(10 + 3 * i)),
          // one stat call per FRESH file, at write time — query-time
          // planners then never touch the filesystem for lengths
          bytes = java.nio.file.Files.size(rootPath.resolve(rel)))
      }
      .sortBy(_.zLo).toSeq
  }

  private def parquetFilesUnder(dir: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.isDirectory(dir)) Seq.empty
    else {
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(_.toString).toSeq.sorted
      finally walk.close()
    }
  }

  /** Initialize a maintained z-ordered table at `path`: `data/g0/` holds
    * the zorderWrite layout, `manifest-0.tsv` freezes the scaling bounds
    * and lists every file with its spans, and CURRENT commits the
    * generation. Fails loudly on an already-initialized path (an init
    * over a live table would strand its landing rows); debris from a
    * CRASHED init (data/manifests without a CURRENT) is cleared first. */
  def zorderInit(spark: SparkSession, df: DataFrame, path: String,
      colA: String, colB: String, nFiles: Int,
      keepGenerations: Int = 1, statCols: Seq[String] = Nil): Unit = withTableLock(path) {
    import java.nio.file.Files
    require(nFiles >= 1, "need nFiles >= 1")
    require(keepGenerations >= 1, "need keepGenerations >= 1")
    requireNoReservedCols(df)
    statCols.foreach { c =>
      require(df.columns.contains(c), s"stat column $c is not in the input")
      statLongExpr(df.schema(c).dataType, c) // rejects unsupported types loudly
    }
    require(currentGen(path).isEmpty,
      s"zorderInit over a live maintained table at $path — zorderCompact " +
        "re-lays-out in place; delete the table first to truly re-init")
    // a crashed prior init left uncommitted debris — clear it
    graft.engine.WarehouseMeta.deleteRecursively(dataDir(path))
    graft.engine.WarehouseMeta.deleteRecursively(landingDir(path))
    graft.engine.WarehouseMeta.deleteRecursively(
      java.nio.file.Paths.get(path, "landing-staging"))
    import scala.jdk.CollectionConverters._
    val ls = Files.list(java.nio.file.Paths.get(path))
    try ls.iterator().asScala.filter(_.getFileName.toString.startsWith("manifest-"))
      .toList.foreach(Files.delete(_))
    finally ls.close()
    writeAtomic(retentionPath(path), keepGenerations.toString)
    // a FRESH identity every init: mirrors of a deleted-and-reinitialized
    // table must not confuse the new table with the old one
    writeAtomic(tableIdPath(path), java.util.UUID.randomUUID().toString)
    val bounds = df.agg(
      min(col(colA).cast("long")), max(col(colA).cast("long")),
      min(col(colB).cast("long")), max(col(colB).cast("long")),
      sum(when(col(colA).isNull || col(colB).isNull, 1L).otherwise(0L)))
      .collect()(0)
    require(!bounds.isNullAt(0), "zorderInit needs a non-empty table")
    // NULL keys have no z, no route, and no span — the maintained-table
    // contract rejects them at EVERY ingestion edge (init here; maintain
    // checks folded landing rows; upsert checks its batch). Same agg
    // pass as the bounds, zero extra scan.
    require(bounds.getLong(4) == 0L,
      s"layout keys ($colA, $colB) must be non-null: " +
        s"${bounds.getLong(4)} null-keyed rows in the input")
    val (aLo, aHi, bLo, bHi) =
      (bounds.getLong(0), bounds.getLong(1), bounds.getLong(2), bounds.getLong(3))
    val g0 = genDataDir(path, 0L)
    df.withColumn("_z", zValue(
        scale16(col(colA), aLo, aHi), scale16(col(colB), bLo, bHi)))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(g0.toString)
    val rel = parquetFilesUnder(g0).map(f =>
      java.nio.file.Paths.get(path).toAbsolutePath.relativize(
        java.nio.file.Paths.get(f).toAbsolutePath).toString)
    val spans = spanStats(spark, path, rel, colA, colB, aLo, aHi, bLo, bHi,
      statCols)
    writeManifest(path, 0L, Manifest(colA, colB, aLo, aHi, bLo, bHi,
      consumed = Seq.empty, spans = spans, statCols = statCols,
      schemaJson = Some(persistableSchemaJson(df.schema))))
    Files.createDirectories(landingDir(path))
    writeAtomic(currentPtr(path), "0")
  }

  /** Blind append: rows land as plain parquet in `landing/` — no
    * clustering work on the hot write path; [[zorderMaintain]] folds
    * them in. CONCURRENT appends are safe, but not via a shared
    * `mode("append")` write: simultaneous Spark jobs committing into one
    * directory share `_temporary/0` and one job's cleanup deletes the
    * other's attempt files (reproduced by LayoutSpec's racing-writers
    * test under full-suite load). Each append therefore writes to a
    * PRIVATE staging dir under the table root (same filesystem — the
    * move must be atomic) and then moves its completed parts into
    * `landing/` one atomic rename each; part names carry job UUIDs, so
    * names never collide. A crash mid-append leaves its staging dir
    * untouched-by-readers; [[heal]] sweeps staging dirs older than an
    * hour (young ones may be in-flight appends, which never hold the
    * table lock). */
  def zorderAppend(df: DataFrame, path: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    requireNoReservedCols(df)
    val staging = Paths.get(path, "landing-staging",
      java.util.UUID.randomUUID().toString)
    df.write.mode("overwrite").parquet(staging.toString)
    val landing = landingDir(path)
    Files.createDirectories(landing)
    parquetFilesUnder(staging).foreach { f =>
      val p = Paths.get(f)
      Store.finalizeFile(p, landing.resolve(p.getFileName))
    }
    graft.engine.WarehouseMeta.deleteRecursively(staging)
  }

  private[ops] def currentManifest(path: String): (Long, Manifest) = {
    val gen = currentGen(path).getOrElse(
      throw new IllegalStateException(s"no zorderInit at $path"))
    (gen, readManifest(path, gen))
  }

  /** PHYSICAL scan (tombstones not applied) of `man`'s files — the
    * relation every z-table read plans over: a [[ManifestFileIndex]], so
    * the planner's filters prune files by span, and no LIST or footer
    * read happens while planning. The read schema is the one the
    * generation persisted at commit time; only a mixed-schema or
    * pre-schema generation reads footers (a Spark job) to get it. */
  private[ops] def scanRelation(spark: SparkSession, path: String, gen: Long,
      man: Manifest): (DataFrame, ManifestFileIndex) = {
    import org.apache.spark.sql.types.{DataType, StructType}
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val fi = new ManifestFileIndex(path, man, gen)
    val dataSchema = man.schemaJson.filter(_ => !man.mixedSchema)
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .getOrElse {
        if (man.mixedSchema)
          spark.read.option("mergeSchema", "true").parquet(fi.inputFiles: _*).schema
        else spark.read.parquet(fi.inputFiles.head).schema
      }
    val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      location = fi,
      partitionSchema = new StructType(),
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat =
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      options = if (man.mixedSchema) Map("mergeSchema" -> "true") else Map.empty
    )(classic)
    (classic.baseRelationToDataFrame(relation), fi)
  }

  /** [[scanRelation]] over a span subset of generation `gen`. */
  private def spanFiles(spark: SparkSession, path: String, gen: Long,
      man: Manifest, spans: Seq[Span]): DataFrame =
    scanRelation(spark, path, gen, man.copy(spans = spans))._1

  private def basenameOf(file: String): String =
    java.nio.file.Paths.get(file).getFileName.toString

  /** Explicit schema of a deletion-vector file: never inferred, so reading
    * one plans no footer job. */
  private val DvSchema = "fname STRING, pos BIGINT"

  /** The LIVE-row predicate of `man`'s files: None when none of them
    * carries a tombstone, else a deterministic filter over the scan's own
    * `_metadata.file_name` / `_metadata.row_index`. The generation's DV
    * is read on the DRIVER (parquet-hadoop, no Spark job), kept only for
    * the tombstoned files' basenames (carried DV files hold rows of files
    * rewritten since, which must not hide rows of the rewrite), and its
    * sorted positions ship in a broadcast variable, so the plan stays
    * small whatever the DV size. Rows of untombstoned files pass the
    * first disjunct without a lookup. Being deterministic, the filter
    * lets the caller's own predicates push into the scan and prune files,
    * exactly as over a clean generation. Positions are parquet physical
    * row indexes, stable because data files are immutable — the Iceberg
    * v2 positional-delete / Delta deletion-vector shape. */
  private[ops] def liveFilter(spark: SparkSession, path: String,
      man: Manifest): Option[Column] = {
    val tomb = man.spans.filter(_.dvRows > 0).map(s => basenameOf(s.file)).toSet
    if (tomb.isEmpty || man.dv.isEmpty) return None
    val dvFile = new org.apache.hadoop.fs.Path(
      java.nio.file.Paths.get(path).toAbsolutePath.resolve(man.dv.get).toUri)
    val acc = scala.collection.mutable.HashMap.empty[String,
      scala.collection.mutable.ArrayBuilder.ofLong]
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), dvFile)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    try {
      var g = reader.read()
      while (g != null) {
        val f = g.getString("fname", 0)
        if (tomb(f))
          acc.getOrElseUpdate(f, new scala.collection.mutable.ArrayBuilder.ofLong)
            .addOne(g.getLong("pos", 0))
        g = reader.read()
      }
    } finally reader.close()
    val positions = acc.map { case (f, b) =>
      val a = b.result(); java.util.Arrays.sort(a); f -> a
    }.toMap
    val bc = spark.sparkContext.broadcast(positions)
    val live = udf((f: String, pos: Long) =>
      bc.value.get(f).forall(a => java.util.Arrays.binarySearch(a, pos) < 0))
    val fname = col("_metadata.file_name")
    Some(!fname.isin(tomb.toSeq.sorted: _*) || live(fname, col("_metadata.row_index")))
  }

  /** LIVE read of `man`'s files: [[scanRelation]] filtered by
    * [[liveFilter]] — one relation and one filter, whether or not the
    * generation carries tombstones. */
  private def buildLiveScan(spark: SparkSession, path: String, gen: Long,
      man: Manifest): (DataFrame, ManifestFileIndex) = {
    val (base, fi) = scanRelation(spark, path, gen, man)
    (liveFilter(spark, path, man).fold(base)(base.filter), fi)
  }

  /** One memoized live scan: built by `spark` from `man`. */
  private final class MemoScan(val spark: SparkSession, val man: Manifest,
      val scan: (DataFrame, ManifestFileIndex))

  /** Live scans by table (absolute path) and generation. */
  private val scanMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Long, MemoScan]]()

  private def memoKey(path: String): String =
    java.nio.file.Paths.get(path).toAbsolutePath.normalize.toString

  /** [[buildLiveScan]] of a whole generation, built once per generation:
    * reads of an unchanged generation reuse its relation, its
    * [[ManifestFileIndex]] and its DV positions with their broadcast, so
    * they read no DV and create no broadcast. A generation's files are
    * immutable, so the memo holds metadata of files, never rows of a
    * result.
    *   - Key: the table, the generation and the parsed [[Manifest]]
    *     value, not the generation number alone: a table deleted and
    *     re-initialized writes `manifest-0` again at the same path, with
    *     other files. A scan built by another session is rebuilt.
    *   - Bound: only generations inside the table's own retention window
    *     ([[retentionOf]] back from CURRENT) are held; a scan of an older
    *     generation is built and not kept. Each build drops the table's
    *     entries that left the window. A dropped entry is only
    *     unreferenced, never destroyed: a caller may still hold a frame
    *     over it, and Spark's cleaner frees its broadcast once no frame
    *     does. */
  private[ops] def liveScan(spark: SparkSession, path: String, gen: Long,
      man: Manifest): (DataFrame, ManifestFileIndex) = {
    val key = memoKey(path)
    Option(scanMemo.get(key)).flatMap(_.get(gen))
      .filter(m => (m.spark eq spark) && m.man == man)
      .map(_.scan)
      .getOrElse {
        val scan = buildLiveScan(spark, path, gen, man)
        val cur = currentGen(path).getOrElse(gen)
        val oldest = cur - retentionOf(path) + 1
        def inWindow(g: Long) = g >= oldest && g <= cur
        scanMemo.compute(key, (_, held) => {
          val kept = Option(held).getOrElse(Map.empty[Long, MemoScan])
            .filter { case (g, _) => g != gen && inWindow(g) }
          if (inWindow(gen)) kept + (gen -> new MemoScan(spark, man, scan)) else kept
        })
        scan
      }
  }

  /** The generations of `path` whose live scans [[liveScan]] holds. */
  private[ops] def memoizedGens(path: String): Seq[Long] =
    Option(scanMemo.get(memoKey(path))).map(_.keys.toSeq.sorted).getOrElse(Nil)

  /** [[buildLiveScan]] of a span subset of generation `gen` (not memoized:
    * the subset depends on the query). */
  private def spanFilesLive(spark: SparkSession, path: String, gen: Long,
      man: Manifest, spans: Seq[Span]): DataFrame =
    buildLiveScan(spark, path, gen, man.copy(spans = spans))._1

  /** Read the CURRENT committed generation (landing rows are invisible
    * until maintained — snapshot semantics; use [[zorderReadWithLanding]]
    * for read-your-appends). */
  def zorderRead(spark: SparkSession, path: String): DataFrame = {
    val (gen, man) = currentManifest(path)
    liveScan(spark, path, gen, man)._1
  }

  /** Span-pruned scan of the CURRENT generation: the reader-side payoff
    * of the layout — the file list is cut DRIVER-SIDE from the committed
    * manifest before Spark opens a single footer, so a two-sided band
    * query on a 100k-file table plans against only the files whose key
    * ranges intersect BOTH bands (conjunctive necessary condition); the
    * residual filter still applies (spans admit false positives, never
    * false negatives) and parquet row-group pruning stacks on top.
    * Returns an empty frame of the right schema when nothing matches. */
  def zorderScan(spark: SparkSession, path: String,
      aRange: (Long, Long), bRange: (Long, Long)): DataFrame = {
    val (gen, man) = currentManifest(path)
    val hit = man.spans.filter(s =>
      s.aMin <= aRange._2 && s.aMax >= aRange._1 &&
      s.bMin <= bRange._2 && s.bMax >= bRange._1)
    val base =
      if (hit.isEmpty) spanFiles(spark, path, gen, man, man.spans).limit(0)
      else spanFilesLive(spark, path, gen, man, hit)
    base.filter(col(man.colA).between(aRange._1, aRange._2) &&
      col(man.colB).between(bRange._1, bRange._2))
  }

  /** How many of the CURRENT generation's files [[zorderScan]] would open
    * for the given bands — the audit twin of the scan itself. */
  def zorderScanFiles(path: String, aRange: (Long, Long),
      bRange: (Long, Long)): (Int, Int) = {
    val (_, man) = currentManifest(path)
    (man.spans.count(s =>
      s.aMin <= aRange._2 && s.aMax >= aRange._1 &&
      s.bMin <= bRange._2 && s.bMax >= bRange._1), man.spans.size)
  }

  /** CURRENT generation plus any unmaintained landing rows — the
    * read-your-appends view (landing files are unclustered, so scans over
    * this view prune only the maintained part). */
  def zorderReadWithLanding(spark: SparkSession, path: String): DataFrame = {
    val base = zorderRead(spark, path)
    val landing = landingFiles(path)
    if (landing.isEmpty) base
    else base.unionByName(
      spark.read.option("mergeSchema", "true")
        .parquet(landing.map(_.toString): _*),
      allowMissingColumns = true)
  }

  private def landingFiles(path: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val d = landingDir(path)
    if (!java.nio.file.Files.isDirectory(d)) Seq.empty
    else {
      val ls = java.nio.file.Files.list(d)
      try ls.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.getFileName.toString)
      finally ls.close()
    }
  }

  /** EXACTLY-ONCE blind append for streaming ingest (the `foreachBatch`
    * body of [[graft.streaming.EventStreams.streamToZorder]]): Structured
    * Streaming replays a crashed micro-batch with the same id, so a bare
    * [[zorderAppend]] would double-land it. Per-table intent/commit log
    * (`<path>/batchlog/`, the WarehouseMeta.exactlyOnceBatch discipline):
    *
    *   - `<id>.commit` exists → -1 (replay of a fully applied batch).
    *   - any `.intent` without a `.commit` marks a CRASHED append: landing
    *     files absent from its snapshot are that append's partial output —
    *     deleted before anything runs ([[zorderMaintain]]/[[zorderCompact]]
    *     run the same rollback first, so a maintain can never fold a
    *     partial append).
    *   - snapshot landing names to `<id>.intent`, append, promote
    *     intent → commit. Returns the rows landed (footer counts of the
    *     new files — no second pass over the batch).
    *
    * Manual [[zorderAppend]] calls must not interleave with a crashed
    * batch's recovery window (the rollback cannot tell a manual append
    * from partial batch output); a streaming table should take all its
    * appends through this seam. */
  def zorderAppendBatch(spark: SparkSession, df: DataFrame, path: String,
      batchId: Long): Long = withTableLock(path) {
    import java.nio.file.Files
    require(currentGen(path).isDefined, s"no zorderInit at $path")
    val log = java.nio.file.Paths.get(path, "batchlog")
    Files.createDirectories(log)
    val commit = log.resolve(s"$batchId.commit")
    if (Files.exists(commit)) return -1L
    rollbackStaleAppendIntents(path)
    val before = landingFiles(path).map(_.getFileName.toString)
    writeAtomic(log.resolve(s"$batchId.intent"), before.mkString("\n"))
    zorderAppend(df, path) // private-staging append: no committer races
    val beforeSet = before.toSet
    val added = landingFiles(path)
      .filter(p => !beforeSet.contains(p.getFileName.toString))
    val n = if (added.isEmpty) 0L
      else spark.read.parquet(added.map(_.toString): _*).count()
    Store.finalizeFile(log.resolve(s"$batchId.intent"), commit)
    n
  }

  /** Roll back any crashed [[zorderAppendBatch]] (an `.intent` without a
    * `.commit`): landing files absent from the intent's snapshot are the
    * partial append's output — deleted, then the intent is cleared so the
    * stream's replay re-applies cleanly. */
  private def rollbackStaleAppendIntents(path: String): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val log = java.nio.file.Paths.get(path, "batchlog")
    if (!Files.isDirectory(log)) return
    val ls = Files.list(log)
    val intents =
      try ls.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".intent")).toList
      finally ls.close()
    val (landed, stale) = intents.partition(p => Files.exists(p.resolveSibling(
      p.getFileName.toString.stripSuffix(".intent") + ".commit")))
    // an intent WHOSE COMMIT EXISTS is the finalize-as-copy+delete crash
    // window (object stores have no rename): the batch committed, only the
    // intent's cleanup was lost — GC it, never roll it back
    landed.foreach(Files.deleteIfExists(_))
    if (stale.nonEmpty) {
      val snapshot = stale.flatMap(p => Files.readAllLines(p).asScala)
        .filter(_.nonEmpty).toSet
      landingFiles(path)
        .filter(p => !snapshot.contains(p.getFileName.toString))
        .foreach(Files.deleteIfExists(_))
      stale.foreach(Files.delete(_))
    }
  }

  /** Route each row's z value to the index of the committed file whose
    * z-range owns it (= index of the last span start <= z, clamped to 0).
    * Two codegen shapes, identical results (spec-pinned equal):
    * a CASE chain up to `caseMax` files — O(files) per row but zero
    * per-plan state, fine at layout-parameter file counts — and the
    * [[graft.functions.SearchSorted]] binary-search expression above it:
    * O(log files) per row against a plan-time long[], the 100k-file
    * regime where a CASE chain would blow the codegen method budget. */
  private[ops] def routeFid(cuts: Seq[Long], zCol: Column, caseMax: Int): Column =
    if (cuts.length <= caseMax)
      cuts.zipWithIndex.drop(1)
        .foldRight(lit(cuts.length - 1): Column) { case ((c, i), acc) =>
          when(zCol < c, i - 1).otherwise(acc)
        }
    else
      call_function("searchsorted", lit(cuts.toArray), zCol)

  /** Read a subset of generation `gen`'s files with their span index
    * attached: a literal basename→fid map looked up with the scan's own
    * `_metadata.file_name` (no join). Basenames are unique per table by
    * construction ([[commitRewrite]] generation-qualifies every rewrite
    * name; init part names carry job UUIDs) — the require makes a
    * violation loud instead of silently routing rows to the wrong file.
    * LIVE rows only: tombstoned positions of deletion-vectored files
    * filter out here, so every rewrite path (maintain / delete / upsert /
    * bin-pack) MATERIALIZES the affected files' tombstones — a rewritten
    * file never resurrects a vector-deleted row. */
  private def readWithFid(spark: SparkSession, path: String, gen: Long,
      man: Manifest, idx: Seq[Int], z: Column): DataFrame = {
    val spans = man.spans
    val names = idx.map(i => basenameOf(spans(i).file))
    require(names.distinct.size == names.size,
      s"duplicate data-file basenames in the manifest at $path — " +
        "rebuild the table via zorderCompact")
    // one projection: `_metadata` resolves only directly over the scan
    spanFilesLive(spark, path, gen, man, idx.map(spans)).select(col("*"),
      z.as("_zm"),
      element_at(typedLit(names.zip(idx).toMap), col("_metadata.file_name"))
        .as("_fid"))
  }

  /** Shared commit tail for the rewrite family (maintain / delete /
    * upsert): stage `merged` (must carry `_fid` and `_zm`) one file per
    * affected fid, move each part into
    * `data/g<cur+1>/<prefix>-g<cur+1>-<fid>.parquet` — GENERATION-
    * QUALIFIED names, because the fname→fid routing joins key on the
    * basename, so basenames must stay unique across every generation a
    * retained manifest can reference — scan ONLY the fresh files for
    * their spans, write manifest cur+1 = carried ∪ fresh, flip CURRENT,
    * heal. `requireFilePerFid`: maintain can never legitimately empty a
    * file (it only adds rows), delete/upsert can (the file drops from
    * the manifest). REFUSES to commit an empty table (no carried, no
    * fresh): the manifest format has no empty representation and a
    * maintained table must stay readable — the refusal aborts BEFORE the
    * manifest write, so the current generation is untouched and the
    * staged debris heals on the next operation. */
  private def commitRewrite(spark: SparkSession, path: String, cur: Long,
      man: Manifest, affected: Seq[Int], merged: DataFrame, prefix: String,
      requireFilePerFid: Boolean, consumed: Seq[String]): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(path).toAbsolutePath
    val nextData = genDataDir(path, cur + 1)
    val staging = dataDir(path).resolve(s"g${cur + 1}.staging")
    graft.engine.WarehouseMeta.deleteRecursively(staging)
    merged
      .repartition(math.max(1, affected.length), col("_fid"))
      .sortWithinPartitions("_fid", "_zm")
      .drop("_zm")
      .write.partitionBy("_fid").mode("overwrite").parquet(staging.toString)
    Files.createDirectories(nextData)
    val producedRel = affected.flatMap { i =>
      val partDir = staging.resolve(s"_fid=$i")
      if (!Files.isDirectory(partDir)) {
        require(!requireFilePerFid, s"expected a rewritten file for fid $i")
        None
      } else {
        val ls = Files.list(partDir)
        val part =
          try ls.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
          finally ls.close()
        require(part.size == 1,
          s"expected one rewritten file for fid $i, got ${part.size}")
        val target = nextData.resolve(s"$prefix-g${cur + 1}-$i.parquet")
        Store.finalizeFile(part.head, target)
        Some(root.relativize(target).toString)
      }
    }
    graft.engine.WarehouseMeta.deleteRecursively(staging)
    // manifest update is INCREMENTAL: carried files keep their committed
    // rows verbatim; only the freshly-written files scan
    val fresh = if (producedRel.isEmpty) Seq.empty
      else spanStats(spark, path, producedRel, man.colA, man.colB,
        man.aLo, man.aHi, man.bLo, man.bHi, man.statCols)
    val affectedSet = affected.toSet
    val carried = man.spans.zipWithIndex.collect {
      case (s, i) if !affectedSet.contains(i) => s
    }
    require(carried.nonEmpty || fresh.nonEmpty,
      s"refusing to commit an EMPTY maintained table at $path — a " +
        "manifest must reference at least one file; to drop the whole " +
        "table, delete its directory instead")
    // deletion-vector carry: a REWRITTEN file materialized its tombstones
    // (readWithFid reads live rows) and got a new generation-qualified
    // basename, so its old DV rows can never match again — the DV file
    // carries verbatim (a manifest reference, zero filesystem work) while
    // any carried file still holds tombstones, and drops otherwise
    val dvNext = if (carried.exists(_.dvRows > 0)) man.dv else None
    // homogeneous generation: the merged write's schema IS the table
    // schema (left-biased unionByName keeps committed column order), so
    // persist it and spare readers every footer fetch; mixed generations
    // drop the header — footer merge is the one evolution cost
    val schemaNext =
      if (man.mixedSchema) None
      else Some(persistableSchemaJson(merged.drop("_zm", "_fid").schema))
    writeManifest(path, cur + 1, man.copy(consumed = consumed,
      spans = (carried ++ fresh).sortBy(_.zLo), dv = dvNext,
      schemaJson = schemaNext))
    // bloom sidecars CARRY across every rewrite commit: carried files'
    // bitsets stay exact (immutable content), rewritten files' NEW names
    // are simply absent — and absent always opens ([[bloomAdmits]]), so
    // untouched files keep their pruning with zero rescan while a
    // later incremental [[zorderBloomBuild]] fills the gaps
    carryBloomSidecars(path, cur, cur + 1)
    // COMMIT, then clean up: heal IS the cleanup (consumed landing, aged
    // manifests, unreferenced data files) — a crash between the flip and
    // here replays the identical sweep
    writeAtomic(currentPtr(path), (cur + 1).toString)
    heal(path, cur + 1)
  }

  /** Fold landed appends into the curve. Incremental: new rows route to
    * the existing file whose committed z-range contains them (cutpoint
    * arithmetic on the manifest — codegen'd, no shuffle of the base
    * table), ONLY those files rewrite (merged + re-sorted), and every
    * untouched file carries into the next generation AS A MANIFEST ROW —
    * no link, no copy, no filesystem op, so maintain cost is independent
    * of the untouched-file count. Generation commit discipline:
    *
    *   1. heal debris (stray manifests, landing files the committed
    *      manifest already consumed, data files no manifest references),
    *   2. write the merged files under `data/g<N+1>/`,
    *   3. write `manifest-<N+1>.tsv` complete (carried rows + fresh rows
    *      + frozen bounds + consumed-landing list),
    *   4. flip CURRENT atomically,
    *   5. delete consumed landing files, the replaced data files, and
    *      `manifest-<N>.tsv`.
    *
    * A crash before (4) leaves CURRENT on N and step (1) removes the
    * partial build; a crash after (4) leaves consumed landing files whose
    * re-fold step (1) suppresses via the manifest — appends are folded
    * exactly once. Runs under the table's cross-process lock. Returns
    * (rowsMerged, filesRewritten, filesCarried); (0, 0, 0) when there is
    * nothing to do. */
  def zorderMaintain(spark: SparkSession, path: String,
      routeCaseMax: Int = 256): (Long, Int, Int) = withTableLock(path) {
    val cur = currentGen(path).getOrElse(
      throw new IllegalStateException(s"no zorderInit at $path"))
    rollbackStaleAppendIntents(path) // never fold a partial batch append
    heal(path, cur)
    val landing = landingFiles(path)
    if (landing.isEmpty) return (0L, 0, 0)
    val man = readManifest(path, cur)
    val z = zValue(scale16(col(man.colA), man.aLo, man.aHi),
      scale16(col(man.colB), man.bLo, man.bHi))
    val spans = man.spans // sorted by zLo
    graft.functions.GraftExtensions.register(spark)
    // routing on a MATERIALIZED z column: fid = index of the last span
    // start <= z. (An array-fold HOF here re-inlines the ~50-node z tree
    // per element and runs interpreted — measured 59 s for 600k rows at
    // sf1 before this shape; the codegen'd forms are <1 s.)
    val fid = routeFid(spans.map(_.zLo), col("_zm"), routeCaseMax)
    // landing reads always merge footer schemas: two pending appends may
    // disagree (SCHEMA EVOLUTION — reconciled by name, null-filled)
    val newRows = spark.read.option("mergeSchema", "true")
      .parquet(landing.map(_.toString): _*)
      .withColumn("_zm", z)
      .withColumn("_fid", fid)
    // blind appends are unchecked by design — the fold is where a
    // null-keyed row would corrupt routing/spans, so it fails HERE, loud,
    // with the landing intact for the caller to fix. Check the KEY
    // columns, not _zm: greatest/least skip nulls, so scale16(null) is 0
    // and a null key would silently alias cell (0, 0).
    require(newRows
        .filter(col(man.colA).isNull || col(man.colB).isNull)
        .limit(1).collect().isEmpty,
      s"landing holds rows with NULL layout keys (${man.colA}, " +
        s"${man.colB}) — the maintained-table contract requires non-null keys")
    val affected = newRows.select("_fid").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq // bounded by the file count
    // affected old files re-read WITH their fid, unioned with the routed
    // new rows BY NAME with null fill (schema evolution: appends may add
    // or omit non-key columns); bounds stay frozen (the manifest copy
    // keeps them)
    val oldRows = if (affected.isEmpty) None
      else Some(readWithFid(spark, path, cur, man, affected, z))
    val merged = oldRows
      .map(_.unionByName(newRows, allowMissingColumns = true))
      .getOrElse(newRows)
    // the generation goes mixed when the landing's column set differs
    // from the committed files' (rewritten files carry the merged schema,
    // carried files keep theirs); a compact heals back to homogeneous
    val mixedNow = man.mixedSchema || {
      val curNames = spanFiles(spark, path, cur, man, man.spans.take(1))
        .schema.fieldNames.toSet
      newRows.drop("_zm", "_fid").schema.fieldNames.toSet != curNames
    }
    val nMerged = newRows.count()
    commitRewrite(spark, path, cur, man.copy(mixedSchema = mixedNow),
      affected, merged, "merged",
      requireFilePerFid = true,
      consumed = landing.map(_.getFileName.toString))
    (nMerged, affected.length, spans.size - affected.length)
  }

  /** Full re-layout into a fresh generation — the periodic OPTIMIZE that
    * heals what incremental maintenance accumulates: edge tiles bloated
    * by clamped out-of-domain appends, file-count drift, and scaling
    * bounds that no longer match the data (bounds RE-FREEZE here from the
    * observed min/max — the one place they may change, committed
    * atomically with the generation flip because the meta travels inside
    * the manifest). Folds any unmaintained landing rows too. Same commit
    * discipline and lock as maintain: build complete, flip CURRENT,
    * clean up; crash-safe at every point. */
  def zorderCompact(spark: SparkSession, path: String,
      nFiles: Int): Unit = withTableLock(path) {
    import java.nio.file.Files
    require(nFiles >= 1, "need nFiles >= 1")
    val cur = currentGen(path).getOrElse(
      throw new IllegalStateException(s"no zorderInit at $path"))
    rollbackStaleAppendIntents(path) // never fold a partial batch append
    heal(path, cur)
    val man = readManifest(path, cur)
    val landing = landingFiles(path)
    val all = {
      val base = liveScan(spark, path, cur, man)._1
      if (landing.isEmpty) base
      else base.unionByName(
        spark.read.option("mergeSchema", "true")
          .parquet(landing.map(_.toString): _*),
        allowMissingColumns = true)
    }
    val (colA, colB) = (man.colA, man.colB)
    val bounds = all.agg(
      min(col(colA).cast("long")), max(col(colA).cast("long")),
      min(col(colB).cast("long")), max(col(colB).cast("long"))).collect()(0)
    val (aLo, aHi, bLo, bHi) =
      (bounds.getLong(0), bounds.getLong(1), bounds.getLong(2), bounds.getLong(3))
    val nextData = genDataDir(path, cur + 1)
    all.withColumn("_z", zValue(
        scale16(col(colA), aLo, aHi), scale16(col(colB), bLo, bHi)))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(nextData.toString)
    val root = java.nio.file.Paths.get(path).toAbsolutePath
    val rel = parquetFilesUnder(nextData).map(f =>
      root.relativize(java.nio.file.Paths.get(f).toAbsolutePath).toString)
    val spans = spanStats(spark, path, rel, colA, colB, aLo, aHi, bLo, bHi,
      man.statCols)
    writeManifest(path, cur + 1, Manifest(colA, colB, aLo, aHi, bLo, bHi,
      consumed = landing.map(_.getFileName.toString), // RE-frozen bounds
      spans = spans, mixedSchema = false, // every file rewritten: healed
      statCols = man.statCols, schemaJson = Some(persistableSchemaJson(all.schema))))
    writeAtomic(currentPtr(path), (cur + 1).toString)
    heal(path, cur + 1)
    ()
  }

  /** Probe/spec seam: commit a hand-built manifest as generation `gen`
    * (manifest write + CURRENT flip, no data validation). Lets
    * [[LayoutProbe]] measure driver-side span pruning against a synthetic
    * 100k-file manifest without writing 100k parquet files. */
  private[ops] def commitManifestUnsafe(path: String, gen: Long,
      m: Manifest): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    writeManifest(path, gen, m)
    writeAtomic(currentPtr(path), gen.toString)
  }

  /** Span-pruned DELETE of a two-sided key band — the lakehouse
    * `DELETE WHERE` over the maintained table: the committed manifest
    * cuts the candidate list DRIVER-SIDE to files whose spans intersect
    * BOTH bands (same conjunctive rule as [[zorderScan]]), ONE pruned
    * counting pass finds which of those actually hold matching rows
    * (spans admit false positives — this is what makes a repeat delete
    * an exact no-op instead of a blind rewrite), and only those files
    * rewrite (z-sorted, so span tightness survives); a file whose rows
    * ALL match simply drops from the manifest. Commit discipline, lock,
    * and healing identical to maintain. SNAPSHOT semantics: the delete
    * covers the COMMITTED generation only — unmaintained landing rows are
    * untouched (run [[zorderMaintain]] first if the delete must cover
    * them). Returns (rowsDeleted, filesRewrittenOrDropped, filesCarried). */
  def zorderDelete(spark: SparkSession, path: String, aRange: (Long, Long),
      bRange: (Long, Long)): (Long, Int, Int) = withTableLock(path) {
    val cur = currentGen(path).getOrElse(
      throw new IllegalStateException(s"no zorderInit at $path"))
    rollbackStaleAppendIntents(path)
    heal(path, cur)
    val man = readManifest(path, cur)
    val spans = man.spans
    val pred = col(man.colA).between(aRange._1, aRange._2) &&
      col(man.colB).between(bRange._1, bRange._2)
    val hitIdx = spans.zipWithIndex.collect {
      case (s, i) if s.aMin <= aRange._2 && s.aMax >= aRange._1 &&
        s.bMin <= bRange._2 && s.bMax >= bRange._1 => i
    }
    if (hitIdx.isEmpty) return (0L, 0, spans.size)
    val z = zValue(scale16(col(man.colA), man.aLo, man.aHi),
      scale16(col(man.colB), man.bLo, man.bHi))
    val matched = readWithFid(spark, path, cur, man, hitIdx, z)
      .filter(pred).groupBy("_fid").agg(count(lit(1)))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap // ≤ hit files
    val affected = hitIdx.filter(matched.contains).sorted
    if (affected.isEmpty) return (0L, 0, spans.size)
    val nDeleted = matched.values.sum
    // the rewrite pass reads ONLY the files with actual matches (the
    // counting pass read the wider span-hit set once). NULL-key rows make
    // `pred` NULL, not false — coalesce keeps them, or they would vanish
    // from the rewritten files without ever counting as deleted.
    val survivors = readWithFid(spark, path, cur, man, affected, z)
      .filter(!coalesce(pred, lit(false)))
    commitRewrite(spark, path, cur, man, affected, survivors, "deleted",
      requireFilePerFid = false, consumed = Seq.empty)
    (nDeleted, affected.length, spans.size - affected.length)
  }

  /** Keyed UPSERT (the MERGE INTO shape) over the maintained table:
    * every committed row whose (colA, colB) key appears in `df` is
    * REPLACED by the batch's rows for that key; keys new to the table
    * insert. Span-pruned like [[zorderDelete]]: batch keys route to
    * files through the same z cutpoints maintenance uses ([[routeFid]]),
    * only files owning a batch key rewrite (old rows anti-joined against
    * the broadcast key set, unioned with the batch's rows for those
    * fids), everything else carries as manifest rows. Batch rows whose z
    * falls outside every affected file's range still land (they route to
    * their owning file like a maintain would). SNAPSHOT semantics like
    * delete: unmaintained landing rows are not rewritten. The batch must
    * be DRIVER-BROADCASTABLE in keys (it is one micro-batch, not a
    * corpus — for corpus-sized replacement use [[zorderCompact]] over a
    * rebuilt input). Returns (rowsReplaced = old rows removed,
    * rowsUpserted = batch rows landed, filesRewritten). */
  def zorderUpsert(spark: SparkSession, df: DataFrame,
      path: String): (Long, Long, Int) = withTableLock(path) {
    requireNoReservedCols(df)
    val cur = currentGen(path).getOrElse(
      throw new IllegalStateException(s"no zorderInit at $path"))
    rollbackStaleAppendIntents(path)
    heal(path, cur)
    val man = readManifest(path, cur)
    val spans = man.spans
    graft.functions.GraftExtensions.register(spark)
    import spark.implicits._
    val z = zValue(scale16(col(man.colA), man.aLo, man.aHi),
      scale16(col(man.colB), man.bLo, man.bHi))
    val fid = routeFid(spans.map(_.zLo), col("_zm"), 256)
    val batch = df.withColumn("_zm", z).withColumn("_fid", fid)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nUpserted = batch.count()
      if (nUpserted == 0) return (0L, 0L, 0)
      // a NULL key has no z and no match semantics — reject loudly. Check
      // the KEY columns, not _zm: greatest/least skip nulls, so
      // scale16(null) is 0 and a null key would silently alias cell (0, 0)
      require(batch
          .filter(col(man.colA).isNull || col(man.colB).isNull)
          .limit(1).collect().isEmpty,
        s"zorderUpsert batch holds NULL in a layout key column " +
          s"(${man.colA}, ${man.colB}) — keys must be non-null")
      // affected files by SPAN INTERSECTION, not just cutpoint ownership:
      // repartitionByRange can split EQUAL z values across a file
      // boundary, so a key's old copies may sit in a neighbor whose span
      // still contains that z — every such file must rewrite or stale
      // copies would survive the upsert
      val spansDf = spans.zipWithIndex
        .map { case (s, i) => (i, s.zLo, s.zHi) }.toDF("sfid", "zlo", "zhi")
      val affected = batch.select("_zm").distinct()
        .join(broadcast(spansDf),
          col("_zm") >= col("zlo") && col("_zm") <= col("zhi"))
        .select("sfid").distinct()
        .union(batch.select(col("_fid").as("sfid")).distinct()) // new keys route here
        .distinct().as[Int].collect().sorted.toSeq // bounded by the file count
      val keyCols = Seq(man.colA, man.colB)
      val keys = batch.select(man.colA, man.colB).distinct()
      val oldRows = if (affected.isEmpty) None
        else Some(readWithFid(spark, path, cur, man, affected, z))
      val nReplaced = oldRows
        .map(_.join(broadcast(keys), keyCols, "left_semi").count())
        .getOrElse(0L)
      val kept = oldRows.map(_.join(broadcast(keys), keyCols, "left_anti"))
      val merged = kept
        .map(_.unionByName(batch, allowMissingColumns = true))
        .getOrElse(batch)
      // schema evolution through upsert, same rule as maintain
      val mixedNow = man.mixedSchema || {
        val curNames = spanFiles(spark, path, cur, man, man.spans.take(1))
          .schema.fieldNames.toSet
        batch.drop("_zm", "_fid").schema.fieldNames.toSet != curNames
      }
      commitRewrite(spark, path, cur, man.copy(mixedSchema = mixedNow),
        affected, merged, "upsert",
        requireFilePerFid = false, consumed = Seq.empty)
      (nReplaced, nUpserted, affected.length)
    } finally { batch.unpersist(); () }
  }

  // --------------------------------- bloom point-lookup sidecar (per gen)
  //
  // Z-spans prune RANGE predicates on the layout keys; a point lookup on
  // any OTHER high-cardinality column (fetch a document by id, an order
  // by key) touches every file without more statistics. The standard
  // lakehouse answer is a per-file Bloom filter (Parquet bloom filters /
  // Delta bloom indexes, public formats): `bloom-<gen>-<col>.tsv` holds
  // one bitset per data file over xxhash64 of the column, and a lookup
  // ANDs the probe's k bit positions against each file's set DRIVER-SIDE
  // — files failing any bit provably lack the value (no false negatives),
  // so the reader opens ~1 file + ε·fp instead of all of them. The
  // sidecar is generation-addressed and INCREMENTAL like everything else
  // here: carried data files keep their bitset rows verbatim (bitsets
  // depend only on file content, and files are immutable), so a rebuild
  // after maintain scans only the files the maintain rewrote.
  //
  // Scale: build is one column-pruned pass over the fresh files with a
  // (file, word) bit_or aggregate — the shuffle carries at most
  // files × bits/64 longs; the sidecar itself is the driver-held planning
  // state, same budget class as the manifest (bits is the dial: 2^16 bits
  // = 8 KB/file ≈ 1 GB of sidecar at 100k files, read once per planner).

  private def bloomPath(path: String, gen: Long, keyCol: String) =
    java.nio.file.Paths.get(path, s"bloom-$gen-$keyCol.tsv")

  private def bloomShardPath(path: String, gen: Long, keyCol: String,
      k: Int, s: Int) =
    java.nio.file.Paths.get(path, s"bloom-$gen-$keyCol.shard${k}of$s.tsv")

  /** Stable shard of a data-file basename: String.hashCode is specified
    * by the JLS, so shard assignment survives JVM restarts and mirrors. */
  private def bloomShardOf(fname: String, shards: Int): Int =
    java.lang.Math.floorMod(fname.hashCode, shards)

  private[ops] final case class BloomSidecar(bits: Int, hashes: Int,
      words: Map[String, Map[Int, Long]], // file → sparse wordIdx → word
      // the key's HASH DOMAIN: "long" (values cast to long — the original
      // integral-key sidecars; absent header ⇒ long, so every pre-r15
      // sidecar parses unchanged) or "str" (raw string values hashed as
      // UTF8 — doc ids, URLs, uid business keys). Probes must convert in
      // the SAME domain or not prune at all (mismatch admits, never
      // wrong).
      domain: String = "long")

  /** Parsed-sidecar cache (mtime-checked, PER FILE — shards cache
    * independently): a point lookup is interactive, and re-parsing a
    * 10k-file sidecar per call measured 0.56 s in LayoutProbe where the
    * bitset ANDs are microseconds. Sidecar files are immutable once
    * written (writeAtomic replaces whole files and [[writeBloom]]
    * invalidates), so an mtime match is a content match. */
  private val bloomCache = new java.util.concurrent.ConcurrentHashMap[
    String, (java.nio.file.attribute.FileTime, BloomSidecar)]()

  private def parseBloomFile(p: java.nio.file.Path): BloomSidecar = {
    val key = p.toAbsolutePath.toString
    val mt = java.nio.file.Files.getLastModifiedTime(p)
    val cached = bloomCache.get(key)
    if (cached != null && cached._1 == mt) return cached._2
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.readAllLines(p).asScala
      .filter(_.nonEmpty).toSeq
    val (hdr, rows) = lines.partition(_.startsWith("#"))
    val meta = hdr.map(_.stripPrefix("#").split("\t", 2))
      .collect { case Array(k, v) => (k, v) }.toMap
    val parsed = BloomSidecar(meta("bits").toInt, meta("hashes").toInt,
      rows.map { l =>
        val p = l.split("\t", 2)
        val ws = if (p.length < 2 || p(1).isEmpty) Map.empty[Int, Long]
          else p(1).split(",").map { e =>
            val Array(i, h) = e.split(":")
            i.toInt -> java.lang.Long.parseUnsignedLong(h, 16)
          }.toMap
        p(0) -> ws
      }.toMap,
      domain = meta.getOrElse("domain", "long"))
    bloomCache.put(key, (mt, parsed))
    parsed
  }

  /** All sidecar files of (gen, keyCol): the legacy single file, or the
    * shard set (the 100k-file regime: 2^16-bit sets are 8 KB/file ≈
    * 800 MB of sidecar — sharding bounds each parse and lets a cold read
    * parse shards IN PARALLEL; warm reads hit the per-shard mtime cache). */
  private def bloomFiles(path: String, gen: Long,
      keyCol: String): Seq[java.nio.file.Path] = {
    val single = bloomPath(path, gen, keyCol)
    if (java.nio.file.Files.isRegularFile(single)) return Seq(single)
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isDirectory(root)) return Seq.empty
    val prefix = s"bloom-$gen-$keyCol.shard"
    val ls = java.nio.file.Files.list(root)
    try ls.iterator().asScala
      .filter(p => p.getFileName.toString.startsWith(prefix) &&
        p.getFileName.toString.endsWith(".tsv"))
      .toSeq.sortBy(_.getFileName.toString)
    finally ls.close()
  }

  /** A sidecar is used ONLY when provably complete and consistent —
    * anything else (a crashed build's partial shard set, a reader racing
    * a rebuild, stale mixed shard counts on a mirror) returns None and
    * the caller falls back to scanning every file: bloom pruning may be
    * LOST, never WRONG. Completeness is checked against the shard count
    * encoded in every shard's own filename. */
  private def readBloom(path: String, gen: Long,
      keyCol: String): Option[BloomSidecar] = {
    val files = bloomFiles(path, gen, keyCol)
    if (files.isEmpty) return None
    val single = bloomPath(path, gen, keyCol)
    if (files != Seq(single)) {
      // shard set: every file must agree on S and all k in 0 until S exist
      val ks = files.map { f =>
        val n = f.getFileName.toString
        val tag = n.substring(n.indexOf(".shard") + 6).stripSuffix(".tsv")
        val Array(k, total) = tag.split("of")
        (k.toInt, total.toInt)
      }
      val totals = ks.map(_._2).distinct
      if (totals.size != 1 || ks.map(_._1).sorted != (0 until totals.head))
        return None // partial or mixed shard set: unpruned, never wrong
    }
    import scala.collection.parallel.CollectionConverters._
    val parts = try files.par.map(parseBloomFile).seq
      catch { case scala.util.control.NonFatal(_) => return None } // racing delete
    if (parts.map(p => (p.bits, p.hashes, p.domain)).distinct.size != 1)
      return None // stale mix (e.g. on a mirror): fall back, don't throw
    Some(BloomSidecar(parts.head.bits, parts.head.hashes,
      parts.flatMap(_.words).toMap, domain = parts.head.domain))
  }

  /** Every on-disk file of (gen, keyCol) across BOTH layouts (the legacy
    * single file AND any shard set, whatever the shard count) — the
    * deletion universe for a rebuild, so no stale file survives a
    * layout change for the reader to merge in. */
  private def bloomLayoutFiles(path: String, gen: Long,
      keyCol: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(path)
    val single = bloomPath(path, gen, keyCol)
    val shardPrefix = s"bloom-$gen-$keyCol.shard"
    val sharded = if (!java.nio.file.Files.isDirectory(root)) Seq.empty else {
      val ls = java.nio.file.Files.list(root)
      try ls.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith(shardPrefix) &&
          p.getFileName.toString.endsWith(".tsv")).toList
      finally ls.close()
    }
    (sharded :+ single).filter(java.nio.file.Files.isRegularFile(_))
  }

  /** Shard count of gen's on-disk sidecar over keyCol (1 = the single
    * file; 0 = no sidecar). Read from the shard filenames themselves. */
  private def bloomShardCountOf(path: String, gen: Long,
      keyCol: String): Int = {
    val files = bloomFiles(path, gen, keyCol)
    if (files.isEmpty) 0
    else if (files == Seq(bloomPath(path, gen, keyCol))) 1
    else {
      val n = files.head.getFileName.toString
      n.substring(n.indexOf("of") + 2).stripSuffix(".tsv").toIntOption
        .getOrElse(0)
    }
  }

  /** Hard-link `src` at `dest` atomically (link a tmp sibling, move over)
    * — the O(1) carry for an immutable sidecar unit whose content is
    * byte-identical across generations. Falls back to a byte copy where
    * links aren't supported (object-store mounts, cross-device tmp). */
  private def linkOrCopyAtomic(src: java.nio.file.Path,
      dest: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val tmp = dest.resolveSibling(dest.getFileName.toString + ".tmp")
    Files.deleteIfExists(tmp)
    try Files.createLink(tmp, src)
    catch { case scala.util.control.NonFatal(_) =>
      Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING) }
    Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Persist (gen, keyCol)'s sidecar. `carryFrom = Some((srcGen,
    * srcShards, srcFiles))` names an existing COMPLETE sidecar whose
    * parameters (bits, hashes, domain) match and whose bitset rows for
    * every file in `srcFiles ∩ words.keySet` are verbatim in `words` —
    * [[zorderBloomBuild]]'s carry contract. Under that contract any
    * output shard whose file set is EXACTLY the source shard's file set
    * is byte-identical to the source shard (same header, same sorted
    * rows), so it is hard-linked instead of re-serialized: an
    * incremental refresh after a maintain that touched f of F files
    * rewrites O(f/F) of the sidecar bytes instead of all of them —
    * the write-side twin of the build's carry-don't-rescan. Returns
    * (unitsSerialized, unitsLinked). */
  private[ops] def writeBloom(path: String, gen: Long, keyCol: String, bits: Int,
      hashes: Int, words: Map[String, Map[Int, Long]],
      shards: Int = 1, domain: String = "long",
      carryFrom: Option[(Long, Int, Set[String])] = None): (Int, Int) = {
    def body(ws: Map[String, Map[Int, Long]]) =
      (Seq(s"#bits\t$bits", s"#hashes\t$hashes") ++
        (if (domain == "long") Seq.empty else Seq(s"#domain\t$domain")) ++
        ws.toSeq.sortBy(_._1).map { case (f, w) =>
          f + "\t" + w.toSeq.sorted
            .map { case (i, v) => s"$i:${java.lang.Long.toHexString(v)}" }
            .mkString(",")
        }).mkString("\n")
    val units: IndexedSeq[(java.nio.file.Path, Map[String, Map[Int, Long]])] =
      if (shards <= 1) IndexedSeq(bloomPath(path, gen, keyCol) -> words)
      else (0 until shards).map { k =>
        bloomShardPath(path, gen, keyCol, k, shards) ->
          words.filter { case (f, _) => bloomShardOf(f, shards) == k }
      }
    // which output units are byte-identical to a source unit (linkable)?
    val linkSrc: Int => Option[java.nio.file.Path] = carryFrom match {
      case Some((srcGen, srcShards, srcFiles)) if srcShards == shards =>
        val srcByUnit: Map[Int, Set[String]] =
          if (shards <= 1) Map(0 -> srcFiles)
          else srcFiles.groupBy(bloomShardOf(_, shards))
        k => if (srcByUnit.getOrElse(k, Set.empty) == units(k)._2.keySet)
          Some(if (shards <= 1) bloomPath(path, srcGen, keyCol)
               else bloomShardPath(path, srcGen, keyCol, k, shards))
        else None
      case _ => _ => None
    }
    // same-generation refresh: an unchanged unit's dest file IS its
    // source — keep it untouched (and un-deleted) below
    val kept = units.indices.flatMap(k => linkSrc(k).filter(_ == units(k)._1))
      .toSet
    // clear BOTH layouts of anything we won't overwrite or keep: a
    // rebuild with a different shard count must not leave stale files
    // the reader would merge in (readers catch a racing partial set via
    // the shard-completeness check and fall back unpruned, never wrong)
    val destSet = units.map(_._1).toSet
    bloomLayoutFiles(path, gen, keyCol)
      .filterNot(p => destSet.contains(p) || kept.contains(p)).foreach { p =>
        java.nio.file.Files.deleteIfExists(p)
        bloomCache.remove(p.toAbsolutePath.toString)
      }
    var serialized = 0; var linked = 0
    units.indices.foreach { k =>
      val (dest, ws) = units(k)
      linkSrc(k) match {
        case Some(src) if src == dest &&
            java.nio.file.Files.isRegularFile(dest) =>
          linked += 1 // same-generation refresh, unit unchanged: keep
        case Some(src) if java.nio.file.Files.isRegularFile(src) =>
          try { linkOrCopyAtomic(src, dest); linked += 1 }
          catch { case scala.util.control.NonFatal(_) =>
            writeAtomic(dest, body(ws)); serialized += 1 }
          bloomCache.remove(dest.toAbsolutePath.toString)
        case _ =>
          writeAtomic(dest, body(ws)); serialized += 1
          bloomCache.remove(dest.toAbsolutePath.toString)
      }
    }
    (serialized, linked)
  }

  /** Driver twin of the build's `xxhash64(key, seed)` — the SAME Catalyst
    * expression evaluated on literals, so probe positions match the built
    * bitsets bit-for-bit by construction. */
  private[ops] def probePositions(v: Long, bits: Int, hashes: Int): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    (0 until hashes).map { i =>
      val h = XxHash64(Seq(Literal(v), Literal(i.toLong)), 42L)
        .eval(null).asInstanceOf[Long]
      java.lang.Math.floorMod(h, bits.toLong).toInt
    }
  }

  /** [[probePositions]]' STRING-domain twin — the same Catalyst XxHash64
    * over a string literal, matching a `domain = "str"` sidecar's build
    * expression bit-for-bit. */
  private[ops] def probePositionsStr(v: String, bits: Int,
      hashes: Int): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    (0 until hashes).map { i =>
      val h = XxHash64(Seq(Literal(v), Literal(i.toLong)), 42L)
        .eval(null).asInstanceOf[Long]
      java.lang.Math.floorMod(h, bits.toLong).toInt
    }
  }

  /** Probe positions for an arbitrary planner value against a sidecar's
    * domain — None when the value can't convert in that domain (the
    * caller must then admit EVERYTHING: pruning on the convertible
    * subset of an IN-list would false-prune files holding the others). */
  private def probeFor(b: BloomSidecar, v: Any): Option[Seq[Int]] =
    (b.domain, v) match {
      case ("str", u: org.apache.spark.unsafe.types.UTF8String) =>
        Some(probePositionsStr(u.toString, b.bits, b.hashes))
      case ("str", s: String) => Some(probePositionsStr(s, b.bits, b.hashes))
      case ("long", other) =>
        SpanDomains.anyLong(other).map(probePositions(_, b.bits, b.hashes))
      case _ => None
    }

  private def bloomMightContain(ws: Map[Int, Long], pos: Seq[Int]): Boolean =
    pos.forall(p => (ws.getOrElse(p / 64, 0L) & (1L << (p % 64))) != 0L)

  /** Whether the sidecar admits `file` for a probe. A file ABSENT from
    * the sidecar must be OPENED (true) — absent means "not yet indexed"
    * (e.g. a sidecar carried across a DV commit, or an incremental
    * refresh that hasn't run), and pruning it would be a false negative.
    * An explicit EMPTY entry (an all-null-key file) still prunes. */
  private def bloomAdmits(b: BloomSidecar, file: String,
      pos: Seq[Int]): Boolean =
    b.words.get(file) match {
      case None => true
      case Some(ws) => bloomMightContain(ws, pos)
    }

  /** Bloom sizing for a MAINTAINED table (r16 — the graphdecades probe
    * caught the default 2^16 bits saturating at warehouse row counts:
    * 16k keys/file × 5 hashes → ~1.2 load → ~90% false-positive rate, so
    * every keyed delete/readback scanned the whole table and the
    * history-decade curve tracked table size instead of churn). Reuse
    * the CURRENT generation's sidecar parameters when one exists for
    * `keyCol` (the gap-fill carry requires matching params), else size
    * ~10 bits per expected key per file from the manifest row counts,
    * clamped to [2^16, 2^22] (2^22 = 512 KiB/file — past that, shard). */
  def zorderBloomAutoBits(path: String, keyCol: String): Int =
    currentGen(path).flatMap(g => readBloom(path, g, keyCol))
      .map(_.bits).getOrElse {
        val spans = currentSpans(path)
        val rows = spans.map(_.rows).sum
        val perFile =
          if (spans.isEmpty) 1L else math.max(1L, rows / spans.size)
        val target = perFile * 10L
        var bits = 1 << 16
        while (bits < target && bits < (1 << 22)) bits <<= 1
        bits
      }

  /** Shard sizing twin of [[zorderBloomAutoBits]]. Reuses the CURRENT
    * generation's on-disk shard count when a sidecar exists for `keyCol`
    * — shard-count stability is what lets an incremental refresh
    * hard-link untouched shards across generations ([[writeBloom]]'s
    * carry) — else sizes to the COARSER of two targets, rounded up to a
    * power of two and clamped to [1, 1024]: ~64 files per shard (the
    * linking granule — a churn touching f files re-serializes at most
    * ~2f shards and links the rest) and ~8 MB of worst-case TSV per
    * shard (dense bitsets at ~13 text bytes per 64-bit word — bounds a
    * single cold parse). A 100k-file table at 2^16 bits lands 1024
    * shards of ~100 files, so a 10-file maintain rewrites ~20 shards
    * (~2%) instead of 800 MB of sidecar. */
  def zorderBloomAutoShards(path: String, keyCol: String): Int =
    currentGen(path)
      .map(g => bloomShardCountOf(path, g, keyCol))
      .filter(_ >= 1)
      .getOrElse {
        val files = currentSpans(path).size
        val bits = zorderBloomAutoBits(path, keyCol)
        val bytesPerFile = math.max(1L, (bits / 64L) * 13L)
        val filesPerShard = math.min(64L,
          math.max(1L, 8L * 1024 * 1024 / bytesPerFile))
        var s = 1
        while (s < 1024 && s.toLong * filesPerShard < files) s <<= 1
        s
      }

  /** Build (or incrementally refresh) the CURRENT generation's bloom
    * sidecar over `keyCol`. Integral columns hash as long (the original
    * sidecars); STRING columns (r15) hash the raw UTF-8 value and the
    * sidecar records `#domain str`, so point lookups on document ids,
    * URLs, or uid business keys prune exactly like integral keys —
    * planner probes convert in the recorded domain or admit everything.
    * Bitset rows for files carried from a retained generation's sidecar
    * with the same (bits, hashes, domain) are copied, not rescanned —
    * only fresh files pay a scan. Returns (filesScanned, filesCarried). */
  def zorderBloomBuild(spark: SparkSession, path: String, keyCol: String,
      bits: Int = 1 << 16, hashes: Int = 5,
      shards: Int = 1): (Int, Int) = withTableLock(path) {
    require(Integer.bitCount(bits) == 1 && bits >= 64,
      "bits must be a power of two >= 64")
    require(hashes >= 1 && hashes <= 16, "need 1 <= hashes <= 16")
    require(shards >= 1, "need shards >= 1")
    val (cur, man) = currentManifest(path)
    val root0 = java.nio.file.Paths.get(path).toAbsolutePath
    val files = man.spans.map(_.file)
    // the key's hash domain follows the column's type: persisted schema
    // when the generation is homogeneous, ONE file footer otherwise (any
    // footer decides: a file missing keyCol falls to "long", and a wrong
    // domain never false-prunes — readers filter on domain match). A
    // zero-span generation has no footer to read → pre-v3 "long" default.
    val dom = {
      val st = man.schemaJson
        .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
        .orElse(files.headOption.map(f =>
          spark.read.parquet(root0.resolve(f).toString).schema))
      if (st.exists(s => s.fieldNames.contains(keyCol) &&
          s(keyCol).dataType == org.apache.spark.sql.types.StringType)) "str"
      else "long"
    }
    // carry from the newest retained sidecar with matching parameters —
    // INCLUDING the current generation's own (a same-generation refresh
    // after a maintain-then-bloom-carry gap is the advisor's
    // bloom_stale remedy, and must rescan only the gap files)
    val priorSel: Option[(Long, BloomSidecar)] =
      retainedGens(path).sorted.reverse.iterator
        .flatMap(g => readBloom(path, g, keyCol).map(g -> _))
        .find { case (_, b) =>
          b.bits == bits && b.hashes == hashes && b.domain == dom }
    val prior: Map[String, Map[Int, Long]] =
      priorSel.map(_._2.words).getOrElse(Map.empty)
    val carried = files.filter(prior.contains)
    val toScan = files.filterNot(prior.contains)
    val fresh: Map[String, Map[Int, Long]] =
      if (toScan.isEmpty) Map.empty
      else {
        val root = root0
        val key = if (dom == "str") col(keyCol) else col(keyCol).cast("long")
        val posArr = array((0 until hashes).map(i =>
          pmod(xxhash64(key, lit(i.toLong)), lit(bits.toLong))): _*)
        val byName = toScan.map(f =>
          java.nio.file.Paths.get(f).getFileName.toString -> f).toMap
        require(byName.size == toScan.size,
          s"duplicate data-file basenames in the manifest at $path")
        // merge schemas: on an evolved table older files may lack the
        // bloom column — their rows read null and build empty bitsets,
        // which prune (null never equals a probe value)
        val rows = spark.read.option("mergeSchema", "true")
          .parquet(toScan.map(f => root.resolve(f).toString): _*)
          .filter(key.isNotNull)
          .select(element_at(split(input_file_name(), "/"), -1).as("fname"),
            explode(posArr).as("pos"))
          .groupBy(col("fname"), (col("pos") / 64).cast("int").as("w"))
          .agg(expr("bit_or(shiftleft(1L, cast(pmod(pos, 64) as int)))").as("bits"))
          .collect() // bounded: <= files × bits/64 sparse words
        val built = rows.groupBy(_.getString(0)).map { case (fname, rs) =>
          byName(fname) -> rs.map(r => r.getInt(1) -> r.getLong(2)).toMap
        }
        // all-null-key files legitimately build an empty bitset — every
        // probe prunes them, and null never equals a probe value
        toScan.map(f => f -> built.getOrElse(f, Map.empty[Int, Long])).toMap
      }
    // carry contract for the link-write: prior rows are verbatim in the
    // output map (carried values come straight from `prior`; toScan is
    // disjoint from it by construction), so any output shard whose file
    // set equals the source shard's links as O(1) instead of
    // re-serializing — the incremental refresh after a maintain stops
    // paying O(files × bits) sidecar bytes for untouched shards
    val carryInfo = priorSel.map { case (g, b) =>
      (g, bloomShardCountOf(path, g, keyCol), b.words.keySet) }
    writeBloom(path, cur, keyCol, bits, hashes,
      carried.map(f => f -> prior(f)).toMap ++ fresh, shards, domain = dom,
      carryFrom = carryInfo)
    (toScan.size, carried.size)
  }

  /** Planner seam for [[graft.ops.ZTable]]'s FileIndex: parse the
    * generation's bloom sidecar over `keyCol` ONCE and return a
    * values→file admission predicate, or None when no usable sidecar
    * exists (no pruning — never wrong). The index caches the result for
    * its lifetime, so the TSV parse amortizes across every query planned
    * against that generation. Admission is may-contain: absent files
    * open, explicit empty entries (all-null-key files) prune, and the
    * planner's residual filter absorbs bloom false positives. */
  private[ops] def bloomFilePredicate(path: String, gen: Long,
      keyCol: String): Option[Seq[Long] => (String => Boolean)] =
    readBloom(path, gen, keyCol).filter(_.domain == "long") // long probes only
      .map { b => (values: Seq[Long]) =>
        val probes = values.distinct.map(v => probePositions(v, b.bits, b.hashes))
        (file: String) => probes.exists(p => bloomAdmits(b, file, p))
      }

  /** [[bloomFilePredicate]]'s index-aligned form: resolve `files` →
    * bitsets ONCE (the per-file string-keyed map lookup measured as the
    * dominant cost at 100k files — 84 ms/query vs 9 ms for span
    * listing), so each query pays only the probe ANDs over a positional
    * array. Files absent from the sidecar resolve to always-admit. */
  private[ops] def bloomSpanAdmission(path: String, gen: Long,
      keyCol: String,
      files: Seq[String]): Option[Seq[Any] => Array[Boolean]] =
    readBloom(path, gen, keyCol).map { b =>
      val wordsByFile: Array[Option[Map[Int, Long]]] =
        files.iterator.map(f => b.words.get(f)).toArray
      (values: Seq[Any]) => {
        val converted = values.distinct.map(v => probeFor(b, v))
        // any value the sidecar's domain can't hash ⇒ admit EVERYTHING
        // (pruning on the convertible subset would false-prune files
        // holding the unconvertible values)
        if (values.isEmpty || converted.exists(_.isEmpty))
          Array.fill(wordsByFile.length)(true)
        else {
          val probes = converted.flatten
          wordsByFile.map {
            case None => true // absent = not yet indexed: must open
            case Some(ws) => probes.exists(p => bloomMightContain(ws, p))
          }
        }
      }
    }

  /** Which files a [[zorderPointLookup]] would open: (open, total,
    * bloomUsed). `bloomUsed = false` means no sidecar exists for the
    * CURRENT generation + column — the lookup then falls back to every
    * file (correct, unpruned; run [[zorderBloomBuild]] after commits to
    * keep lookups pruned). */
  def zorderLookupFiles(path: String, keyCol: String,
      values: Seq[Long]): (Int, Int, Boolean) =
    lookupFilesAny(path, keyCol, values, "long")

  /** [[zorderLookupFiles]] for a STRING-keyed sidecar. */
  def zorderLookupFilesStr(path: String, keyCol: String,
      values: Seq[String]): (Int, Int, Boolean) =
    lookupFilesAny(path, keyCol, values, "str")

  private def lookupFilesAny(path: String, keyCol: String,
      values: Seq[Any], wantDom: String): (Int, Int, Boolean) = {
    val (cur, man) = currentManifest(path)
    // a sidecar in the WRONG domain is the same as no sidecar: probing
    // long positions against string-hashed bitsets (or vice versa) would
    // false-prune — fall back to every file instead
    readBloom(path, cur, keyCol).filter(_.domain == wantDom) match {
      case None => (man.spans.size, man.spans.size, false)
      case Some(b) =>
        val probes = values.distinct.flatMap(v => probeFor(b, v))
        (man.spans.count(s => probes.exists(p =>
          bloomAdmits(b, s.file, p))),
          man.spans.size, true)
    }
  }

  /** Point lookup by bloom sidecar: rows of the CURRENT generation whose
    * `keyCol` is one of `values`, opening only files whose bitset admits
    * at least one probe (no false negatives — the residual IN filter
    * handles bloom false positives). Without a current-generation sidecar
    * (or with one in the wrong hash domain) the lookup still answers,
    * unpruned. */
  def zorderPointLookup(spark: SparkSession, path: String, keyCol: String,
      values: Seq[Long]): DataFrame =
    pointLookupAny(spark, path, keyCol, values, "long",
      col(keyCol).cast("long").isin(values: _*))

  /** [[zorderPointLookup]] for a STRING key — the doc-id/URL/business-key
    * shape a training-data pipeline probes with (r15). */
  def zorderPointLookupStr(spark: SparkSession, path: String, keyCol: String,
      values: Seq[String]): DataFrame =
    pointLookupAny(spark, path, keyCol, values, "str",
      col(keyCol).isin(values: _*))

  private def pointLookupAny(spark: SparkSession, path: String,
      keyCol: String, values: Seq[Any], wantDom: String,
      residual: Column): DataFrame = {
    val (gen, man) = currentManifest(path)
    val hit = readBloom(path, gen, keyCol).filter(_.domain == wantDom) match {
      case None => man.spans
      case Some(b) =>
        val probes = values.distinct.flatMap(v => probeFor(b, v))
        man.spans.filter(s => probes.exists(p =>
          bloomAdmits(b, s.file, p)))
    }
    val base =
      if (hit.isEmpty) spanFiles(spark, path, gen, man, man.spans).limit(0)
      else spanFilesLive(spark, path, gen, man, hit)
    base.filter(residual)
  }

  // -------------------------------------- metadata-only band aggregates
  //
  // The manifest's per-file row counts + key spans answer a band COUNT
  // mostly WITHOUT data: a file whose spans lie entirely inside both
  // bands matches with every row (count += manifest rows, file never
  // opened); a file whose spans miss either band contributes nothing;
  // only BOUNDARY files — intersecting but not contained — scan. On a
  // z-clustered table boundary files are the band's perimeter, so the
  // scanned fraction shrinks as the file count grows (perimeter/area) —
  // the Iceberg/Delta "answer from metadata" shape, here for the
  // operator a curation pipeline actually runs (how many rows in this
  // date×tenant slab?).

  /** How a [[zorderCountBand]] splits the CURRENT generation:
    * (covered, boundary, total) — covered files count from the manifest
    * alone, boundary files scan, the rest are pruned. */
  def zorderCountFiles(path: String, aRange: (Long, Long),
      bRange: (Long, Long)): (Int, Int, Int) = {
    val (_, man) = currentManifest(path)
    val (cov, bnd) = splitCovered(man.spans, aRange, bRange)
    (cov.size, bnd.size, man.spans.size)
  }

  private def splitCovered(spans: Seq[Span], aRange: (Long, Long),
      bRange: (Long, Long)): (Seq[Span], Seq[Span]) = {
    val touched = spans.filter(s =>
      s.aMin <= aRange._2 && s.aMax >= aRange._1 &&
      s.bMin <= bRange._2 && s.bMax >= bRange._1)
    touched.partition(s =>
      s.aMin >= aRange._1 && s.aMax <= aRange._2 &&
      s.bMin >= bRange._1 && s.bMax <= bRange._2)
  }

  /** COUNT of CURRENT-generation rows inside the two-sided band, reading
    * only boundary files (see [[zorderCountFiles]]); a whole-domain band
    * answers purely from the manifest. */
  def zorderCountBand(spark: SparkSession, path: String,
      aRange: (Long, Long), bRange: (Long, Long)): Long = {
    val (gen, man) = currentManifest(path)
    val (covered, boundary) = splitCovered(man.spans, aRange, bRange)
    // a tombstoned row is deleted wherever it sits, so a fully-covered
    // file contributes its LIVE count (physical minus tombstones)
    val metaRows = covered.map(s => s.rows - s.dvRows).sum
    val scanned =
      if (boundary.isEmpty) 0L
      else spanFilesLive(spark, path, gen, man, boundary)
        .filter(col(man.colA).between(aRange._1, aRange._2) &&
          col(man.colB).between(bRange._1, bRange._2))
        .count()
    metaRows + scanned
  }

  /** How many files a range predicate on a STAT column would touch:
    * (hit, total) — the audit twin of [[ManifestFileIndex]]'s stat-span
    * pruning. `range` is in the column's manifest-stat domain (integral
    * value, timestamp micros, date days — see `statLongExpr`). Spans
    * from generations before the column was declared count as hits
    * (missing stats never prune). */
  def zorderStatFiles(path: String, statCol: String,
      range: (Long, Long)): (Int, Int) = {
    val (_, man) = currentManifest(path)
    val i = man.statCols.indexOf(statCol)
    require(i >= 0, s"$statCol is not a declared stat column of $path " +
      s"(declared: ${man.statCols.mkString(", ")})")
    (man.spans.count(s => s.stats.lift(i)
      .map { case (lo, hi) => lo <= hi && lo <= range._2 && hi >= range._1 }
      .getOrElse(true)), man.spans.size)
  }

  /** Keyed DELETE on a NON-layout column (the GDPR/takedown shape:
    * `DELETE WHERE key IN (...)` by document id, order key, user id —
    * values the z-spans know nothing about): candidate files come from
    * the bloom sidecar when one exists for the CURRENT generation
    * (no false negatives — a file the bloom rejects provably holds no
    * probe key), else every file; ONE pruned counting pass finds files
    * with actual matches, only those rewrite (z-sorted — span tightness
    * survives), fully-emptied files drop from the manifest. Same commit
    * discipline, lock, and heal as every rewrite here. NOTE: the bloom
    * sidecar is generation-addressed, so the new generation needs a
    * [[zorderBloomBuild]] refresh (incremental — only the rewritten
    * files rescan) before the next pruned lookup. Returns (rowsDeleted,
    * filesRewrittenOrDropped, filesCarried). */
  def zorderDeleteByKey(spark: SparkSession, path: String, keyCol: String,
      values: Seq[Long]): (Long, Int, Int) = withTableLock(path) {
    val cur = currentGen(path).getOrElse(
      throw new IllegalStateException(s"no zorderInit at $path"))
    rollbackStaleAppendIntents(path)
    heal(path, cur)
    val man = readManifest(path, cur)
    val spans = man.spans
    // wrong-domain sidecars never narrow (probing long positions against
    // string-hashed bitsets would false-prune)
    val candIdx = readBloom(path, cur, keyCol).filter(_.domain == "long") match {
      case None => spans.indices.toSeq
      case Some(b) =>
        val probes = values.distinct.map(v => probePositions(v, b.bits, b.hashes))
        spans.indices.filter(i => probes.exists(p =>
          bloomAdmits(b, spans(i).file, p)))
    }
    if (candIdx.isEmpty) return (0L, 0, spans.size)
    graft.functions.GraftExtensions.register(spark)
    val z = zValue(scale16(col(man.colA), man.aLo, man.aHi),
      scale16(col(man.colB), man.bLo, man.bHi))
    val pred = col(keyCol).cast("long").isin(values: _*)
    val matched = readWithFid(spark, path, cur, man, candIdx, z)
      .filter(pred).groupBy("_fid").agg(count(lit(1)))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val affected = candIdx.filter(matched.contains).sorted
    if (affected.isEmpty) return (0L, 0, spans.size)
    val nDeleted = matched.values.sum
    val survivors = readWithFid(spark, path, cur, man, affected, z)
      .filter(!coalesce(pred, lit(false))) // NULL keys never match: kept
    commitRewrite(spark, path, cur, man, affected, survivors, "keydel",
      requireFilePerFid = false, consumed = Seq.empty)
    (nDeleted, affected.length, spans.size - affected.length)
  }

  // ------------------------------------- deletion vectors (merge-on-read)
  //
  // [[zorderDelete]]/[[zorderDeleteByKey]] are COPY-ON-WRITE: every file
  // holding a match rewrites, so a takedown's cost is the size of the
  // touched files, not of the deleted rows. The merge-on-read twin
  // (Iceberg v2 positional deletes / Delta deletion vectors, public
  // specs) writes TOMBSTONES instead: one parquet of (file basename,
  // physical row position) per generation, referenced from the manifest
  // header, with a per-span tombstone counter so readers know which
  // files even need a position lookup. A vectored delete writes ONLY the
  // tombstones — zero data files touched, cost O(deleted rows) — and
  // every reader applies them ([[liveFilter]]); every rewrite path
  // materializes them for the files it rewrites (live rows only, fresh
  // basename), so DVs drain out of the table through normal maintenance,
  // or all at once through [[zorderDvMaterialize]] — the PHYSICAL purge
  // a GDPR erasure ultimately requires (the vectored delete is the
  // instant logical step; materialize is the bounded-latency physical
  // step, touching only tombstoned files).
  //
  // Positions are parquet physical row indexes (`_metadata.row_index`),
  // stable because data files are immutable. Tombstone sets are MONOTONE
  // per file name: a file's DV rows only grow until the file itself is
  // rewritten under a new generation-qualified name — which is what
  // makes `dvRows` equality a content-equality check for the change feed.

  private def dvFileName(gen: Long) = s"dv-g$gen.parquet"

  /** Write `df` as ONE parquet file at `target` (stage to a dir, move the
    * single part): manifest-referenced sidecars are single files so heal's
    * referenced-set arithmetic stays path-exact. repartition(1) not
    * coalesce(1): coalesce would collapse the upstream scan to one task. */
  private def writeSingleParquet(df: DataFrame, staging: java.nio.file.Path,
      target: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    graft.engine.WarehouseMeta.deleteRecursively(staging)
    df.repartition(1).write.mode("overwrite").parquet(staging.toString)
    val parts = parquetFilesUnder(staging)
    require(parts.size == 1, s"expected one staged part, got ${parts.size}")
    Files.createDirectories(target.getParent)
    Store.finalizeFile(java.nio.file.Paths.get(parts.head), target)
    graft.engine.WarehouseMeta.deleteRecursively(staging)
  }

  /** [[dvDelete]] with a plain Column predicate — the shape every
    * driver-keyed caller uses. */
  private def dvDelete(spark: SparkSession, path: String,
      candIdxOf: Manifest => Seq[Int],
      predOf: Manifest => Column): (Long, Int) =
    dvDeleteMatched(spark, path, candIdxOf,
      (man, scan) => scan.filter(coalesce(predOf(man), lit(false))))

  /** Shared merge-on-read delete: tombstone live rows of the candidate
    * files that `matchOf` keeps (given the candidate scan with `_fname`/
    * `_pos` identity columns, return the doomed rows — a filter for
    * literal predicates, a semi-join for DISTRIBUTED key sets), touching
    * NO data file. Returns (rowsDeleted, filesTombstoned). */
  private def dvDeleteMatched(spark: SparkSession, path: String,
      candIdxOf: Manifest => Seq[Int],
      matchOf: (Manifest, DataFrame) => DataFrame): (Long, Int) = withTableLock(path) {
    val cur = currentGen(path).getOrElse(
      throw new IllegalStateException(s"no zorderInit at $path"))
    rollbackStaleAppendIntents(path)
    heal(path, cur)
    val man = readManifest(path, cur)
    val spans = man.spans
    val candIdx = candIdxOf(man)
    if (candIdx.isEmpty) return (0L, 0)
    val root = java.nio.file.Paths.get(path).toAbsolutePath
    // LIVE candidate read with per-row file identity + position: the live
    // filter drops positions an earlier vectored delete already
    // tombstoned, so repeat deletes are exact no-ops and counts stay
    // exact. NULL-key rows make a filter pred NULL (→ never tombstoned,
    // kept like the copy-on-write delete's survivors) and never equal a
    // semi-join key
    val scan = spanFilesLive(spark, path, cur, man, candIdx.map(spans))
      .select(col("*"), col("_metadata.file_name").as("_fname"),
        col("_metadata.row_index").as("_pos"))
    // Persisted: the candidate scan feeds BOTH the counts collect and the
    // DV write below — without the persist it would run twice, and the
    // scan is the takedown's dominant cost.
    val fresh = matchOf(man, scan)
      .select(col("_fname").as("fname"), col("_pos").as("pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val counts = fresh.groupBy("fname").agg(count(lit(1)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap // ≤ cand files
    if (counts.isEmpty) return (0L, 0)
    val nDeleted = counts.values.sum
    val bumped = spans.map { s =>
      counts.get(basenameOf(s.file))
        .map(c => s.copy(dvRows = s.dvRows + c)).getOrElse(s)
    }
    // a file whose every physical row is tombstoned drops from the
    // manifest entirely (and from the DV — its rows would never match)
    val (dead, alive) = bumped.partition(s => s.dvRows >= s.rows)
    require(alive.nonEmpty,
      s"refusing to vector-delete the ENTIRE table at $path — a manifest " +
        "must reference at least one file; to drop the whole table, " +
        "delete its directory instead")
    val aliveTombNames = alive.filter(_.dvRows > 0).map(s => basenameOf(s.file))
    val dvNext = if (aliveTombNames.isEmpty) None else { // all tombstoned files went fully dead
      val dvAll = man.dv
        .map(rel => spark.read.schema(DvSchema).parquet(root.resolve(rel).toString)
          .unionByName(fresh))
        .getOrElse(fresh)
        .filter(col("fname").isin(aliveTombNames: _*))
      val target = genDataDir(path, cur + 1).resolve(dvFileName(cur + 1))
      writeSingleParquet(dvAll, dataDir(path).resolve(s"g${cur + 1}.dvstaging"),
        target)
      Some(root.relativize(target).toString)
    }
    writeManifest(path, cur + 1, man.copy(consumed = Seq.empty,
      spans = alive.sortBy(_.zLo), dv = dvNext))
    // CARRY bloom sidecars to the new generation: a DV commit touches no
    // data file, so every surviving file's bitset is still exact (dead
    // files' entries become unreachable names — harmless). Without this,
    // the sidecar ages out with the old generation and the takedown
    // loop's SECOND batch would scan every candidate file. Safe because
    // a file ABSENT from a sidecar is always opened ([[bloomAdmits]]).
    carryBloomSidecars(path, cur, cur + 1)
    writeAtomic(currentPtr(path), (cur + 1).toString)
    heal(path, cur + 1)
    val _ = dead // dead files become unreferenced → healed when aged out
    (nDeleted, counts.size)
    } finally { fresh.unpersist(); () }
  }

  /** Basenames of `gen`'s bloom sidecar files under the table root — the
    * ONE directory listing shared by the carry, the advisor census, and
    * anything else that enumerates sidecars (sidecar NAMING changes land
    * here once). */
  private def bloomSidecarNames(path: String, gen: Long): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isDirectory(root)) return Seq.empty
    val prefix = s"bloom-$gen-"
    val ls = java.nio.file.Files.list(root)
    try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(prefix) && n.endsWith(".tsv")).toList
      finally ls.close()
  }

  /** Sidecar-indexed column names of `gen` (shard suffixes folded). */
  private def bloomColumnsOf(path: String, gen: Long): Seq[String] =
    bloomSidecarNames(path, gen)
      .map(_.stripPrefix(s"bloom-$gen-").stripSuffix(".tsv"))
      .map(stem => stem.indexOf(".shard") match {
        case -1 => stem
        case i => stem.substring(0, i)
      }).distinct

  /** Carry every bloom sidecar file of `fromGen` under `toGen`'s names —
    * the zero-rescan carry for commits that rewrite no data file
    * (vectored deletes). Sidecar files are immutable once written, so
    * the carry HARD-LINKS each unit (O(1) per file, atomic via a tmp
    * link + move) instead of re-copying its bytes — a delete-heavy
    * workload's per-commit sidecar cost drops from O(files × bits) bytes
    * to O(shards) directory entries. Byte-copy fallback where links
    * aren't supported. */
  private def carryBloomSidecars(path: String, fromGen: Long,
      toGen: Long): Unit = {
    val root = java.nio.file.Paths.get(path)
    val prefix = s"bloom-$fromGen-"
    val files = bloomSidecarNames(path, fromGen)
    files.foreach { n =>
      val target = root.resolve(s"bloom-$toGen-" + n.stripPrefix(prefix))
      linkOrCopyAtomic(root.resolve(n), target)
      bloomCache.remove(target.toAbsolutePath.toString)
    }
  }

  /** Merge-on-read DELETE of a two-sided key band: the vectored twin of
    * [[zorderDelete]] — candidates span-pruned the same way, but matches
    * are TOMBSTONED (written to the generation's deletion vector), not
    * rewritten: no data file is touched, so the commit costs O(deleted
    * rows) regardless of file sizes — the instant-takedown shape. Readers
    * apply the DV transparently; [[zorderDvMaterialize]] (or any rewrite
    * that touches the file) makes the deletes physical. Same lock, commit
    * discipline, snapshot semantics (landing rows untouched), and repeat-
    * is-a-no-op contract as the copy-on-write delete. Returns
    * (rowsDeleted, filesTombstoned). */
  def zorderDeleteVectored(spark: SparkSession, path: String,
      aRange: (Long, Long), bRange: (Long, Long)): (Long, Int) =
    dvDelete(spark, path,
      man => man.spans.zipWithIndex.collect {
        case (s, i) if s.aMin <= aRange._2 && s.aMax >= aRange._1 &&
          s.bMin <= bRange._2 && s.bMax >= bRange._1 => i
      },
      man => col(man.colA).between(aRange._1, aRange._2) &&
        col(man.colB).between(bRange._1, bRange._2))

  /** Merge-on-read keyed DELETE on a NON-layout column — the vectored
    * twin of [[zorderDeleteByKey]]: candidates bloom-pruned when the
    * CURRENT generation has a sidecar for `keyCol` (no false negatives),
    * matches tombstoned, zero data files touched. The GDPR/takedown
    * two-step: this call makes the rows unreadable NOW;
    * [[zorderDvMaterialize]] erases them physically on the operator's
    * cadence. Returns (rowsDeleted, filesTombstoned). */
  def zorderDeleteVectoredByKey(spark: SparkSession, path: String,
      keyCol: String, values: Seq[Long]): (Long, Int) =
    dvDelete(spark, path,
      man => readBloom(path, currentGen(path).get, keyCol)
          .filter(_.domain == "long") match { // wrong domain never narrows
        case None => man.spans.indices.toSeq
        case Some(b) =>
          val probes = values.distinct.map(v =>
            probePositions(v, b.bits, b.hashes))
          man.spans.indices.filter(i => probes.exists(p =>
            bloomAdmits(b, man.spans(i).file, p)))
      },
      _ => col(keyCol).cast("long").isin(values: _*))

  /** [[zorderDeleteVectoredByKey]] for a STRING key (r15) — the
    * takedown-by-URL/doc-id shape: candidates narrow through a
    * STRING-domain bloom sidecar when the CURRENT generation has one
    * (no false negatives), matches tombstone, zero data files touched,
    * repeat is an exact no-op. Returns (rowsDeleted, filesTombstoned). */
  def zorderDeleteVectoredByKeyStr(spark: SparkSession, path: String,
      keyCol: String, values: Seq[String]): (Long, Int) =
    dvDelete(spark, path,
      man => readBloom(path, currentGen(path).get, keyCol)
          .filter(_.domain == "str") match { // wrong domain never narrows
        case None => man.spans.indices.toSeq
        case Some(b) =>
          val probes = values.distinct.map(v =>
            probePositionsStr(v, b.bits, b.hashes))
          man.spans.indices.filter(i => probes.exists(p =>
            bloomAdmits(b, man.spans(i).file, p)))
      },
      _ => col(keyCol).isin(values: _*))

  /** [[zorderDeleteVectoredByKey]] with a DISTRIBUTED key set — the
    * shape a large CDC poll needs: `keys` is a single-column DataFrame of
    * long key values that never lands on the driver; doomed rows resolve
    * through one semi-join of the candidate scan against it. No bloom
    * narrowing (bitset probes need driver-side values), so every file
    * scans — the right trade exactly when the key set is too big to
    * collect, because churn that size touches most files anyway. NULL
    * keys in `keys` match nothing (join equality), mirroring the
    * driver-keyed twin. Returns (rowsDeleted, filesTombstoned). */
  def zorderDeleteVectoredByKey(spark: SparkSession, path: String,
      keyCol: String, keys: DataFrame): (Long, Int) = {
    require(keys.columns.length == 1,
      s"keys must be a single-column DataFrame, got ${keys.columns.length}")
    val k = keys.select(col(keys.columns.head).cast("long").as("_del_key"))
    dvDeleteMatched(spark, path,
      man => man.spans.indices.toSeq,
      (_, scan) => scan.join(k,
        scan(keyCol).cast("long") === k("_del_key"), "left_semi"))
  }

  /** [[zorderDeleteVectoredByKeyStr]] with a DISTRIBUTED key set — the
    * string twin of the DataFrame-keys overload above, and the shape a
    * bulk journal restatement needs (mass re-tag, takedown sweep):
    * `keys` is a single-column DataFrame of string key values that never
    * lands on the driver; doomed rows resolve through one semi-join of
    * the candidate scan against it. No bloom narrowing (bitset probes
    * need driver-side values), so every file scans — the right trade
    * exactly when the key set is too big to collect, because churn that
    * size touches most files anyway. NULL keys match nothing (join
    * equality). Returns (rowsDeleted, filesTombstoned). */
  def zorderDeleteVectoredByKeyStr(spark: SparkSession, path: String,
      keyCol: String, keys: DataFrame): (Long, Int) = {
    require(keys.columns.length == 1,
      s"keys must be a single-column DataFrame, got ${keys.columns.length}")
    val k = keys.select(
      col(keys.columns.head).cast("string").as("_del_key"))
    dvDeleteMatched(spark, path,
      man => man.spans.indices.toSeq,
      (_, scan) => scan.join(k,
        scan(keyCol).cast("string") === k("_del_key"), "left_semi"))
  }

  /** PHYSICAL purge of every tombstone: rewrite exactly the files with
    * deletion-vector rows (live rows only, z-sorted — span tightness
    * survives), drop the DV. Cost tracks the TOMBSTONED file set, never
    * the table. After this, vector-deleted bytes are gone from disk —
    * the erasure step of the takedown two-step. Returns (filesRewritten,
    * rowsPurged); (0, 0) when the table has no tombstones. */
  def zorderDvMaterialize(spark: SparkSession, path: String): (Int, Long) =
    withTableLock(path) {
      val cur = currentGen(path).getOrElse(
        throw new IllegalStateException(s"no zorderInit at $path"))
      rollbackStaleAppendIntents(path)
      heal(path, cur)
      val man = readManifest(path, cur)
      val affected = man.spans.zipWithIndex.collect {
        case (s, i) if s.dvRows > 0 => i
      }
      if (affected.isEmpty) return (0, 0L)
      val purged = affected.map(i => man.spans(i).dvRows).sum
      val z = zValue(scale16(col(man.colA), man.aLo, man.aHi),
        scale16(col(man.colB), man.bLo, man.bHi))
      val merged = readWithFid(spark, path, cur, man, affected, z)
      commitRewrite(spark, path, cur, man, affected, merged, "dvmat",
        requireFilePerFid = false, consumed = Seq.empty)
      (affected.length, purged)
    }

  /** Per-file tombstone census of the CURRENT generation, manifest-only
    * (never a data scan): file, physical rows, tombstoned rows, live
    * rows. The operator's audit for sizing a [[zorderDvMaterialize]]. */
  def zorderDvStats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val (_, man) = currentManifest(path)
    man.spans.map(s => (s.file, s.rows, s.dvRows, s.rows - s.dvRows))
      .toDF("file", "physical_rows", "dv_rows", "live_rows")
  }

  // ------------------------------------------------- change feed (CDC)
  //
  // The manifest diff IS a change feed: data files are immutable and
  // generation-unique by name, so a file listed in BOTH manifests holds
  // byte-identical rows and contributes nothing — only the files unique
  // to each side need reading, and a row-level multiset EXCEPT of those
  // two slices yields exactly the rows that changed (the Delta Lake CDF /
  // Iceberg changelog shape, recovered WITHOUT per-commit change files:
  // the commit protocol already records everything needed). Cost scales
  // with the CHURNED file set, never the table: a maintain that rewrote 3
  // of 100k files diffs 6 files. Rows a rewrite carried verbatim (a
  // maintain folding appends into a file, an upsert landing identical
  // values) cancel in the EXCEPT — the feed reports net row changes, not
  // file-level rewrites.

  /** Which files a [[zorderChanges]] call would read: (fromOnly, toOnly,
    * shared) — shared files are skipped entirely, the incrementality
    * audit. */
  def zorderChangesFiles(path: String, fromGen: Long,
      toGen: Long): (Int, Int, Int) = {
    val from = changeManifest(path, fromGen)
    val to = changeManifest(path, toGen)
    val (fromSide, toSide, shared) = changeSides(from, to)
    (fromSide.size, toSide.size, shared)
  }

  /** Which spans each side of the feed must read: files unique to one
    * manifest, PLUS files shared by name whose tombstone counts differ —
    * DV sets are monotone per file name (they only grow until the file
    * rewrites under a new name), so equal `dvRows` ⇒ identical tombstone
    * sets ⇒ identical live rows, and the file skips. Returns (fromSide,
    * toSide, sharedUnchangedCount). */
  private def changeSides(from: Manifest,
      to: Manifest): (Seq[Span], Seq[Span], Int) = {
    val fromDv = from.spans.map(s => s.file -> s.dvRows).toMap
    val toDv = to.spans.map(s => s.file -> s.dvRows).toMap
    val churned = (fromDv.keySet & toDv.keySet).filter(f => fromDv(f) != toDv(f))
    val fromSide = from.spans.filter(s =>
      !toDv.contains(s.file) || churned(s.file))
    val toSide = to.spans.filter(s =>
      !fromDv.contains(s.file) || churned(s.file))
    (fromSide, toSide, (fromDv.keySet & toDv.keySet).size - churned.size)
  }

  private def changeManifest(path: String, gen: Long): Manifest = {
    require(java.nio.file.Files.isRegularFile(manifestPath(path, gen)),
      s"generation $gen of $path is not retained (window: " +
        s"${retainedGens(path).mkString(", ")}) — raise keepGenerations " +
        "BEFORE the commits you want a change feed across")
    readManifest(path, gen)
  }

  /** CDC between two RETAINED generations: one row per NET row change
    * from `fromGen` to `toGen`, the table's columns plus `change_type`
    * ('insert' | 'delete'; an update surfaces as its delete+insert pair).
    * Multiset semantics — a row present twice in `fromGen` and once in
    * `toGen` yields one delete. Only files unique to one side are read
    * ([[zorderChangesFiles]] audits); `fromGen == toGen` returns the
    * empty feed. Unmaintained landing rows are in no manifest and thus in
    * no feed — the feed covers COMMITTED generations, same snapshot
    * semantics as every reader here. */
  def zorderChanges(spark: SparkSession, path: String, fromGen: Long,
      toGen: Long): DataFrame = {
    val from = changeManifest(path, fromGen)
    val to = changeManifest(path, toGen)
    // the feed SYNTHESIZES change_type; a user column of that name would
    // be silently overwritten here and dropped by every consumer — refuse
    // loudly (the reserved-column rule, applied to the feed's one name).
    // Schema from the manifest when persisted (zero footer reads), else
    // one footer
    val fromCols: Seq[String] = from.schemaJson
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq)
      .getOrElse(
        if (from.spans.isEmpty) Seq.empty
        else spanFiles(spark, path, fromGen, from, from.spans.take(1))
          .columns.toSeq)
    require(!fromCols.contains("change_type"),
      "the table has a column named change_type — reserved by the CDC " +
        "feed; rename it before consuming changes")
    // each side reads LIVE rows under its own generation's deletion
    // vector: a vectored delete thus surfaces in the feed as plain
    // 'delete' rows (shared-by-name files with churned tombstone counts
    // read on both sides; untouched rows cancel in the EXCEPT)
    val (fromSide, toSide, _) = changeSides(from, to)
    def slice(gen: Long, man: Manifest, spans: Seq[Span]) =
      if (spans.isEmpty) spanFiles(spark, path, fromGen, from, from.spans).limit(0)
      else spanFilesLive(spark, path, gen, man, spans)
    val old0 = slice(fromGen, from, fromSide)
    val neu0 = slice(toGen, to, toSide)
    // schema evolution between the generations: conform both slices to
    // the united column set (null fill, by name) so the EXCEPT compares
    // rows — null-safe set semantics make a column added with null values
    // cancel for carried rows, exactly like an unchanged value
    val cols = (old0.columns ++ neu0.columns.filterNot(old0.columns.contains)).toSeq
    def conform(df: DataFrame) = df.select(cols.map { c =>
      if (df.columns.contains(c)) col(c)
      else {
        val t = (old0.schema.fields ++ neu0.schema.fields)
          .find(_.name == c).get.dataType
        lit(null).cast(t).as(c)
      }
    }: _*)
    val old = conform(old0)
    val neu = conform(neu0)
    old.exceptAll(neu).withColumn("change_type", lit("delete"))
      .unionByName(neu.exceptAll(old).withColumn("change_type", lit("insert")))
  }

  /** Incremental SMALL-FILE compaction (the OPTIMIZE bin-packing step,
    * distinct from [[zorderCompact]]'s full rewrite): greedily groups
    * RUNS of z-adjacent files whose row counts sit below `targetRows`
    * into merge groups summing to ~targetRows, rewrites each group into
    * ONE z-sorted file, and carries every adequately-sized file as a
    * manifest row — cost tracks the small-file population, not the
    * table. Z-adjacency keeps the merged file's span the union of a
    * contiguous z run, so span pruning stays as tight as before. Bounds
    * stay frozen (this is maintenance, not the re-freezing full
    * compact). Returns (groupsMerged, filesMergedIn, filesCarried);
    * (0, 0, files) when no two adjacent small files exist. */
  def zorderCompactSmall(spark: SparkSession, path: String,
      targetRows: Long): (Int, Int, Int) = withTableLock(path) {
    require(targetRows >= 1, "need targetRows >= 1")
    val cur = currentGen(path).getOrElse(
      throw new IllegalStateException(s"no zorderInit at $path"))
    rollbackStaleAppendIntents(path)
    heal(path, cur)
    val man = readManifest(path, cur)
    val spans = man.spans // sorted by zLo
    // greedy run packing: consecutive small files fold into a group until
    // the group reaches targetRows; singleton groups carry unchanged
    val groups = scala.collection.mutable.ListBuffer.empty[Seq[Int]]
    var runStart = -1
    var runRows = 0L
    def flush(end: Int): Unit = {
      if (runStart >= 0 && end - runStart >= 2)
        groups += (runStart until end)
      runStart = -1; runRows = 0L
    }
    for (i <- spans.indices) {
      val s = spans(i)
      if (s.rows >= targetRows) flush(i)
      else {
        if (runStart < 0) { runStart = i; runRows = 0L }
        runRows += s.rows
        if (runRows >= targetRows) { flush(i + 1) }
      }
    }
    flush(spans.size)
    if (groups.isEmpty) return (0, 0, spans.size)
    val affected = groups.flatten.toSeq.sorted
    val leaderOf = groups.flatMap(g => g.map(i => i -> g.head)).toMap
    graft.functions.GraftExtensions.register(spark)
    val z = zValue(scale16(col(man.colA), man.aLo, man.aHi),
      scale16(col(man.colB), man.bLo, man.bHi))
    val merged = readWithFid(spark, path, cur, man, affected, z)
      .withColumn("_fid",
        element_at(typedLit(leaderOf.map { case (k, v) => k -> v }), col("_fid")))
    commitRewrite(spark, path, cur, man, affected, merged, "binpack",
      requireFilePerFid = false, consumed = Seq.empty)
    (groups.size, affected.size, spans.size - affected.size)
  }

  /** Cursor-based incremental consumption of the change feed: the net
    * changes from `sinceGen` (exclusive) to CURRENT plus the new cursor
    * value to persist — a follower that applies each batch (delete rows
    * out, insert rows in) reconstructs the table exactly, regardless of
    * how many commits each poll spans (the feed composes). `sinceGen`
    * must still be retained: size the retention window to the consumer's
    * poll cadence, or the feed names the gap loudly instead of silently
    * skipping commits. */
  def zorderChangesSince(spark: SparkSession, path: String,
      sinceGen: Long): (DataFrame, Long) = {
    val cur = currentGen(path).getOrElse(
      throw new IllegalStateException(s"no zorderInit at $path"))
    (zorderChanges(spark, path, sinceGen, cur), cur)
  }

  private def cdcCursorPath(followerPath: String) =
    java.nio.file.Paths.get(followerPath, "cdc-cursor")

  /** Poll INTENT marker: the primary generation a [[zorderCdcApply]] poll
    * committed to BEFORE its first mutation. Exists only between that
    * write and the poll's cursor advance — a crash in between leaves it
    * behind, and the replay pins its feed to this generation instead of
    * the primary's (possibly newer) CURRENT. Without the pin, a primary
    * commit during the crash window can CANCEL a key's net membership
    * over the wider replay range (insert-then-delete, or
    * delete-then-identical-reinsert), the two-sided net diff omits the
    * key entirely, and the crashed run's partial application is never
    * repaired — silent permanent divergence. Pinned, the replayed feed is
    * byte-identical to the crashed poll's (manifests are immutable), so
    * delete-then-insert idempotence repairs fully; the NEXT poll then
    * picks up whatever the primary committed meanwhile. */
  private def cdcIntentPath(followerPath: String) =
    java.nio.file.Paths.get(followerPath, "cdc-intent")

  private def cdcPrimaryIdPath(followerPath: String) =
    java.nio.file.Paths.get(followerPath, "cdc-primary-id")

  /** Seed a CDC FOLLOWER table: snapshot the primary's CURRENT generation
    * (pinned to that generation's manifest — a racing primary commit
    * cannot tear the read), init the follower with the SAME layout keys,
    * persist the cursor at that generation, and record the primary's
    * TABLE IDENTITY — generation numbers restart when a primary is
    * deleted and re-initialized, so a cursor number alone proves nothing
    * across rebuilds ([[zorderCdcApply]] refuses a mismatched identity
    * loudly, the same rule [[zorderMirror]] enforces). A crash between
    * init and cursor write leaves a follower the apply refuses — delete
    * the follower directory and re-seed (the same rule as a crashed
    * re-init). */
  def zorderCdcSeed(spark: SparkSession, primaryPath: String,
      followerPath: String, nFiles: Int, keepGenerations: Int = 1): Long = {
    val (gen, man) = currentManifest(primaryPath)
    val snapshot = zorderReadAsOf(spark, primaryPath, gen)
    zorderInit(spark, snapshot, followerPath, man.colA, man.colB, nFiles,
      keepGenerations, statCols = man.statCols)
    writeAtomic(cdcPrimaryIdPath(followerPath), ensureTableId(primaryPath))
    writeAtomic(cdcCursorPath(followerPath), gen.toString)
    gen
  }

  /** CDC FOLLOWER apply — the consumer side the change feed exists for:
    * pull the primary's committed net changes past the persisted cursor
    * and apply them to the follower table, EXACTLY-ONCE, keyed on
    * `keyCol` (a unique integral row id, the same column a takedown
    * would key on). Returns (insertsApplied, deletesApplied, newCursor).
    *
    * The apply is DELETE-THEN-INSERT by key, which makes replay
    * idempotent: every changed key (the feed's delete rows AND insert
    * rows — an update is its delete+insert pair) is vector-deleted first
    * (repeat deletes are exact no-ops), then the insert rows append and
    * fold. A crash before the cursor write replays the whole poll: the
    * re-delete tombstones the crashed run's copies, the re-insert lands
    * them once — net exactly one copy. Replay correctness additionally
    * needs the replayed feed to EQUAL the crashed poll's feed, so each
    * poll persists an intent marker pinning its target generation before
    * the first mutation ([[cdcIntentPath]] — without it, a primary
    * commit during the crash window could cancel a key's net membership
    * over the widened range and the replay would never repair that key).
    * The cursor advances atomically LAST; the intent clears after it.
    *
    * Scale shape: the feed's summary stats are ONE aggregate row; the
    * changed keys collect to the driver only while the poll's churn is at
    * most `collectThreshold` rows (small churn → bloom-pruned vectored
    * delete). Above it, keys stay DISTRIBUTED: the delete phase
    * semi-joins the follower scan against the key set and the insert
    * slice appends directly — driver memory stays flat no matter how
    * large a restatement the primary committed. A poll whose churn would
    * tombstone EVERY follower row refuses (the vectored delete's
    * empty-table guard) — re-seed instead of replaying a table-wide
    * rewrite through the feed. `sinceGen` (and a crashed poll's pinned
    * intent generation) must still be retained on the primary: size its
    * retention window to the consumer's poll cadence, or the feed names
    * the gap loudly instead of silently skipping commits. */
  def zorderCdcApply(spark: SparkSession, primaryPath: String,
      followerPath: String, keyCol: String,
      collectThreshold: Long = 100000L): (Long, Long, Long) =
    // the applier's OWN lock (not the table lock — the inner delete/
    // append/maintain each take that, and the file-lock layer is not
    // reentrant): serializes concurrent appliers, whose interleaved
    // delete-then-insert phases could otherwise double-apply a poll
    withNamedLock(followerPath, ".cdc-lock") {
      require(java.nio.file.Files.isRegularFile(cdcCursorPath(followerPath)),
        s"$followerPath is not a seeded CDC follower — run zorderCdcSeed " +
          "first (or delete the directory and re-seed after a crashed seed)")
      // IDENTITY check: a primary deleted and re-initialized restarts its
      // generation numbers — applying its feed against a cursor from the
      // old table's life would silently mix two unrelated histories.
      // Followers seeded before the marker existed skip the check.
      if (java.nio.file.Files.isRegularFile(cdcPrimaryIdPath(followerPath))) {
        val seededId = new String(java.nio.file.Files.readAllBytes(
          cdcPrimaryIdPath(followerPath)), "UTF-8").trim
        val priId = ensureTableId(primaryPath)
        require(seededId == priId,
          s"$followerPath follows a DIFFERENT primary (table id $seededId " +
            s"vs $priId) — the primary was re-initialized; delete the " +
            "follower directory and re-seed")
      }
      val cursor = new String(java.nio.file.Files.readAllBytes(
        cdcCursorPath(followerPath)), "UTF-8").trim.toLong
      // fold any follower landing FIRST: a run that crashed between its
      // append and its maintain left the poll's insert rows in landing/,
      // INVISIBLE to the vectored delete (it tombstones manifest rows
      // only) — committing them here is what lets the replay's re-delete
      // reach the crashed copies, closing the last at-least-once window
      zorderMaintain(spark, followerPath)
      // a leftover intent = a poll crashed after its first mutation and
      // before its cursor write: REPLAY that poll against its pinned
      // generation (see cdcIntentPath); a fresh poll pins the primary's
      // CURRENT before mutating anything
      val intent = cdcIntentPath(followerPath)
      val pinned = if (java.nio.file.Files.isRegularFile(intent))
        Some(new String(java.nio.file.Files.readAllBytes(intent),
          "UTF-8").trim.toLong)
      else None
      val targetGen = pinned match {
        case Some(g) if g != cursor => g
        case other =>
          // g == cursor: the crash fell between cursor write and intent
          // delete — the poll completed; clear the marker and poll fresh
          if (other.isDefined) java.nio.file.Files.deleteIfExists(intent)
          val cur = currentGen(primaryPath).getOrElse(
            throw new IllegalStateException(s"no zorderInit at $primaryPath"))
          if (cur == cursor) return (0L, 0L, cursor)
          cur
      }
      val cached = zorderChanges(spark, primaryPath, cursor, targetGen)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val kc = col(keyCol).cast("long")
        // ONE bounded driver action over the feed: total/null/delete
        // counters — a single aggregate row regardless of churn
        val st = cached.agg(count(lit(1)),
          sum(when(kc.isNull, 1L).otherwise(0L)),
          sum(when(col("change_type") === "delete", 1L).otherwise(0L)))
          .collect()(0)
        val total = st.getLong(0)
        // a NULL key can never be deleted back out (and a null-keyed
        // delete could never remove its target) — applying it would be
        // silent permanent divergence, so refuse BEFORE any mutation and
        // BEFORE the cursor moves. Validation runs BEFORE the intent
        // write too, so a refused poll never leaves a pinned marker (a
        // genuine crashed-poll replay re-passes this check by feed
        // determinism — pinned generations replay byte-identical feeds)
        require(total == 0L || st.getLong(1) == 0L,
          s"the change feed carries rows with a NULL $keyCol — the " +
            "CDC apply key must be non-null (and unique) on every row")
        val nDeletes = if (total == 0L) 0L else st.getLong(2)
        val nInserts = total - nDeletes
        if (total > 0L) {
          // the poll commits to its target generation BEFORE the first
          // mutation (idempotent overwrite on a pinned replay); a feed
          // with zero rows mutates nothing, so it needs no pin
          writeAtomic(intent, targetGen.toString)
          // a feed that nets to zero (e.g. the primary compacted) has no
          // keys and skips straight to the cursor advance
          if (total <= collectThreshold) {
            // churn-bounded poll: driver-side keys, bloom-pruned delete
            val keys = cached.select(kc.as("k")).distinct()
              .collect().map(_.getLong(0)).toSeq
            zorderDeleteVectoredByKey(spark, followerPath, keyCol, keys)
          } else {
            // bulk restatement: keys stay distributed end to end
            zorderDeleteVectoredByKey(spark, followerPath, keyCol,
              cached.select(kc.as("k")).distinct())
          }
          if (nInserts > 0) {
            zorderAppend(cached.filter(col("change_type") === "insert")
              .drop("change_type"), followerPath)
            zorderMaintain(spark, followerPath)
            ()
          }
        }
        writeAtomic(cdcCursorPath(followerPath), targetGen.toString)
        java.nio.file.Files.deleteIfExists(intent)
        (nInserts, nDeletes, targetGen)
      } finally { cached.unpersist(); () }
    }

  /** OPTIMIZE advisor: a manifest-only health census of the maintained
    * table with a recommended action per signal — what an operator (or a
    * maintenance cron) consults to decide WHICH lifecycle call to run,
    * without scanning a byte of data. Signals: unmaintained landing
    * files → maintain; tombstone fraction → materialize; small-file
    * population → bin-pack; keys clamped outside the frozen curve bounds
    * → full compact (the one call that re-freezes); files referenced
    * only by aged-out generations → vacuum. `fire=false` rows report the
    * measured value anyway, so the census doubles as a monitoring feed. */
  def zorderAdvise(spark: SparkSession, path: String,
      smallFileRows: Long = 100000L, tombstoneFraction: Double = 0.1):
      DataFrame = {
    import spark.implicits._
    val (cur, man) = currentManifest(path)
    val spans = man.spans
    val landing = landingFiles(path).size.toLong
    val physical = spans.map(_.rows).sum
    val tombs = spans.map(_.dvRows).sum
    val tombFrac = if (physical == 0) 0.0 else tombs.toDouble / physical
    val small = spans.count(_.rows < smallFileRows).toLong
    // z-ADJACENT small runs are what bin-packing can actually merge
    val smallRuns = spans.map(_.rows < smallFileRows)
      .foldLeft((0L, 0)) { case ((runs, cur), isSmall) =>
        if (!isSmall) (runs, 0)
        else if (cur == 1) (runs + 1, 2) // second adjacent small file: a run
        else (runs, cur + 1)
      }._1
    val clamped = spans.count(s =>
      s.aMin < man.aLo || s.aMax > man.aHi ||
      s.bMin < man.bLo || s.bMax > man.bHi).toLong
    val unreferenced = {
      val root = java.nio.file.Paths.get(path).toAbsolutePath
      val referenced = retainedGens(path).map(g => readManifest(path, g))
        .flatMap(m => m.spans.map(s => root.resolve(s.file)) ++
          m.dv.map(root.resolve)).toSet
      parquetFilesUnder(dataDir(path))
        .count(f => !referenced.contains(java.nio.file.Paths.get(f))).toLong
    }
    // bloom sidecar staleness: files written since the last
    // zorderBloomBuild are ABSENT from the carried sidecar and always
    // open — point lookups on them degrade to full candidate scans until
    // an incremental rebuild fills the gaps (never wrong, just unpruned)
    val bloomStale = {
      // per-column WORST file count (a sum would count one fresh file
      // once per indexed column — unreadable as a file population)
      val counts = bloomColumnsOf(path, cur).map { c =>
        readBloom(path, cur, c) match {
          case Some(b) => spans.count(s => !b.words.contains(s.file)).toLong
          case None => spans.size.toLong // partial shard set: all unpruned
        }
      }
      if (counts.isEmpty) 0L else counts.max
    }
    Seq(
      ("landing_files", landing.toDouble, landing > 0,
        "zorderMaintain", "unmaintained appends are invisible to readers"),
      ("bloom_stale_files", bloomStale.toDouble, bloomStale > 0,
        "zorderBloomBuild", "files absent from the current sidecar always " +
          "open — point lookups on them are unpruned until an incremental " +
          "rebuild"),
      ("tombstone_fraction", tombFrac, tombFrac > tombstoneFraction,
        "zorderDvMaterialize", "tombstoned rows still occupy disk and " +
          "pay the read-side anti-join"),
      ("small_file_runs", smallRuns.toDouble, smallRuns > 0,
        "zorderCompactSmall", s"$small files under $smallFileRows rows; " +
          "z-adjacent runs merge without a full rewrite"),
      ("clamped_edge_files", clamped.toDouble, clamped > 0,
        "zorderCompact", "keys outside the frozen curve bounds bloat edge " +
          "tiles; a compact re-freezes the scaling"),
      ("unreferenced_data_files", unreferenced.toDouble, unreferenced > 0,
        "zorderVacuum", "crash debris or aged-out generations hold disk")
    ).toDF("signal", "value", "fire", "recommended_action", "reason")
  }

  /** Advisor AUTO-PILOT: run [[zorderAdvise]] and EXECUTE its
    * highest-priority fired recommendation — bounded to ONE action per
    * call (each action changes the census, so a maintenance cron
    * converges one bounded step per tick instead of stacking a full
    * rewrite pipeline into one outage window), idempotent (all-clear
    * census → no-op). Returns the (signal, action) executed, or None
    * when nothing fired. Signal order IS the priority order
    * zorderAdvise emits: landing first (unmaintained appends are
    * invisible to readers), then planning-state freshness (blooms),
    * then space/read-amplification (tombstones, small files, clamped
    * bounds), then GC. Serialized against concurrent optimizers by its
    * own lock — NOT the table lock, which every executed action takes
    * itself (the file-lock layer is not reentrant). A bloom rebuild
    * reuses the stale sidecar's own (bits, hashes, shards), so the
    * auto-pilot never silently re-sizes an operator's index. */
  def zorderOptimize(spark: SparkSession, path: String,
      smallFileRows: Long = 100000L, tombstoneFraction: Double = 0.1):
      Option[(String, String)] =
    withNamedLock(path, ".optimize-lock") {
      val fired = zorderAdvise(spark, path, smallFileRows, tombstoneFraction)
        .filter(col("fire")).select("signal", "recommended_action")
        .collect().map(r => (r.getString(0), r.getString(1)))
      fired.headOption.map { case (sig, act) =>
        act match {
          case "zorderMaintain" => zorderMaintain(spark, path); ()
          case "zorderBloomBuild" =>
            val cur = currentGen(path).get
            bloomColumnsOf(path, cur).foreach { c =>
              val shards = bloomSidecarNames(path, cur)
                .filter(_.startsWith(s"bloom-$cur-$c.shard"))
                .flatMap(_.split("of").lastOption
                  .flatMap(_.stripSuffix(".tsv").toIntOption))
                .headOption.getOrElse(1)
              readBloom(path, cur, c) match {
                case Some(b) =>
                  zorderBloomBuild(spark, path, c, b.bits, b.hashes, shards)
                case None => zorderBloomBuild(spark, path, c, shards = shards)
              }
            }
          case "zorderDvMaterialize" => zorderDvMaterialize(spark, path); ()
          case "zorderCompactSmall" =>
            zorderCompactSmall(spark, path, smallFileRows); ()
          case "zorderCompact" =>
            zorderCompact(spark, path, math.max(1, currentSpans(path).size))
          case "zorderVacuum" => zorderVacuum(path)
          case other => throw new IllegalStateException(
            s"zorderAdvise recommended an unknown action $other") // unreachable
        }
        (sig, act)
      }
    }

  // ----------------------------------------------- replication (mirror)
  //
  // A generation IS its manifest and data files are immutable and
  // name-unique, so REPLICATION is a manifest diff plus a file copy of
  // whatever the replica is missing — the cost tracks the CHANGED file
  // set (same arithmetic as the CDC feed), never the table: a maintain
  // that rewrote 3 of 100k files ships 3 files + one manifest. The
  // replica is a byte-faithful maintained table — every reader
  // (zorderRead/Scan, ZTable, CDC, time travel) works against it
  // unchanged, because manifests hold RELATIVE paths. Commit discipline
  // mirrors the primary's: copy data files first, then manifests, then
  // RETENTION, flip CURRENT atomically, heal — a crash at any point
  // leaves the replica readable at its previous generation with debris
  // the next sync (or vacuum) heals. Landing files and batch logs do NOT
  // mirror: replication covers COMMITTED generations, the same snapshot
  // semantics as every reader here. At object-store scale the
  // Files.copy below is the one seam to swap for GET/PUT.

  /** One incremental sync of `replicaPath` to `primaryPath`'s retained
    * window. Returns (dataFilesCopied, manifestsCopied); (0, 0) when the
    * replica is already at the primary's CURRENT generation with an
    * identical manifest set. Run it on the consumer's cadence — each sync
    * ships only what changed since the last, however many commits that
    * spans. Concurrency: the primary is read WITHOUT its lock (reads are
    * lock-free by design); if the primary's retention window moves past a
    * file mid-copy, the copy throws and the sync aborts CLEANLY — the
    * replica stays readable at its previous generation and the next sync
    * re-snapshots (size the primary's retention to cover the sync
    * cadence, same rule as the CDC cursor). */
  def zorderMirror(primaryPath: String, replicaPath: String): (Int, Int) = {
    // the snapshot below is lock-free against the PRIMARY, so a primary
    // committing (and healing aged generations) mid-sync can yank a
    // manifest or data file out from under this sync — re-snapshot from
    // the new CURRENT and retry; each retry observes a strictly newer
    // generation, so this terminates unless the primary commits faster
    // than one sync pass runs (at which point the bounded retry surfaces
    // the cadence mismatch loudly instead of spinning)
    var attempt = 0
    while (true) {
      try return mirrorOnce(primaryPath, replicaPath)
      catch {
        case e: java.nio.file.NoSuchFileException =>
          attempt += 1
          if (attempt >= 5) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def mirrorOnce(primaryPath: String,
      replicaPath: String): (Int, Int) = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val pRoot = Paths.get(primaryPath).toAbsolutePath.normalize
    val rRoot = Paths.get(replicaPath).toAbsolutePath.normalize
    require(pRoot != rRoot, "mirror target must differ from the primary")
    // snapshot the primary's retained window OUTSIDE the replica lock:
    // reads are lock-free by design (manifests immutable, CURRENT flips
    // atomically) — a concurrent primary commit just means this sync
    // ships the generation that was CURRENT when it started
    val pCur = currentGen(primaryPath).getOrElse(
      throw new IllegalStateException(s"no zorderInit at $primaryPath"))
    val pId = ensureTableId(primaryPath)
    val gens = retainedGens(primaryPath)
    val mans = gens.map(g => g -> readManifest(primaryPath, g))
    val keep = retentionOf(primaryPath)
    withTableLock(replicaPath) {
      // IDENTITY check: generation numbers restart when a primary is
      // deleted and re-initialized, so "manifest-N exists" proves nothing
      // across rebuilds — a replica of a DIFFERENT table (or of this
      // table's previous life) must refuse loudly, never silently serve
      // the old data or adopt colliding manifest numbers
      if (currentGen(replicaPath).isDefined) {
        val rId =
          if (Files.isRegularFile(tableIdPath(replicaPath)))
            new String(Files.readAllBytes(tableIdPath(replicaPath)), "UTF-8").trim
          else "" // a replica always carries the id its first sync copied
        require(rId == pId,
          s"$replicaPath is a replica of a DIFFERENT table (id " +
            s"${if (rId.isEmpty) "<none>" else rId} vs $pId) — delete the " +
            "replica directory to re-seed it from this primary")
      }
      import scala.jdk.CollectionConverters._
      def bloomNames(root: java.nio.file.Path): List[String] = {
        val ls = Files.list(root)
        try ls.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith("bloom-") && n.endsWith(".tsv") &&
            n.stripPrefix("bloom-").takeWhile(_ != '-').toLongOption
              .exists(gens.contains))
          .toList
        finally ls.close()
      }
      val blooms = bloomNames(pRoot)
      // one sidecar shipper for BOTH sync paths. Two cost cuts on top of
      // the plain byte copy:
      //   - size/mtime short-circuit: a frequent no-op sync poll must not
      //     pay O(total sidecar bytes) per tick — only a sidecar whose
      //     size differs, or whose source is at least as new as the copy
      //     (equal-millis included: coarse mtime granularity could hide a
      //     same-second rebuild), falls through to the byte compare
      //   - inode dedup: the primary's carries are hard links
      //     ([[carryBloomSidecars]], [[writeBloom]]'s link-carry), so
      //     most retained generations' sidecar names alias the same
      //     bytes — ship each distinct inode ONCE per sync and hard-link
      //     the replica's other names to the first landed copy (a
      //     delete-heavy primary stops re-shipping its whole sidecar set
      //     on every DV commit). fileKey() is null on filesystems that
      //     can't identify inodes — those just fall back to the copy.
      def shipSidecars(): Unit = {
        val landed = scala.collection.mutable.Map.empty[Object, java.nio.file.Path]
        blooms.foreach { n =>
          val srcP = pRoot.resolve(n)
          val dst = rRoot.resolve(n)
          val settled = Files.isRegularFile(dst) &&
            Files.size(srcP) == Files.size(dst) &&
            Files.getLastModifiedTime(srcP).toMillis <
              Files.getLastModifiedTime(dst).toMillis
          val key = try Files.readAttributes(srcP,
            classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
          catch { case scala.util.control.NonFatal(_) => null }
          if (settled) {
            if (key != null) landed.getOrElseUpdate(key, dst)
            ()
          } else {
            (if (key == null) None else landed.get(key)) match {
              case Some(prev) => linkOrCopyAtomic(prev, dst)
              case None =>
                val src = Files.readAllBytes(srcP)
                if (!Files.isRegularFile(dst) ||
                    !java.util.Arrays.equals(src, Files.readAllBytes(dst)))
                  writeAtomic(dst, new String(src, "UTF-8"))
                if (key != null) landed.put(key, dst)
                ()
            }
          }
        }
      }
      val upToDate = currentGen(replicaPath).contains(pCur) &&
        gens.forall(g => Files.isRegularFile(manifestPath(replicaPath, g)))
      if (upToDate) {
        // generations match, but a bloom sidecar built (or REBUILT) on the
        // primary AFTER the replica reached this generation would
        // otherwise never ship until the next generation commit — sync
        // sidecars that are missing OR whose CONTENT differs (an
        // incremental rebuild at the same generation reuses the same
        // bloom-<gen>-<col>.tsv name with gap entries filled, so a
        // name-only check would leave replica point lookups unpruned for
        // those files; absent/stale sidecars are never wrong, just
        // unpruned — this keeps the replica pruned too)
        shipSidecars()
        return (0, 0)
      }
      // 1. data files (including deletion vectors) the replica is missing
      val wanted = mans.flatMap { case (_, m) =>
        m.spans.map(_.file) ++ m.dv.toSeq
      }.distinct
      var copied = 0
      wanted.foreach { rel =>
        val dst = rRoot.resolve(rel)
        if (!Files.isRegularFile(dst)) {
          Files.createDirectories(dst.getParent)
          val tmp = dst.resolveSibling(dst.getFileName.toString + ".tmp")
          Files.copy(pRoot.resolve(rel), tmp,
            StandardCopyOption.REPLACE_EXISTING)
          Store.finalizeFile(tmp, dst)
          copied += 1
        }
      }
      // 2. manifests (immutable: present ⇒ identical), bloom sidecars
      // (generation-addressed planning state — cheap, keeps replica
      // point lookups pruned), then retention, then the atomic flip
      var manifests = 0
      gens.foreach { g =>
        if (!Files.isRegularFile(manifestPath(replicaPath, g))) {
          writeAtomic(manifestPath(replicaPath, g), new String(
            Files.readAllBytes(manifestPath(primaryPath, g)), "UTF-8"))
          manifests += 1
        }
      }
      shipSidecars()
      writeAtomic(retentionPath(replicaPath), keep.toString)
      writeAtomic(tableIdPath(replicaPath), pId)
      Files.createDirectories(landingDir(replicaPath))
      writeAtomic(currentPtr(replicaPath), pCur.toString)
      // 3. heal ages out what the window left behind on the replica
      heal(replicaPath, pCur)
      (copied, manifests)
    }
  }

  /** GC entry point without a commit: takes the table lock, rolls back
    * crashed batch appends, and runs the standard heal sweep (stray
    * manifests, consumed landing files, data files no retained manifest
    * references) — what an operator runs after lowering retention or
    * after a crashed external writer. */
  def zorderVacuum(path: String): Unit = withTableLock(path) {
    val cur = currentGen(path).getOrElse(
      throw new IllegalStateException(s"no zorderInit at $path"))
    rollbackStaleAppendIntents(path)
    heal(path, cur)
  }

  /** Remove debris a crashed [[zorderMaintain]]/[[zorderCompact]]/
    * [[zorderDelete]] left, AND age generations out of the retention
    * window — this is the ONLY cleanup path (every commit just flips
    * CURRENT and calls heal, so a crash anywhere between the two replays
    * the identical sweep). Three rules against the RETAINED manifests:
    *
    *   1. any `manifest-<G>.tsv` outside the retention window ending at
    *      CURRENT (a build that never committed, or an aged-out
    *      generation) and stray `.tmp` files,
    *   2. landing files the CURRENT manifest lists as consumed (the
    *      exactly-once guard for the crash window between pointer flip
    *      and landing cleanup),
    *   3. data files NO retained manifest references (a crashed build's
    *      partial output, replaced files, or files only aged-out
    *      generations used) — including stale staging dirs. */
  private def heal(path: String, cur: Long): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(path).toAbsolutePath
    val keep = retentionOf(path)
    val window = (math.max(0L, cur - keep + 1) to cur).toSet
    val ls = Files.list(root)
    val strays =
      try ls.iterator().asScala.map(_.getFileName.toString).filter { n =>
        (n.startsWith("manifest-") && n.endsWith(".tsv") &&
          !n.stripPrefix("manifest-").stripSuffix(".tsv").toLongOption
            .exists(window.contains)) ||
        // bloom sidecars are generation-addressed like manifests
        (n.startsWith("bloom-") && n.endsWith(".tsv") &&
          !n.stripPrefix("bloom-").takeWhile(_ != '-').toLongOption
            .exists(window.contains)) ||
        n.endsWith(".tmp")
      }.toList
      finally ls.close()
    strays.foreach(n => Files.deleteIfExists(root.resolve(n)))
    // crashed zorderAppend staging dirs: appends never hold the table
    // lock, so a YOUNG staging dir may be an in-flight writer — only
    // sweep dirs older than an hour (crash debris, never read by anyone)
    val stagingRoot = root.resolve("landing-staging")
    if (Files.isDirectory(stagingRoot)) {
      val cutoff = java.time.Instant.now().minusSeconds(3600)
      val ls2 = Files.list(stagingRoot)
      val aged = try ls2.iterator().asScala.toList.filter(d =>
          Files.isDirectory(d) &&
          Files.getLastModifiedTime(d).toInstant.isBefore(cutoff))
        finally ls2.close()
      aged.foreach(graft.engine.WarehouseMeta.deleteRecursively)
    }
    val retained = window.toSeq.sorted
      .filter(g => Files.isRegularFile(manifestPath(path, g)))
      .map(g => readManifest(path, g))
    retained.lastOption.foreach(_.consumed.foreach { f =>
      Files.deleteIfExists(landingDir(path).resolve(f)); ()
    })
    val referenced = (retained.flatMap(_.spans.map(s => root.resolve(s.file))) ++
      retained.flatMap(_.dv.map(root.resolve))).toSet // DV files live in data/ too
    val dd = dataDir(path)
    if (Files.isDirectory(dd)) {
      val walk = Files.walk(dd)
      val all = try walk.iterator().asScala.toList finally walk.close()
      all.filter(p => Files.isRegularFile(p) && !referenced.contains(p))
        .foreach(Files.deleteIfExists(_))
      // empty generation dirs left behind (deepest first)
      all.filter(p => Files.isDirectory(p) && p != dd)
        .sortBy(-_.getNameCount).foreach { d =>
          val s = Files.list(d)
          val empty = try !s.iterator().hasNext finally s.close()
          if (empty) Files.deleteIfExists(d)
          ()
        }
    }
  }

}
