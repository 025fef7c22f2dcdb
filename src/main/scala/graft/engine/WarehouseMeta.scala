package graft.engine

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}

/** Shared primitives for durable, fingerprint-validated bucketed table sets
  * ([[graft.StarWarehouse]] and the incremental-dedup signature store,
  * `Dedup.ensureSignatureStore`): a 100 TB deployment must never rewrite a
  * valid on-disk layout just because the process restarted, and must
  * invalidate it exactly when the source data changed.
  *
  * Durable fixtures (the `SparkEntry` `*For` layouts, [[graft.ZStarWarehouse]])
  * share one ensure, [[ensureFixture]], behind one memo, [[memoFixture]]. A
  * fixture is named [[fixtureName]] (prefix + md5 of its source dir), keyed
  * by [[fingerprint]] (its source's listing signature + a recipe tag), and
  * is valid when its own existence check holds AND its sidecar records that
  * fingerprint. The contract:
  *   - stamp after build: the sidecar is written only after the build body
  *     returns, so a crashed or throwing build rebuilds on the next call;
  *   - on-disk names and keys: `${name}_meta.tsv` / `sig`, or for the
  *     apply-once lifecycles `${name}_life.tsv` / `applied` — a warehouse
  *     built by an earlier version re-opens with no rebuild;
  *   - distinct outer lock: the ensure locks its sidecar stem
  *     (`${name}_meta` or `${name}_life`), never `name` itself, so a body
  *     may take its store's own lock (`name`) — the OS file lock throws
  *     when one JVM takes it twice on one file;
  *   - existence checks and deletes stay the caller's: each fixture passes
  *     its own check and the paths it clears before a rebuild. */
object WarehouseMeta {

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** A fixture's warehouse name: distinct source dirs never collide. */
  def fixtureName(prefix: String, dir: String): String = prefix + md5Hex(dir).take(12)

  /** A fixture's build fingerprint: the source's [[sourceSignature]] plus
    * the `tag` naming its recipe. */
  def fingerprint(src: String, tag: String): String = md5Hex(sourceSignature(src) + tag)

  /** The durable-fixture decision (see the object doc). Under the lock
    * of the sidecar stem: run `exists` first (it may re-register or ensure
    * a store), then compare the sidecar; when either fails, delete `clear`,
    * run `build`, and only then stamp the sidecar. Returns true when
    * `build` ran. `applyOnce`: `build` applies a non-idempotent mutation
    * sequence to a store `exists` ensured, recorded as `${name}_life`. */
  def ensureFixture(spark: SparkSession, name: String, fp: String,
      exists: => Boolean, clear: Seq[Path] = Nil,
      applyOnce: Boolean = false)(build: => Unit): Boolean = {
    val (stem, key) = if (applyOnce) (s"${name}_life", "applied") else (s"${name}_meta", "sig")
    withBuildLock(spark, stem) {
      val valid = exists && readSidecar(spark, s"$stem.tsv").exists(_.get(key).contains(fp))
      if (!valid) {
        clear.foreach(deleteRecursively)
        build
        writeSidecar(spark, s"$stem.tsv", Map(key -> fp))
      }
      !valid
    }
  }

  /** Once per (fixture prefix, session, dir): `make` gets the fixture's
    * name and returns what callers read (a name or a location). Each entry
    * keeps its session, and an `eq` mismatch (identityHashCode reuse after
    * GC) re-runs `make` — safe because every fixture is a durable ensure,
    * so re-running against existing files is metadata-only. */
  private val fixtureMemo =
    scala.collection.concurrent.TrieMap.empty[(String, Int, String), (SparkSession, String)]
  def memoFixture(spark: SparkSession, prefix: String, dir: String)(
      make: String => String): String = {
    val key = (prefix, System.identityHashCode(spark), dir)
    fixtureMemo.get(key) match {
      case Some((s, v)) if s eq spark => v
      case _ =>
        val v = make(fixtureName(prefix, dir))
        fixtureMemo.put(key, (spark, v))
        v
    }
  }
  /** Drop every memo entry of one fixture prefix (the files stay on disk
    * and re-open by fingerprint). */
  def forgetFixtures(prefix: String): Unit =
    fixtureMemo.keys.filter(_._1 == prefix).foreach(fixtureMemo.remove)

  /** Cheap change detector for a source path (file or directory): file
    * listing only (relative path, size, mtime), never a data scan — listing
    * 100 TB is O(files). Full FileTime precision (this host stamps
    * nanoseconds): truncating to millis would make a same-size
    * same-millisecond rewrite invisible and silently serve a stale
    * warehouse. */
  def sourceSignature(dir: String): String = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    val entries =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .map(p => s"${root.relativize(p)}|${Files.size(p)}|" +
          Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.NANOSECONDS))
        .toSeq.sorted
      finally walk.close()
    md5Hex(entries.mkString("\n"))
  }

  def tableLocation(spark: SparkSession, table: String): Path =
    Paths.get(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)

  def deleteRecursively(loc: Path): Unit =
    if (Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(loc)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }

  /** The stored fingerprint of a catalog table, if any. */
  def storedFingerprint(spark: SparkSession, table: String): Option[String] =
    try spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .properties.get("graft.fingerprint")
    catch { case _: Exception => None }

  /** Tab-separated key/value sidecar next to the table dirs (the build
    * recipe travels with the data so a FRESH JVM — in-memory catalog, no
    * metastore — can re-register existing files metadata-only). Written
    * temp + atomic rename so a concurrent reader never sees a torn file. */
  def writeSidecar(spark: SparkSession, name: String, kv: Map[String, String]): Unit = {
    val target = tableLocation(spark, name)
    val body = kv.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v" }.mkString("\n")
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.write(tmp, body.getBytes("UTF-8"))
    Files.move(tmp, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  def readSidecar(spark: SparkSession, name: String): Option[Map[String, String]] = {
    val f = tableLocation(spark, name)
    if (!Files.isRegularFile(f)) None
    else try {
      import scala.jdk.CollectionConverters._
      Some(Files.readAllLines(f).asScala
        .filter(_.contains('\t'))
        .map { l => val i = l.indexOf('\t'); l.substring(0, i) -> l.substring(i + 1) }
        .toMap)
    } catch { case _: java.io.IOException => None }
  }

  /** DROP + clear any orphaned table dir (in-memory catalog, durable
    * warehouse dir), then write `df` as an EXTERNAL bucketed table
    * clustered+sorted on `bucketCol` with `props` pinned in TBLPROPERTIES. */
  def replaceBucketedTable(spark: SparkSession, table: String,
      bucketCol: String, buckets: Int, df: org.apache.spark.sql.DataFrame,
      props: Map[String, String]): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    deleteRecursively(tableLocation(spark, table))
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("path", tableLocation(spark, table).toString)
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)
    if (props.nonEmpty) {
      val kv = props.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ")
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ($kv)")
    }
  }

  /** A small external `(id BIGINT)` manifest table (tombstones) with the
    * same restart-survival contract as the bucketed stores: if a fresh
    * JVM's in-memory catalog lost the entry but the warehouse directory
    * survives, re-register it metadata-only. None ⇔ no manifest exists
    * (neither catalog entry nor directory). */
  def idManifest(spark: SparkSession, table: String): Option[org.apache.spark.sql.DataFrame] =
    if (spark.catalog.tableExists(table)) Some(spark.table(table))
    else {
      val loc = tableLocation(spark, table)
      if (Files.isDirectory(loc)) {
        // two sessions may race the re-registration; losing the CREATE is
        // fine as long as the table is then readable
        try spark.sql(
          s"CREATE TABLE $table (id BIGINT) USING PARQUET LOCATION '${loc.toUri}'")
        catch { case e: org.apache.spark.sql.AnalysisException
          if spark.catalog.tableExists(table) => () }
        Some(spark.table(table))
      } else None
    }

  /** Append ids to a manifest (creating it on first use) under the table
    * set's build lock: a takedown landing while a compaction is dropping
    * the same manifest would otherwise be silently discarded — the lock
    * serializes removes against compactions (and two first-time removes
    * against each other). */
  def appendToIdManifest(spark: SparkSession, lockName: String,
      table: String, ids: Seq[Long]): Unit = withBuildLock(spark, lockName) {
    import spark.implicits._
    val df = ids.toDF("id")
    if (idManifest(spark, table).isDefined)
      df.write.mode(org.apache.spark.sql.SaveMode.Append).insertInto(table)
    else
      df.write.option("path", tableLocation(spark, table).toString)
        .saveAsTable(table)
  }

  /** Create an EMPTY manifest if none exists. Streaming plans resolve the
    * manifest at query-start: a stream that must observe FUTURE takedowns
    * needs the anti-join in its plan from the beginning, which requires
    * the manifest table to exist before the plan is built. */
  def ensureIdManifest(spark: SparkSession, lockName: String,
      table: String): Unit = withBuildLock(spark, lockName) {
    if (idManifest(spark, table).isEmpty) {
      import spark.implicits._
      Seq.empty[Long].toDF("id")
        .write.option("path", tableLocation(spark, table).toString)
        .saveAsTable(table)
    }
  }

  /** Loud guard for appends into a store that has live tombstones: an
    * appended id that is currently tombstoned would be silently invisible
    * (every read anti-joins it out) and the NEXT COMPACTION would
    * physically delete the re-ingested rows alongside the old ones —
    * silent data loss. Re-ingesting a forgotten id therefore requires
    * compacting first (compaction clears the manifest); this check makes
    * that contract fail loudly at the append instead. The manifest is
    * small by contract, so its ids collect to the driver and the batch
    * side pays one shuffle-free filtered scan. */
  def requireNotTombstoned(spark: SparkSession, table: String,
      ids: org.apache.spark.sql.DataFrame, what: String): Unit =
    idManifest(spark, table).foreach { m =>
      // SEMI-JOIN, not a collected isin list: reads already anti-join the
      // manifest; splicing ids into the plan as literals here would make a
      // takedown manifest that outgrows "small by contract" produce a
      // pathological plan. The join costs the same today (AQE broadcasts a
      // small manifest side) and never degrades.
      val hit = ids.join(m, Seq("id"), "left_semi").limit(5)
        .collect().map(_.getLong(0))
      require(hit.isEmpty,
        s"cannot append $what: ids ${hit.mkString(", ")} are tombstoned in " +
          s"$table — appended rows would be invisible until the next " +
          "compaction physically deletes them; compact the store first to " +
          "re-ingest a forgotten id")
    }

  /** Drop a manifest table and its files (compaction epilogue; rebuild
    * prologue — stale tombstones must not outlive the state they were
    * recorded against). */
  def dropIdManifest(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    deleteRecursively(tableLocation(spark, table))
  }

  /** Rewrite an EXISTING bucketed table in place via stage-and-swap: write
    * `df` as `<table>_stage` (same bucketing), drop both catalog entries
    * (external tables — DROP is metadata-only), move the staged directory
    * into the live location, and re-register `table` from `ddl`. The staged
    * write materializes fully before the live files are touched, so the
    * rewrite never reads files it is deleting — the safe shape for
    * compactions whose input is the table being rewritten.
    *
    * Crash safety: the live directory is renamed ASIDE (`<table>_old`)
    * before the stage moves in, so a crash at any point leaves at least one
    * COMPLETE copy at a recoverable path — either the live dir is intact,
    * or `_old` holds the full pre-rewrite data and `_stage`/live hold the
    * full post-rewrite data. A leftover `_old`/`_stage` dir from a crashed
    * prior run is cleared up front (the live dir was intact in that case). */
  def swapRewriteBucketedTable(spark: SparkSession, table: String,
      bucketCol: String, buckets: Int, ddl: String,
      df: org.apache.spark.sql.DataFrame, props: Map[String, String]): Unit = {
    val stage = s"${table}_stage"
    val loc = tableLocation(spark, table)
    val old = tableLocation(spark, s"${table}_old")
    def register(): Unit = {
      spark.sql(
        s"""CREATE TABLE $table ($ddl)
           |USING PARQUET
           |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO $buckets BUCKETS
           |LOCATION '${loc.toUri}'""".stripMargin)
      if (props.nonEmpty) {
        val kv = props.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ")
        spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ($kv)")
      }
      spark.catalog.refreshTable(table)
    }
    // a crashed prior swap leaves either debris (_old beside an intact live
    // dir — delete it) or a half-swap (live dir GONE, _old complete — roll
    // the old data back before proceeding; the caller's plan re-resolves
    // it). In EVERY _old-present state the catalog entry was already
    // dropped (the DROP precedes the moves, the CREATE follows the _old
    // cleanup), so recovery must RE-REGISTER from ddl — refreshTable on a
    // dropped entry throws, bricking the store until manual re-CREATE
    if (Files.isDirectory(old)) {
      if (Files.isDirectory(loc)) deleteRecursively(old)
      else Files.move(old, loc)
      if (!spark.catalog.tableExists(table)) register()
    }
    replaceBucketedTable(spark, stage, bucketCol, buckets, df, props)
    // IF EXISTS: a crash between the original DROP and the dir move leaves
    // no _old (nothing for the recovery branch) but also no catalog entry
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS $stage")
    Files.move(loc, old)
    Files.move(tableLocation(spark, stage), loc)
    deleteRecursively(old)
    register()
  }

  /** EXACTLY-ONCE guard for a side-effecting micro-batch applier over a
    * set of warehouse tables (the streaming ingest loops of the signature
    * store and the vector index — `Dedup.applyIngestBatch`,
    * `Similarity.applyVectorIngestBatch`):
    *
    *   1. `<logName>/<batchId>.commit` exists → None (replay of a fully
    *      applied batch; Structured Streaming replays with the same id).
    *   2. Any `.intent` without a `.commit` marks a CRASHED apply: files
    *      under the tables' dirs absent from its snapshot are that apply's
    *      partial output — deleted (rollback) before anything runs; the
    *      crashed batch re-applies when the stream replays it.
    *   3. Snapshot the tables' data files to `<batchId>.intent`, run
    *      `body`, atomically promote intent → commit, return Some(result).
    *
    * The caller must hold the table set's build lock ([[withBuildLock]])
    * so batches serialize against compactions and rebuilds. `body` must
    * make its own NON-table side effects idempotent (e.g. per-batch
    * output dirs written with Overwrite). */
  def exactlyOnceBatch[A](spark: SparkSession, logName: String, batchId: Long,
      tables: Seq[String])(body: => A): Option[A] = {
    val logDir = tableLocation(spark, logName)
    Files.createDirectories(logDir)
    val commit = logDir.resolve(s"$batchId.commit")
    if (Files.exists(commit)) None
    else {
      rollbackStaleIntents(spark, logName, tables)
      val intent = logDir.resolve(s"$batchId.intent")
      // temp + atomic rename (the writeSidecar discipline): a crash
      // mid-write must never leave a TORN snapshot — a truncated file list
      // would make the next rollback delete legitimate pre-batch files
      val tmp = logDir.resolve(s"$batchId.intent.tmp")
      Files.write(tmp,
        batchDataFiles(spark, tables).toSeq.sorted.mkString("\n").getBytes("UTF-8"))
      Files.move(tmp, intent, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val out = body
      Files.move(intent, commit, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      Some(out)
    }
  }

  private def batchDataFiles(spark: SparkSession, tables: Seq[String]): Set[String] = {
    import scala.jdk.CollectionConverters._
    tables.flatMap { t =>
      val dir = tableLocation(spark, t)
      if (!Files.isDirectory(dir)) Nil
      else {
        val walk = Files.walk(dir)
        try walk.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => s"$t\t${dir.relativize(p)}").toList
        finally walk.close()
      }
    }.toSet
  }

  /** Roll back any CRASHED [[exactlyOnceBatch]] apply (an `.intent` without
    * a `.commit`): files absent from the intent's pre-apply snapshot are
    * the partial apply's output — deleted, then the intent is cleared so
    * the stream's replay re-applies cleanly. A stale intent implies no
    * LATER batch ran (every apply rolls back first), so the snapshot is
    * still accurate. MUST also run at the top of any maintenance that
    * rewrites the tables' files (compaction): compacting past a stale
    * intent would otherwise make the eventual replay-rollback treat every
    * post-compaction file as partial-apply output and wipe the store. */
  def rollbackStaleIntents(spark: SparkSession, logName: String,
      tables: Seq[String]): Unit = {
    import scala.jdk.CollectionConverters._
    val logDir = tableLocation(spark, logName)
    if (Files.isDirectory(logDir)) {
      val ls = Files.list(logDir)
      val stale =
        try ls.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".intent")).toList
          .filter(p => !Files.exists(p.resolveSibling(
            p.getFileName.toString.stripSuffix(".intent") + ".commit")))
        finally ls.close()
      if (stale.nonEmpty) {
        val snapshot = stale.flatMap(p => Files.readAllLines(p).asScala).toSet
        for (f <- batchDataFiles(spark, tables) if !snapshot.contains(f)) {
          val Array(t, rel) = f.split("\t", 2)
          Files.deleteIfExists(tableLocation(spark, t).resolve(rel))
        }
        stale.foreach(Files.delete(_))
        tables.filter(spark.catalog.tableExists).foreach(spark.catalog.refreshTable)
      }
    }
  }

  /** Cross-PROCESS build exclusion: an advisory file lock on `<name>.lock`
    * in the warehouse dir, plus a JVM-global monitor (OS file locks are
    * per-process — a second lock() from the same JVM throws instead of
    * blocking). Two JVMs racing an initial build would otherwise interleave
    * one writer's recursive delete with the other's bucket files and then
    * fingerprint the mixed result as valid. The single JVM-wide monitor
    * (shared by all table sets) trades a little concurrency for the
    * guarantee; builds are rare. */
  private val jvmBuildLock = new Object
  def withBuildLock[A](spark: SparkSession, name: String)(body: => A): A =
    jvmBuildLock.synchronized {
      val lockPath = tableLocation(spark, s"$name.lock")
      Files.createDirectories(lockPath.getParent)
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock() // blocks until any other process's build ends
        try body finally lock.release()
      } finally ch.close()
    }
}
