package graft.engine

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** The durable-fixture protocol ([[WarehouseMeta.ensureFixture]] behind
  * [[WarehouseMeta.memoFixture]]): build once per fingerprint, stamp only
  * after the build, honour its own existence check and earlier sidecars,
  * serialize racing builders, and lock the sidecar stem, never the store
  * lock a body takes. Every fixture is named after a fresh temp
  * source dir, so runs never share warehouse state; afterAll removes
  * every file a test left in the warehouse. */
class FixtureEnsureSpec extends AnyFunSuite with SparkSpec with BeforeAndAfterAll {

  private val src = Files.createTempDirectory("graft_fixture_src")
  private val srcFile = src.resolve("rows.txt")
  Files.writeString(srcFile, "1\n2\n3\n")
  private val used = scala.collection.mutable.Set.empty[String]

  private def name(prefix: String): String = {
    val n = WarehouseMeta.fixtureName(prefix, src.toString)
    used.synchronized(used += n)
    n
  }
  private def loc(prefix: String): Path = WarehouseMeta.tableLocation(spark, name(prefix))
  private def sidecar(file: String): Path = WarehouseMeta.tableLocation(spark, file)
  private def fp(tag: String = "#t"): String = WarehouseMeta.fingerprint(src.toString, tag)

  /** A fixture whose body counts its runs and writes `part` into its
    * location; it exists while `part` does and clears its location. */
  private def ensure(prefix: String, runs: AtomicInteger)(extra: => Unit = ()): Boolean = {
    val l = loc(prefix)
    WarehouseMeta.ensureFixture(spark, name(prefix), fp(),
        Files.isRegularFile(l.resolve("part")), Seq(l)) {
      runs.incrementAndGet()
      extra
      Files.createDirectories(l)
      Files.writeString(l.resolve("part"), "x")
    }
  }

  override def afterAll(): Unit = {
    WarehouseMeta.deleteRecursively(src)
    for (n <- used; suffix <- Seq("", "_meta.tsv", "_life.tsv", ".lock",
        "_meta.lock", "_life.lock"))
      WarehouseMeta.deleteRecursively(WarehouseMeta.tableLocation(spark, n + suffix))
    super.afterAll()
  }

  test("the build body runs once per fingerprint; a second call and a second session reuse it") {
    val runs = new AtomicInteger
    val makes = new AtomicInteger
    def memo(s: org.apache.spark.sql.SparkSession) =
      WarehouseMeta.memoFixture(s, "graft_tfx_once_", src.toString) { n =>
        makes.incrementAndGet()
        assert(n == name("graft_tfx_once_"))
        ensure("graft_tfx_once_", runs)()
        loc("graft_tfx_once_").toString
      }
    assert(memo(spark) == loc("graft_tfx_once_").toString)
    assert(memo(spark) == loc("graft_tfx_once_").toString)
    assert((runs.get, makes.get) == ((1, 1)), "one session: one build, one ensure")
    memo(spark.newSession())
    assert((runs.get, makes.get) == ((1, 2)),
      "a second session re-runs the ensure but reuses the build")
    assert(!ensure("graft_tfx_once_", runs)() && runs.get == 1)
    assert(new String(Files.readAllBytes(sidecar(s"${name("graft_tfx_once_")}_meta.tsv")),
      "UTF-8") == s"sig\t${fp()}", "the sidecar is `sig<TAB>fingerprint`")
  }

  test("touching the source file changes the fingerprint and rebuilds") {
    val runs = new AtomicInteger
    ensure("graft_tfx_touch_", runs)()
    ensure("graft_tfx_touch_", runs)()
    assert(runs.get == 1)
    val before = fp()
    Files.writeString(srcFile, "1\n2\n3\n4\n")
    assert(fp() != before, "a new sourceSignature is a new fingerprint")
    assert(ensure("graft_tfx_touch_", runs)())
    assert(runs.get == 2)
  }

  test("a body that throws leaves no sidecar, and the next call rebuilds") {
    val runs = new AtomicInteger
    intercept[IllegalStateException] {
      ensure("graft_tfx_throw_", runs)(throw new IllegalStateException("crash mid-build"))
    }
    assert(!Files.exists(sidecar(s"${name("graft_tfx_throw_")}_meta.tsv")),
      "the stamp follows the build, so a crashed build is never stamped")
    assert(ensure("graft_tfx_throw_", runs)())
    assert(runs.get == 2 && Files.exists(sidecar(s"${name("graft_tfx_throw_")}_meta.tsv")))
  }

  test("a fixture whose existence check fails rebuilds even with a matching sidecar") {
    val runs = new AtomicInteger
    ensure("graft_tfx_gone_", runs)()
    val l = loc("graft_tfx_gone_")
    Files.delete(l.resolve("part"))
    Files.writeString(l.resolve("stray"), "left by a crashed build")
    assert(ensure("graft_tfx_gone_", runs)())
    assert(runs.get == 2)
    assert(!Files.exists(l.resolve("stray")), "the location is cleared before the rebuild")
    assert(Files.isRegularFile(l.resolve("part")))
  }

  test("sidecars written in the earlier literal format are honoured without a rebuild") {
    val runs = new AtomicInteger
    val n = name("graft_tfx_legacy_")
    Files.createDirectories(loc("graft_tfx_legacy_"))
    Files.writeString(loc("graft_tfx_legacy_").resolve("part"), "x")
    Files.write(sidecar(s"${n}_meta.tsv"), s"sig\t${fp()}".getBytes("UTF-8"))
    assert(!ensure("graft_tfx_legacy_", runs)() && runs.get == 0)
    // the apply-once lifecycles: `${name}_life.tsv` keyed `applied`
    val life = name("graft_tfx_legacylife_")
    Files.write(sidecar(s"${life}_life.tsv"), s"applied\t${fp()}".getBytes("UTF-8"))
    assert(!WarehouseMeta.ensureFixture(spark, life, fp(), true, applyOnce = true) {
      runs.incrementAndGet(); ()
    } && runs.get == 0)
  }

  test("two threads racing one fixture build it once") {
    val runs = new AtomicInteger
    val gate = new java.util.concurrent.CountDownLatch(1)
    val built = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        gate.await()
        built.add(ensure("graft_tfx_race_", runs)(Thread.sleep(200)))
      })
    }
    threads.foreach(_.start())
    gate.countDown()
    threads.foreach(_.join())
    assert(runs.get == 1)
    import scala.jdk.CollectionConverters._
    assert(built.asScala.toSeq.sorted == Seq(false, true))
  }

  test("an outer-locked builder whose body takes the inner store lock does not throw") {
    val n = name("graft_tfx_outer_")
    var inner = 0
    for (once <- Seq(false, true))
      assert(WarehouseMeta.ensureFixture(spark, n, fp(), true, applyOnce = once) {
        WarehouseMeta.withBuildLock(spark, n) { inner += 1 }
      })
    assert(inner == 2)
    assert(Files.exists(sidecar(s"${n}_meta.lock")) && Files.exists(sidecar(s"${n}_life.lock")),
      "the ensure locks its sidecar stem")
    // the reason the ensure never locks `name`: one JVM taking the OS file
    // lock twice on one file throws
    intercept[java.nio.channels.OverlappingFileLockException] {
      WarehouseMeta.withBuildLock(spark, n)(WarehouseMeta.withBuildLock(spark, n)(()))
    }
  }
}
