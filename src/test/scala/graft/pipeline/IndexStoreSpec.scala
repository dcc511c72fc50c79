package graft.pipeline

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Cross-process safety of the held claim both persistent stores share
  * ([[graft.MetaFiles.withClaim]]): the artifact index's `_build._claim`
  * and a versioned table's `_mutate._claim`. Two `IndexStore` INSTANCES
  * here stand in for two JVMs: each instance has its own in-process lock
  * object, so the only thing serializing them is the `_build._claim` file
  * — exactly the cross-process seam. The timeout/takeover/blocking tests
  * run once per store.
  */
class IndexStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  /** A corpus dir with one source file, so fingerprinting has bytes. */
  private def freshCorpus(): String = {
    val c = java.nio.file.Files.createTempDirectory("idxstore-corpus")
    java.nio.file.Files.writeString(c.resolve("documents.parquet"), "src-bytes")
    c.toString
  }

  private def freshStore(tag: String): (IndexStore, IndexStore, String) = {
    // both instances resolve the same root via the same defaultName
    val name = s"graft-idxstore-spec-$tag-${System.nanoTime()}"
    (new IndexStore("GRAFT_IDXSTORE_SPEC_UNSET", name, "documents.parquet"),
      new IndexStore("GRAFT_IDXSTORE_SPEC_UNSET", name, "documents.parquet"),
      name)
  }

  private def doBuild(counter: java.util.concurrent.atomic.AtomicInteger,
      spans: java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)])
      (vd: String): Unit = {
    val t0 = System.nanoTime()
    counter.incrementAndGet()
    Thread.sleep(120)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(vd))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(vd, "component.parquet"), "built")
    spans.add((t0, System.nanoTime()))
    ()
  }

  test("racing ensure() across instances: one claim winner builds, everyone serves its version") {
    val (a, b, _) = freshStore("ensure")
    val corpus = freshCorpus()
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until 8).map { i =>
      val store = if (i % 2 == 0) a else b
      new Thread(() => results.add(store.ensure(corpus)(doBuild(builds, spans))))
    }
    threads.foreach(_.start()); threads.foreach(_.join(30000))
    import scala.jdk.CollectionConverters._
    assert(builds.get() === 1,
      s"racing ensure() must build exactly once, built ${builds.get()}")
    assert(results.asScala.toSet.size === 1,
      s"all racers must resolve one version: ${results.asScala.toSet}")
    val served = a.servedVersion(corpus)
    assert(served.isDefined && results.asScala.forall(_ == served.get))
    // the claim is released after the build
    assert(!new java.io.File(new java.io.File(served.get).getParent,
      "_build._claim").exists(), "claim must be released")
  }

  test("racing rebuild() across instances: mutations serialize — build intervals never overlap") {
    val (a, b, _) = freshStore("rebuild")
    val corpus = freshCorpus()
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val threads = (0 until 4).map { i =>
      val store = if (i % 2 == 0) a else b
      new Thread(() => { store.rebuild(corpus)(doBuild(builds, spans)); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join(30000))
    import scala.jdk.CollectionConverters._
    assert(builds.get() === 4, "rebuild is unconditional — all four run")
    val sorted = spans.asScala.toSeq.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((_, e1), (s2, _)) =>
        assert(e1 <= s2, "two builders held the claim at once")
      case _ => ()
    }
    // the final marker serves a complete version
    val served = a.servedVersion(corpus)
    assert(served.isDefined &&
      new java.io.File(served.get, "component.parquet").exists())
  }

  /** One claim-guarded store: `claim` is its claim file, `mutate(i, onHeld)`
    * runs one mutation through writer `i`'s write path and calls `onHeld`
    * while the claim is held.
    */
  private final class ClaimStore(val claim: java.nio.file.Path,
      val mutate: (Int, () => Unit) => Unit)

  /** The artifact index's `_build._claim`; writers alternate between two
    * instances (two JVMs' worth of in-process locks).
    */
  private def indexStore(tag: String): ClaimStore = {
    val (a, b, _) = freshStore(tag)
    val corpus = freshCorpus()
    val d = java.nio.file.Paths.get(a.dir(corpus))
    java.nio.file.Files.createDirectories(d)
    new ClaimStore(d.resolve("_build._claim"), (i, onHeld) => {
      (if (i % 2 == 0) a else b).rebuild(corpus) { vd =>
        onHeld()
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(vd))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(vd, "component.parquet"), "built")
      }
      ()
    })
  }

  private lazy val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** A versioned table's `_mutate._claim`, taken by `Versioned.commit`
    * (re-entrantly inside the outer hold that runs `onHeld`).
    */
  private def lakeStore(): ClaimStore = {
    val s = spark // start the session before any test shrinks the timeout
    val dir = java.nio.file.Files.createTempDirectory("claim-lake").toString
    new ClaimStore(java.nio.file.Paths.get(dir, "_mutate._claim"), (_, onHeld) =>
      graft.operators.Versioned.withMutateClaim(dir) {
        onHeld()
        graft.operators.Versioned.commit(s.range(3).toDF(), dir)
        ()
      })
  }

  /** Runs `body` with the one claim staleness timeout shrunk to `ms`. */
  private def withTimeout(ms: Long)(body: => Unit): Unit = {
    val old = graft.MetaFiles.claimTimeoutMs
    graft.MetaFiles.claimTimeoutMs = ms
    try body finally graft.MetaFiles.claimTimeoutMs = old
  }

  private val stores: Seq[(String, String => ClaimStore)] = Seq(
    "" -> (tag => indexStore(tag)),
    " — versioned table" -> (_ => lakeStore()))

  for ((suffix, mk) <- stores) {
    test("heartbeat keeps a long build's claim live past the timeout — no mid-build takeover" + suffix) {
      val st = mk("heartbeat")
      withTimeout(200) { // the first hold below runs 4x longer than this
        val spans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
        def held(sleepMs: Long)(): Unit = {
          val t0 = System.nanoTime()
          Thread.sleep(sleepMs) // >> timeout: only the heartbeat keeps it
          spans.add((t0, System.nanoTime())); ()
        }
        val t1 = new Thread(() => st.mutate(0, held(800)))
        t1.start()
        Thread.sleep(150) // let writer 0 win the claim and enter its hold
        val t2 = new Thread(() => st.mutate(1, held(10)))
        t2.start()
        t1.join(30000); t2.join(30000)
        import scala.jdk.CollectionConverters._
        assert(spans.size === 2)
        val sorted = spans.asScala.toSeq.sortBy(_._1)
        assert(sorted(0)._2 <= sorted(1)._1,
          "the second writer took over a live (heartbeated) claim mid-hold")
      }
    }

    test("orphan claim from a crashed builder is taken over after the timeout" + suffix) {
      val st = mk("takeover")
      java.nio.file.Files.writeString(st.claim, "dead-pid:0")
      withTimeout(200) {
        // age the claim past the (test-shrunk) timeout
        st.claim.toFile.setLastModified(System.currentTimeMillis() - 1000)
        val ran = new java.util.concurrent.atomic.AtomicInteger()
        st.mutate(0, () => { ran.incrementAndGet(); () })
        assert(ran.get() === 1)
        assert(!st.claim.toFile.exists(), "the taker must release the claim")
      }
    }

    test("a live claim blocks a second builder until released" + suffix) {
      val st = mk("block")
      java.nio.file.Files.writeString(st.claim, "holder")
      val releaseAt = new java.util.concurrent.atomic.AtomicLong()
      val releaser = new Thread(() => {
        Thread.sleep(400)
        releaseAt.set(System.nanoTime())
        java.nio.file.Files.deleteIfExists(st.claim); ()
      })
      releaser.start()
      val start = new java.util.concurrent.atomic.AtomicLong()
      st.mutate(0, () => { start.set(System.nanoTime()); () })
      releaser.join()
      assert(start.get() >= releaseAt.get(),
        "the mutation must not start while another process holds the claim")
    }
  }
}
