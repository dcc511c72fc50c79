package graft.pipeline

import graft.MetaFiles
import graft.operators.Versioned
import graft.sources.GraftCatalog
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Crash-point sweep over the on-disk metadata protocol: every operation
  * below is run once per metadata step k, with [[MetaFiles.faultHook]]
  * crashing the k-th step — and every later one, since a dead process
  * performs no further metadata ops (its claim release included, so the
  * claim is left behind as an orphan). After each crash:
  *
  *  1. the tip resolves to the old tip or to the new version, and reads
  *     exactly that version's rows;
  *  2. every earlier version still reads the same;
  *  3. the next writer commits (taking over the orphaned claim once it
  *     has aged past the staleness timeout).
  *
  * The sweep stops at the first k the operation completes without
  * reaching, so the last run is the crash-free one.
  */
class CrashSweepSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private final class Crash extends RuntimeException("injected crash")

  /** Runs `op` crashing at this thread's k-th metadata op and every later
    * one. Returns the crash point ("k=<k> <op> <file>"), or None when `op`
    * completed in fewer than k metadata ops.
    */
  private def crashingAt(k: Int)(op: => Unit): Option[String] = {
    val me = Thread.currentThread()
    var n = 0
    var at: Option[String] = None
    MetaFiles.faultHook = (what, p) =>
      if (Thread.currentThread() eq me) {
        n += 1
        if (n == k) at = Some(s"k=$k $what ${p.getFileName}")
        if (n >= k) throw new Crash
      }
    try op
    catch { case _: Throwable if at.isDefined => () }
    finally MetaFiles.faultHook = (_, _) => ()
    at
  }

  /** Runs `step(k)` for k = 1, 2, ... with the k-th metadata op of its
    * operation crashing, until one run completes crash-free; `step`
    * returns its crash point. Returns the number of crash points.
    */
  private def sweep(step: Int => Option[String]): Int =
    Iterator.from(1).map(step).takeWhile(_.isDefined).size

  /** Ages every claim file under `dir` past the staleness timeout, as
    * time passing after the crash would.
    */
  private def ageClaims(dir: String): Unit =
    Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName == "_mutate._claim" ||
        f.getName == "_build._claim")
      .foreach(f => f.setLastModified(
        System.currentTimeMillis() - 2 * MetaFiles.claimTimeoutMs))

  private def ids(xs: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    xs.toDF("id")
  }

  private def rows(dir: String, v: Int): Seq[Long] =
    Versioned.readAtDv(spark, dir, v).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq

  private def copyTree(src: Path, dst: Path): Unit = {
    val walk = Files.walk(src)
    try walk.forEach(p =>
      Files.copy(p, dst.resolve(src.relativize(p).toString)))
    finally walk.close()
  }

  /** v0 = commit, v1 = append, v2 = materialized commit. */
  private lazy val template: String = {
    val d = Files.createTempDirectory("crash-sweep-template")
      .resolve("t").toString
    Versioned.commit(ids(0, 1, 2, 3), d)
    Versioned.appendRows(ids(4, 5), d)
    Versioned.commit(ids(0, 1, 2, 3, 4, 5), d)
    d
  }
  private val templateRows = Map(
    0 -> Seq(0L, 1, 2, 3), 1 -> Seq(0L, 1, 2, 3, 4, 5),
    2 -> Seq(0L, 1, 2, 3, 4, 5))

  private def freshTable(): String = {
    val d = Files.createTempDirectory("crash-sweep").resolve("t")
    copyTree(Paths.get(template), d)
    d.toString
  }

  /** Invariants 1 and 2 on a copy of the template whose crashed operation
    * would have committed `newRows` as the next version (None: the
    * operation moves no tip). `dropped` versions may be gone entirely
    * (vacuum), but never half-readable.
    */
  private def checkTable(dir: String, at: String, newRows: Option[Seq[Long]],
      dropped: Set[Int] = Set.empty): Unit = {
    val oldTip = templateRows.keys.max
    val tip = Versioned.latest(dir)
    if (tip != oldTip) {
      assert(newRows.isDefined && tip > oldTip,
        s"$at: tip moved $oldTip -> $tip")
      assert(rows(dir, tip) === newRows.get, s"$at: new tip v$tip")
    }
    for ((v, want) <- templateRows)
      if (!dropped(v) || Versioned.isCommitted(dir, v))
        assert(rows(dir, v) === want, s"$at: v$v no longer reads the same")
  }

  /** Invariant 3: the next writer commits on top of whatever tip the
    * crash left, and releases its claim.
    */
  private def checkNextWriter(dir: String, at: String): Unit = {
    ageClaims(dir)
    val tip = Versioned.latest(dir)
    val base = if (tip < 0) Seq.empty[Long] else rows(dir, tip)
    val v =
      if (tip < 0) Versioned.commit(ids(99), dir)
      else Versioned.appendRows(ids(99), dir)
    assert(v > tip && Versioned.latest(dir) === v, s"$at: next writer")
    assert(rows(dir, v) === (base :+ 99L).sorted, s"$at: next writer's rows")
    assert(!Files.exists(Paths.get(dir, "_mutate._claim")),
      s"$at: next writer left its claim behind")
  }

  /** Sweeps `op` over a fresh copy of the template table per crash point;
    * returns the number of crash points.
    */
  private def sweepTable(op: String => Unit, newRows: Option[Seq[Long]],
      dropped: Set[Int] = Set.empty)(extra: (String, String) => Unit): Int =
    sweep { k =>
      val dir = freshTable()
      val at = crashingAt(k)(op(dir))
      val where = at.getOrElse("crash-free")
      checkTable(dir, where, newRows, dropped)
      extra(dir, where)
      checkNextWriter(dir, where)
      at
    }

  private val none: (String, String) => Unit = (_, _) => ()

  test("crash sweep: commit") {
    val n = sweepTable(Versioned.commit(ids(10, 11), _), Some(Seq(10L, 11)))(none)
    assert(n >= 4) // mutator claim, version claim, commit mark, _latest
  }

  test("crash sweep: appendRows") {
    val n = sweepTable(Versioned.appendRows(ids(20), _),
      Some(templateRows(2) :+ 20L))(none)
    assert(n >= 5) // ... plus the adoption move
  }

  test("crash sweep: deleteWhereDv") {
    val n = sweepTable(Versioned.deleteWhereDv(spark, _, col("id") === 1, "id"),
      Some(templateRows(2).filter(_ != 1L)))(none)
    assert(n >= 4)
  }

  test("crash sweep: restore") {
    val n = sweepTable(Versioned.restore(spark, _, 0), Some(templateRows(0)))(none)
    assert(n >= 4)
  }

  test("crash sweep: tag") {
    val n = sweepTable(Versioned.tag(_, "stable", 1), None) { (dir, at) =>
      Versioned.tagVersion(dir, "stable") match {
        case None => ()
        case Some(v) =>
          assert(v === 1, s"$at: tag points at v$v")
          assert(rows(dir, v) === templateRows(1), s"$at: tagged read")
      }
    }
    assert(n >= 2)
  }

  test("crash sweep: vacuum") {
    val n = sweepTable(Versioned.vacuum(_, 1), None, dropped = Set(0, 1))(none)
    assert(n >= 1)
  }

  test("crash sweep: idempotent batch ingest (the replay is the next writer)") {
    val want = templateRows(2) :+ 30L
    val n = sweepTable(d => { Versioned.appendBatchIdempotent(ids(30), d, 7L); () },
      Some(want)) { (dir, at) =>
      ageClaims(dir)
      Versioned.appendBatchIdempotent(ids(30), dir, 7L)
      assert(rows(dir, Versioned.latest(dir)) === want,
        s"$at: the replayed batch must land exactly once")
      assert(Versioned.appendBatchIdempotent(ids(30), dir, 7L).isEmpty,
        s"$at: a committed batch id must replay as a no-op")
    }
    assert(n >= 5)
  }

  test("crash sweep: cloneShallow (source untouched, clone at v0 or absent)") {
    val n = sweep { k =>
      val src = freshTable()
      val dst = Files.createTempDirectory("crash-sweep-clone")
        .resolve("c").toString
      val at = crashingAt(k)(Versioned.cloneShallow(spark, src, dst))
      val where = at.getOrElse("crash-free")
      checkTable(src, where, None)
      val tip = Versioned.latest(dst)
      assert(tip === -1 || tip === 0, s"$where: clone tip v$tip")
      if (tip == 0) assert(rows(dst, 0) === templateRows(2), s"$where: clone")
      checkNextWriter(dst, where)
      at
    }
    assert(n >= 4)
  }

  test("crash sweep: IndexStore.rebuild serves the old or the new version") {
    val store = new IndexStore("GRAFT_CRASH_SWEEP_UNSET",
      s"graft-crash-sweep-${System.nanoTime()}", "documents.parquet")
    val corpus = Files.createTempDirectory("crash-sweep-corpus")
    Files.writeString(corpus.resolve("documents.parquet"), "src-bytes")
    val sf = corpus.toString
    def build(label: String)(vd: String): Unit = {
      Files.createDirectories(Paths.get(vd))
      Files.writeString(Paths.get(vd, "component"), label); ()
    }
    def served(): String =
      Files.readString(Paths.get(store.servedVersion(sf).get, "component"))
    var history = Map(store.rebuild(sf)(build("v-init")) -> "v-init")
    val n = sweep { k =>
      val old = served()
      val at = crashingAt(k)(store.rebuild(sf)(build(s"new-$k")))
      val where = at.getOrElse("crash-free")
      assert(served() === old || served() === s"new-$k", s"$where: served")
      for ((vd, label) <- history)
        assert(Files.readString(Paths.get(vd, "component")) === label,
          s"$where: $vd no longer reads the same")
      ageClaims(store.dir(sf))
      val vd = store.rebuild(sf)(build(s"next-$k"))
      assert(served() === s"next-$k", s"$where: next writer")
      history += vd -> s"next-$k"
      at
    }
    assert(n >= 3) // builder claim, marker swap, release
  }

  test("crash sweep: GraftCatalog.writeProps leaves the old or the new properties") {
    val dir = Files.createTempDirectory("crash-sweep-props").toString
    val old = Map("key" -> "id")
    GraftCatalog.writeProps(dir, old)
    val n = sweep { k =>
      val next = old + ("round" -> k.toString)
      val at = crashingAt(k)(GraftCatalog.writeProps(dir, next))
      val where = at.getOrElse("crash-free")
      val got = GraftCatalog.readProps(dir)
      assert(got === old || got === next, s"$where: props $got")
      GraftCatalog.writeProps(dir, old)
      assert(GraftCatalog.readProps(dir) === old, s"$where: next writer")
      at
    }
    assert(n >= 1)
  }

  test("writeProps never exposes a torn _props file to a concurrent reader") {
    val dir = Files.createTempDirectory("torn-props").toString
    val props = Map("key" -> "id", "pad" -> ("x" * 4096))
    GraftCatalog.writeProps(dir, props)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val torn = new java.util.concurrent.atomic.AtomicInteger()
    val reader = new Thread(() =>
      while (!stop.get)
        if (GraftCatalog.readProps(dir) != props) torn.incrementAndGet())
    reader.start()
    try (0 until 2000).foreach(_ => GraftCatalog.writeProps(dir, props))
    finally { stop.set(true); reader.join() }
    assert(torn.get === 0, s"${torn.get} reads saw a torn _props")
  }
}
