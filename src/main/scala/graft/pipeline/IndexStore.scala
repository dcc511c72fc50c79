package graft.pipeline

/** Shared plumbing for persisted per-corpus index side tables (the vector
  * index of [[VectorIndex]], the dedup signature index of [[DedupIndex]]):
  * immutable VERSION directories behind an atomically-swapped marker file.
  *
  * Freshness + concurrency contract (identical for every index kind):
  * components live under an immutable version dir; a `_GRAFT_INDEX` marker
  * records the source fingerprint (a digest over every file's path, size,
  * and mtime) plus the current version name, and is replaced by an ATOMIC
  * file move after a build completes. Readers resolve the marker once and
  * only ever see a complete version — a concurrent rebuild (even from
  * another JVM: the snapshot-pointer pattern of the table formats) writes a
  * fresh version dir and swaps the pointer; a crash mid-build leaves the old
  * marker pointing at the old complete version. Superseded versions are
  * swept on later rebuilds (the newest predecessor is retained
  * unconditionally, and anything younger than a grace period is retained
  * regardless of position, so a long-lived reader several rebuilds behind
  * is never unlinked mid-scan). On a cluster the same layout lands on
  * shared storage and the marker is the manifest.
  *
  * Deletes: `_tombstones` (a parquet dir of removed ids) lives NEXT TO the
  * versions, not inside one — logical removals survive both compaction and
  * a staleness-triggered rebuild from the (unchanged) source, so a removed
  * document can never be resurrected by index maintenance. Readers always
  * anti-join it (a broadcast of a tiny id list; a no-op after compaction).
  */
private[pipeline] object IndexStore {
  /** Sweep grace period (see `sweepOldVersions`); a var only so tests can
    * exercise both sides of the gate without 30-minute sleeps.
    */
  private[pipeline] var sweepGraceMs: Long = 30L * 60 * 1000
}

private[pipeline] final class IndexStore(envVar: String, defaultName: String,
    sourceFileName: String) {

  private def rootBase: String =
    sys.env.getOrElse(envVar, sys.props("java.io.tmpdir") + "/" + defaultName)

  /** Index directory for one corpus dir (env-relocatable root). The short
    * path hash keeps DISTINCT corpora distinct even when the lossy character
    * sanitization collides (e.g. `/a/b` vs `/a_b`) — without it, alternating
    * `ensure()` calls from two such corpora would see fingerprint mismatches
    * and rebuild/sweep each other's versions in a loop.
    */
  def dir(sfDir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(sfDir.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    rootBase + "/" + sfDir.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + h
  }

  /** Tombstone parquet dir for one corpus — OUTSIDE the version dirs (does
    * not start with `v-`, so the sweep never touches it) and not covered by
    * the marker: removals are durable across rebuilds and compactions.
    */
  def tombstoneDir(sfDir: String): String = dir(sfDir) + "/_tombstones"

  /** Source fingerprint: an md5 digest folding every file's (relative path,
    * size, mtime) plus the file count. Pure metadata (no content read), and
    * — unlike the total-size+max-mtime scheme it replaced — detects a
    * regeneration that keeps total bytes identical within the filesystem's
    * mtime resolution, because any per-file size or path change lands in
    * the digest.
    */
  private def fingerprint(sfDir: String): String = {
    val root = new java.io.File(s"$sfDir/$sourceFileName")
    val md = java.security.MessageDigest.getInstance("MD5")
    var n = 0
    def walk(f: java.io.File, rel: String): Unit =
      if (f.isDirectory) {
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName)
          .foreach(c => walk(c, rel + "/" + c.getName))
      } else {
        n += 1
        md.update(s"$rel:${f.length()}:${f.lastModified()}\n".getBytes("UTF-8"))
      }
    walk(root, "")
    s"v2:$n:${md.digest().map("%02x".format(_)).mkString}"
  }

  private val lock = new Object
  private def markerPath(d: String) =
    java.nio.file.Paths.get(d, "_GRAFT_INDEX")

  // ---- cross-process builder claim ----------------------------------------
  //
  // The JVM `lock` above serializes same-process builders; two PROCESSES
  // sharing one artifact dir additionally serialize on `_build._claim`,
  // held through [[graft.MetaFiles.withClaim]] — the same held-claim
  // protocol as a versioned table's `_mutate._claim` (owner token,
  // heartbeat, verified stale takeover). The winner builds and swaps the
  // marker; a loser waits until the claim frees, then re-checks the marker
  // — so concurrent `ensure()` calls from N processes build ONCE. The
  // heartbeat makes the staleness timeout bound crash detection, not
  // build duration.
  //
  // Readers never touch the claim: they resolve the marker, which only
  // ever swaps atomically to a COMPLETE version, so a reader is never
  // blocked by (or exposed to) a build in progress.

  private def withClaim[A](d: String)(body: => A): A =
    graft.MetaFiles.withClaim(java.nio.file.Paths.get(d, "_build._claim"))(body)

  /** The marker's `(fingerprint, version dir)`, if the marker exists and
    * its version dir does. Marker format: `<fingerprint>\n<version>`.
    */
  private def marker(d: String): Option[(String, String)] = {
    val m = markerPath(d)
    if (!java.nio.file.Files.exists(m)) None
    else java.nio.file.Files.readString(m).split("\n", 2) match {
      case Array(fp, v)
          if java.nio.file.Files.exists(java.nio.file.Paths.get(d, v)) =>
        Some((fp, s"$d/$v"))
      case _ => None
    }
  }

  /** The complete version dir the marker points at, if its fingerprint
    * matches the current source.
    */
  private def currentVersion(d: String, sfDir: String): Option[String] =
    marker(d).collect { case (fp, vd) if fp == fingerprint(sfDir) => vd }

  /** The version dir currently being served, regardless of freshness —
    * compaction reads the components it is about to rewrite from here.
    * None if no complete version exists.
    */
  def servedVersion(sfDir: String): Option[String] = lock.synchronized {
    marker(dir(sfDir)).map(_._2)
  }

  /** Build-if-absent: reuse a fresh index, rebuild a missing/stale one.
    * Returns the current VERSION dir. Idempotent and cheap when fresh
    * (metadata only). Cross-process: stale callers race for the builder
    * claim; the winner builds, the losers wait and re-check the marker —
    * N processes ensure() → one build.
    */
  def ensure(sfDir: String)(build: String => Unit): String = lock.synchronized {
    val d = dir(sfDir)
    currentVersion(d, sfDir).getOrElse {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      withClaim(d) {
        // double-check under the claim: the process we raced may have
        // built exactly the version we need while we waited
        currentVersion(d, sfDir).getOrElse(rebuildClaimed(sfDir)(build))
      }
    }
  }

  // per-JVM monotonic tiebreak for same-millisecond rebuilds
  private val seq = new java.util.concurrent.atomic.AtomicLong()

  /** Unconditional build + persist into a fresh immutable version dir, then
    * marker swap by atomic move — concurrent readers (any process) keep
    * resolving a complete version throughout. Cross-process mutators
    * (rebuild / append / remove / compact from different JVMs) serialize
    * on the builder claim — without it, two concurrent marker swaps could
    * silently drop one mutation's effect. Returns the new version dir.
    */
  def rebuild(sfDir: String)(build: String => Unit): String = lock.synchronized {
    val d = dir(sfDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
    withClaim(d) { rebuildClaimed(sfDir)(build) }
  }

  /** [[rebuild]] body — caller must hold the JVM lock AND the claim. */
  private def rebuildClaimed(sfDir: String)(build: String => Unit): String = {
    val d = dir(sfDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
    // Fingerprint the source BEFORE building: if the source is regenerated
    // mid-build, the stale marker then mismatches on the next ensure() and
    // triggers a fresh rebuild — stamping the fingerprint afterwards would
    // instead certify an index built from data that no longer exists.
    swapIn(d, fingerprint(sfDir), build)
  }

  /** Build a fresh immutable version dir, then point the marker at it
    * (certified with fingerprint `fp`) and sweep superseded versions.
    * Caller holds the JVM lock AND the claim.
    */
  private def swapIn(d: String, fp: String, build: String => Unit): String = {
    // Wall-clock-ordered names (epoch millis + per-JVM counter + pid) so
    // the sweep's lexicographic "newest first" holds across JVM restarts
    // and machines sharing storage — nanoTime has an arbitrary per-JVM
    // origin and would misorder versions written by different processes.
    val v = f"v-${System.currentTimeMillis()}%015d-${seq.incrementAndGet()}%06d-${ProcessHandle.current().pid()}"
    val vd = s"$d/$v"
    build(vd)
    graft.MetaFiles.writeAtomic(markerPath(d), fp + "\n" + v)
    sweepOldVersions(d, keep = Set(v))
    vd
  }

  /** Like [[rebuild]], but certifies the new version against the SAME
    * fingerprint the currently-served marker carries (compaction: the new
    * version derives from the old one, not from a re-read of the source, so
    * re-fingerprinting the source here could certify a version built from
    * components of a source that has since changed).
    */
  def rewriteVersion(sfDir: String)(build: String => Unit): String =
    lock.synchronized {
      val d = dir(sfDir)
      withClaim(d) {
        // the served-marker read happens UNDER the claim: a concurrent
        // mutator's swap either fully precedes (we inherit its version's
        // fingerprint) or fully follows this rewrite
        val fp = java.nio.file.Files.readString(markerPath(d)).split("\n", 2)(0)
        swapIn(d, fp, build)
      }
    }

  /** Versions younger than this are never swept, whatever their position —
    * a long-lived reader (e.g. a running streaming lookup holding persisted
    * DataFrames) two rebuilds behind keeps its files for at least this long.
    */
  private def sweepGraceMs = IndexStore.sweepGraceMs

  /** Best-effort GC of superseded version dirs: keeps `keep`, the newest
    * other version (a reader in another process may still be mid-scan on
    * the immediate predecessor), and anything younger than the grace
    * period; older survivors are removed. Failures are ignored — a later
    * rebuild sweeps again.
    */
  private def sweepOldVersions(d: String, keep: Set[String]): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
      f.delete(); ()
    }
    def bornAt(name: String): Long = // v-<epochmillis15>-...
      name.split("-").lift(1).flatMap(_.toLongOption).getOrElse(Long.MaxValue)
    try {
      val now = System.currentTimeMillis()
      val versions = Option(new java.io.File(d).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("v-"))
        .sortBy(_.getName).reverse // newest first (zero-padded epoch millis)
      versions.filterNot(f => keep(f.getName)).drop(1)
        .filter(f => now - bornAt(f.getName) > sweepGraceMs)
        .foreach(rm)
    } catch { case _: Throwable => () }
  }
}
