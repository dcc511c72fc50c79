package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Path,
  StandardCopyOption, StandardOpenOption}
import java.nio.file.attribute.FileTime

/** The on-disk metadata protocol of the two persistent stores — versioned
  * tables ([[graft.operators.Versioned]]) and persisted indexes
  * ([[graft.pipeline.IndexStore]]) — and of the catalog's property
  * sidecars. Every atomic metadata primitive they use lives here:
  *
  *  - [[createExclusive]]: O_EXCL create of a small file (`CREATE_NEW` —
  *    atomic on POSIX filesystems and on HDFS-style stores with atomic
  *    create-if-absent). Version claims and commit marks.
  *  - [[withClaim]]: a held exclusive claim file — owner token, daemon
  *    heartbeat, verified stale-claim takeover, raise-on-lost, per-thread
  *    re-entrancy. The lake's `_mutate._claim`, the index `_build._claim`.
  *  - [[writeAtomic]]: a pointer/sidecar swap by temp file + atomic move,
  *    so a reader sees the old content or the new, never a torn file.
  *  - [[moveAtomic]]: adoption of a finished directory by atomic rename.
  *
  * Every primitive calls [[faultHook]] first, so a test can stop the
  * protocol at any metadata step and check what a crash there leaves.
  */
private[graft] object MetaFiles {

  /** Claim staleness bound: a held claim whose heartbeat is older than
    * this is treated as abandoned by a crashed holder and taken over. It
    * bounds crash detection, not how long a claim may be held.
    */
  @volatile private[graft] var claimTimeoutMs: Long = 10L * 60 * 1000

  /** Test-only fault hook, called with the op name (`create`, `write`,
    * `move`, `release`) and its target path before every metadata op.
    */
  @volatile private[graft] var faultHook: (String, Path) => Unit =
    (_, _) => ()

  private val pollMs = 20L
  private val seq = new java.util.concurrent.atomic.AtomicLong()
  /** Unique across processes and threads: pid + per-JVM sequence. */
  private def token(): String =
    s"${ProcessHandle.current().pid()}-${seq.incrementAndGet()}"

  /** Create `p` holding `body` iff it does not exist yet (O_EXCL). */
  def createExclusive(p: Path, body: String = ""): Boolean = {
    faultHook("create", p)
    try {
      Files.write(p, body.getBytes(UTF_8), StandardOpenOption.CREATE_NEW)
      true
    } catch { case _: FileAlreadyExistsException => false }
  }

  /** Replace `p`'s content by writing a temp sibling and moving it over
    * `p` atomically.
    */
  def writeAtomic(p: Path, body: String): Unit = {
    faultHook("write", p)
    val tmp = p.resolveSibling(s".${p.getFileName}.tmp-${token()}")
    Files.writeString(tmp, body)
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Atomically rename a finished file or directory to `dst` (which must
    * not exist), creating `dst`'s parent first.
    */
  def moveAtomic(src: Path, dst: Path): Unit = {
    faultHook("move", dst)
    Files.createDirectories(dst.getParent)
    Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  private val held: ThreadLocal[scala.collection.mutable.Set[Path]] =
    ThreadLocal.withInitial(() => scala.collection.mutable.Set.empty[Path])

  /** Block until this thread holds the exclusive claim file `p`, run
    * `body` while a daemon heartbeat keeps the claim visibly live, then
    * release it. Re-entrant per thread, so compound mutators nest.
    *
    * Owner token: after a stale-claim takeover the OLD holder may still be
    * alive (merely paused past the timeout). Its heartbeat must not
    * refresh the NEW holder's claim file and its release must not delete
    * it — otherwise a third caller could acquire while the second still
    * holds. Every touch therefore verifies the file still carries THIS
    * acquisition's token; a holder that observes a foreign token has lost
    * ownership and raises after its body, so the caller knows its
    * mutation may have raced. (The verify-then-delete pair on release is
    * not atomic, but a takeover in that window needs another
    * timeout-length pause exactly there.)
    *
    * Takeover: a stale claim is renamed aside atomically — exactly one
    * waiter's rename succeeds; a blind delete would let a second waiter
    * that also judged it stale delete the first's FRESH claim. The content
    * is captured BEFORE the move: a waiter paused between its staleness
    * read and the move could otherwise evict a successor's fresh claim.
    * If the moved file no longer carries the observed-stale content, it
    * is moved back, which shrinks that window to a double timeout-length
    * pause.
    */
  def withClaim[A](p: Path)(body: => A): A = {
    if (held.get.contains(p)) return body
    val mine = token()
    def owns(): Boolean =
      try Files.readString(p).trim == mine
      catch { case _: Throwable => false }
    def tryCreate(): Boolean = {
      Files.createDirectories(p.getParent)
      createExclusive(p, mine)
    }
    while (!tryCreate()) {
      val stale =
        try {
          System.currentTimeMillis() -
            Files.getLastModifiedTime(p).toMillis > claimTimeoutMs
        } catch { case _: Throwable => false } // vanished → re-race
      if (stale) {
        try {
          val observed =
            try Files.readString(p) catch { case _: Throwable => null }
          val aside = p.resolveSibling(s".${p.getFileName}.stale-${token()}")
          Files.move(p, aside, StandardCopyOption.ATOMIC_MOVE)
          val moved =
            try Files.readString(aside) catch { case _: Throwable => null }
          if (observed != null && moved != null && moved != observed) {
            // evicted a FRESH claim — restore it (on failure a third
            // party already claimed; the evicted holder's own token
            // check raises)
            try Files.move(aside, p, StandardCopyOption.ATOMIC_MOVE)
            catch { case _: Throwable => Files.deleteIfExists(aside); () }
          } else { Files.deleteIfExists(aside); () }
        } catch { case _: Throwable => () } // lost the takeover race
      } else Thread.sleep(pollMs)
    }
    val lost = new java.util.concurrent.atomic.AtomicBoolean(false)
    val beat = new Thread(() => {
      try {
        while (!Thread.interrupted() && !lost.get) {
          Thread.sleep(math.max(50L, claimTimeoutMs / 4))
          if (owns())
            Files.setLastModifiedTime(p,
              FileTime.fromMillis(System.currentTimeMillis()))
          else lost.set(true) // taken over — never touch the new holder's file
        }
      } catch { case _: Throwable => () }
    })
    beat.setDaemon(true)
    beat.start()
    held.get += p
    try {
      val r = body
      if (lost.get)
        sys.error(s"claim $p was taken over mid-body (this holder was " +
          "paused past the staleness timeout); the mutation may have " +
          "raced a concurrent writer — verify the tip")
      r
    } finally {
      held.get -= p
      beat.interrupt()
      try {
        faultHook("release", p)
        if (owns()) Files.deleteIfExists(p)
        ()
      } catch { case _: Throwable => () }
    }
  }
}
