package graft.operators

import graft.{MetaFiles, Q}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A versioned table with time travel — the lakehouse primitive on top of
  * the [[Lake]] DML algebra: every commit CLAIMS its version number with
  * an exclusively-created `v<N>._claim` file (so concurrent writers — any
  * JVM, any process — never collide on a number), writes a NEW immutable
  * version directory, records durability with `v<N>._commit`, and swaps a
  * `_latest` hint by atomic rename. Concurrent readers always resolve a
  * complete snapshot, `readAt` serves any retained version, and CDC
  * between two versions is [[Lake.snapshotDiff]] over their snapshots.
  * Upserts route through [[Lake.mergeUpsert]] (duplicate update keys
  * still fail loudly), deletes are filtered commits.
  *
  * Scale shape: a commit is one parquet write of the new snapshot (for a
  * 100 TB table you would commit partition-level manifests instead — this
  * is the row-level teaching shape, documented); reads are plain parquet
  * scans of one version dir, so pruning/pushdown work untouched. No
  * driver-side state beyond the marker file.
  */
object Versioned {

  // ---- mutator claim (read-modify-write serialization) -------------------
  //
  // The claim/seal protocol guarantees version-NUMBER uniqueness and
  // complete snapshots, but not read-modify-write atomicity: two
  // concurrent `upsertPartitioned` calls both read the SAME base
  // manifest, and the later seal's manifest silently reverts the earlier
  // upsert's partition pointers (a lost update) — same for any mutator
  // that derives its new version from the tip (upsert/deleteWhere/
  // deleteWhereDv/compact/restore/rename/optimize). Those mutators
  // therefore serialize on an exclusive `_mutate._claim` — the shared
  // held-claim protocol of [[MetaFiles.withClaim]] (the index store's
  // builder claim is the same code): O_EXCL create, heartbeat while held,
  // stale-claim takeover by atomic rename (exactly one waiter wins), and
  // per-thread re-entrancy so compound mutators (the stats-sidecar
  // upserts) nest without deadlock. Round-13 invariant: EVERY
  // version-creating seal happens claim-held — full-state commits
  // (`commit`/`commitPartitioned`, claim across the write) because a
  // claim-free snapshot seal racing a claim-holding COW rewrite is
  // non-serializable (the buried-snapshot anomaly, see [[commit]]), and
  // appends/adoptions (`appendRows`, the staged adopts, the idempotent
  // ingest) because an UNSEALED claimed version can slip under a COW
  // rewrite's tip-unmoved check and get buried below its new base (see
  // [[appendRows]]). Appends stage their batch-scale parquet OUTSIDE
  // the claim and hold it only for claim-number + rename + seal
  // (microseconds), so concurrent ingest stays the designed parallel
  // path. Readers never touch the claim.

  private[graft] def withMutateClaim[A](dir: String)(body: => A): A =
    MetaFiles.withClaim(java.nio.file.Paths.get(dir, "_mutate._claim"))(body)

  private def markerPath(dir: String) = java.nio.file.Paths.get(dir, "_latest")
  private def claimPath(dir: String, v: Int) =
    java.nio.file.Paths.get(dir, s"v$v._claim")
  private def commitMarkPath(dir: String, v: Int) =
    java.nio.file.Paths.get(dir, s"v$v._commit")

  /** Version number carried by a claim/commit-mark/version-dir name, if
    * any — `v7`, `v7._claim`, `v7._commit` all map to 7.
    */
  private def versionOf(name: String): Option[Int] = {
    val core = name.stripPrefix("v")
    val digits = core.takeWhile(_.isDigit)
    if (digits.nonEmpty && (core == digits || core == s"$digits._claim" ||
        core == s"$digits._commit")) digits.toIntOption
    else None
  }

  /** Latest COMMITTED version, or -1 for an empty/uninitialized dir: the
    * max of the `_latest` hint and the durable per-version commit marks.
    * The listing is authoritative — the hint is a best-effort cache whose
    * loss (or a rare cross-process regression, see [[commit]]) never
    * un-commits a version.
    */
  def latest(dir: String): Int = {
    val m = markerPath(dir)
    val hint =
      if (java.nio.file.Files.exists(m))
        java.nio.file.Files.readString(m).trim.toIntOption.getOrElse(-1)
      else -1
    val committed = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .flatMap(f => versionOf(f.getName))
      .filter(v => java.nio.file.Files.exists(commitMarkPath(dir, v)))
      .foldLeft(-1)(math.max)
    math.max(hint, committed)
  }

  /** Oldest RETAINED version that is actually READABLE — the smallest
    * committed MATERIALIZED version (a delta/DV/rename commit below the
    * oldest surviving base is still marked committed after a [[vacuum]]
    * but cannot be resolved); -1 for an empty dir. The unbounded-CDC
    * lower bound: pinning reads to a hard 0 (or to a merely-committed
    * version) would fail forever once retention removed its base.
    */
  def oldestReadable(dir: String): Int = {
    val vs = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .flatMap(f => versionOf(f.getName))
      .filter(v => isCommitted(dir, v) && !isDvVersion(dir, v) &&
        !isAddVersion(dir, v) && !isMetaVersion(dir, v))
    if (vs.isEmpty) -1 else vs.min
  }

  /** Write `df` as the next version; returns its number. Cross-process
    * safe without any lock or transaction log:
    *
    *  1. the writer CLAIMS a number by exclusively creating `v<N>._claim`
    *     ([[MetaFiles.createExclusive]], O_EXCL); a loser that
    *     raced to the same number retries at N+1, so two committers can
    *     never write the same version dir;
    *  2. the version dir is written in full, then `v<N>._commit` is
    *     created — the durable commit record [[latest]] derives from;
    *  3. the `_latest` hint swaps by [[MetaFiles.writeAtomic]], so a reader
    *     never sees a half-written pointer. Concurrent commits can leave
    *     the hint one step behind the true max for an instant; [[latest]]
    *     takes the max of hint and commit marks, so reads stay monotonic.
    *
    * A crash between claim and commit leaves a numbered hole: the claim
    * makes later writers skip the number, no `_commit` mark means readers
    * skip it too — exactly the aborted-transaction slot of a real log.
    *
    * Claim-serialized: a claim-FREE snapshot commit racing a
    * claim-holding COW rewrite (SQL UPDATE/MERGE) could be buried by the
    * rewrite's adoption — the rewrite's tip-unmoved check passes before
    * this seal lands, yet this snapshot "wins" a number below it, an
    * outcome no serial order produces (the same anomaly the SQL
    * TRUNCATE/INSERT OVERWRITE paths take the claim for). Version-NUMBER
    * uniqueness still comes from the O_EXCL claim files alone; the
    * mutator claim adds statement-level serializability. Re-entrant, so
    * the many claim-holding callers (upsert/restore/compact/SQL DML)
    * nest unchanged.
    */
  def commit(df: DataFrame, dir: String): Int =
    commitVersion(dir)(v => df.write.mode("overwrite").parquet(s"$dir/v$v"))

  /** Steps 1–3 above, claim-held — every version-creating commit goes
    * through here: claim the next free number, let `write` fill that
    * version, then SEAL it — the durable commit mark plus the best-effort
    * `_latest` hint. The mark carries the commit's wall-clock epoch-millis,
    * the record [[versionAtTime]] resolves `timestampAsOf` reads against;
    * readers that only care about existence ([[isCommitted]]) never parse
    * it. Returns the version.
    */
  private def commitVersion(dir: String)(write: Int => Unit): Int =
    withMutateClaim(dir) {
      var v = latest(dir) + 1
      while (!MetaFiles.createExclusive(claimPath(dir, v))) v += 1
      write(v)
      val mark = commitMarkPath(dir, v)
      if (!MetaFiles.createExclusive(mark, System.currentTimeMillis().toString))
        throw new java.nio.file.FileAlreadyExistsException(mark.toString)
      MetaFiles.writeAtomic(markerPath(dir), v.toString)
      v
    }

  /** Commit a metadata-only version: claim the next number, write one
    * sidecar (`at(dir, v)`) into its otherwise empty dir, seal. Returns
    * the version.
    */
  private def commitMetaOnly(dir: String,
      at: (String, Int) => java.nio.file.Path, body: String): Int =
    commitVersion(dir) { v =>
      val p = at(dir, v)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, body)
    }

  /** Retention: physically remove versions (and their claim/commit marks)
    * older than the newest `keepLast` (never the served latest). Time
    * travel to a vacuumed version stops working — exactly the lakehouse
    * VACUUM contract, where retention bounds history, not correctness of
    * retained reads.
    *
    * Chain-aware: when the latest version is a deletion-vector or append
    * (delta) commit, its nearest materialized BASE and every chain link
    * above it must survive regardless of `keepLast` — removing the base
    * would break the read of the version being served, not just history.
    * The cut is clamped to that base, so retention can only ever shorten
    * resolvable-but-old history, never the live chain.
    */
  def vacuum(dir: String, keepLast: Int): Unit = withMutateClaim(dir) {
    val tip = latest(dir)
    val liveBase = (tip to 0 by -1)
      .find(w => isCommitted(dir, w) && !isDvVersion(dir, w) &&
        !isAddVersion(dir, w) && !isMetaVersion(dir, w))
      .getOrElse(0)
    // tagged snapshots pin retention: the cut never severs the chain
    // base any tag resolves through (drop the tag to release the pin)
    val tagFloor = tags(dir).values
      .flatMap(t => materializedBaseAt(dir, t))
      .reduceOption(_ min _).getOrElse(Int.MaxValue)
    val cut = math.min(
      math.min(tip - math.max(1, keepLast) + 1, liveBase), tagFloor)
    // commit marks go first: a crash mid-cut then leaves uncommitted
    // debris, never a committed version whose data is gone
    Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => versionOf(f.getName).exists(_ < cut))
      .sortBy(f => !f.getName.endsWith("._commit"))
      .foreach(rmTree)
    // sweep ORPHANED DML temp dirs: a row-level operation's write
    // commit/abort deletes its own `.rowlevel-scan-*`/`.staging-*` dirs,
    // but a plan that was built and never executed (EXPLAIN, an analyzed-
    // then-dropped DataFrame) has no terminal callback — its temp dir
    // leaks until vacuum. Age-gated by [[tempSweepAgeMs]] (24 h default)
    // on the NEWEST mtime anywhere inside the dir, not the dir inode's:
    // executor writers keep creating/finalizing files while a long DML
    // statement runs, so an actively-written staging dir never reads as
    // orphaned even when the statement outlives the threshold (only a
    // statement that writes NOTHING for a full threshold while a vacuum
    // runs concurrently could still lose its files — loudly, at the
    // adoption move).
    val now = System.currentTimeMillis()
    def newestMtime(f: java.io.File): Long =
      (f.lastModified() +: Option(f.listFiles())
        .getOrElse(Array.empty[java.io.File]).map(newestMtime).toSeq).max
    Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter { f =>
        (f.getName.startsWith(".rowlevel-scan-") ||
          f.getName.startsWith(".staging-")) &&
          now - newestMtime(f) > tempSweepAgeMs
      }
      .foreach(rmTree)
  }

  /** Minimum age before [[vacuum]] sweeps an orphaned DML temp dir. */
  private[graft] var tempSweepAgeMs: Long = 24L * 60 * 60 * 1000

  /** Recursive local delete (shared by vacuum, drop, staging cleanup). */
  private[graft] def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
      .foreach(rmTree)
    f.delete(); ()
  }

  /** Approximate on-disk bytes of the chain serving version `v`: the
    * nearest materialized base (clone pointers resolve into their
    * source) plus every append delta in `(base, v]` — a driver-side
    * file-length listing, no footers opened, no jobs. DV deletions are
    * NOT subtracted (this is an upper bound), which is the conservative
    * direction for its consumer: the v1 relation's `sizeInBytes`, where
    * an over-estimate can only withhold a broadcast, never cause an OOM
    * one.
    */
  private[graft] def approxDataBytes(dir: String, v: Int): Long = {
    def bytesUnder(path: String): Long = {
      def walk(f: java.io.File): Long =
        if (!f.exists()) 0L
        else if (f.isFile) {
          val n = f.getName
          if ((n.startsWith("_") && !n.contains("=")) || n.startsWith("."))
            0L
          else f.length()
        } else Option(f.listFiles())
          .getOrElse(Array.empty[java.io.File])
          .filter { c =>
            val n = c.getName
            !((n.startsWith("_") && !n.contains("=")) || n.startsWith("."))
          }
          .map(walk).sum
      walk(new java.io.File(path))
    }
    val base = (v to 0 by -1)
      .find(w => isCommitted(dir, w) && !isDvVersion(dir, w) &&
        !isAddVersion(dir, w) && !isMetaVersion(dir, w))
      .getOrElse(return 0L)
    val baseBytes =
      if (isCloneVersion(dir, base)) {
        val ref = java.nio.file.Files.readString(clonePath(dir, base))
          .split("\n", 2)
        approxDataBytes(ref(0).trim, ref(1).trim.toInt)
      } else if (java.nio.file.Files.exists(manifestPath(dir, base)))
        // only the partitions the manifest still assigns to each owner —
        // an owner's data dir also holds partitions SUPERSEDED by later
        // upserts, and counting those would inflate the estimate past
        // the broadcast threshold this feature exists to clear
        manifest(dir, base).groupBy(_._2).toSeq.map { case (o, ps) =>
          val partCol = firstPartCol(dir, o)
          // manifest keys are TRUE values — re-escape to the on-disk dir
          // spelling (an escaped-value path miss would read 0 bytes and
          // under-size the relation, the broadcast-OOM direction)
          ps.keys.map(p =>
            bytesUnder(s"$dir/v$o/data/$partCol=${encPart(p)}")).sum
        }.sum
      else bytesUnder(s"$dir/v$base")
    baseBytes + ((base + 1) to v)
      .filter(w => isCommitted(dir, w) && isAddVersion(dir, w))
      .map(w => bytesUnder(addPath(dir, w))).sum
  }

  /** Time travel: the table exactly as of version `v`. */
  def readAt(s: SparkSession, dir: String, v: Int): DataFrame =
    s.read.parquet(s"$dir/v$v")

  /** The latest snapshot, chain-resolved (identical to [[readAt]] for a
    * flat materialized tip; resolves DV/append/rename/clone tips).
    */
  def readLatest(s: SparkSession, dir: String): DataFrame =
    readAtDv(s, dir, latest(dir))

  // ---- timestamp-based time travel --------------------------------------

  /** Version `v`'s commit wall-clock (epoch millis), recorded in its
    * commit mark by [[commitVersion]]. None for an uncommitted version or a mark
    * predating timestamp recording (an empty legacy mark file).
    */
  def commitTimeOf(dir: String, v: Int): Option[Long] = {
    val p = commitMarkPath(dir, v)
    if (!java.nio.file.Files.exists(p)) None
    else java.nio.file.Files.readString(p).trim.toLongOption
  }

  /** `TIMESTAMP AS OF` resolution: the newest committed version whose
    * commit time is ≤ `tsMillis` — the Delta/Iceberg timestamp-travel
    * contract. Versions without a recorded time (legacy empty marks) are
    * treated as older than any timestamp, so travel into a partially
    * legacy history resolves to the newest legacy version rather than
    * failing. Errors when `tsMillis` predates the whole history (nothing
    * existed yet — the standard loud failure, matching Delta). Commit
    * times come from each committer's wall clock; [[latest]]-monotonic
    * version ORDER is what the resolution scans, so clock skew between
    * committers can only shift which boundary version a mid-skew
    * timestamp lands on, never un-order history.
    */
  def versionAtTime(dir: String, tsMillis: Long): Int = {
    val tip = latest(dir)
    val v = (tip to 0 by -1).find(w => isCommitted(dir, w) &&
      commitTimeOf(dir, w).forall(_ <= tsMillis))
    v.getOrElse(sys.error(s"versionAtTime: $tsMillis predates the first " +
      s"committed version of $dir"))
  }

  /** Time travel by wall clock: the chain-resolved table as of the newest
    * version committed at or before `tsMillis`.
    */
  def readAtTimestamp(s: SparkSession, dir: String, tsMillis: Long): DataFrame =
    readAtDv(s, dir, versionAtTime(dir, tsMillis))

  /** Guard for snapshot-deriving mutations: a materialized commit built
    * from a NON-chain-resolved read of a history whose tip is a DV or
    * append (delta) version would silently resurrect the deleted keys /
    * drop the appended rows (the E122/E148 interleave contract). Fail
    * loudly with the remedy instead of producing a wrong table. Returns
    * the latest version for the caller's read.
    */
  private def requireMaterializedTip(dir: String, op: String): Int = {
    val v = latest(dir)
    require(v >= 0, s"$op: no committed versions in $dir")
    require(!isDvVersion(dir, v) && !isAddVersion(dir, v),
      s"$op: the latest version v$v of $dir is a " +
        s"${if (isDvVersion(dir, v)) "deletion-vector" else "append (delta)"}" +
        " commit; a snapshot-deriving mutation over a live DV/append " +
        "chain would resurrect deleted keys or drop appended rows — run " +
        "compactDv first, or use deleteWhereDv/appendRows/readAtDv for " +
        "chain-aware operations")
    v
  }

  /** MERGE the updates into the latest snapshot and commit the result.
    * The tip read resolves through [[readAtDv]] — identical to [[readAt]]
    * for a flat materialized tip (no chain in range) and the resolution a
    * shallow-clone pointer tip needs.
    */
  def upsert(s: SparkSession, dir: String, updates: DataFrame,
      key: String): Int = withMutateClaim(dir) {
    val v = requireMaterializedTip(dir, "upsert")
    commit(Lake.mergeUpsert(readAtDv(s, dir, v), updates, key), dir)
  }

  /** Commit a new version without the rows matching `cond` (tip read is
    * chain/clone-aware, see [[upsert]]).
    */
  def deleteWhere(s: SparkSession, dir: String, cond: Column): Int =
    withMutateClaim(dir) {
      val v = requireMaterializedTip(dir, "deleteWhere")
      commit(readAtDv(s, dir, v).filter(!cond), dir)
    }

  /** CDC between two retained versions: [[Lake.snapshotDiff]] over their
    * snapshots — added/removed/changed keys only. Endpoints resolve
    * through [[readAtDv]], which serves flat, partition-manifest, and
    * DV-tip versions uniformly (for a materialized flat version it is
    * exactly [[readAt]] — no DVs in range — so plain histories are
    * unchanged; a DV endpoint diffs the DV-RESOLVED snapshot, so deletes
    * arrive as "removed" rows instead of failing the read).
    */
  def changes(s: SparkSession, dir: String, v0: Int, v1: Int, key: String,
      compareCols: Seq[String]): DataFrame =
    Lake.snapshotDiff(readAtDv(s, dir, v0), readAtDv(s, dir, v1), key,
      compareCols)

  /** The change-feed directory: one parquet file set per CDC-enabled
    * commit, appended at commit time.
    */
  def cdcDir(dir: String): String = s"$dir/_cdc"

  /** Commit `df` AND materialize its change rows (vs the previous
    * committed version) into [[cdcDir]], tagged `commit_version` — the
    * write-side half of the streaming change feed. Returns the version.
    *
    * Scale shape: the CDC file carries only changed keys, not the
    * snapshot, so the feed grows with churn, not table size — the same
    * contract real lakehouse change feeds ship. The append is one new
    * part-file set per commit (racing writers use distinct file names, so
    * nothing clobbers), but per-commit deltas only telescope when each
    * CDC commit diffs its immediate predecessor — run ONE CDC writer per
    * table (the usual change-feed posture); raw [[commit]]s from other
    * processes stay safe because version claims are exclusive.
    */
  def commitCdc(s: SparkSession, df: DataFrame, dir: String, key: String,
      compareCols: Seq[String]): Int = {
    val prev = latest(dir)
    val v = commit(df, dir)
    val delta =
      if (prev < 0) // first commit: every row arrives as "added"
        Lake.snapshotDiff(readAt(s, dir, v).limit(0), readAt(s, dir, v),
          key, compareCols)
      else changes(s, dir, prev, v, key, compareCols)
    delta.withColumn("commit_version", lit(v))
      .write.mode("append").parquet(cdcDir(dir))
    v
  }

  /** The streaming half: replay the change feed with Spark's file
    * streaming source — every [[commitCdc]] lands as new files under
    * [[cdcDir]] and arrives as its own micro-batch, so a running query
    * sees each commit's added/removed/changed rows in commit order with
    * no custom Source and no driver-side state. `schema` is the CDC row
    * schema for this table's (key, compareCols) — file streams require
    * one up front; take it from a batch [[changes]] call.
    */
  def cdcStream(s: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.readStream.schema(schema).parquet(cdcDir(dir))

  // ---- partition-manifest commits (copy-on-write at partition level) -----
  //
  // The 100 TB shape the row-level [[commit]] documents: a version is a
  // MANIFEST (partition value → the version whose dir holds that
  // partition's current files) plus data dirs for ONLY the partitions the
  // commit touched. An upsert that lands in one date partition writes one
  // partition, not the table; unaffected partitions are served from the
  // older version dirs the manifest points at. The manifest itself is
  // metadata-scale (one line per live partition — exactly what Iceberg/
  // Delta keep driver-side), written atomically inside the version dir
  // before the commit mark, so the claim/seal crash semantics above apply
  // unchanged and partitioned + row-level commits share one version
  // counter. Readers union one pruned scan per REFERENCED version;
  // [[compactPartitioned]] bounds that width by rewriting everything
  // forward (the lakehouse OPTIMIZE posture).
  //
  // PRECONDITION (documented, standard for date/segment-partitioned
  // facts): an upsert never moves an existing key across partitions —
  // moves would require rewriting the source partition too.

  private def manifestPath(dir: String, v: Int) =
    java.nio.file.Paths.get(dir, s"v$v", "_manifest")

  /** Hive's null-partition sentinel. In-memory partition keys throughout
    * this tier are TRUE column values — a NULL partition value is
    * represented by this sentinel (exactly what a hive-layout dir listing
    * yields for it) and read back as `col IS NULL`, so rows whose
    * partition value is NULL survive every read path. The sidecar files
    * (`_manifest`/`_stats`/`_stats2`/`_rows`/`_bloom`) store the ESCAPED
    * dir spelling ([[encPart]] — identical to the hive dir name Spark
    * writes), which keeps their tab-separated format safe for values
    * containing tabs/newlines/specials; [[decPart]] restores the true
    * value on read. (A genuine string value equal to the sentinel is
    * conflated with NULL — the same ambiguity Spark's own partition
    * discovery has.)
    */
  private[graft] val NullPart = "__HIVE_DEFAULT_PARTITION__"

  private def encPart(p: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(p)

  private def decPart(p: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(p)

  /** The hive dir names under `$dir/v$v/data` for `partCol`, decoded to
    * TRUE partition values (NULL partition → [[NullPart]]).
    */
  private def dataDirPartValues(dir: String, v: Int,
      partCol: String): Array[String] =
    Option(new java.io.File(s"$dir/v$v/data").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith(s"$partCol="))
      .map(f => decPart(f.getName.stripPrefix(s"$partCol=")))

  /** The read-side filter admitting exactly the partitions in `keys` —
    * the [[NullPart]] sentinel binds as `IS NULL` (an `isin` literal
    * could never match it), everything else as a plain `IN`.
    */
  private def partFilter(partCol: String, keys: Seq[String]): Column = {
    val (nulls, vals) = keys.partition(_ == NullPart)
    val in = if (vals.nonEmpty) Some(col(partCol).isin(vals: _*)) else None
    val nul = if (nulls.nonEmpty) Some(col(partCol).isNull) else None
    (in, nul) match {
      case (Some(a), Some(b)) => a || b
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case _ => lit(false)
    }
  }

  /** The manifest of version `v`: TRUE partition value → owning version. */
  def manifest(dir: String, v: Int): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(manifestPath(dir, v)).asScala
      .filter(_.nonEmpty)
      .map { l =>
        val t = l.lastIndexOf('\t')
        decPart(l.substring(0, t)) -> l.substring(t + 1).toInt
      }.toMap
  }

  private def writeManifest(dir: String, v: Int, m: Map[String, Int]): Unit = {
    val body = m.toSeq.sorted.map { case (p, o) => s"${encPart(p)}\t$o" }
      .mkString("\n")
    java.nio.file.Files.writeString(manifestPath(dir, v), body)
    ()
  }

  /** Hash-cluster rows to their partition value ahead of a
    * `partitionBy` write, PINNING the exchange at the session's
    * configured shuffle parallelism. The count matters: a bare
    * `repartition(col)` participates in AQE partition coalescing, and a
    * small-but-many-partition-VALUES batch (the planted bench tables:
    * ~300 KB across 150 hive dirs) coalesces to ONE task that opens and
    * closes every parquet writer sequentially — measured 2.5-6 s for a
    * write whose pinned spelling takes ~1 s (guide §2.4/§6: writer-open
    * overhead, not bytes, dominates many-small-partition writes). The
    * explicit count is the session's `spark.sql.shuffle.partitions` —
    * scale-parameterised, not a local constant — and the FILE layout is
    * unchanged either way: each partition value hashes to exactly one
    * task, so each hive dir still gets exactly one file.
    */
  private def clusterForWrite(df: DataFrame, partCol: String): DataFrame =
    df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, col(partCol))

  /** Initial (or full-rewrite) partitioned commit: every partition of
    * `df` is written under this version and the manifest points them all
    * here. Returns the version. Claim-serialized for the same reason
    * [[commit]] is: a claim-free full-state seal racing a claim-holding
    * tip-deriving mutator (`upsertPartitioned` read the manifest at the
    * old tip) would be silently shadowed by the mutator's later seal —
    * the buried-snapshot anomaly, on the partitioned surface.
    */
  def commitPartitioned(df: DataFrame, dir: String,
      partCol: String): Int = commitVersion(dir) { v =>
    // cluster rows to their partition before the write: each hive dir gets
    // one file instead of one per producing task — the small-file posture
    // a 100 TB partitioned commit needs
    clusterForWrite(df, partCol)
      .write.partitionBy(partCol).mode("overwrite").parquet(s"$dir/v$v/data")
    val parts = dataDirPartValues(dir, v, partCol)
    writeManifest(dir, v, parts.map(_ -> v).toMap)
  }

  /** The table as of version `v`: one partition-pruned scan per version
    * the manifest references, unioned. Partition pruning happens at the
    * source (the `isin` filter binds the Hive-style partition column), so
    * a version that owns 3 of 10 000 partitions contributes a 3-dir scan.
    */
  def readPartitionedAt(s: SparkSession, dir: String, v: Int): DataFrame =
    readManifestSubset(s, dir, v, manifest(dir, v))

  /** One pruned scan per owning version over `kept` (partition → owner),
    * unioned — the shared read core of [[readPartitionedAt]] and both
    * zone-map-pruned readers. All partitions pruned → an empty frame in
    * the table's schema.
    */
  private def readManifestSubset(s: SparkSession, dir: String, v: Int,
      kept: Map[String, Int]): DataFrame =
    kept.groupBy(_._2).toSeq.sortBy(_._1).map { case (owner, ps) =>
      val partCol = firstPartCol(dir, owner)
      val base = s"$dir/v$owner/data"
      // Manifest-driven planning (guide §6 — "manifest metadata avoids
      // directory listing altogether"): the manifest already names every
      // admitted partition, and [[encPart]] is the SAME escaping Spark
      // used to write the hive dir, so a NARROW read lists ONLY the
      // admitted dirs as explicit paths under `basePath` instead of
      // listing the whole data dir and filtering — a read over a
      // 10 000-partition table that admits 3 partitions touches 3 dirs,
      // and at the local bench this drops the per-read parallel-listing
      // Spark job (~0.2 s each; the pruned q_lake_skipping/zorder/bloom
      // reads paid it every consume). The cutoff is Spark's own
      // parallel-listing threshold: ABOVE it Spark would launch a
      // listing job over the explicit roots with per-root overhead
      // (measured 1.4 s for 80 roots vs 0.3 s for one recursive base
      // listing — full reads got slower, not faster), so wide/full
      // reads keep the single base-dir scan. The partFilter stays as
      // the residual either way: it carries the NULL-sentinel IS NULL
      // binding, and partition-value inference over a narrowed dir set
      // can only narrow the partition column's TYPE (callers drop or
      // cast it — hidden reads drop `gpart`, declared queries cast the
      // partition column).
      val explicitCutoff = s.conf
        .get("spark.sql.sources.parallelPartitionDiscovery.threshold", "32")
        .toInt
      // Partition-column TYPE pinned to string on BOTH paths (ADVICE r14):
      // type inference over the NARROW dir set can disagree with the wide
      // base-dir read when the admitted subset is type-homogeneous but the
      // full partition set is mixed (subset {"01"} infers int while the
      // full set stays string) — partFilter's string literals would then
      // compare through an implicit cast ("01" → 1 admits partition "1")
      // and cross-owner unionByName would silently coerce the column.
      // With inference off, narrow and wide reads always agree, and
      // partFilter compares string-to-string. Callers already drop or
      // cast the partition column (hidden reads drop it; declared queries
      // cast), so results are unchanged — the oracle re-proves it.
      val read = noPartTypeInference(s) {
        if (ps.size <= explicitCutoff)
          s.read.option("basePath", base).parquet(
            ps.keys.toSeq.sorted.map(p => s"$base/$partCol=${encPart(p)}"): _*)
        else s.read.parquet(base)
      }
      read.filter(partFilter(partCol, ps.keys.toSeq))
    }.reduceOption(_ unionByName _)
      .getOrElse {
        val (_, o0) = manifest(dir, v).headOption
          .getOrElse(sys.error(s"empty manifest in $dir@v$v"))
        s.read.parquet(s"$dir/v$o0/data").limit(0)
      }

  /** Run `f` (a partitioned-dir `read.parquet` call, which resolves its
    * FileIndex and infers the partition spec eagerly) with partition-column
    * type inference OFF, restoring the previous session value after. The
    * toggle window covers only the eager resolution; the returned frame is
    * unaffected by later conf state. Plain-file reads that race into the
    * window have no partition dirs to infer, so they are unaffected.
    */
  private def noPartTypeInference(s: SparkSession)(f: => DataFrame): DataFrame = {
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "false")
    try f
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  private def firstPartCol(dir: String, v: Int): String =
    Option(new java.io.File(s"$dir/v$v/data").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .collectFirst { case f if f.isDirectory && f.getName.contains("=") =>
        f.getName.takeWhile(_ != '=') }
      .getOrElse(sys.error(s"no partition dirs under $dir/v$v/data"))

  /** Copy-on-write MERGE: only the partitions present in `updates` are
    * read, merged ([[Lake.mergeUpsert]] — duplicate-key raise preserved)
    * and rewritten under the new version; every other partition's
    * manifest pointer carries over untouched. Commit cost is proportional
    * to the AFFECTED partitions, never the table. Returns the version.
    */
  def upsertPartitioned(s: SparkSession, dir: String, updates: DataFrame,
      key: String, partCol: String): Int = withMutateClaim(dir) {
    val cur = requireMaterializedTip(dir, "upsertPartitioned")
    val man = manifest(dir, cur)
    // metadata-scale driver list: one value per affected partition
    // (NULL partition value → the sentinel, matching the manifest keys)
    val affected = updates.select(col(partCol).cast("string"))
      .distinct().collect()
      .map(r => Option(r.getString(0)).getOrElse(NullPart))
    val oldAffected = man.filter(kv => affected.contains(kv._1))
      .groupBy(_._2).toSeq.sortBy(_._1).map { case (owner, ps) =>
        s.read.parquet(s"$dir/v$owner/data")
          .filter(partFilter(partCol, ps.keys.toSeq))
      }.reduceOption(_ unionByName _)
    val merged = oldAffected match {
      case Some(old) => Lake.mergeUpsert(old, updates.selectExpr(
        old.columns.map(c => s"`$c`"): _*), key)
      case None => updates
    }
    commitVersion(dir) { v =>
      clusterForWrite(merged, partCol).write.partitionBy(partCol)
        .mode("overwrite").parquet(s"$dir/v$v/data")
      val newParts = dataDirPartValues(dir, v, partCol)
      writeManifest(dir, v, man ++ newParts.map(_ -> v).toMap)
    }
  }

  /** OPTIMIZE: rewrite every live partition into one fresh version so
    * reads stop unioning across history; after [[vacuum]], old version
    * dirs can go. Returns the version.
    */
  def compactPartitioned(s: SparkSession, dir: String, partCol: String): Int =
    withMutateClaim(dir) {
      commitPartitioned(readPartitionedAt(s, dir,
        requireMaterializedTip(dir, "compactPartitioned")), dir, partCol)
    }

  /** DESCRIBE HISTORY: one row per committed version — (version, kind,
    * n_rows), where `kind` classifies the commit (snapshot /
    * partitioned / dv / append / rename / clone) and `n_rows` counts the
    * version's OWN payload: snapshot or partition rows written, DV keys,
    * appended rows; 0 for the metadata-only kinds. Payload counts are
    * DIRECT parquet-footer reads on the driver ([[footerRowCount]]) —
    * zero Spark jobs at any history length, where a per-version
    * `read.parquet(...).count()` would launch one driver-blocking job
    * per commit (the per-commit-linear shape the append-chain scan
    * coalescing killed on the read path; a 10k-commit ingest chain would
    * mean 10k sequential jobs). Wall-clock commit times are available
    * separately via [[commitTimeOf]] (excluded here so the output stays
    * deterministic — the oracle-able slice of DESCRIBE HISTORY).
    */
  def history(s: SparkSession, dir: String): DataFrame = {
    val footers = new FooterReader(s)
    val rows = (0 to latest(dir)).filter(isCommitted(dir, _)).map { v =>
      val kind =
        if (isDvVersion(dir, v)) "dv"
        else if (isAddVersion(dir, v)) "append"
        else if (isRenameVersion(dir, v)) "rename"
        else if (isDropVersion(dir, v)) "drop"
        else if (isCloneVersion(dir, v)) "clone"
        else if (java.nio.file.Files.exists(manifestPath(dir, v)))
          "partitioned"
        else "snapshot"
      val n = kind match {
        case "dv" => footerRowCount(footers, dvPath(dir, v))
        case "append" => footerRowCount(footers, addPath(dir, v))
        case "rename" | "clone" => 0L
        case "partitioned" => footerRowCount(footers, s"$dir/v$v/data")
        case _ => footerRowCount(footers, s"$dir/v$v")
      }
      (v, kind, n)
    }
    s.createDataFrame(rows).toDF("version", "kind", "n_rows")
  }

  /** Total row count of every parquet file under `path`, summed from the
    * file FOOTERS on the driver (recursive Hadoop listing, so partition
    * subdirectories are included) — a metadata read per file, no Spark
    * job, no row materialization. The row-count sidecar posture applied
    * to history: cost ∝ number of files, never rows.
    */
  private def footerRowCount(footers: FooterReader, path: String): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(footers.conf)
    // manual recursion (not fs.listFiles(recursive)) so Spark's
    // hidden-path convention holds: `_`/`.`-prefixed entries (sidecars
    // like `_stats`/`_bloom`, `_SUCCESS`) are skipped exactly as the
    // DataFrame reader's FileIndex would skip them
    def walk(p: org.apache.hadoop.fs.Path): Long =
      fs.listStatus(p).iterator.map { st =>
        val name = st.getPath.getName
        // Spark keeps '_'-names CONTAINING '=' (partition dirs like
        // `_region=EU`); only bare '_'/'.' prefixes are hidden
        if ((name.startsWith("_") && !name.contains("=")) ||
            name.startsWith(".")) 0L
        else if (st.isDirectory) walk(st.getPath)
        else if (name.endsWith(".parquet"))
          footers(st.getPath)(_.getRecordCount)
        else 0L
      }.sum
    walk(root)
  }

  /** Driver-side parquet footer reads over the session's Hadoop
    * configuration, which is already loaded, with ONE set of read options
    * per instance. `ParquetFileReader.open(file)` without options builds
    * a fresh `Configuration` for every file, and each one re-parses
    * `core-default.xml` and scans the classpath for `*-site.xml`. Files
    * open through the configuration's own file system (the checksummed
    * local FS for plain paths), so `.crc` files are still verified.
    */
  private final class FooterReader(s: SparkSession) {
    val conf: org.apache.hadoop.conf.Configuration =
      s.sessionState.newHadoopConf()
    private val options =
      org.apache.parquet.HadoopReadOptions.builder(conf).build()

    def apply[A](file: org.apache.hadoop.fs.Path)(
        f: org.apache.parquet.hadoop.ParquetFileReader => A): A = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf),
        options)
      try f(r) finally r.close()
    }
  }

  /** Selective OPTIMIZE (manifest de-fragmentation — the Delta
    * `OPTIMIZE WHERE` posture): rewrite under ONE new version only the
    * partitions NOT owned by the manifest's majority owner; the majority
    * owner's partitions stay zero-copy. After a long upsert history the
    * read width (pruned scans unioned per owner version) collapses to 2
    * at a cost ∝ the scattered partitions — where [[compactPartitioned]]
    * rewrites the whole table. No-op (returns the tip) when the manifest
    * already has a single owner. Stats/bloom sidecars are NOT carried
    * (sidecars seal with their owning commit — E166's opt-in contract);
    * re-run a stats commit if stats-serving is needed on the new tip.
    */
  def optimizeScattered(s: SparkSession, dir: String): Int =
      withMutateClaim(dir) {
    val cur = requireMaterializedTip(dir, "optimizeScattered")
    require(java.nio.file.Files.exists(manifestPath(dir, cur)),
      s"optimizeScattered: v$cur of $dir is not a partitioned version")
    val man = manifest(dir, cur)
    val owners = man.groupBy(_._2)
    if (owners.size <= 1) cur
    else {
      // majority by partition count, version as the deterministic tie-break
      val majority = owners.maxBy { case (o, ps) => (ps.size, o) }._1
      val scattered = man.filter(_._2 != majority)
      val partCol = firstPartCol(dir, majority)
      val moved = readManifestSubset(s, dir, cur, scattered)
      commitVersion(dir) { v =>
        clusterForWrite(moved, partCol)
          .write.partitionBy(partCol).mode("overwrite")
          .parquet(s"$dir/v$v/data")
        writeManifest(dir, v,
          man.map { case (p, o) => p -> (if (o == majority) o else v) })
      }
    }
  }

  // ---- deletion-vector (merge-on-read) deletes ---------------------------
  //
  // [[deleteWhere]] is copy-on-write: the surviving table is rewritten in
  // full, so deleting 100 rows from a 100 TB table costs a table rewrite.
  // The merge-on-read shape real lakehouses ship (Delta deletion vectors,
  // Iceberg equality deletes) records only what DIED: a DV version dir
  // holds `_dv/` — a parquet of the deleted KEY values (equality deletes,
  // the engine-portable variant) — and no data files. Readers resolve the
  // nearest MATERIALIZED snapshot at or below the requested version —
  // row-level (flat parquet) or partitioned (`_manifest`-stitched via
  // [[readPartitionedAt]]) — and anti-join the union of every committed DV
  // in between; the DV sides are churn-sized, so the anti-join broadcasts.
  // Commit cost ∝ deleted rows, never table size; DV versions share the
  // claim/seal counter and the aborted-claim hole semantics apply
  // unchanged. Interleave contract: DVs apply ON TOP of the nearest
  // materialized base, so a LATER materialized commit starts a fresh base
  // and must itself be derived from the DV-resolved snapshot (what
  // [[compactDv]] does) — committing a snapshot read through
  // [[readAt]]/[[readPartitionedAt]] over a live DV chain would resurrect
  // the deleted keys. [[compactDv]] folds the accumulated DVs into a fresh
  // materialized snapshot (the OPTIMIZE posture), bounding the read-side
  // DV chain length.

  private def dvPath(dir: String, v: Int) = s"$dir/v$v/_dv"

  /** Is committed version `v` a deletion-vector commit (no data, only a
    * `_dv` key set)?
    */
  def isDvVersion(dir: String, v: Int): Boolean =
    new java.io.File(dvPath(dir, v)).isDirectory

  private[graft] def isCommitted(dir: String, v: Int): Boolean =
    java.nio.file.Files.exists(commitMarkPath(dir, v))

  /** Merge-on-read delete: write ONLY the keys of the latest logical
    * snapshot's rows matching `cond` as version N's deletion vector.
    * Chained DV deletes compose (each evaluates `cond` against the
    * DV-resolved snapshot). Returns the version.
    */
  def deleteWhereDv(s: SparkSession, dir: String, cond: Column,
      key: String): Int = withMutateClaim(dir) {
    val keys = readAtDv(s, dir, latest(dir)).filter(cond)
      .select(col(key)).distinct()
    commitVersion(dir)(v => keys.write.mode("overwrite").parquet(dvPath(dir, v)))
  }

  /** The table as of version `v` with the delta chain applied: the
    * nearest materialized snapshot at or below `v` — flat or partitioned
    * (a `_manifest`-bearing base stitches through [[readPartitionedAt]],
    * so the chain composes with partition-manifest commits) — folded
    * through every committed DV and append version of `(base, v]` IN
    * VERSION ORDER (a delete then an append of the same key must keep the
    * re-appended row, and vice versa). Consecutive DV runs collapse into
    * ONE broadcast hash anti-join against their (churn-sized) key union —
    * a pure-DV history plans exactly as before the append extension —
    * and each append run folds in as one `unionByName` with missing
    * columns null-padded (the schema-evolution contract, E149).
    * Pruning/pushdown on the base scan untouched.
    */
  /** Materialized version `v`'s own rows, manifest-aware and
    * clone-aware: a shallow-clone pointer recursively resolves the
    * recorded SOURCE snapshot through [[readAtDv]] (frozen at clone
    * time), a partitioned (`_manifest`-bearing) version stitches its
    * per-owner scans, a flat version is one parquet read. The
    * raw-version read shared by the chain fold below and the streaming
    * source's changes-from mode.
    */
  private[graft] def readPartitionedOrFlatAt(s: SparkSession, dir: String,
      v: Int): DataFrame =
    if (isCloneVersion(dir, v)) {
      val ref = java.nio.file.Files.readString(clonePath(dir, v))
        .split("\n", 2)
      readAtDv(s, ref(0).trim, ref(1).trim.toInt)
    } else if (java.nio.file.Files.exists(manifestPath(dir, v)))
      readPartitionedAt(s, dir, v)
    else readAt(s, dir, v)

  /** Nearest MATERIALIZED version at or below `v` (the chain fold's
    * base), or None for a chain with no base in range.
    */
  private[graft] def materializedBaseAt(dir: String, v: Int): Option[Int] =
    (v to 0 by -1)
      .find(w => isCommitted(dir, w) && !isDvVersion(dir, w) &&
        !isAddVersion(dir, w) && !isMetaVersion(dir, w))

  def readAtDv(s: SparkSession, dir: String, v: Int): DataFrame =
    readAtDvBase(s, dir, v, b => readPartitionedOrFlatAt(s, dir, b))

  /** [[readAtDv]] with a pluggable BASE reader: the hidden-partition
    * pruning path substitutes a partition-pruned scan of the same base
    * version (row-identical to the full base read composed with the
    * pruning predicate — see [[readPartitionedHiddenRange]]) and the
    * chain folds on top unchanged. `keepAdd` lets the append-skipping
    * path ([[graft.sources.AddSkip]]) drop whole append links whose
    * `_addstats` exclude the pushed predicate — sound because a
    * skipped link's rows would all fail the re-applied residual filter,
    * and removing rows from the fold can never affect OTHER rows (the
    * DV anti-joins remove per-key, independently).
    */
  private[graft] def readAtDvBase(s: SparkSession, dir: String, v: Int,
      baseReader: Int => DataFrame,
      keepAdd: Int => Boolean = _ => true): DataFrame = {
    val base = materializedBaseAt(dir, v)
      .getOrElse(sys.error(s"no materialized version at or below v$v in $dir"))
    val snap = baseReader(base)
    val chain = ((base + 1) to v).filter(w => isCommitted(dir, w))
    def antiJoin(acc: DataFrame, dvs: Seq[Int]): DataFrame =
      if (dvs.isEmpty) acc
      else {
        val d = dvs.map(w => s.read.parquet(dvPath(dir, w)))
          .reduce(_ unionByName _)
        // NULL-SAFE anti-join (<=>): a DV recording a NULL key must
        // remove the null-keyed row — plain equality never matches NULL,
        // so a SQL `DELETE WHERE k IS NULL` would commit a DV that
        // silently keeps the matched row while reporting success. Valid
        // under the key-uniqueness assertion (at most one null-keyed
        // row); still an equi-join shape, so the broadcast HASH anti-join
        // plan is unchanged.
        val k = d.columns.head
        val dd = broadcast(d.dropDuplicates(k))
        acc.join(dd, acc(k) <=> dd(k), "left_anti")
      }
    // Coalesce CONSECUTIVE append versions with identical column layout
    // (names + types; nullability ignored — parquet stores optional
    // either way) into ONE multi-path scan: a 10k-batch ingest chain of
    // stable schema folds to a single scan node instead of a 10k-deep
    // union tree (plan size ∝ schema-change/DV/rename boundaries, never
    // commit count — the log-checkpoint read posture). Schema equality is
    // decided from parquet footers, a driver-side metadata read per
    // version. Batching never crosses a DV or rename boundary, so fold
    // order is exactly the per-version fold's.
    val layoutCache =
      scala.collection.mutable.Map.empty[Int, Seq[(String, org.apache.spark.sql.types.DataType)]]
    def layoutOf(w: Int) = layoutCache.getOrElseUpdate(w,
      s.read.parquet(addPath(dir, w)).schema.map(f => (f.name, f.dataType)))
    def readAdds(ws: Seq[Int]): DataFrame =
      s.read.parquet(ws.map(w => addPath(dir, w)): _*)
    val (folded, pendingDvs, pendingAdds) =
      chain.foldLeft((snap, Seq.empty[Int], Seq.empty[Int])) {
        case ((acc, pend, adds), w) =>
          if (isDvVersion(dir, w)) {
            // an append batch is pinned BELOW the DVs that follow it
            val flushed = if (adds.isEmpty) acc
              else acc.unionByName(readAdds(adds), allowMissingColumns = true)
            (flushed, pend :+ w, Seq.empty)
          } else if (isAddVersion(dir, w)) {
            if (!keepAdd(w)) (acc, pend, adds)
            else if (adds.nonEmpty && layoutOf(adds.head) == layoutOf(w))
              (antiJoin(acc, pend), Seq.empty, adds :+ w)
            else {
              val flushed = if (adds.isEmpty) antiJoin(acc, pend)
                else antiJoin(acc, pend)
                  .unionByName(readAdds(adds), allowMissingColumns = true)
              (flushed, Seq.empty, Seq(w))
            }
          } else if (isRenameVersion(dir, w)) {
            // flush pending adds, then pending DVs: DV key columns were
            // recorded under the PRE-rename name this rename retires
            val withAdds = if (adds.isEmpty) acc
              else acc.unionByName(readAdds(adds), allowMissingColumns = true)
            val (from, to) = renameOf(dir, w)
            (antiJoin(withAdds, pend).withColumnRenamed(from, to),
              Seq.empty, Seq.empty)
          } else if (isDropVersion(dir, w)) {
            // same flush discipline as rename: pending DVs may key on the
            // very column this drop retires — they were recorded while it
            // lived, so they resolve before the projection removes it
            val withAdds = if (adds.isEmpty) acc
              else acc.unionByName(readAdds(adds), allowMissingColumns = true)
            (antiJoin(withAdds, pend).drop(dropOf(dir, w)),
              Seq.empty, Seq.empty)
          } else (acc, pend, adds) // unreachable: base is nearest materialized
      }
    val withAdds = if (pendingAdds.isEmpty) folded
      else folded.unionByName(readAdds(pendingAdds),
        allowMissingColumns = true)
    antiJoin(withAdds, pendingDvs)
  }

  /** Fold the DV/append chain into a fresh materialized snapshot
    * (OPTIMIZE). Returns the version.
    */
  def compactDv(s: SparkSession, dir: String): Int = withMutateClaim(dir) {
    commit(readAtDv(s, dir, latest(dir)), dir)
  }

  // ---- append (delta) commits + ingest ----------------------------------
  //
  // The additive mirror of deletion vectors: an append version dir holds
  // `_add/` — a parquet of ONLY the new rows — and no snapshot. Readers
  // fold the chain in version order on top of the nearest materialized
  // base ([[readAtDv]]), so commit cost is ∝ the appended batch, never
  // table size — the shape continuous ingest at 100 TB requires (the
  // row-level [[commit]] would rewrite the snapshot per batch). Appended
  // batches may WIDEN the schema (extra columns): the fold null-pads both
  // directions via `unionByName(allowMissingColumns)`, old versions keep
  // their own schema under time travel, and the resolved read serves the
  // union schema — engine-style additive schema evolution, with renames/
  // drops/type changes out of contract (they are a rewrite, not an
  // append). [[compactDv]] bounds chain length; [[vacuum]] never severs a
  // live chain (cut clamps to the tip's base).

  private[graft] def addPath(dir: String, v: Int) = s"$dir/v$v/_add"

  // ---- append-link column statistics (`_addstats`) -----------------------
  //
  // The Delta/Iceberg file-skipping posture applied to the APPEND CHAIN:
  // every delta commit carries a tiny sidecar of per-column (rows, nulls,
  // min, max) harvested DRIVER-SIDE from the parquet footers the write
  // already produced — zero extra executor passes, cost ∝ files in the
  // batch. Reads with pushed predicates then skip whole append links
  // whose stats exclude the predicate ([[graft.sources.AddSkip]]): a
  // month of streaming ingest between compactions becomes a 3-version
  // scan for a `ts > now-1h` query instead of a 2000-version union. Only
  // exact integer domains are recorded (footer int stats are never
  // truncated): plain integrals ('i'), DATE as epoch days ('d'),
  // UTC-adjusted INT64 timestamps normalized to micros ('t') — anything
  // else (strings, floats, INT96, NTZ) is absent from the sidecar and
  // the read side conservatively keeps the link. Skipping is an
  // OPTIMIZATION, never a correctness dependency: the v1 read contract
  // re-applies every filter above the scan, so a wrongly-kept link only
  // costs I/O, and a missing/failed sidecar (Try on both ends) just
  // disables skipping for that link.

  private def addStatsPath(dir: String, v: Int) =
    java.nio.file.Paths.get(dir, s"v$v", "_addstats")

  /** One tracked column's append-link stats: domain tag ('i' integral /
    * 'd' date-days / 't' timestamp-micros), row count, null count, and
    * min/max over the non-null values (None = entirely null).
    */
  private[graft] final case class AddColStats(tag: Char, rows: Long,
      nulls: Long, mm: Option[(Long, Long)])

  /** Harvest per-column stats from the parquet footers under `path`
    * (driver-side metadata reads — the files are the batch just staged;
    * cost ∝ files, each one footer read through one [[FooterReader]] on
    * the session's loaded configuration, with no configuration parse per
    * file).
    * Returns (all top-level column names in the batch's layout, tracked
    * column → stats). A column is dropped from tracking the moment any
    * block lacks exact stats for it; an unreadable file aborts the whole
    * harvest (caller treats None as "no sidecar").
    */
  private def harvestAddStats(s: SparkSession,
      path: String): Option[(Seq[String], Map[String, AddColStats])] =
    scala.util.Try {
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
      import org.apache.parquet.schema.LogicalTypeAnnotation
      import scala.jdk.CollectionConverters._
      val footers = new FooterReader(s)
      val files = Option(new java.io.File(path).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .sortBy(_.getName)
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[String, AddColStats]
      val untrackable = scala.collection.mutable.Set.empty[String]
      var names = Seq.empty[String]
      files.foreach { f =>
        footers(new org.apache.hadoop.fs.Path(f.getAbsolutePath)) { r =>
          val footer = r.getFooter
          val schemaNames = footer.getFileMetaData.getSchema.getFields
            .asScala.map(_.getName).toSeq
          if (names.isEmpty) names = schemaNames
          else if (names != schemaNames) sys.error("layout drift in batch")
          footer.getBlocks.asScala.foreach { block =>
            block.getColumns.asScala.foreach { cc =>
              val p = cc.getPath.toArray
              if (p.length == 1 && !untrackable.contains(p(0))) {
                val name = p(0)
                val pt = cc.getPrimitiveType
                // exact integer domains only; (tag, micros-normalizer)
                val tagged: Option[(Char, Long => Long)] =
                  (pt.getPrimitiveTypeName,
                    Option(pt.getLogicalTypeAnnotation)) match {
                    case (PrimitiveTypeName.INT32, None) =>
                      Some(('i', identity))
                    case (PrimitiveTypeName.INT64, None) =>
                      Some(('i', identity))
                    case (_, Some(a: LogicalTypeAnnotation
                        .IntLogicalTypeAnnotation)) if a.isSigned =>
                      Some(('i', identity))
                    case (PrimitiveTypeName.INT32, Some(
                        _: LogicalTypeAnnotation.DateLogicalTypeAnnotation))
                      => Some(('d', identity))
                    case (PrimitiveTypeName.INT64, Some(a: LogicalTypeAnnotation
                        .TimestampLogicalTypeAnnotation))
                        if a.isAdjustedToUTC =>
                      a.getUnit match {
                        case LogicalTypeAnnotation.TimeUnit.MICROS =>
                          Some(('t', identity))
                        case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                          Some(('t', (v: Long) => v * 1000L))
                        case _ => None
                      }
                    case _ => None
                  }
                val st = cc.getStatistics
                val ok = tagged.isDefined && st != null &&
                  !st.isEmpty && st.isNumNullsSet
                if (!ok) { untrackable += name; acc.remove(name) }
                else {
                  val (tag, norm) = tagged.get
                  val rows = block.getRowCount
                  val nulls = st.getNumNulls
                  val mm = if (!st.hasNonNullValue) None
                    else Some((norm(st.genericGetMin
                        .asInstanceOf[Number].longValue),
                      norm(st.genericGetMax
                        .asInstanceOf[Number].longValue)))
                  val merged = acc.get(name) match {
                    case None => AddColStats(tag, rows, nulls, mm)
                    case Some(prev) =>
                      if (prev.tag != tag) sys.error("tag drift")
                      AddColStats(tag, prev.rows + rows,
                        prev.nulls + nulls, (prev.mm, mm) match {
                          case (Some((a, b)), Some((c, d))) =>
                            Some((math.min(a, c), math.max(b, d)))
                          case (x, None) => x
                          case (None, y) => y
                        })
                  }
                  acc.update(name, merged)
                }
              }
            }
          }
        }
      }
      (names, acc.toMap)
    }.toOption

  /** Write version `v`'s `_addstats` sidecar from stats already
    * harvested ([[harvestAddStats]] runs on the STAGED dir, outside the
    * mutator claim — only this tiny file write happens inside it). A
    * `None` harvest writes nothing: the link just never skips.
    */
  private[graft] def writeAddStats(dir: String, v: Int,
      harvested: Option[(Seq[String], Map[String, AddColStats])]): Unit =
    harvested.foreach { case (names, stats) =>
      val head = s"#cols\t${names.map(encPart).mkString(",")}"
      val body = stats.toSeq.sortBy(_._1).map { case (c, st) =>
        val mm = st.mm.map { case (a, b) => s"$a\t$b" }.getOrElse("\t")
        s"${encPart(c)}\t${st.tag}\t${st.rows}\t${st.nulls}\t$mm"
      }
      java.nio.file.Files.writeString(addStatsPath(dir, v),
        (head +: body).mkString("\n"))
      ()
    }

  /** Version `v`'s append-link stats: (the batch's full column layout,
    * tracked column → stats), or None when `v` carries no sidecar (older
    * commits, failed harvests — the link is then never skipped).
    */
  private[graft] def addStats(
      dir: String, v: Int): Option[(Seq[String], Map[String, AddColStats])] =
    scala.util.Try {
      val p = addStatsPath(dir, v)
      if (!java.nio.file.Files.exists(p)) None
      else {
        import scala.jdk.CollectionConverters._
        val lines = java.nio.file.Files.readAllLines(p).asScala
          .filter(_.nonEmpty).toSeq
        val names = lines.head.stripPrefix("#cols\t").split(',')
          .filter(_.nonEmpty).map(decPart).toSeq
        val stats = lines.tail.map { l =>
          val f = l.split("\t", -1)
          val mm = if (f(4).nonEmpty) Some((f(4).toLong, f(5).toLong))
            else None
          decPart(f(0)) -> AddColStats(f(1).head, f(2).toLong,
            f(3).toLong, mm)
        }.toMap
        Some((names, stats))
      }
    }.toOption.flatten

  /** Is committed version `v` an append (delta) commit (no snapshot, only
    * an `_add` row set)?
    */
  def isAddVersion(dir: String, v: Int): Boolean =
    new java.io.File(addPath(dir, v)).isDirectory

  /** Append-only commit: write ONLY `df`'s rows as version N's delta.
    * Cost ∝ batch; the first version of a table must be a [[commit]]
    * (there is no base to append onto). Returns the version.
    *
    * Concurrency shape: the batch parquet WRITE stages OUTSIDE the
    * mutator claim (concurrent appenders overlap their I/O — the ingest
    * path stays parallel), and only the adoption — claim number, one
    * atomic rename, seal — serializes under it (microseconds). The seal
    * must be claim-held: a claim-FREE seal racing a claim-holding COW
    * rewrite can be silently buried — the rewrite pins tip v_N, a
    * not-yet-sealed append claims v_{N+1}, the rewrite's tip-unmoved
    * check passes (v_{N+1} unsealed), it seals v_{N+2} as a full
    * snapshot derived from v_N, and the append seals v_{N+1} BELOW the
    * new materialized base — reported success, rows unreachable. Under
    * the claim, the append's seal either lands before the rewrite's
    * check (which then aborts loudly) or after its seal (and folds on
    * top). No serial order loses rows.
    */
  def appendRows(df: DataFrame, dir: String): Int = {
    require(latest(dir) >= 0,
      s"appendRows: no committed versions in $dir — the initial version " +
        "must be a full commit")
    val staging = s"$dir/.staging-append-${java.util.UUID.randomUUID()}"
    df.write.mode("overwrite").parquet(staging)
    adoptStagedAppend(df.sparkSession, dir, staging)
  }

  // ---- staged commits (the DSv2 write path, graft.sources.GraftCatalog) --
  //
  // The SQL DML surface writes its parquet on the EXECUTORS through
  // Spark's own v2 parquet writer into a hidden `.staging-*` dir under
  // the table, then ADOPTS the finished directory as the next version by
  // one atomic driver-side rename — the claim/seal protocol applied to
  // files that already exist. EVERY adoption serializes under the
  // mutator claim — but only the adoption (claim number + rename + seal,
  // metadata-scale, microseconds): the batch-scale parquet staging stays
  // claim-free and concurrent. The invariant this buys (round 13): every
  // SEAL in the store happens claim-held, so a claim-holding COW
  // rewrite's tip-unmoved check is race-free — no writer can slip an
  // unsealed claimed version under the rewrite's new materialized base
  // and get buried (see [[appendRows]] for the interleaving). REPLACE
  // adoption additionally verifies the tip still equals the version the
  // operation's scan pinned (optimistic concurrency: a conflicting
  // commit fails the DML loudly instead of silently dropping it).

  /** The one staged-adoption sequence, claim-held: claim the next
    * number, move the finished `staged` dir into `v<N>` (or, as a delta,
    * into its `_add` link with the harvested footer stats beside it), run
    * `beforeSeal` for side-effects that must land before the commit mark,
    * seal. Returns the version.
    */
  private def adoptStaged(dir: String, staged: String, delta: Boolean,
      harvested: Option[(Seq[String], Map[String, AddColStats])] = None,
      beforeSeal: Int => Unit = _ => ()): Int = commitVersion(dir) { v =>
    val src = java.nio.file.Paths.get(staged)
    if (delta) {
      MetaFiles.moveAtomic(src, java.nio.file.Paths.get(addPath(dir, v)))
      writeAddStats(dir, v, harvested)
    } else MetaFiles.moveAtomic(src, java.nio.file.Paths.get(dir, s"v$v"))
    beforeSeal(v)
  }

  private[graft] def adoptStagedSnapshot(dir: String, staging: String): Int =
    adoptStaged(dir, staging, delta = false)

  private[graft] def adoptStagedAppend(s: SparkSession, dir: String,
      staging: String): Int = {
    // footer harvest runs on the staged files OUTSIDE the claim (the
    // claim window stays metadata-scale); only the sidecar write lands
    // inside, before the seal — sealed-together like every other sidecar
    val harvested = harvestAddStats(s, staging)
    withMutateClaim(dir) {
      require(latest(dir) >= 0,
        s"staged append: no committed versions in $dir — the initial " +
          "version must be a full commit")
      adoptStaged(dir, staging, delta = true, harvested)
    }
  }

  /** [[adoptStagedAppend]] with expectation gates (E192 — the
    * SQL-declared-ingest-gate half of [[commitExpect]]): rows of the
    * staged batch satisfying EVERY named predicate adopt as the delta
    * commit; the rest land in the committed version's own
    * `_quarantine` sidecar tagged with the violated gate names (NULL
    * counts as a violation). A fully-clean batch is detected with one
    * count scan and adopted by rename (no rewrite); a batch with
    * rejects pays one valid-rows rewrite + one quarantine write — both
    * batch-scale. An all-rejects batch still commits the (empty) delta,
    * so its quarantine rows have a committed version to hang off.
    * Quarantine lands BEFORE the seal, inside the claim — the same
    * crash-repair contract as the streaming gate.
    */
  private[graft] def adoptStagedAppendExpect(s: SparkSession, dir: String,
      staging: String, expectations: Seq[(String, Column)]): Int = {
    require(latest(dir) >= 0,
      s"gated staged append: no committed versions in $dir — the " +
        "initial version must be a full commit")
    val batch = s.read.parquet(staging)
    val (ok, viol) = gateCols(expectations)
    if (batch.filter(!ok).isEmpty) adoptStagedAppend(s, dir, staging)
    else {
      val valid = s"$dir/.staging-valid-${java.util.UUID.randomUUID()}"
      batch.filter(ok).write.mode("overwrite").parquet(valid)
      val harvested = harvestAddStats(s, valid)
      val v = adoptStaged(dir, valid, delta = true, harvested,
        v => batch.filter(!ok).withColumn("violations", viol)
          .withColumn("commit_version", lit(v))
          .write.mode("overwrite").parquet(quarantineDir(dir, v)))
      rmTree(new java.io.File(staging))
      v
    }
  }

  private[graft] def adoptStagedReplace(dir: String, staging: String,
      expectedTip: Int): Int = withMutateClaim(dir) {
    val tip = latest(dir)
    if (tip != expectedTip)
      sys.error(s"concurrent update on $dir: this row-level operation " +
        s"read v$expectedTip but the tip is now v$tip — another writer " +
        "committed in between; the operation was aborted, retry it " +
        "against the new tip")
    adoptStagedSnapshot(dir, staging)
  }

  /** RESTORE: materialize the chain-resolved snapshot as of `v` as the
    * next version — the roll-back-without-rewriting-history op (old
    * versions stay time-travelable; the restored state is simply the new
    * tip). Returns the version.
    */
  def restore(s: SparkSession, dir: String, v: Int): Int =
    withMutateClaim(dir) { commit(readAtDv(s, dir, v), dir) }

  // ---- named version tags (refs) -----------------------------------------
  //
  // The Iceberg tag / Delta named-snapshot posture: a TAG is a named,
  // movable pointer at a committed version — `VERSION AS OF 'stable'`
  // resolves through it, so reproducible reads ("the snapshot we trained
  // on") survive tip churn without anyone memorizing version numbers.
  // Tags live as one tiny file each under `_tags/` (value = the version
  // number), swapped by [[MetaFiles.writeAtomic]] so a reader never sees
  // a half-written pointer; re-tagging MOVES the name (last writer
  // wins — the Iceberg replace-tag semantic). Names must not look like
  // integers (those are plain version literals) and never collide with
  // version dirs (different namespace). [[vacuum]] clamps its cut to the
  // chain base of the OLDEST tagged version, so a tagged snapshot — and
  // the DV/append links that resolve it — always stays readable;
  // dropping the tag releases the retention pin.

  private def tagsDir(dir: String) = java.nio.file.Paths.get(dir, "_tags")

  private def checkTagName(name: String): String = {
    require(name.nonEmpty && !name.contains("/") && !name.contains("\\") &&
        !name.contains("\t") && !name.contains("\n") &&
        !name.startsWith(".") && name.toIntOption.isEmpty,
      s"bad tag name '$name': must be non-empty, no path separators or " +
        "control characters, not dot-prefixed, and not an integer " +
        "(integers are plain version literals)")
    name
  }

  /** Create or MOVE tag `name` to committed version `v`. Claim-held (as
    * is [[vacuum]]): a tag landing mid-vacuum could otherwise pass its
    * readability check against versions the concurrent cut is about to
    * remove — serialized, the tag either pins retention before the cut
    * is computed or fails loudly on the already-severed chain.
    */
  def tag(dir: String, name: String, v: Int): Unit = withMutateClaim(dir) {
    checkTagName(name)
    require(isCommitted(dir, v), s"tag '$name': v$v is not committed in $dir")
    require(materializedBaseAt(dir, v).isDefined,
      s"tag '$name': v$v has no readable chain base (vacuumed?)")
    java.nio.file.Files.createDirectories(tagsDir(dir))
    MetaFiles.writeAtomic(tagsDir(dir).resolve(name), v.toString)
  }

  /** Drop tag `name` (releases its retention pin). Returns the version
    * it pointed at, or None if absent.
    */
  def untag(dir: String, name: String): Option[Int] = {
    checkTagName(name)
    val v = tagVersion(dir, name)
    java.nio.file.Files.deleteIfExists(tagsDir(dir).resolve(name))
    v
  }

  /** The version tag `name` points at, if it exists. */
  def tagVersion(dir: String, name: String): Option[Int] =
    scala.util.Try(java.nio.file.Files.readString(
      tagsDir(dir).resolve(checkTagName(name))).trim.toInt).toOption

  /** All tags of `dir`: name → version. */
  def tags(dir: String): Map[String, Int] =
    Option(tagsDir(dir).toFile.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .flatMap(f => scala.util.Try(
        f.getName -> java.nio.file.Files.readString(f.toPath).trim.toInt)
        .toOption)
      .toMap

  // ---- shallow clone -----------------------------------------------------
  //
  // The zero-copy table fork (Delta SHALLOW CLONE / Iceberg snapshot-ref
  // posture): the clone's first version is a METADATA-ONLY pointer at the
  // source's chain-resolved snapshot — no data files move, so forking a
  // 100 TB table costs one tiny file. The clone then diverges freely:
  // DV deletes, appends, upserts, expectations all stack on top of the
  // pointer exactly as they would on a materialized base, and the source
  // never observes them. Reads resolve the pointer recursively through
  // [[readAtDv]] (so cloning a clone, or a source whose tip is itself a
  // DV/append chain, both work — the pointer records the RESOLVED source
  // version, freezing the clone against later source commits).
  //
  // Lifecycle contract (the documented Delta hazard, inherited): the
  // clone depends on the source RETAINING the pointed-to version — a
  // [[vacuum]] of the SOURCE below that version breaks the clone's reads
  // (loudly: the base resolution fails). [[compactDv]] on the clone
  // materializes the resolved snapshot and DETACHES it from the source;
  // partitioned mutations (`upsertPartitioned`/`compactPartitioned`)
  // require a manifest-bearing tip and thus a detach-then-repartition
  // first (they fail loudly on a pointer tip).

  private def clonePath(dir: String, v: Int) =
    java.nio.file.Paths.get(dir, s"v$v", "_clone")

  /** Is committed version `v` a shallow-clone pointer (no data, only a
    * `_clone` source reference)?
    */
  def isCloneVersion(dir: String, v: Int): Boolean =
    java.nio.file.Files.exists(clonePath(dir, v))

  /** Fork `srcDir`'s current chain-resolved snapshot into `dstDir` as a
    * metadata-only pointer version. Returns the clone's version number
    * (0 for a fresh destination — but any table may adopt a clone
    * pointer as its next version, which is the RESTORE-from-another-table
    * shape). Self-clones are rejected: a pointer into its own directory
    * at the current tip would recurse at read time.
    */
  def cloneShallow(s: SparkSession, srcDir: String, dstDir: String): Int = {
    val srcV = latest(srcDir)
    require(srcV >= 0, s"cloneShallow: no committed versions in $srcDir")
    val srcCanon = new java.io.File(srcDir).getCanonicalPath
    require(srcCanon != new java.io.File(dstDir).getCanonicalPath,
      "cloneShallow: source and destination are the same table")
    new java.io.File(dstDir).mkdirs()
    // destination-claim-serialized (metadata-only, so the hold is
    // microseconds): a claim-free pointer seal racing a claim-holding
    // COW rewrite of the DESTINATION would be silently buried by it
    commitMetaOnly(dstDir, clonePath, s"$srcCanon\n$srcV")
  }

  private def batchIdPath(dir: String, v: Int) =
    java.nio.file.Paths.get(dir, s"v$v", "_batchid")

  /** Exactly-once ingest primitive: append `df` tagged with the source's
    * replay token `batchId`, or do NOTHING if a committed version already
    * carries that token. Structured Streaming's `foreachBatch` re-runs a
    * batch with the same id after a crash — the scan over committed
    * `_batchid` markers (metadata-scale: one tiny file per version) makes
    * the retry a no-op, so the sink is idempotent and the stream
    * exactly-once end to end. A crash BETWEEN the data write and the seal
    * leaves an uncommitted claim hole whose marker [[latest]] ignores, so
    * the replay re-appends — at-least-once at the storage layer, exactly
    * once observably. On an empty table the first batch is the initial
    * full commit (parquet ignores the underscore-prefixed marker file).
    * Returns the committed version, or None for a replayed batch.
    */
  def appendBatchIdempotent(df: DataFrame, dir: String,
      batchId: Long, beforeSeal: Int => Unit = _ => ()): Option[Int] = {
    def seen(): Boolean = (0 to latest(dir)).exists { w =>
      isCommitted(dir, w) &&
        java.nio.file.Files.exists(batchIdPath(dir, w)) &&
        java.nio.file.Files.readString(batchIdPath(dir, w)).trim ==
          batchId.toString
    }
    if (seen()) None
    else {
      // stage OUTSIDE the claim (batch-scale I/O stays concurrent),
      // adopt + seal inside it (see [[appendRows]]); the snapshot-vs-
      // delta decision AND the batch-id dedup re-check run INSIDE the
      // claim — a stale empty-table read would adopt a second bootstrap
      // batch as a full snapshot and bury the first writer's rows, and
      // two concurrent replays of the SAME batch id (a zombie driver
      // next to its replacement) would otherwise both pass the early
      // check and commit the batch twice
      val staging = s"$dir/.staging-batch-${java.util.UUID.randomUUID()}"
      df.write.mode("overwrite").parquet(staging)
      val harvested = harvestAddStats(df.sparkSession, staging)
      withMutateClaim(dir) {
        if (seen()) { rmTree(new java.io.File(staging)); None }
        else Some(adoptStaged(dir, staging, delta = latest(dir) >= 0,
          harvested, { v =>
            java.nio.file.Files.writeString(batchIdPath(dir, v),
              batchId.toString)
            // side-effects that must be REPLAY-REPAIRABLE run before the
            // seal (the gated-ingest quarantine write into the version's
            // own dir): a crash after the seal would make the replay
            // short-circuit on the batch-id marker and never re-run them;
            // a crash BEFORE it leaves an uncommitted hole whose dir —
            // debris included — [[quarantine]] never reads and [[vacuum]]
            // removes.
            beforeSeal(v)
          }))
      }
    }
  }

  // ---- expectations (writer-side data-quality gates) ---------------------

  /** The quarantine sidecar OF ONE VERSION: rejected rows live inside
    * the version dir they were rejected from (`v<N>/_quarantine` —
    * parquet ignores underscore-prefixed subdirs, so snapshot reads are
    * untouched). Per-version placement is what makes the lifecycle
    * structural: a crashed gated-ingest attempt's debris sits in an
    * UNSEALED version dir that [[quarantine]] (committed versions only)
    * never reads and [[vacuum]] removes with the hole itself — a global
    * sidecar needed a claim-file-based hole filter that retention
    * silently invalidated (vacuum deletes old claim files, resurfacing
    * the debris as duplicates).
    */
  def quarantineDir(dir: String, v: Int): String = s"$dir/v$v/_quarantine"

  /** The one definition of gate semantics, shared by every expectation
    * path (batch [[commitExpect]], the SQL-declared
    * [[adoptStagedAppendExpect]], the streaming
    * `StreamOps.ingestExpectBatch`): `ok` = every named predicate holds,
    * with NULL counting as a violation (a constraint that cannot be
    * proven is not satisfied); `viol` = comma-joined names of the
    * violated gates.
    */
  private[graft] def gateCols(
      expectations: Seq[(String, Column)]): (Column, Column) = {
    require(expectations.nonEmpty, "expectation gates: none given")
    val ok = expectations.map { case (_, p) => coalesce(p, lit(false)) }
      .reduce(_ && _)
    val viol = concat_ws(",", expectations.map { case (n, p) =>
      when(!coalesce(p, lit(false)), lit(n)) }: _*)
    (ok, viol)
  }

  /** Expectation-gated commit (the lakehouse CHECK-constraint posture
    * with a quarantine instead of a failed transaction): rows satisfying
    * EVERY named predicate commit as the next version; the rest land in
    * [[quarantineDir]] with a comma-joined `violations` column naming
    * each failed expectation (a NULL predicate result counts as a
    * violation — a constraint that cannot be proven is not satisfied)
    * and the `commit_version` they were rejected from. Two scans of `df`
    * (valid + quarantine) — callers ingesting an expensive upstream
    * should persist it first. Returns the committed version.
    */
  def commitExpect(df: DataFrame, dir: String,
      expectations: Seq[(String, Column)]): Int = {
    val (ok, viol) = gateCols(expectations)
    // stage-then-adopt so the quarantine lands BEFORE the seal (the
    // shared gate invariant): sealed first, a crash between seal and
    // quarantine would silently lose the rejected rows — the version is
    // committed and the synchronous batch path has no replay to repair
    // it. Sealed last, the crash leaves an unsealed hole (the caller
    // sees the exception; the debris is invisible and vacuumed).
    val valid = s"$dir/.staging-expect-${java.util.UUID.randomUUID()}"
    df.filter(ok).write.mode("overwrite").parquet(valid)
    adoptStaged(dir, valid, delta = false, beforeSeal =
      v => df.filter(!ok).withColumn("violations", viol)
        .withColumn("commit_version", lit(v))
        .write.mode("overwrite").parquet(quarantineDir(dir, v)))
  }

  /** Every quarantined row of the table's RETAINED COMMITTED history —
    * the union of the per-version `_quarantine` sidecars. A crashed
    * gated-ingest attempt's debris lives in an unsealed version dir and
    * is structurally invisible here (and removed by [[vacuum]] with the
    * hole); vacuumed versions drop their quarantine rows with their
    * data, the retention contract. Fails loudly when nothing was ever
    * quarantined (no sidecar to infer a schema from).
    */
  def quarantine(s: SparkSession, dir: String): DataFrame = {
    val paths = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File]).toSeq
      .flatMap(f => versionOf(f.getName).map((f, _)))
      .filter { case (f, v) =>
        f.isDirectory && isCommitted(dir, v) &&
          new java.io.File(quarantineDir(dir, v)).isDirectory
      }
      .map { case (_, v) => quarantineDir(dir, v) }
      .sorted
    require(paths.nonEmpty,
      s"quarantine: no quarantined rows in any retained version of $dir")
    // mergeSchema: sidecars straddling an additive schema evolution carry
    // different column sets, and the default single-footer inference would
    // silently drop the wider versions' extra columns from the union
    s.read.option("mergeSchema", "true").parquet(paths: _*)
  }

  // ---- zone-map stats + partition skipping -------------------------------
  //
  // Partitioned versions can carry a `_stats` sidecar next to `_manifest`:
  // one line per written partition with the min/max of a LONG-valued stats
  // column — the zone map Iceberg/Delta keep per data file, at the
  // manifest's metadata scale (one line per partition). A range predicate
  // on the stats column then prunes whole partitions DRIVER-SIDE, before
  // any scan is planned: [[readPartitionedPruned]] consults the owning
  // version's zone map for every live partition and plans a scan over only
  // the partitions whose [min, max] intersects [lo, hi] (partitions with
  // no recorded stats stay in — skipping is an optimization, never a
  // filter). The residual row-level filter still applies, so the result
  // equals the unpruned filtered read exactly.

  private def statsPath(dir: String, v: Int) =
    java.nio.file.Paths.get(dir, s"v$v", "_stats")

  /** Version `v`'s zone map: partition value → (min, max) of its stats
    * column. Empty if `v` wrote no stats.
    */
  def zoneMap(dir: String, v: Int): Map[String, (Long, Long)] = {
    val p = statsPath(dir, v)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(p).asScala
        .filter(_.nonEmpty)
        .map { l =>
          val parts = l.split('\t')
          decPart(parts(0)) -> (parts(1).toLong, parts(2).toLong)
        }.toMap
    }
  }

  private def writeZoneMap(s: SparkSession, dir: String, v: Int,
      df: DataFrame, partCol: String, statsCol: String): Unit = {
    // metadata-scale collect: one row per written partition
    val rows = df.groupBy(col(partCol).cast("string").as("__p"))
      .agg(min(col(statsCol).cast("long")).as("__lo"),
        max(col(statsCol).cast("long")).as("__hi"))
      .collect()
      .map(r => (Option(r.getString(0)).getOrElse(NullPart),
        r.getLong(1), r.getLong(2)))
    val body = rows.sortBy(_._1)
      .map { case (p, lo, hi) => s"${encPart(p)}\t$lo\t$hi" }
      .mkString("\n")
    java.nio.file.Files.writeString(statsPath(dir, v), body)
    ()
  }

  /** [[commitPartitioned]] that also records the per-partition zone map
    * of `statsCol` (must cast to long). Returns the version.
    */
  def commitPartitionedStats(s: SparkSession, df: DataFrame, dir: String,
      partCol: String, statsCol: String): Int = {
    val v = commitPartitioned(df, dir, partCol)
    writeZoneMap(s, dir, v, df, partCol, statsCol)
    v
  }

  /** [[upsertPartitioned]] that refreshes the zone map for the rewritten
    * partitions (untouched partitions keep the stats in their owning
    * version dir — the reader resolves per-owner). Returns the version.
    */
  def upsertPartitionedStats(s: SparkSession, dir: String,
      updates: DataFrame, key: String, partCol: String,
      statsCol: String): Int = withMutateClaim(dir) {
    val v = upsertPartitioned(s, dir, updates, key, partCol)
    // the new version's data dir holds exactly the rewritten partitions,
    // hive-style — reading it back recovers partCol by partition inference
    writeZoneMap(s, dir, v, s.read.parquet(s"$dir/v$v/data"),
      partCol, statsCol)
    v
  }

  /** The live partitions of version `v` whose zone map admits
    * `[lo, hi]` on the stats column (no-stats partitions conservatively
    * kept), as partition value → owning version.
    */
  def prunedPartitions(dir: String, v: Int, lo: Long,
      hi: Long): Map[String, Int] = {
    val man = manifest(dir, v)
    val maps = scala.collection.mutable.Map.empty[Int, Map[String, (Long, Long)]]
    man.filter { case (p, owner) =>
      val zm = maps.getOrElseUpdate(owner, zoneMap(dir, owner))
      zm.get(p).forall { case (mn, mx) => mx >= lo && mn <= hi }
    }
  }

  /** Partition-skipping read: the table as of version `v` filtered to
    * `statsCol BETWEEN lo AND hi`, scanning ONLY the partitions whose
    * zone map intersects the range — row-identical to filtering the full
    * [[readPartitionedAt]] read, at the cost of the surviving partitions.
    */
  def readPartitionedPruned(s: SparkSession, dir: String, v: Int,
      statsCol: String, lo: Long, hi: Long): DataFrame =
    readManifestSubset(s, dir, v, prunedPartitions(dir, v, lo, hi))
      .filter(col(statsCol).cast("long").between(lo, hi))

  // ---- multi-column zone maps ($_stats2$) --------------------------------
  //
  // The `_stats` sidecar above tracks ONE long column; real pruning
  // predicates are conjunctive (date AND key). `_stats2` generalizes it:
  // one line per (partition, stats column) with min/max AND the null
  // count — still metadata-scale (partitions × a handful of columns).
  // Null counts matter for pruning: a partition whose column is ENTIRELY
  // null has no min/max, and since a range predicate can never match
  // null, such a partition is safely PRUNED — without the null count it
  // would have to be conservatively kept. Partitions with no recorded
  // stats for a predicate column stay in (skipping is an optimization,
  // never a filter); the residual row filter keeps results exact.

  private def stats2Path(dir: String, v: Int) =
    java.nio.file.Paths.get(dir, s"v$v", "_stats2")

  /** Version `v`'s multi-column zone map: partition value → stats column →
    * (min/max of its non-null values — None when all null, null count).
    * Empty if `v` wrote no multi-column stats.
    */
  def zoneMapMulti(dir: String,
      v: Int): Map[String, Map[String, (Option[(Long, Long)], Long)]] = {
    val p = stats2Path(dir, v)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(p).asScala
        .filter(_.nonEmpty)
        .map { l =>
          val f = l.split('\t')
          // part \t col \t nulls \t [min] \t [max]  (min/max absent = all null)
          val mm = if (f.length >= 5 && f(3).nonEmpty)
            Some((f(3).toLong, f(4).toLong)) else None
          (decPart(f(0)), f(1), (mm, f(2).toLong))
        }
        .groupBy(_._1)
        .map { case (part, rows) =>
          part -> rows.map(r => r._2 -> r._3).toMap
        }.toMap
    }
  }

  private def rowsPath(dir: String, v: Int) =
    java.nio.file.Paths.get(dir, s"v$v", "_rows")

  /** Version `v`'s per-partition row counts (written alongside `_stats2`
    * by every multi-column-stats commit). Empty if `v` recorded none.
    */
  def rowCounts(dir: String, v: Int): Map[String, Long] = {
    val p = rowsPath(dir, v)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(p).asScala
        .filter(_.nonEmpty)
        .map { l =>
          val t = l.lastIndexOf('\t')
          decPart(l.substring(0, t)) -> l.substring(t + 1).toLong
        }.toMap
    }
  }

  private def writeZoneMapMulti(s: SparkSession, dir: String, v: Int,
      df: DataFrame, partCol: String, statsCols: Seq[String]): Unit = {
    require(statsCols.nonEmpty, "statsCols must be non-empty")
    // metadata-scale collect: one row per written partition, all columns'
    // stats AND the partition row count in ONE narrow aggregation pass
    val aggs = statsCols.flatMap { c =>
      Seq(min(col(c).cast("long")).as(s"__lo_$c"),
        max(col(c).cast("long")).as(s"__hi_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$c"))
    } :+ count(lit(1)).as("__rows")
    val rows = df.groupBy(col(partCol).cast("string").as("__p"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val body = rows.flatMap { r =>
      val part = encPart(Option(r.getString(0)).getOrElse(NullPart))
      statsCols.map { c =>
        val lo = r.getAs[Any](s"__lo_$c")
        val hi = r.getAs[Any](s"__hi_$c")
        val nn = r.getAs[Long](s"__nn_$c")
        if (lo == null) s"$part\t$c\t$nn\t\t"
        else s"$part\t$c\t$nn\t$lo\t$hi"
      }
    }.sorted.mkString("\n")
    java.nio.file.Files.writeString(stats2Path(dir, v), body)
    val rbody = rows.map(r =>
      s"${encPart(Option(r.getString(0)).getOrElse(NullPart))}\t" +
        s"${r.getAs[Long]("__rows")}")
      .sorted.mkString("\n")
    java.nio.file.Files.writeString(rowsPath(dir, v), rbody)
    ()
  }

  /** Metadata-only aggregates — the Delta/Iceberg stats-served query
    * posture: `COUNT(*)`, `MIN`, `MAX`, and null counts over the WHOLE
    * table as of version `v`, answered entirely from the manifest and the
    * `_stats2`/`_rows` sidecars its owning versions wrote — ZERO executor
    * tasks, zero data files opened. At 100 TB, `SELECT count(*), min(k),
    * max(k) FROM t` becomes a driver-side read of a few KB of metadata.
    *
    * Correct by construction, never stale: each owning commit writes its
    * sidecars transactionally with its data (sealed together), and the
    * manifest maps every live partition to the owner whose sidecar
    * describes exactly the bytes it committed — so the fold over
    * (manifest, owner sidecars) describes precisely the rows a full scan
    * of version `v` would read. Fails loudly if any owned partition lacks
    * a row count or a requested column's stats (a table committed without
    * [[commitPartitionedStatsMulti]]/[[upsertPartitionedStatsMulti]]) —
    * stats-serving is opt-in at write time, never a silent guess.
    *
    * Returns ONE row: `row_cnt`, then `min_<c>`, `max_<c>`, `nulls_<c>`
    * per requested column (min/max null when the column is entirely null
    * — SQL aggregate semantics).
    */
  def aggFromStats(s: SparkSession, dir: String, v: Int,
      statsCols: Seq[String]): DataFrame = {
    require(statsCols.nonEmpty, "statsCols must be non-empty")
    require(java.nio.file.Files.exists(manifestPath(dir, v)),
      s"aggFromStats: v$v of $dir is not a partitioned commit")
    val man = manifest(dir, v)
    val zms = scala.collection.mutable.Map
      .empty[Int, Map[String, Map[String, (Option[(Long, Long)], Long)]]]
    val rcs = scala.collection.mutable.Map.empty[Int, Map[String, Long]]
    var rows = 0L
    val mins = scala.collection.mutable.Map
      .empty[String, Option[Long]].withDefaultValue(None)
    val maxs = scala.collection.mutable.Map
      .empty[String, Option[Long]].withDefaultValue(None)
    val nulls = scala.collection.mutable.Map
      .empty[String, Long].withDefaultValue(0L)
    man.foreach { case (p, owner) =>
      rows += rcs.getOrElseUpdate(owner, rowCounts(dir, owner))
        .getOrElse(p, sys.error(s"aggFromStats: no row count for " +
          s"partition $p (owner v$owner) in $dir — commit with " +
          "commitPartitionedStatsMulti/upsertPartitionedStatsMulti"))
      val byCol = zms.getOrElseUpdate(owner, zoneMapMulti(dir, owner))
        .getOrElse(p, sys.error(s"aggFromStats: no column stats for " +
          s"partition $p (owner v$owner) in $dir"))
      statsCols.foreach { c =>
        val (mm, nn) = byCol.getOrElse(c, sys.error(s"aggFromStats: no " +
          s"stats for column $c in partition $p (owner v$owner) of $dir"))
        nulls(c) += nn
        mm.foreach { case (mn, mx) =>
          mins(c) = Some(mins(c).fold(mn)(math.min(_, mn)))
          maxs(c) = Some(maxs(c).fold(mx)(math.max(_, mx)))
        }
      }
    }
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    val fields = StructField("row_cnt", LongType, nullable = false) +:
      statsCols.flatMap(c => Seq(
        StructField(s"min_$c", LongType, nullable = true),
        StructField(s"max_$c", LongType, nullable = true),
        StructField(s"nulls_$c", LongType, nullable = false)))
    val vals: Seq[Any] = Long.box(rows) +: statsCols.flatMap(c => Seq(
      mins(c).map(Long.box).orNull, maxs(c).map(Long.box).orNull,
      Long.box(nulls(c))))
    s.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row(vals: _*)),
      StructType(fields.toArray))
  }

  /** [[commitPartitioned]] that also records the multi-column zone map of
    * `statsCols` (each must cast to long). Returns the version.
    */
  def commitPartitionedStatsMulti(s: SparkSession, df: DataFrame,
      dir: String, partCol: String, statsCols: Seq[String]): Int = {
    val v = commitPartitioned(df, dir, partCol)
    writeZoneMapMulti(s, dir, v, df, partCol, statsCols)
    v
  }

  /** OPTIMIZE ZORDER (E197): rewrite the tip snapshot partitioned by the
    * Morton interleave of two non-negative integral columns
    * ([[Layout.zValue]] bucketed to ≤ `buckets` partitions) with the
    * multi-column zone map of BOTH columns recorded — so a conjunctive
    * 2-D range predicate prunes partitions on both dimensions
    * ([[readPartitionedPrunedMulti]]), which a single-dimension layout's
    * zone maps cannot do (each 1-D partition spans the other column's
    * whole range). The derived key lands under the reserved `gpart` name
    * and never reaches the catalog table's logical schema. One table
    * rewrite, the OPTIMIZE cost class; domains are validated in one
    * narrow aggregation and must be non-negative 31-bit integrals (the
    * Morton spread's domain — fail-loud, never a wrong layout). Returns
    * the version.
    */
  def zorderLayout(s: SparkSession, dir: String, colA: String,
      colB: String, buckets: Int): Int = withMutateClaim(dir) {
    require(buckets >= 2 && buckets <= 100000,
      s"zorderLayout: buckets must be in [2, 100000], got $buckets")
    val folded = readAtDv(s, dir, latest(dir))
    val flat = if (folded.columns.contains("gpart")) folded.drop("gpart")
      else folded
    Seq(colA, colB).foreach(c => require(flat.columns.contains(c),
      s"zorderLayout: no column '$c' in $dir"))
    val mm = flat.agg(
      min(col(colA).cast("long")), max(col(colA).cast("long")),
      min(col(colB).cast("long")), max(col(colB).cast("long"))).head()
    // min/max skip NULLs, so this only rejects ENTIRELY-null columns
    // (no domain to bound). Rows where either clustering value is NULL
    // get a NULL z-key and land in the hive default partition — fully
    // readable ([[NullPart]] binds as IS NULL on the read side) and
    // correctly excluded by 2-D range pruning (BETWEEN is
    // null-rejecting), never silently dropped.
    require(!mm.anyNull, s"zorderLayout: $colA/$colB must be " +
      "castable-to-long columns with at least one non-null value each")
    val (maxA, maxB) = (mm.getLong(1), mm.getLong(3))
    require(mm.getLong(0) >= 0 && mm.getLong(2) >= 0 &&
      maxA < (1L << 31) && maxB < (1L << 31),
      s"zorderLayout: $colA/$colB must be non-negative 31-bit integrals " +
        s"(got [${mm.getLong(0)}, $maxA] x [${mm.getLong(2)}, $maxB])")
    // Layout.zValueScalar builds from the same mask stages as the
    // executor-side Layout.zValue — monotone, disjoint bit planes, so
    // z(maxA, maxB) bounds every row's z
    val zMax = Layout.zValueScalar(maxA, maxB)
    var shift = 0
    while ((zMax >> shift) + 1 > buckets) shift += 1
    val z = Layout.zValue(col(colA).cast("long"), col(colB).cast("long"))
    commitPartitionedStatsMulti(s,
      flat.withColumn("gpart", shiftright(z, shift)), dir, "gpart",
      Seq(colA, colB))
  }

  /** [[upsertPartitioned]] that refreshes the multi-column zone map for
    * the rewritten partitions (untouched partitions keep the stats in
    * their owning version dir). Returns the version.
    */
  def upsertPartitionedStatsMulti(s: SparkSession, dir: String,
      updates: DataFrame, key: String, partCol: String,
      statsCols: Seq[String]): Int = withMutateClaim(dir) {
    val v = upsertPartitioned(s, dir, updates, key, partCol)
    writeZoneMapMulti(s, dir, v, s.read.parquet(s"$dir/v$v/data"),
      partCol, statsCols)
    v
  }

  /** The live partitions of version `v` admitting EVERY predicate in
    * `preds` (`col BETWEEN lo AND hi`, conjunctive), as partition value →
    * owning version. A partition is pruned when any predicate column's
    * recorded [min, max] misses its range OR is all-null (BETWEEN never
    * matches null); columns with no recorded stats keep the partition.
    */
  def prunedPartitionsMulti(dir: String, v: Int,
      preds: Seq[(String, Long, Long)]): Map[String, Int] = {
    val man = manifest(dir, v)
    val maps = scala.collection.mutable.Map
      .empty[Int, Map[String, Map[String, (Option[(Long, Long)], Long)]]]
    man.filter { case (p, owner) =>
      val zm = maps.getOrElseUpdate(owner, zoneMapMulti(dir, owner))
      zm.get(p) match {
        case None => true // no stats for this partition: keep
        case Some(byCol) => preds.forall { case (c, lo, hi) =>
          byCol.get(c) match {
            case None => true // column not tracked: keep
            case Some((None, _)) => false // all null: BETWEEN cannot match
            case Some((Some((mn, mx)), _)) => mx >= lo && mn <= hi
          }
        }
      }
    }
  }

  /** Conjunctive partition-skipping read: the table as of `v` filtered to
    * every `col BETWEEN lo AND hi` in `preds`, scanning only the
    * partitions whose multi-column zone map admits ALL of them —
    * row-identical to filtering the full [[readPartitionedAt]] read.
    */
  def readPartitionedPrunedMulti(s: SparkSession, dir: String, v: Int,
      preds: Seq[(String, Long, Long)]): DataFrame = {
    require(preds.nonEmpty, "preds must be non-empty")
    val base = readManifestSubset(s, dir, v,
      prunedPartitionsMulti(dir, v, preds))
    preds.foldLeft(base) { case (df, (c, lo, hi)) =>
      df.filter(col(c).cast("long").between(lo, hi))
    }
  }

  // ---- per-partition Bloom membership sidecar (point-lookup skipping) ----
  //
  // Zone maps prune RANGE predicates on clustered columns; a point lookup
  // on a column uncorrelated with the layout (find these 3 keys in a
  // 10 000-partition table) gets nothing from min/max — every partition's
  // range admits almost any key. The Delta "bloom filter index" posture
  // closes that: each partitioned commit can carry a `_bloom` sidecar
  // with ONE Bloom filter per partition over a chosen key column, built
  // in a single narrow aggregation ([[graft.functions.BloomAgg]] — the
  // shuffle carries partial filters, never keys) and stored base64 at
  // manifest metadata scale. A point/IN lookup probes the filters
  // DRIVER-SIDE and plans a scan over only the partitions that might
  // contain any probed key (no-false-negative guarantee: a partition
  // holding a key is always admitted; false positives only cost an extra
  // scanned partition). The residual IN filter keeps results exact.

  private def bloomPath(dir: String, v: Int) =
    java.nio.file.Paths.get(dir, s"v$v", "_bloom")

  /** Version `v`'s Bloom sidecar: partition value → serialized filter
    * bytes. Empty if `v` wrote no filters.
    */
  def bloomMap(dir: String, v: Int): Map[String, Array[Byte]] = {
    val p = bloomPath(dir, v)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(p).asScala
        .filter(_.nonEmpty)
        .map { l =>
          val f = l.split('\t')
          decPart(f(0)) -> java.util.Base64.getDecoder.decode(f(1))
        }.toMap
    }
  }

  private def writeBloomMap(s: SparkSession, dir: String, v: Int,
      df: DataFrame, partCol: String, keyCol: String,
      expectedPerPart: Long, fpp: Double): Unit = {
    val agg = org.apache.spark.sql.functions.udaf(
      new graft.functions.BloomAgg(expectedPerPart, fpp))
    // metadata-scale collect: one (partition, filter) row per partition
    val rows = df.groupBy(col(partCol).cast("string").as("__p"))
      .agg(agg(col(keyCol).cast("long")).as("__b"))
      .collect()
      .map(r => (Option(r.getString(0)).getOrElse(NullPart),
        r.getAs[Array[Byte]](1)))
    val body = rows.sortBy(_._1).map { case (p, b) =>
      s"${encPart(p)}\t${java.util.Base64.getEncoder.encodeToString(b)}"
    }.mkString("\n")
    java.nio.file.Files.writeString(bloomPath(dir, v), body)
    ()
  }

  /** [[commitPartitioned]] that also records a per-partition Bloom filter
    * over `keyCol` (must cast to long). `expectedPerPart`/`fpp` size the
    * filters (all partitions share one shape so partials merge). Returns
    * the version.
    */
  def commitPartitionedBloom(s: SparkSession, df: DataFrame, dir: String,
      partCol: String, keyCol: String, expectedPerPart: Long = 100000L,
      fpp: Double = 0.01): Int = {
    val v = commitPartitioned(df, dir, partCol)
    writeBloomMap(s, dir, v, df, partCol, keyCol, expectedPerPart, fpp)
    v
  }

  /** The live partitions of version `v` that might contain ANY of `keys`
    * per their Bloom filters (no-stats partitions conservatively kept),
    * as partition value → owning version.
    */
  def prunedPartitionsBloom(dir: String, v: Int,
      keys: Seq[Long]): Map[String, Int] = {
    val man = manifest(dir, v)
    val maps = scala.collection.mutable.Map
      .empty[Int, Map[String, org.apache.spark.util.sketch.BloomFilter]]
    man.filter { case (p, owner) =>
      val bm = maps.getOrElseUpdate(owner,
        bloomMap(dir, owner).map { case (k, b) =>
          k -> graft.functions.BloomAgg.read(b)
        })
      bm.get(p).forall(f => keys.exists(f.mightContainLong))
    }
  }

  /** Point-lookup read: the table as of `v` filtered to `keyCol IN keys`,
    * scanning ONLY the partitions whose Bloom filter admits at least one
    * probed key — row-identical to filtering the full
    * [[readPartitionedAt]] read. At 100 TB this is the "find 3 keys in
    * 10 000 partitions" path: the sidecar probe is driver-side metadata,
    * the planned scan is the admitted partitions only.
    */
  def readPartitionedPoint(s: SparkSession, dir: String, v: Int,
      keyCol: String, keys: Seq[Long]): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    readManifestSubset(s, dir, v, prunedPartitionsBloom(dir, v, keys))
      .filter(col(keyCol).cast("long").isin(keys: _*))
  }

  // ---- column-mapping renames (zero-copy schema evolution) ---------------
  //
  // The Delta column-mapping posture, completing the schema-evolution
  // story next to E149's additive widening: a RENAME is a metadata-only
  // version (`_rename` sidecar, no data) — renaming a column of a 100 TB
  // table costs one tiny file, never a rewrite. Readers at or above the
  // rename see the new name; time travel below it keeps the old name
  // (each version serves its creation-time schema, the E149 contract).
  // The chain fold applies renames in version order, flushing any
  // pending deletion vectors first (their key columns were recorded
  // under pre-rename names); appends after the rename carry the new
  // name. Drops/type changes stay out of contract (a rewrite, not an
  // annotation). Snapshot-deriving mutations over a rename tip are fine
  // (the tip read chain-resolves); the STREAMING source fails loudly at
  // a rename version — a running stream's schema is fixed at start, and
  // silently null-padding the old name would corrupt every later batch,
  // so the stream must be restarted to observe the renamed schema (the
  // Delta column-mapping streaming contract). CDC between versions that
  // straddle a rename fails naturally on the key-column name.

  private def renamePath(dir: String, v: Int) =
    java.nio.file.Paths.get(dir, s"v$v", "_rename")

  /** Is committed version `v` a metadata-only column rename? */
  def isRenameVersion(dir: String, v: Int): Boolean =
    java.nio.file.Files.exists(renamePath(dir, v))

  private[graft] def renameOf(dir: String, v: Int): (String, String) = {
    val f = java.nio.file.Files.readString(renamePath(dir, v)).split("\t", 2)
    (f(0), f(1))
  }

  /** Commit a metadata-only rename of column `from` to `to` (validated
    * against the chain-resolved tip schema). Returns the version.
    */
  def renameColumn(s: SparkSession, dir: String, from: String,
      to: String): Int = withMutateClaim(dir) {
    val tip = latest(dir)
    require(tip >= 0, s"renameColumn: no committed versions in $dir")
    val cols = readAtDv(s, dir, tip).columns.toSet
    require(cols.contains(from), s"renameColumn: no column '$from' in $dir")
    require(!cols.contains(to), s"renameColumn: column '$to' already exists")
    commitMetaOnly(dir, renamePath, s"$from\t$to")
  }

  // ---- column-mapping drops (zero-copy, the RENAME machinery's twin) ------
  //
  // DROP COLUMN via column mapping (E196): a `_drop` sidecar version —
  // no data moves, the chain fold PROJECTS the column away at and above
  // the drop, time travel below it keeps the column (each version serves
  // its creation-time schema, the E149 contract). Appends after the drop
  // simply lack the column; a later ADD COLUMN may even reuse the name
  // (the fold's projection happened strictly below it). DVs pending at
  // the drop flush first — their key column may BE the one dropped. The
  // STREAMING source fails loudly at a drop version, exactly the rename
  // contract (a running stream's schema is fixed at start, and silently
  // null-padding a retired column would corrupt every later batch). Type
  // CHANGES remain out of contract: they are a rewrite of every value,
  // not an annotation — there is no metadata spelling of one.

  private def dropPath(dir: String, v: Int) =
    java.nio.file.Paths.get(dir, s"v$v", "_drop")

  /** Is committed version `v` a metadata-only column drop? */
  def isDropVersion(dir: String, v: Int): Boolean =
    java.nio.file.Files.exists(dropPath(dir, v))

  private[graft] def dropOf(dir: String, v: Int): String =
    java.nio.file.Files.readString(dropPath(dir, v))

  /** Is committed version `v` a metadata-only schema annotation (rename
    * or drop)? These are never a chain BASE — they carry no data.
    */
  private[graft] def isMetaVersion(dir: String, v: Int): Boolean =
    isRenameVersion(dir, v) || isDropVersion(dir, v)

  /** Commit a metadata-only DROP of column `name` (validated against the
    * chain-resolved tip schema; the last column cannot be dropped — a
    * zero-column table serves nothing). Returns the version.
    */
  def dropColumn(s: SparkSession, dir: String,
      name: String): Int = withMutateClaim(dir) {
    val tip = latest(dir)
    require(tip >= 0, s"dropColumn: no committed versions in $dir")
    val cols = readAtDv(s, dir, tip).columns.toSet
    require(cols.contains(name), s"dropColumn: no column '$name' in $dir")
    require((cols - name - "gpart").nonEmpty,
      s"dropColumn: '$name' is the last data column of $dir")
    commitMetaOnly(dir, dropPath, name)
  }

  // ---- hidden partitioning (partition transforms) ------------------------
  //
  // The Iceberg posture: the table partitions by a TRANSFORM of a data
  // column — month(ts), bucket(N, k), trunc(W, n) — stored under the
  // reserved `gpart` hive key, and READERS NEVER NAME THE PARTITION
  // COLUMN. They state predicates on the RAW column; the transform's
  // monotonicity (month, trunc) or point algebra (bucket, any) turns
  // them into admitted partition values DRIVER-SIDE at manifest metadata
  // scale, and a residual raw-column filter keeps partition-edge rows
  // exact. That is what keeps "WHERE ts BETWEEN x AND y" a 4-partition
  // scan of a 10 000-partition table without the user ever learning the
  // layout — the failure mode this kills is the analyst who filters on
  // the raw column of a manually-partitioned table and silently full-
  // scans. The derived key exists ONLY as the hive dir name (data files
  // never carry it); hidden reads drop it after pruning. The transform
  // is fixed at the first hidden commit (the Iceberg spec-evolution
  // escape hatch is out of scope); later partitioned commits inherit it
  // by the same partition-stability precondition as `upsertPartitioned`.
  // The `_transform` sidecar is written right after the seal (the bloom
  // sidecar posture): a crash in that window leaves a version readable
  // by [[readPartitionedAt]] whose HIDDEN reads fail loudly.

  private def transformPath(dir: String, v: Int) =
    java.nio.file.Paths.get(dir, s"v$v", "_transform")

  /** The `(transform, srcCol)` spec governing hidden reads at version
    * `v`: the nearest `_transform` sidecar at or below `v`.
    */
  /** The hidden-partition spec carried by version `v` ITSELF (no
    * downward walk — the caller has already resolved the chain base), or
    * None for a flat/row-partitioned version. The catalog read path uses
    * this to decide whether pushed filters can prune.
    */
  private[graft] def hiddenSpecAt(dir: String,
      v: Int): Option[(String, String)] =
    if (!java.nio.file.Files.exists(transformPath(dir, v))) None
    else {
      val f = java.nio.file.Files.readString(transformPath(dir, v))
        .split("\t", 2)
      Some((f(0), f(1)))
    }

  /** [[compactDv]] for hidden-partitioned tables: fold the DV/append
    * chain into a fresh snapshot RE-PARTITIONED under the declared
    * transform — delta appends land flat (cost ∝ batch, unprunable until
    * compacted), so this is what restores pruning coverage over them
    * (the OPTIMIZE posture for hidden layouts). Returns the version.
    */
  def compactHidden(s: SparkSession, dir: String, transform: String,
      srcCol: String): Int = withMutateClaim(dir) {
    val folded = readAtDv(s, dir, latest(dir))
    val flat = if (folded.columns.contains("gpart")) folded.drop("gpart")
      else folded
    commitPartitionedHidden(flat, dir, transform, srcCol)
  }

  def hiddenSpec(dir: String, v: Int): (String, String) = {
    val hit = (v to 0 by -1).map(transformPath(dir, _))
      .find(java.nio.file.Files.exists(_))
      .getOrElse(sys.error(s"no _transform sidecar at or below v$v in $dir"))
    val f = java.nio.file.Files.readString(hit).split("\t", 2)
    (f(0), f(1))
  }

  /** The partition-value expression of `transform` over raw column `c`
    * (always stringified — hive dir names are strings):
    * `month` → "yyyy-MM", `day` → "yyyy-MM-dd", `year` → "yyyy" (UTC
    * session — the Iceberg time-transform family at day/month/year
    * granularity); `identity` → the raw value's canonical string (plain
    * `PARTITIONED BY (col)`); `bucket:N` → md5-derived bucket of the
    * STRING form of the key (the engine-portable `Sampling.hashBucket`
    * convention); `trunc:W` → floor-to-multiple of W (floor division,
    * exact for negatives via pmod).
    */
  private[graft] def hiddenExpr(transform: String, c: Column): Column =
    (transform match {
      case "month" => date_format(c, "yyyy-MM")
      case "day" => date_format(c, "yyyy-MM-dd")
      case "year" => date_format(c, "yyyy")
      case "identity" => c
      case t if t.startsWith("bucket:") =>
        val n = t.stripPrefix("bucket:").toLong
        pmod(conv(substring(md5(c.cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(n))
      case t if t.startsWith("trunc:") =>
        val w = t.stripPrefix("trunc:").toLong
        c.cast("long") - pmod(c.cast("long"), lit(w))
      case t => sys.error(s"unknown partition transform: $t")
    }).cast("string")

  /** `transform` applied to one DRIVER-SIDE key (the pruning twin of
    * [[hiddenExpr]] — must agree with it value-for-value).
    */
  private def hiddenLit(transform: String, k: String): String =
    transform match {
      case "month" => k.substring(0, 7)
      case "day" => k.substring(0, 10)
      case "year" => k.substring(0, 4)
      case "identity" => k
      case t if t.startsWith("bucket:") =>
        val n = t.stripPrefix("bucket:").toLong
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(k.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val hex = d.take(4).map(b => f"$b%02x").mkString
        (java.lang.Long.parseLong(hex, 16) % n).toString
      case t if t.startsWith("trunc:") =>
        val w = t.stripPrefix("trunc:").toLong
        val v = k.toLong
        (v - math.floorMod(v, w)).toString
      case t => sys.error(s"unknown partition transform: $t")
    }

  /** [[commitPartitioned]] under a hidden `transform` of `srcCol`: the
    * derived `gpart` key partitions the write, the `_transform` sidecar
    * records the spec for the pruned readers. Returns the version.
    */
  def commitPartitionedHidden(df: DataFrame, dir: String, transform: String,
      srcCol: String): Int = {
    val v = commitPartitioned(
      df.withColumn("gpart", hiddenExpr(transform, col(srcCol))), dir, "gpart")
    java.nio.file.Files.writeString(transformPath(dir, v),
      s"$transform\t$srcCol")
    v
  }

  /** Range read over a MONOTONE hidden transform (month/day/year:
    * `lo`/`hi` are "yyyy-MM-dd" dates — day granularity, edge partitions
    * kept exact by the residual; trunc: integer strings; identity:
    * integer strings for integral keys, "yyyy-MM-dd" for DATE keys —
    * both renderings order consistently with the raw values, which is
    * the admissibility condition): admitted partitions are the manifest
    * values in [transform(lo), transform(hi)] — driver-side,
    * metadata-scale — and the residual raw-column BETWEEN keeps edge
    * partitions exact. Row-identical to filtering the full
    * [[readPartitionedAt]] read.
    */
  def readPartitionedHiddenRange(s: SparkSession, dir: String, v: Int,
      lo: String, hi: String): DataFrame = {
    val (t, srcCol) = hiddenSpec(dir, v)
    val temporal = t == "month" || t == "day" || t == "year"
    require(temporal || t == "identity" || t.startsWith("trunc:"),
      s"range pruning needs a monotone transform, got $t (use " +
        "readPartitionedHiddenIn for point lookups)")
    // identity over integral keys compares numerically ('9' > '10'
    // lexicographically); date renderings are fixed-width, so string
    // order IS value order for the temporal transforms and DATE identity
    val numeric = t.startsWith("trunc:") ||
      (t == "identity" && lo.toLongOption.isDefined &&
        hi.toLongOption.isDefined)
    val (plo, phi) = (hiddenLit(t, lo), hiddenLit(t, hi))
    // the NULL partition (sentinel key) can never satisfy the residual
    // BETWEEN (null-rejecting), so it is excluded — and it must never
    // reach the numeric compare (not a number)
    val kept = manifest(dir, v).filter { case (p, _) =>
      p != NullPart &&
        (if (numeric) p.toLong >= plo.toLong && p.toLong <= phi.toLong
        else p >= plo && p <= phi)
    }
    val base = readManifestSubset(s, dir, v, kept)
    val resid =
      if (numeric) col(srcCol).cast("long").between(lo.toLong, hi.toLong)
      else col(srcCol).cast("date").between(lit(lo).cast("date"),
        lit(hi).cast("date"))
    base.filter(resid).drop("gpart")
  }

  /** Point/IN read over ANY hidden transform: admitted partitions are
    * the transforms of the probed keys (string form — the
    * [[hiddenExpr]] bucket convention); the residual IN keeps results
    * exact through hash collisions.
    */
  def readPartitionedHiddenIn(s: SparkSession, dir: String, v: Int,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    val (t, srcCol) = hiddenSpec(dir, v)
    val want = keys.map(hiddenLit(t, _)).toSet
    val kept = manifest(dir, v).filter { case (p, _) => want.contains(p) }
    readManifestSubset(s, dir, v, kept)
      .filter(col(srcCol).cast("string").isin(keys: _*))
      .drop("gpart")
  }

  // ---- declared queries ---------------------------------------------------

  /** A fresh per-invocation table dir (idempotent rebuild — the query
    * carries its own build cost, the q_pq_build pattern).
    */
  private[graft] def tableDir(sfDir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val d = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_VERSIONED_DIR",
        s"${sys.props("java.io.tmpdir")}/graft-versioned"), h)
    rmTree(d); d.mkdirs()
    d.getAbsolutePath
  }

  /** The three-version history both queries build: v0 = customer, v1 =
    * upsert of [[Lake]]'s deterministic delta, v2 = delete of
    * custkey % 13 = 0 — the same lineage the `q_merge_upsert` /
    * `q_snapshot_diff` oracles re-derive.
    */
  private def buildHistory(s: SparkSession, dir: String): String = {
    val c = graft.Tables.customer(s, dir)
    val d = tableDir(dir)
    commit(c, d)
    upsert(s, d, Lake.customerDelta(c), "c_custkey")
    deleteWhere(s, d, col("c_custkey") % 13 === 0)
    d
  }

  val queries: Map[String, Q] = Map(
    // LK3: time travel — commit v0/v1/v2, then read AS OF v1. The oracle is
    // byte-identical to q_merge_upsert's: the middle snapshot must be
    // row-exactly the merge result even though a later delete commit
    // exists, proving versions are immutable and the marker doesn't leak
    // into historical reads.
    "q_lake_timetravel" -> ((s, dir) => {
      val d = buildHistory(s, dir)
      readAt(s, d, 1)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          floor(col("c_acctbal") * 100).cast("long").as("acctbal_c"),
          col("c_mktsegment"))
    }),

    // LK5: partition-manifest copy-on-write — v0 = customer partitioned by
    // mktsegment, v1 = upsert whose delta touches ONLY the BUILDING
    // partition (Lake's deterministic delta filtered to that segment; new
    // keys keep their segment, so the partition-stability precondition
    // holds by construction). v1's data dir holds ONE partition; the other
    // four are served from v0 via the manifest. The oracle merges the
    // filtered delta over the whole table — a hash match proves the
    // stitched read (4 partitions from v0 ⊎ 1 rewritten in v1) is
    // row-identical to the logical full-table merge.
    "q_lake_partitioned" -> ((s, dir) => {
      val c = graft.Tables.customer(s, dir)
      val d = tableDir(dir + "#partitioned")
      commitPartitioned(c, d, "c_mktsegment")
      upsertPartitioned(s, d,
        Lake.customerDelta(c).filter(col("c_mktsegment") === "BUILDING"),
        "c_custkey", "c_mktsegment")
      readPartitionedAt(s, d, 1)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          floor(col("c_acctbal") * 100).cast("long").as("acctbal_c"),
          col("c_mktsegment"))
    }),

    // LK5b: selective OPTIMIZE — the q_lake_partitioned history (v0 full
    // commit + v1 one-partition upsert) de-fragmented by
    // [[optimizeScattered]]: v2 rewrites ONLY the scattered BUILDING
    // partition (cost ∝ 1 partition), the other four stay zero-copy on
    // v0, and the manifest collapses to two owners. The oracle is
    // BYTE-IDENTICAL to q_lake_partitioned's — hash-proof every round
    // that OPTIMIZE moved bytes without changing a single row.
    "q_lake_optimize" -> ((s, dir) => {
      val c = graft.Tables.customer(s, dir)
      val d = tableDir(dir + "#optsc")
      commitPartitioned(c, d, "c_mktsegment")
      upsertPartitioned(s, d,
        Lake.customerDelta(c).filter(col("c_mktsegment") === "BUILDING"),
        "c_custkey", "c_mktsegment")
      val v = optimizeScattered(s, d)
      readPartitionedAt(s, d, v)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          floor(col("c_acctbal") * 100).cast("long").as("acctbal_c"),
          col("c_mktsegment"))
    }),

    // LK-HIST: DESCRIBE HISTORY — a 4-kind planted history (snapshot →
    // DV delete → append → rename) introspected by [[history]]; the
    // oracle re-derives every payload count from the raw table (the
    // VALUES-free spelling: counts are SF-dependent), hash-pinning the
    // kind classification AND the per-version payload sizes.
    "q_lake_history" -> ((s, dir) => {
      val c = graft.Tables.customer(s, dir)
      val d = tableDir(dir + "#hist")
      commit(c, d)
      deleteWhereDv(s, d, col("c_custkey") % 13 === 0, "c_custkey")
      appendRows(c.filter(col("c_custkey") % 31 === 0)
        .withColumn("c_custkey", col("c_custkey") + 1000000), d)
      renameColumn(s, d, "c_mktsegment", "segment")
      history(s, d)
    }),

    // LK6: deletion-vector deletes — v0 = customer commit, v1 = DV delete
    // of custkey % 13 = 0, v2 = DV delete of nationkey ∈ {3, 7} (evaluated
    // against the v1-resolved snapshot, so chained DVs must compose). The
    // v1/v2 dirs hold ONLY key parquet (unit-asserted); the read resolves
    // base v0 and anti-joins both DVs. The oracle filters the full table —
    // a hash match proves merge-on-read ≡ copy-on-write semantics.
    "q_lake_delete_dv" -> ((s, dir) => {
      val c = graft.Tables.customer(s, dir)
      val d = tableDir(dir + "#dv")
      commit(c, d)
      deleteWhereDv(s, d, col("c_custkey") % 13 === 0, "c_custkey")
      deleteWhereDv(s, d, col("c_nationkey").isin(3, 7), "c_custkey")
      readAtDv(s, d, 2)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          floor(col("c_acctbal") * 100).cast("long").as("acctbal_c"),
          col("c_mktsegment"))
    }),

    // LK7: zone-map partition skipping — customer partitioned by the
    // planted cluster key floor(custkey/100) with per-partition min/max of
    // c_custkey in the version's `_stats` sidecar; the range read [60, 140]
    // prunes to the 2 admitting partitions (buckets 0 and 1) DRIVER-SIDE
    // (unit asserts the pruned manifest subset) and must still row-equal
    // the full-table filter, which is exactly the oracle.
    "q_lake_skipping" -> ((s, dir) => {
      val c = graft.Tables.customer(s, dir)
        .withColumn("ck_bucket", floor(col("c_custkey") / 100).cast("long"))
      val d = tableDir(dir + "#skip")
      commitPartitionedStats(s, c, d, "ck_bucket", "c_custkey")
      readPartitionedPruned(s, d, 0, "c_custkey", 60L, 140L)
        .select(col("c_custkey"), col("c_name"),
          floor(col("c_acctbal") * 100).cast("long").as("acctbal_c"),
          col("ck_bucket").cast("long").as("ck_bucket"))
    }),

    // LK3b: time travel through the REGISTERED DATA SOURCE — the same
    // v0/v1/v2 history as q_lake_timetravel, read as
    // `spark.read.format("graft.versioned").option("versionAsOf", 1)` —
    // the catalog/SQL surface (`CREATE TEMPORARY VIEW ... USING`) a real
    // user reaches for first. The oracle is byte-identical to
    // q_lake_timetravel's: the reader path must reproduce the
    // programmatic readAt exactly.
    "q_lake_timetravel_sql" -> ((s, dir) => {
      val d = buildHistory(s, dir)
      s.read.format("graft.versioned").option("versionAsOf", 1).load(d)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          floor(col("c_acctbal") * 100).cast("long").as("acctbal_c"),
          col("c_mktsegment"))
    }),

    // E200: the same v0/v1/v2 history read through a NAMED TAG — `tag
    // "trained_on" → v1`, then `versionAsOf = "trained_on"`. Oracle
    // byte-identical to q_lake_timetravel's: the named ref must resolve
    // to exactly the pinned snapshot even though a later delete commit
    // (and the live tip) exist — the reproducible-training-set read.
    "q_lake_tag_sql" -> ((s, dir) => {
      val d = buildHistory(s, dir)
      tag(d, "trained_on", 1)
      s.read.format("graft.versioned")
        .option("versionAsOf", "trained_on").load(d)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          floor(col("c_acctbal") * 100).cast("long").as("acctbal_c"),
          col("c_mktsegment"))
    }),

    // LK7b: MULTI-column zone-map skipping — same planted layout as
    // q_lake_skipping, but the `_stats2` sidecar records (min, max, null
    // count) for BOTH c_custkey and c_nationkey, and the read prunes on
    // the CONJUNCTION custkey ∈ [60, 140] AND nationkey ∈ [5, 20] —
    // the date+key predicate shape single-column zone maps can't serve.
    // Must row-equal the full-table two-column filter (the oracle).
    "q_lake_skipping_multi" -> ((s, dir) => {
      val c = graft.Tables.customer(s, dir)
        .withColumn("ck_bucket", floor(col("c_custkey") / 100).cast("long"))
      val d = tableDir(dir + "#skipmulti")
      commitPartitionedStatsMulti(s, c, d, "ck_bucket",
        Seq("c_custkey", "c_nationkey"))
      readPartitionedPrunedMulti(s, d, 0,
        Seq(("c_custkey", 60L, 140L), ("c_nationkey", 5L, 20L)))
        .select(col("c_custkey"), col("c_name"),
          col("c_nationkey").cast("long").as("c_nationkey"),
          floor(col("c_acctbal") * 100).cast("long").as("acctbal_c"),
          col("ck_bucket").cast("long").as("ck_bucket"))
    }),

    // LK17: metadata-only aggregates — customer committed partitioned
    // with multi-column stats, then a CoW upsert restricted to one
    // partition (so the manifest spans TWO owning versions); count/min/
    // max/null-counts over the final table are answered ENTIRELY from
    // the sidecars (zero data files opened — the read is driver-side
    // manifest metadata) and must hash-equal the oracle's full scan of
    // the same logical snapshot.
    "q_lake_stats_agg" -> ((s, dir) => {
      val c = graft.Tables.customer(s, dir)
        .withColumn("acctbal_c", floor(col("c_acctbal") * 100).cast("long"))
      val d = tableDir(dir + "#statsagg")
      commitPartitionedStatsMulti(s, c, d, "c_mktsegment",
        Seq("c_custkey", "acctbal_c"))
      val delta = c.filter(col("c_mktsegment") === "BUILDING" &&
          (col("c_custkey") % 7 === 0))
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        .unionByName(c.filter(col("c_mktsegment") === "BUILDING" &&
            (col("c_custkey") % 31 === 0))
          .withColumn("c_custkey", col("c_custkey") + 1000000L)
          .withColumn("c_name", concat(lit("New "), col("c_name"))))
        .withColumn("acctbal_c", floor(col("c_acctbal") * 100).cast("long"))
      upsertPartitionedStatsMulti(s, d, delta, "c_custkey",
        "c_mktsegment", Seq("c_custkey", "acctbal_c"))
      aggFromStats(s, d, 1, Seq("c_custkey", "acctbal_c"))
    }),

    // LK9: incremental materialized-view maintenance — a per-segment
    // (count, sum-cents) aggregate built once at v0, then maintained
    // through BOTH commits by folding each version-step's REAL CDC rows
    // ([[changes]]) via [[Lake.maintainAgg]]. The oracle recomputes the
    // aggregate from scratch over the final logical snapshot — a hash
    // match proves maintain ∘ maintain ≡ recompute, with maintain cost
    // proportional to the change sets, never the base.
    "q_lake_incr_mv" -> ((s, dir) => {
      val d = buildHistory(s, dir)
      def cents(v: Int): DataFrame = readAt(s, d, v)
        .withColumn("acctbal_c", floor(col("c_acctbal") * 100).cast("long"))
      val agg0 = cents(0).groupBy(col("c_mktsegment").as("grp"))
        .agg(count(lit(1)).as("cnt"), sum("acctbal_c").as("sum_v"))
      val comp = Seq("c_mktsegment", "acctbal_c")
      val cdc1 = Lake.snapshotDiff(cents(0), cents(1), "c_custkey", comp)
      val cdc2 = Lake.snapshotDiff(cents(1), cents(2), "c_custkey", comp)
      val m1 = Lake.maintainAgg(agg0, cdc1, "o_c_mktsegment",
        "n_c_mktsegment", "o_acctbal_c", "n_acctbal_c")
      Lake.maintainAgg(m1, cdc2, "o_c_mktsegment", "n_c_mktsegment",
        "o_acctbal_c", "n_acctbal_c")
    }),

    // LK10: append (delta) commits interleaved with a DV delete — v0 =
    // customer, v1 = append of the %31 clone rows (cost ∝ batch, the
    // continuous-ingest shape), v2 = DV delete of custkey % 13 = 0
    // evaluated against the v1-RESOLVED snapshot (so it deletes from both
    // the base and the appended rows). The chain-resolved read must equal
    // the logical (base ∪ appended) minus the deleted keys — which is
    // exactly the oracle; a hash match proves in-order fold semantics.
    "q_lake_append" -> ((s, dir) => {
      val c = graft.Tables.customer(s, dir)
      val d = tableDir(dir + "#append")
      commit(c, d)
      appendRows(c.filter(col("c_custkey") % 31 === 0)
        .withColumn("c_custkey", col("c_custkey") + 1000000L)
        .withColumn("c_name", concat(lit("Appended "), col("c_name"))), d)
      deleteWhereDv(s, d, col("c_custkey") % 13 === 0, "c_custkey")
      readAtDv(s, d, 2)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          floor(col("c_acctbal") * 100).cast("long").as("acctbal_c"),
          col("c_mktsegment"))
    }),

    // LK11: additive schema evolution — v0 = customer (5 columns), v1 =
    // append of %31 clone rows carrying a NEW `c_tier` column. The
    // resolved read serves the union schema with the base rows null-padded
    // (and time travel to v0 keeps the original 5-column schema,
    // unit-pinned). The oracle spells the same union with an explicit
    // CAST(NULL AS VARCHAR) — a hash match pins both the padding and the
    // evolved column's values.
    "q_lake_schema_evolution" -> ((s, dir) => {
      val c = graft.Tables.customer(s, dir)
      val d = tableDir(dir + "#evolve")
      commit(c, d)
      appendRows(c.filter(col("c_custkey") % 31 === 0)
        .withColumn("c_custkey", col("c_custkey") + 2000000L)
        .withColumn("c_tier",
          when(col("c_acctbal") >= 5000.0, lit("gold"))
            .otherwise(lit("std"))), d)
      readAtDv(s, d, 1)
        .select(col("c_custkey"), col("c_name"),
          floor(col("c_acctbal") * 100).cast("long").as("acctbal_c"),
          col("c_mktsegment"), col("c_tier"))
    }),

    // LK12: expectation-gated commit — customer rows failing any of the
    // three named data-quality gates are diverted to the quarantine
    // sidecar with a comma-joined list of every violated expectation
    // (the committed snapshot = the fully-valid rows, unit-pinned). The
    // oracle re-derives the quarantine with CASE/concat_ws over the same
    // predicates — a hash match pins both the split and the reasons.
    "q_lake_expectations" -> ((s, dir) => {
      val c = graft.Tables.customer(s, dir)
      val d = tableDir(dir + "#expect")
      commitExpect(c, d, Seq(
        "nonneg_bal" -> (col("c_acctbal") >= 0),
        "known_segment" -> col("c_mktsegment").isin(
          "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
        "nation_range" -> col("c_nationkey").between(0, 24)))
      quarantine(s, d)
        .select(col("c_custkey"), col("c_name"),
          floor(col("c_acctbal") * 100).cast("long").as("acctbal_c"),
          col("violations"),
          col("commit_version").cast("long").as("commit_version"))
    }),

    // LK13: Z-ORDER clustered layout × multi-column zone maps — the
    // OPTIMIZE ZORDER story: partitions are buckets of the Morton
    // interleave of (nationkey, balance band), so each partition is tight
    // in BOTH dimensions and the E145 conjunctive zone-map pruning
    // actually bites on both predicates (a single-dimension layout's zone
    // maps are useless for the other dimension — quantified in the unit).
    // Both band and bucket ride in the output, so the oracle re-derives
    // the full Morton spread in SQL bit ops — the z-value math itself is
    // hash-pinned cross-engine. Bucket count is bounded by the FIXED
    // value ranges (nationkey 0–24, acctbal bands 0–21), not the SF.
    "q_lake_zorder" -> ((s, dir) => {
      val c = graft.Tables.customer(s, dir)
        .withColumn("bal_band",
          floor((col("c_acctbal") + 1000.0) / 500.0).cast("long"))
      val zc = c.withColumn("z_bucket",
        shiftright(Layout.zValue(col("c_nationkey"), col("bal_band")), 4))
      val d = tableDir(dir + "#zorder")
      commitPartitionedStatsMulti(s, zc, d, "z_bucket",
        Seq("c_nationkey", "bal_band"))
      readPartitionedPrunedMulti(s, d, 0,
        Seq(("c_nationkey", 5L, 10L), ("bal_band", 4L, 7L)))
        .select(col("c_custkey"), col("c_name"),
          col("c_nationkey").cast("long").as("c_nationkey"),
          col("bal_band").cast("long").as("bal_band"),
          floor(col("c_acctbal") * 100).cast("long").as("acctbal_c"),
          col("z_bucket").cast("long").as("z_bucket"))
    }),

    // LK13: Bloom point-lookup skipping — customer partitioned by
    // nationkey (a layout UNCORRELATED with custkey, where zone maps on
    // the key are useless: every partition's [min, max] spans the key
    // space) with a per-partition Bloom filter over c_custkey in the
    // version's `_bloom` sidecar. The 3-key IN lookup probes the filters
    // driver-side and scans only the admitting partitions (≤ 3 of 25
    // plus any false positives — the unit pins the pruning), and must
    // still row-equal the full-table IN filter, which is the oracle.
    "q_lake_bloom_point" -> ((s, dir) => {
      val c = graft.Tables.customer(s, dir)
      val d = tableDir(dir + "#bloom")
      commitPartitionedBloom(s, c, d, "c_nationkey", "c_custkey")
      readPartitionedPoint(s, d, 0, "c_custkey", Seq(7L, 77L, 143L))
        .select(col("c_custkey"), col("c_name"),
          col("c_nationkey").cast("long").as("c_nationkey"),
          floor(col("c_acctbal") * 100).cast("long").as("acctbal_c"),
          col("c_mktsegment"))
    }),

    // LK15: column-mapping rename — v0 commits customer, v1 DV-deletes
    // %13 (keys recorded under the OLD name), v2 renames
    // c_acctbal→balance as ONE metadata file, v3 DV-deletes nationkey
    // ∈ {3, 7} (keys under the per-key column, recorded POST-rename).
    // The latest read must serve the renamed schema with both delete
    // generations applied — the fold flushes pre-rename DVs before the
    // rename. The oracle re-derives it all from the raw table with the
    // rename as a plain alias, so the zero-copy annotation must be
    // indistinguishable from a full rewrite.
    "q_lake_rename" -> ((s, dir) => {
      val c = graft.Tables.customer(s, dir)
      val d = tableDir(dir + "#rename")
      commit(c, d)
      deleteWhereDv(s, d, col("c_custkey") % 13 === 0, "c_custkey")
      renameColumn(s, d, "c_acctbal", "balance")
      deleteWhereDv(s, d, col("c_nationkey").isin(3, 7), "c_custkey")
      readAtDv(s, d, 3)
        .select(col("c_custkey"), col("c_name"),
          col("c_nationkey").cast("long").as("c_nationkey"),
          floor(col("balance") * 100).cast("long").as("balance_c"),
          col("c_mktsegment"))
    }),

    // LK15/E196: column-mapping DROP — v0 commits customer, v1
    // DV-deletes %13 (keys recorded while every column lived), v2 DROPS
    // c_mktsegment as ONE metadata file (require'd in-query: a drop
    // version, no data), v3 appends rows in the NARROWED schema. The
    // latest read serves the narrowed schema with the delete applied and
    // the append folded in; time travel below the drop keeps the column
    // (the unit pins it). The oracle re-derives everything from the raw
    // table with the drop as a plain projection, so the zero-copy
    // annotation must hash-match a full rewrite.
    "q_lake_drop_column" -> ((s, dir) => {
      val c = graft.Tables.customer(s, dir)
      val d = tableDir(dir + "#dropcol")
      commit(c, d)
      deleteWhereDv(s, d, col("c_custkey") % 13 === 0, "c_custkey")
      dropColumn(s, d, "c_mktsegment")
      require(isDropVersion(d, 2),
        "q_lake_drop_column: expected a metadata-only drop version")
      appendRows(c.filter(col("c_custkey") % 29 === 0)
        .select((col("c_custkey") + 9000000).as("c_custkey"),
          concat(lit("App "), col("c_name")).as("c_name"),
          col("c_nationkey"), col("c_acctbal")), d)
      readAtDv(s, d, 3)
        .select(col("c_custkey"), col("c_name"),
          col("c_nationkey").cast("long").as("c_nationkey"),
          floor(col("c_acctbal") * 100).cast("long").as("acctbal_c"))
    }),

    // LK14: hidden partitioning — orders committed under month(o_orderdate)
    // (the reader never names the derived key), then a raw-column date
    // range read: the transform translates the range into the 4 admitted
    // "yyyy-MM" partitions driver-side (the unit pins the pruning), the
    // residual BETWEEN trims the edge partitions, and the result must
    // row-equal the full-table filter — which is the oracle.
    "q_lake_hidden_part" -> ((s, dir) => {
      val o = graft.Tables.orders(s, dir)
      val d = tableDir(dir + "#hidden")
      commitPartitionedHidden(o, d, "month", "o_orderdate")
      readPartitionedHiddenRange(s, d, 0, "1996-02-10", "1996-05-20")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100).cast("long").as("price_c"),
          col("o_orderdate").cast("date").as("o_date"),
          col("o_orderpriority"))
    }),

    // LK12: shallow clone — the src table builds the standard v0/v1/v2
    // history, the clone forks it as ONE metadata pointer file (zero data
    // copied), then diverges with a DV delete of nationkey ∈ {3, 7}. The
    // result binds BOTH sides: the clone side proves the pointer resolves
    // the source's chain-resolved snapshot and stacks its own mutations
    // on top; the src side (read AFTER the clone's delete) proves the
    // fork is isolated — the source never observes clone mutations. The
    // oracle re-derives both sides from the merge algebra.
    "q_lake_clone" -> ((s, dir) => {
      val c = graft.Tables.customer(s, dir)
      val src = tableDir(dir + "#clonesrc")
      commit(c, src)
      upsert(s, src, Lake.customerDelta(c), "c_custkey")
      deleteWhere(s, src, col("c_custkey") % 13 === 0)
      val dst = tableDir(dir + "#clonedst")
      cloneShallow(s, src, dst)
      deleteWhereDv(s, dst, col("c_nationkey").isin(3, 7), "c_custkey")
      def shape(df: DataFrame, side: String): DataFrame =
        df.select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          floor(col("c_acctbal") * 100).cast("long").as("acctbal_c"),
          col("c_mktsegment"), lit(side).as("side"))
      shape(readAtDv(s, dst, 1), "clone")
        .unionByName(shape(readLatest(s, src), "src"))
    }),

    // LK4: CDC across the whole retained history — changes(v0, v2) with the
    // q_snapshot_diff oracle byte-identical: the versioned store's
    // round-trip (write → read → diff) must hash-match the purely
    // in-memory snapshot diff.
    "q_lake_changes" -> ((s, dir) => {
      val d = buildHistory(s, dir)
      def cents(v: Int): DataFrame = readAt(s, d, v)
        .withColumn("acctbal_c", floor(col("c_acctbal") * 100).cast("long"))
      Lake.snapshotDiff(cents(0), cents(2), "c_custkey",
        Seq("c_name", "acctbal_c"))
        .select(col("c_custkey"), col("change_type"),
          col("o_c_name"), col("n_c_name"),
          col("o_acctbal_c"), col("n_acctbal_c"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q_lake_timetravel" -> Lake.oracles("q_merge_upsert"),
    // the rename-annotated chain read must equal the aliased rewrite
    "q_lake_rename" ->
      """SELECT c_custkey, c_name,
        |  CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |  CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS balance_c, c_mktsegment
        |FROM customer
        |WHERE NOT (c_custkey % 13 = 0) AND NOT (c_nationkey IN (3, 7))
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_lake_drop_column" ->
      """WITH allrows AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal
        |  FROM customer WHERE NOT (c_custkey % 13 = 0)
        |  UNION ALL
        |  SELECT c_custkey + 9000000, 'App ' || c_name, c_nationkey,
        |    c_acctbal
        |  FROM customer WHERE c_custkey % 29 = 0)
        |SELECT c_custkey, c_name,
        |  CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |  CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS acctbal_c
        |FROM allrows ORDER BY ALL NULLS FIRST""".stripMargin,
    // the transform-pruned range read must equal the full-table filter
    "q_lake_hidden_part" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_c,
        |  CAST(o_orderdate AS DATE) AS o_date, o_orderpriority
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE)
        |  BETWEEN DATE '1996-02-10' AND DATE '1996-05-20'
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the bloom-pruned point read must equal the full-table IN filter
    "q_lake_bloom_point" ->
      """SELECT c_custkey, c_name,
        |  CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |  CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS acctbal_c, c_mktsegment
        |FROM customer WHERE c_custkey IN (7, 77, 143)
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // both sides re-derived from the merge algebra: src = merged minus
    // %13 deletes; clone = src additionally minus nationkey ∈ {3, 7}
    "q_lake_clone" ->
      s"""WITH ${Lake.mergeBaseSql},
         |src AS (
         |  SELECT c_custkey, c_name, c_nationkey,
         |    CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS acctbal_c,
         |    c_mktsegment
         |  FROM merged WHERE NOT (c_custkey % 13 = 0))
         |SELECT *, 'clone' AS side FROM src
         |WHERE NOT (c_nationkey IN (3, 7))
         |UNION ALL
         |SELECT *, 'src' AS side FROM src
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the chain-resolved read must equal (base ∪ appended) minus deletes
    "q_lake_append" ->
      """WITH appended AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'Appended ' || c_name, c_nationkey,
        |    c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 31 = 0)
        |SELECT c_custkey, c_name, c_nationkey,
        |  CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS acctbal_c, c_mktsegment
        |FROM appended WHERE NOT (c_custkey % 13 = 0)
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the union schema with base rows null-padded in the evolved column
    "q_lake_schema_evolution" ->
      """WITH evolved AS (
        |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
        |    CAST(NULL AS VARCHAR) AS c_tier
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 2000000, c_name, c_acctbal, c_mktsegment,
        |    CASE WHEN c_acctbal >= 5000.0 THEN 'gold' ELSE 'std' END
        |  FROM customer WHERE c_custkey % 31 = 0)
        |SELECT c_custkey, c_name,
        |  CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS acctbal_c,
        |  c_mktsegment, c_tier
        |FROM evolved ORDER BY ALL NULLS FIRST""".stripMargin,
    // the pruned z-ordered read must equal the full-table conjunctive
    // filter, with the Morton spread re-derived stage by stage in SQL bit
    // ops (mirrors Layout.zValue's shift-or-mask chain exactly)
    "q_lake_zorder" ->
      """WITH b AS (
        |  SELECT *, CAST(c_nationkey AS BIGINT) AS ax,
        |    CAST(FLOOR((c_acctbal + 1000.0) / 500.0) AS BIGINT) AS bx
        |  FROM customer),
        |s1 AS (SELECT *, ((ax | (ax << 16)) & 281470681808895) AS a1,
        |              ((bx | (bx << 16)) & 281470681808895) AS b1 FROM b),
        |s2 AS (SELECT *, ((a1 | (a1 << 8)) & 71777214294589695) AS a2,
        |              ((b1 | (b1 << 8)) & 71777214294589695) AS b2 FROM s1),
        |s3 AS (SELECT *, ((a2 | (a2 << 4)) & 1085102592571150095) AS a3,
        |              ((b2 | (b2 << 4)) & 1085102592571150095) AS b3 FROM s2),
        |s4 AS (SELECT *, ((a3 | (a3 << 2)) & 3689348814741910323) AS a4,
        |              ((b3 | (b3 << 2)) & 3689348814741910323) AS b4 FROM s3),
        |s5 AS (SELECT *, ((a4 | (a4 << 1)) & 6148914691236517205) AS a5,
        |              ((b4 | (b4 << 1)) & 6148914691236517205) AS b5 FROM s4)
        |SELECT c_custkey, c_name, ax AS c_nationkey, bx AS bal_band,
        |  CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS acctbal_c,
        |  ((a5 | (b5 << 1)) >> 4) AS z_bucket
        |FROM s5
        |WHERE c_nationkey BETWEEN 5 AND 10 AND bx BETWEEN 4 AND 7
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the quarantine re-derived with the same null-as-violation semantics
    "q_lake_expectations" ->
      """SELECT c_custkey, c_name,
        |  CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS acctbal_c,
        |  concat_ws(',',
        |    CASE WHEN NOT coalesce(c_acctbal >= 0, FALSE)
        |      THEN 'nonneg_bal' END,
        |    CASE WHEN NOT coalesce(c_mktsegment IN ('AUTOMOBILE',
        |      'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'), FALSE)
        |      THEN 'known_segment' END,
        |    CASE WHEN NOT coalesce(c_nationkey BETWEEN 0 AND 24, FALSE)
        |      THEN 'nation_range' END) AS violations,
        |  CAST(0 AS BIGINT) AS commit_version
        |FROM customer
        |WHERE NOT (coalesce(c_acctbal >= 0, FALSE)
        |  AND coalesce(c_mktsegment IN ('AUTOMOBILE', 'BUILDING',
        |    'FURNITURE', 'HOUSEHOLD', 'MACHINERY'), FALSE)
        |  AND coalesce(c_nationkey BETWEEN 0 AND 24, FALSE))
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the DataSource reader must be byte-identical to the programmatic read
    "q_lake_timetravel_sql" -> Lake.oracles("q_merge_upsert"),
    "q_lake_tag_sql" -> Lake.oracles("q_merge_upsert"),
    "q_lake_changes" -> Lake.oracles("q_snapshot_diff"),
    // the incrementally maintained view must equal the from-scratch
    // aggregate over the final logical snapshot (merge, then delete %13)
    "q_lake_incr_mv" ->
      s"""WITH ${Lake.mergeBaseSql}
         |SELECT c_mktsegment AS grp, CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_v
         |FROM merged WHERE c_custkey % 13 != 0
         |GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    // merge-on-read must equal the logical filter of both chained deletes
    "q_lake_delete_dv" ->
      """SELECT c_custkey, c_name, c_nationkey,
        |  CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS acctbal_c, c_mktsegment
        |FROM customer
        |WHERE NOT (c_custkey % 13 = 0) AND NOT (c_nationkey IN (3, 7))
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the conjunctive pruned scan must equal the full-table two-column
    // range filter exactly
    "q_lake_skipping_multi" ->
      """SELECT c_custkey, c_name,
        |  CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |  CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS acctbal_c,
        |  CAST(FLOOR(c_custkey / 100) AS BIGINT) AS ck_bucket
        |FROM customer
        |WHERE c_custkey BETWEEN 60 AND 140
        |  AND c_nationkey BETWEEN 5 AND 20
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the pruned scan must equal the full-table range filter, with the
    // planted cluster key bound into the output so the layout is pinned
    "q_lake_skipping" ->
      """SELECT c_custkey, c_name,
        |  CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS acctbal_c,
        |  CAST(FLOOR(c_custkey / 100) AS BIGINT) AS ck_bucket
        |FROM customer
        |WHERE c_custkey BETWEEN 60 AND 140
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the sidecar-served aggregates must equal a full scan of the same
    // logical snapshot (the q_lake_partitioned merge algebra)
    "q_lake_stats_agg" ->
      """WITH delta AS (
        |  SELECT c_custkey, c_name, c_nationkey,
        |    c_acctbal + 100.0 AS c_acctbal, c_mktsegment
        |  FROM customer
        |  WHERE c_custkey % 7 = 0 AND c_mktsegment = 'BUILDING'
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'New ' || c_name, c_nationkey,
        |    c_acctbal, c_mktsegment
        |  FROM customer
        |  WHERE c_custkey % 31 = 0 AND c_mktsegment = 'BUILDING'),
        |merged AS (
        |  SELECT
        |    CASE WHEN u.c_custkey IS NOT NULL THEN u.c_custkey ELSE t.c_custkey END AS c_custkey,
        |    CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal ELSE t.c_acctbal END AS c_acctbal
        |  FROM customer t FULL OUTER JOIN delta u ON t.c_custkey = u.c_custkey)
        |SELECT CAST(COUNT(*) AS BIGINT) AS row_cnt,
        |  CAST(MIN(c_custkey) AS BIGINT) AS min_c_custkey,
        |  CAST(MAX(c_custkey) AS BIGINT) AS max_c_custkey,
        |  CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS nulls_c_custkey,
        |  CAST(MIN(FLOOR(c_acctbal * 100)) AS BIGINT) AS min_acctbal_c,
        |  CAST(MAX(FLOOR(c_acctbal * 100)) AS BIGINT) AS max_acctbal_c,
        |  CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS nulls_acctbal_c
        |FROM merged ORDER BY ALL NULLS FIRST""".stripMargin,
    // the full-table merge with the delta restricted to one partition —
    // what the manifest-stitched read must reproduce exactly; the
    // OPTIMIZE row reuses it verbatim (moving bytes must not move rows)
    "q_lake_optimize" -> lakePartitionedSql,
    "q_lake_partitioned" -> lakePartitionedSql,
    // every payload count re-derived from the raw table; the rename row
    // pins that metadata-only commits carry no payload
    "q_lake_history" ->
      """SELECT 0 AS version, 'snapshot' AS kind,
        |  (SELECT count(*) FROM customer) AS n_rows
        |UNION ALL SELECT 1, 'dv',
        |  (SELECT count(DISTINCT c_custkey) FROM customer
        |   WHERE c_custkey % 13 = 0)
        |UNION ALL SELECT 2, 'append',
        |  (SELECT count(*) FROM customer WHERE c_custkey % 31 = 0)
        |UNION ALL SELECT 3, 'rename', 0
        |ORDER BY ALL NULLS FIRST""".stripMargin
  )

  // lazy: referenced from the oracles map above its definition point
  private lazy val lakePartitionedSql: String =
      """WITH delta AS (
        |  SELECT c_custkey, c_name, c_nationkey,
        |    c_acctbal + 100.0 AS c_acctbal, c_mktsegment
        |  FROM customer
        |  WHERE c_custkey % 7 = 0 AND c_mktsegment = 'BUILDING'
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'New ' || c_name, c_nationkey,
        |    c_acctbal, c_mktsegment
        |  FROM customer
        |  WHERE c_custkey % 31 = 0 AND c_mktsegment = 'BUILDING'),
        |merged AS (
        |  SELECT
        |    CASE WHEN u.c_custkey IS NOT NULL THEN u.c_custkey ELSE t.c_custkey END AS c_custkey,
        |    CASE WHEN u.c_custkey IS NOT NULL THEN u.c_name ELSE t.c_name END AS c_name,
        |    CASE WHEN u.c_custkey IS NOT NULL THEN u.c_nationkey ELSE t.c_nationkey END AS c_nationkey,
        |    CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal ELSE t.c_acctbal END AS c_acctbal,
        |    CASE WHEN u.c_custkey IS NOT NULL THEN u.c_mktsegment ELSE t.c_mktsegment END AS c_mktsegment
        |  FROM customer t FULL OUTER JOIN delta u ON t.c_custkey = u.c_custkey)
        |SELECT c_custkey, c_name, c_nationkey,
        |  CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS acctbal_c, c_mktsegment
        |FROM merged ORDER BY ALL NULLS FIRST""".stripMargin
}
