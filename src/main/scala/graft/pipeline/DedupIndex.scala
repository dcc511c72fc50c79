package graft.pipeline

import graft.{Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted near-dup signature index — the index LIFECYCLE around
  * [[Dedup]]'s MinHash-LSH algebra, the dedup analogue of [[VectorIndex]].
  *
  * The most common production dedup job is not "dedup this corpus once";
  * it is "dedup today's crawl against everything already kept". Recomputing
  * the corpus signatures per batch re-pays the whole shingle+MinHash pass
  * over 100 TB for every incremental batch; the index persists them once:
  *
  *   - `sigs`    (doc, hv, sig)    md5-60bit hashed shingle set + k-perm
  *                                 MinHash signature per document
  *   - `buckets` (doc, band, bsig) banded signatures — the LSH join key
  *
  * An incoming batch then computes signatures for ITS documents only, joins
  * its banded signatures against the persisted buckets (one equi-join on
  * (band, bsig) — the same bucketed, never-all-pairs shape as batch LSH),
  * verifies candidates by exact Jaccard over the stored `hv` sets, and
  * appends its own rows into the index ([[appendBatch]]) for the next batch.
  * Signatures are per-document maps, so append ∪ old ≡ a from-scratch build
  * over old ∪ batch — `q_dedup_append_pairs` hash-proves exactly that with
  * an oracle byte-identical to `q_dedup_near_md5`'s.
  *
  * Everything here is the md5 cross-engine algebra (DuckDB re-derives every
  * signature, bucket, candidate, and Jaccard value), and it is the only
  * near-dup algebra: [[Dedup.nearDuplicatePairs]], curation and the
  * streaming near-dup paths all run it. Freshness + concurrency: the versioned-dir
  * + atomic-marker-swap contract of [[IndexStore]] (shared with
  * [[VectorIndex]]), keyed on the source fingerprint of `documents.parquet`.
  */
object DedupIndex {

  /** The two index components for one corpus, as DataFrames. */
  case class Components(sigs: DataFrame, buckets: DataFrame)

  /** `df` plus two columns, the signature pass in ONE place: `hv`, the
    * md5-60bit hashed distinct shingle set of `textCol` (for the
    * exact-Jaccard verify), and `sig`, the k-perm md5 MinHash signature
    * (for banding) DERIVED from `hv` — one digest per shingle, bit-identical
    * to `minhash_sig_md5` over the shingle strings. A row with no shingle
    * (text shorter than the shingle width) gets an empty `hv` and a
    * meaningless `sig`; every consumer drops it first ([[signatures]],
    * [[signedComponents]]), since it can never near-dup. `df` must not
    * already carry `hv`/`sig` columns.
    */
  private[graft] def withSignatures(df: DataFrame, textCol: String,
      k: Int = 8): DataFrame = {
    import graft.functions.TextHashes.minHashSigMd5Hashed
    df.withColumn("hv",
        graft.functions.TextScan.shingleHashes(col(textCol), ShingleWidth))
      .withColumn("sig", minHashSigMd5Hashed(col("hv"), k))
  }

  /** Keeps the rows of `textCol` that have a shingle: at least as many
    * words as the shingle width, counted by the scanner that builds `hv`
    * (`shingle_strings` is empty exactly below that count). A filter on
    * `hv` itself would be pushed below the projection that computes it and
    * digest every shingle twice; the word count is one byte pass with no
    * shingle and no digest, so each document is shingled and hashed once.
    */
  private[graft] def withShingles(df: DataFrame, textCol: String): DataFrame =
    df.filter(graft.functions.TextScan.wordCount(col(textCol)) >= ShingleWidth)

  /** The shingle width of every signature ([[withSignatures]]). */
  private val ShingleWidth = 3

  /** Per-document signature rows (doc, hv, sig) of [[withSignatures]].
    * Shingle-less documents are filtered out BEFORE hashing
    * ([[withShingles]]); a caller that materializes the signed rows anyway
    * may drop them after the checkpoint instead ([[components]]).
    */
  def signatures(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 8): DataFrame =
    withSignatures(withShingles(
        docs.select(col(idCol).as("doc"), col(textCol).as("text")), "text"),
      "text", k).select("doc", "hv", "sig")

  /** The band-key format, in ONE place: `bands` ','-joined slices of a
    * k-row signature. Every producer of (band, bsig) keys — [[banded]],
    * the persisted buckets, and both streaming near-dup paths — must build them
    * with this expression, or the equi-join spans disjoint key spaces and
    * silently matches nothing.
    */
  private[graft] def bandKeys(sig: org.apache.spark.sql.Column, k: Int,
      bands: Int): org.apache.spark.sql.Column = {
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => concat_ws(",", slice(sig, b * r + 1, lit(r))))
  }

  /** Banded signature rows (doc, band, bsig): the signature sliced into
    * `bands` bands of k/bands rows; `bsig` is the ','-joined slice — the
    * LSH bucket key. 24-ish bytes per row; the shingle arrays never enter
    * the bucket shuffle.
    */
  def banded(sigs: DataFrame, k: Int = 8, bands: Int = 4): DataFrame =
    sigs.select(col("doc"),
      posexplode(bandKeys(col("sig"), k, bands)).as(Seq("band", "bsig")))

  /** Both components from a corpus DataFrame. The signed rows are
    * checkpointed once: downstream consumers reference them up to four
    * times (banding feeds both sides of the bucket self-join, the verify
    * stage joins both endpoints' shingle sets), and left lazy the corpus
    * shingle+signature pass re-executed per reference. Shingle-less rows
    * are dropped AFTER the checkpoint ([[signedComponents]]), so each
    * document is shingled once. The persisted-index path is unaffected (it
    * reads the parquet components directly).
    */
  def components(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 8, bands: Int = 4): Components =
    signedComponents(graft.Ckpt(withSignatures(
        docs.select(col(idCol).as("doc"), col(textCol).as("text")), "text", k)
      .select("doc", "hv", "sig")), "doc", k, bands)

  /** Components over rows that already carry [[withSignatures]]' columns —
    * for a caller that materializes its documents WITH their signatures
    * once and reads that one frame for both the index and its own rows
    * ([[Curation.stageNear]]). `signed` should be materialized: the
    * components reference it up to four times.
    */
  private[graft] def signedComponents(signed: DataFrame, idCol: String,
      k: Int = 8, bands: Int = 4): Components = {
    val s = signed.filter(size(col("hv")) > 0)
      .select(col(idCol).as("doc"), col("hv"), col("sig"))
    Components(s, banded(s, k, bands))
  }

  /** Verified near-dup pairs WITHIN an index: bucket-collision candidates
    * (doc_a < doc_b, deduped as bare id pairs), then exact Jaccard over the
    * stored hashed shingle sets. This is [[Dedup.nearDuplicatePairs]]
    * factored over reusable components — the batch entry point delegates
    * here, so the oracle that hash-checks it checks this path too.
    */
  def selfPairs(ix: Components, threshold: Double = 0.5): DataFrame = {
    import graft.functions.TextHashes.jaccardLong
    val candidates = ix.buckets
      .select(col("band"), col("bsig"), col("doc").as("doc_a"))
      .join(ix.buckets.select(col("band"), col("bsig"), col("doc").as("doc_b")),
        Seq("band", "bsig"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").dropDuplicates("doc_a", "doc_b")
    candidates
      .join(ix.sigs.select(col("doc").as("doc_a"), col("hv").as("hv_a")), Seq("doc_a"))
      .join(ix.sigs.select(col("doc").as("doc_b"), col("hv").as("hv_b")), Seq("doc_b"))
      .withColumn("jaccard", round(jaccardLong(col("hv_a"), col("hv_b")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Incremental lookup: which documents of a NEW batch near-duplicate a
    * document already in the index? Returns (doc_corpus, doc_new, jaccard).
    *
    * Scale shape: signatures are computed for the BATCH only; the corpus
    * side is the persisted index — one (band, bsig) equi-join between batch
    * bands and stored buckets, candidate pairs deduped as bare ids, exact
    * Jaccard from the stored corpus `hv` + the batch's own. The corpus text
    * is never re-read, never re-shingled, never shuffled.
    *
    * `k`/`bands` must match the values the index was built with: band keys
    * are formatted signature slices, so a mismatch joins disjoint key
    * spaces and silently matches nothing (the persisted index is always
    * built with the defaults).
    */
  def lookup(ix: Components, batch: DataFrame, textCol: String, idCol: String,
      k: Int = 8, bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    import graft.functions.TextHashes.jaccardLong
    // the batch signature table feeds the band join AND the verify join,
    // but stays LAZY: the batch is small by contract, and the eager
    // localCheckpoint costs a fixed materialization job that exceeds the
    // recompute it saves (r14's blanket Ckpt here halved
    // q_dedup_index_lookup in the driver bench — 0.473 → 0.951 s)
    val bs = signatures(batch, textCol, idCol, k)
    val candidates = ix.buckets
      .select(col("band"), col("bsig"), col("doc").as("doc_corpus"))
      .join(banded(bs, k, bands)
        .select(col("band"), col("bsig"), col("doc").as("doc_new")),
        Seq("band", "bsig"))
      .filter(col("doc_corpus") =!= col("doc_new"))
      .select("doc_corpus", "doc_new").dropDuplicates("doc_corpus", "doc_new")
    candidates
      .join(ix.sigs.select(col("doc").as("doc_corpus"), col("hv").as("hv_a")),
        Seq("doc_corpus"))
      .join(bs.select(col("doc").as("doc_new"), col("hv").as("hv_b")),
        Seq("doc_new"))
      .withColumn("jaccard", round(jaccardLong(col("hv_a"), col("hv_b")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_corpus", "doc_new", "jaccard")
  }

  /** Append a batch of new documents into existing components: compute the
    * batch's signatures + bands, union with the old rows. Signatures are
    * per-document maps (no cross-document state), so the merged index is
    * row-identical to a from-scratch build over old ∪ batch — the property
    * `q_dedup_append_pairs` hash-proves (oracle byte-identical to
    * `q_dedup_near_md5`) and `PipelineSpec` asserts component-wise. The old
    * components are untouched, exactly like a parquet append at scale.
    */
  def appendBatch(ix: Components, batch: DataFrame, textCol: String,
      idCol: String, k: Int = 8, bands: Int = 4): Components = {
    // batch signatures feed both merged components, but stay LAZY: the
    // batch is small by contract, and the eager localCheckpoint's fixed
    // materialization job exceeds the saved recompute (r14's blanket Ckpt
    // here regressed q_dedup_incremental 0.806 → 1.078 s in the driver
    // bench — the q_assoc_rules lesson, Analytics.scala)
    val bs = signatures(batch, textCol, idCol, k)
    Components(ix.sigs.unionByName(bs),
      ix.buckets.unionByName(banded(bs, k, bands)))
  }

  /** Remove documents from components (takedowns, re-crawls): anti-join
    * both tables on the removed ids. Because signatures are per-document
    * maps, the result is row-identical to a from-scratch build over
    * corpus ∖ removed — `q_dedup_remove_pairs` hash-proves exactly that
    * (oracle = the from-scratch pair SQL over the reduced corpus).
    * `ids` may be any single-column DataFrame of document ids.
    */
  def removeBatch(ix: Components, ids: DataFrame): Components = {
    val rem = ids.select(col(ids.columns.head).as("doc"))
    Components(ix.sigs.join(rem, Seq("doc"), "left_anti"),
      ix.buckets.join(rem, Seq("doc"), "left_anti"))
  }

  /** The pair-table analogue of [[removeBatch]]: drop every pair touching a
    * removed id. Pair membership depends only on its two endpoints, so this
    * equals [[selfPairs]] over the reduced components — no recompute needed
    * when the pair table is already persisted.
    */
  def removePairs(pairs: DataFrame, ids: DataFrame): DataFrame = {
    val rem = ids.select(col(ids.columns.head))
    pairs
      .join(rem.select(col(rem.columns.head).as("doc_a")), Seq("doc_a"), "left_anti")
      .join(rem.select(col(rem.columns.head).as("doc_b")), Seq("doc_b"), "left_anti")
      .select(pairs.columns.map(col).toIndexedSeq: _*) // USING joins front the key
  }

  // ---- persistence (documents.parquet of an sfDir) -----------------------

  private val store =
    new IndexStore("SPARK_GRAFT_DEDUP_INDEX_DIR", "graft-dedup-index",
      "documents.parquet")

  /** The k / bands the persisted index is built with. Band keys are
    * formatted signature slices, so reading with different parameters joins
    * disjoint key spaces and silently matches nothing — the build records
    * them in a version-dir meta file and [[checkParams]] asserts at read.
    */
  val builtK = 8
  val builtBands = 4
  /** Pair-verify threshold baked into the persisted `pairs` component. */
  val builtThreshold = 0.5

  /** Index directory for one corpus dir (env-relocatable root). */
  def dir(sfDir: String): String = store.dir(sfDir)

  /** Build-if-absent; returns the current VERSION dir. */
  def ensure(spark: SparkSession, sfDir: String): String =
    store.ensure(sfDir)(buildInto(spark, sfDir, _))

  /** Unconditional build + persist of all three components behind the
    * atomic marker swap. Returns the new version dir.
    */
  def rebuild(spark: SparkSession, sfDir: String): String =
    store.rebuild(sfDir)(buildInto(spark, sfDir, _))

  /** Each component is derived from the PERSISTED form of its predecessor
    * (buckets from stored sigs, pairs from stored sigs+buckets), so what
    * lookups join against is exactly what the build wrote — no
    * re-derivation seam (the [[VectorIndex]] build principle). The verified
    * pair table is a component too: connected components, PageRank,
    * canonical selection, leak-safe splits, and curation all start from the
    * pair list, and at 100 TB re-deriving it per analytics query re-pays
    * the corpus shingle pass — persisting it makes those queries pure
    * iteration over a parquet edge list (`q_dedup_index_pairs` hash-proves
    * it equal to the from-scratch pipeline every round).
    */
  private def buildInto(spark: SparkSession, sfDir: String, vd: String): Unit = {
    // Two independent chains over the corpus — the MinHash chain
    // (sigs → buckets → pairs) and the exact-hash side table — overlapped
    // per guide §2.6 ([[graft.Par]]): the hashes chain's jobs back-fill
    // the signature chain's stage tails; within each chain the order (and
    // the computed-from-the-PERSISTED-predecessor property) is unchanged.
    graft.Par.run(
      () => {
        signatures(T.documents(spark, sfDir), "text", "doc_id")
          .write.mode("overwrite").parquet(s"$vd/sigs")
        banded(spark.read.parquet(s"$vd/sigs"), builtK, builtBands)
          .write.mode("overwrite").parquet(s"$vd/buckets")
        selfPairs(Components(spark.read.parquet(s"$vd/sigs"),
            spark.read.parquet(s"$vd/buckets")), builtThreshold)
          .write.mode("overwrite").parquet(s"$vd/pairs")
      },
      () => {
        // exact-dedup side table: the content hash of every document — the
        // anti-join set incremental ingest dedups a new batch against,
        // persisted so the daily job never reads corpus text
        // (Curation.curateIncremental)
        T.documents(spark, sfDir)
          .select(col("doc_id").as("doc"),
            md5(Dedup.normText(col("text"))).as("h"))
          .write.mode("overwrite").parquet(s"$vd/hashes")
      })
    java.nio.file.Files.writeString(java.nio.file.Paths.get(vd, "_meta"),
      s"k=$builtK\nbands=$builtBands\nthreshold=$builtThreshold\n")
  }

  /** Assert the persisted index's build parameters match what the caller is
    * about to join with — a k/bands mismatch would silently return zero
    * matches (disjoint band-key spaces), which is strictly worse than
    * failing. Pre-meta version dirs (none survive the v2 fingerprint bump)
    * would fail here too, forcing a rebuild.
    */
  private def checkParams(vd: String, k: Int, bands: Int): String = {
    val meta = java.nio.file.Paths.get(vd, "_meta")
    val kv = java.nio.file.Files.readString(meta).linesIterator
      .flatMap(_.split("=", 2) match {
        case Array(a, b) => Some(a -> b); case _ => None
      }).toMap
    require(kv.get("k").contains(k.toString) &&
        kv.get("bands").contains(bands.toString),
      s"persisted dedup index at $vd was built with k=${kv.get("k")} " +
        s"bands=${kv.get("bands")}, but k=$k bands=$bands requested — " +
        "band keys would join disjoint key spaces; rebuild the index or " +
        "use the built parameters")
    vd
  }

  /** Tombstoned doc ids for `sfDir`'s index, if any. */
  private def tombstones(s: SparkSession, sfDir: String): Option[DataFrame] = {
    val td = store.tombstoneDir(sfDir)
    if (new java.io.File(td).exists()) Some(s.read.parquet(td)) else None
  }

  private def minusTombstones(s: SparkSession, sfDir: String, df: DataFrame,
      idCols: Seq[String]): DataFrame =
    tombstones(s, sfDir).fold(df) { t =>
      idCols.foldLeft(df)((acc, c) =>
          acc.join(broadcast(t.select(col("doc").as(c))), Seq(c), "left_anti"))
        .select(df.columns.map(col).toIndexedSeq: _*) // USING joins front the key
    }

  /** Logically remove documents from the PERSISTED index: their ids land in
    * the `_tombstones` side table, which every reader anti-joins (broadcast
    * — the list is tiny relative to the corpus). Durable across rebuilds
    * and compactions: a takedown can never be resurrected by index
    * maintenance, because tombstones live outside the version dirs and are
    * never cleared by the store. Physical reclamation is [[compact]].
    */
  def tombstone(s: SparkSession, sfDir: String, ids: DataFrame): Unit = {
    ensure(s, sfDir)
    ids.select(col(ids.columns.head).cast("long").as("doc"))
      .write.mode("append").parquet(store.tombstoneDir(sfDir))
  }

  /** Physically rewrite the served version without tombstoned rows (the
    * `snapshotDiff` pattern: a fresh immutable version dir + marker swap,
    * certified against the fingerprint the old marker carried — compaction
    * derives from the OLD VERSION, not from a re-read of the source).
    * Readers see identical results before and after (their anti-join
    * becomes a no-op); space is reclaimed. Returns the new version dir.
    */
  def compact(s: SparkSession, sfDir: String): String = {
    val old = store.servedVersion(sfDir).getOrElse(ensure(s, sfDir))
    store.rewriteVersion(sfDir) { vd =>
      minusTombstones(s, sfDir, s.read.parquet(s"$old/sigs"), Seq("doc"))
        .write.mode("overwrite").parquet(s"$vd/sigs")
      minusTombstones(s, sfDir, s.read.parquet(s"$old/buckets"), Seq("doc"))
        .write.mode("overwrite").parquet(s"$vd/buckets")
      minusTombstones(s, sfDir, s.read.parquet(s"$old/pairs"),
          Seq("doc_a", "doc_b"))
        .write.mode("overwrite").parquet(s"$vd/pairs")
      minusTombstones(s, sfDir, s.read.parquet(s"$old/hashes"), Seq("doc"))
        .write.mode("overwrite").parquet(s"$vd/hashes")
      java.nio.file.Files.copy(java.nio.file.Paths.get(old, "_meta"),
        java.nio.file.Paths.get(vd, "_meta"))
      ()
    }
  }

  def sigs(s: SparkSession, sfDir: String, k: Int = builtK,
      bands: Int = builtBands): DataFrame =
    minusTombstones(s, sfDir,
      s.read.parquet(checkParams(ensure(s, sfDir), k, bands) + "/sigs"),
      Seq("doc"))
  def buckets(s: SparkSession, sfDir: String, k: Int = builtK,
      bands: Int = builtBands): DataFrame =
    minusTombstones(s, sfDir,
      s.read.parquet(checkParams(ensure(s, sfDir), k, bands) + "/buckets"),
      Seq("doc"))

  /** The persisted verified pair table (doc_a, doc_b, jaccard) — the edge
    * list every graph/curation consumer starts from, read instead of
    * re-deriving LSH signatures from raw text per query.
    */
  def pairs(s: SparkSession, sfDir: String, k: Int = builtK,
      bands: Int = builtBands): DataFrame =
    minusTombstones(s, sfDir,
      s.read.parquet(checkParams(ensure(s, sfDir), k, bands) + "/pairs"),
      Seq("doc_a", "doc_b"))

  /** The persisted content-hash table (doc, h) — the exact-dedup side
    * table incremental ingest anti-joins a new batch against.
    */
  def contentHashes(s: SparkSession, sfDir: String): DataFrame =
    minusTombstones(s, sfDir, s.read.parquet(ensure(s, sfDir) + "/hashes"),
      Seq("doc"))

  /** The persisted components of `sfDir`'s index (builds it if absent). */
  def persisted(s: SparkSession, sfDir: String): Components =
    Components(sigs(s, sfDir), buckets(s, sfDir))
}
