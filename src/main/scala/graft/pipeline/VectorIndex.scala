package graft.pipeline

import graft.{Par, Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted ANN index — the index LIFECYCLE around [[Similarity]]'s search
  * algebra. At scale the PQ/SQ8 codebooks, codes, and coarse-cell assignment
  * are built ONCE (an expensive training + encode pass over the corpus) and
  * then REUSED by every search; fusing the build into each query — as the
  * round-5 `q_pq_adc`/`q_pq_ivfadc`/`q_sq8_ivf` did — re-pays ~90% of the
  * query time for work whose whole point is amortization.
  *
  * Components, one parquet side table each (all deterministic, so a rebuild
  * is byte-identical and the DuckDB oracles — which re-derive everything
  * from the raw embeddings — hash-prove the persisted index lossless):
  *
  *   - `pq_books`    (sub, cell, cvec)   Lloyd-refined PQ codebooks
  *   - `pq_codes`    (vec_id, codes)     8-byte PQ codes per vector
  *   - `cells`       (cell, cvec)        IVF coarse centroids
  *   - `cell_assign` (vec_id, cell)      nearest-cell corpus assignment
  *   - `sq8_stats`   (mns, spans)        trained SQ8 quantizer (one row)
  *   - `sq8_codes`   (vec_id, codes)     64-byte SQ8 codes per vector
  *
  * Freshness + concurrency: the versioned-dir + atomic-marker-swap contract
  * of [[IndexStore]] (shared with [[DedupIndex]]), keyed on the source
  * fingerprint of `embeddings.parquet`.
  *
  * Incremental maintenance ([[appendBatch]]): new vectors are assigned to
  * the EXISTING cells and encoded against the EXISTING books/stats (encode
  * and assignment are per-row maps, so append ∪ old ≡ full re-encode under
  * a frozen quantizer), then unioned — the vector-index analogue of
  * [[graft.operators.Lake.mergeUpsert]]'s row upsert. Retraining the
  * quantizer itself is deliberately a full [[rebuild]]: centroid drift
  * invalidates every stored code, there is no cheaper correct path.
  */
object VectorIndex {

  private val store =
    new IndexStore("SPARK_GRAFT_INDEX_DIR", "graft-vector-index",
      "embeddings.parquet")

  /** Index directory for one corpus dir (env-relocatable root). */
  def dir(sfDir: String): String = store.dir(sfDir)

  /** Build-if-absent: reuse a fresh index, rebuild a missing/stale one.
    * Returns the current VERSION dir. Idempotent and cheap when fresh
    * (metadata only).
    */
  def ensure(spark: SparkSession, sfDir: String): String =
    store.ensure(sfDir)(buildInto(spark, sfDir, _))

  /** Unconditional build + persist of every component (the index-time write
    * pass — `q_pq_build` benches exactly this) into a fresh version dir
    * behind the atomic marker swap. Returns the new version dir.
    */
  def rebuild(spark: SparkSession, sfDir: String): String =
    store.rebuild(sfDir)(buildInto(spark, sfDir, _))

  /** Each downstream component is computed from the PERSISTED form of its
    * inputs, so what searches read is what the build wrote, with no
    * re-derivation seam.
    */
  private def buildInto(spark: SparkSession, sfDir: String, vd: String): Unit = {
    val e = T.embeddings(spark, sfDir)
    val corpus = e.select(col("vec_id"), col("embedding").as("vec"))

    // The four component chains (PQ, IVF, SQ8, k-means IVF) are
    // independent — each derives from the raw embeddings and its OWN
    // persisted predecessor, and writes disjoint paths. Sequential, the
    // build was ~50 small jobs back-to-back with most of the cluster
    // idle (wall ≈ 1.6× the summed job time at sf0.1); overlapped
    // ([[graft.Par]], guide §2.6) the wall collapses toward the longest
    // chain (the Lloyd-refined PQ train). Within each chain the order is
    // unchanged, so every component is still computed from the PERSISTED
    // form of its input and results stay byte-identical.
    Par.run(
      () => {
        Similarity.pqCodebooksRefined(e)
          .write.mode("overwrite").parquet(s"$vd/pq_books")
        Similarity.pqEncode(e, spark.read.parquet(s"$vd/pq_books"))
          .write.mode("overwrite").parquet(s"$vd/pq_codes")
      },
      () => {
        Similarity.centroidVectors(e)
          .select(col("clabel").as("cell"), col("cvec"))
          .write.mode("overwrite").parquet(s"$vd/cells")
        Similarity.assignCells(corpus, spark.read.parquet(s"$vd/cells"))
          .select("vec_id", "cell")
          .write.mode("overwrite").parquet(s"$vd/cell_assign")
      },
      () => {
        Similarity.sq8StatsRow(e)
          .write.mode("overwrite").parquet(s"$vd/sq8_stats")
        Similarity.sq8Encode(e, spark.read.parquet(s"$vd/sq8_stats"))
          .write.mode("overwrite").parquet(s"$vd/sq8_codes")
      },
      () => {
        // Unlabeled-corpus IVF: the deterministic k-means quantizer and its
        // corpus assignment are index-time artifacts exactly like the PQ
        // codebooks — r6 left them fused into `q_sim_ivf`'s search query
        // (re-paying the 2-round Lloyd build per search); persisted, the
        // search touches only these two side tables.
        Similarity.kmeansQuantizer(corpus, 8, 2)
          .write.mode("overwrite").parquet(s"$vd/kmeans_cells")
        Similarity.assignCells(corpus, spark.read.parquet(s"$vd/kmeans_cells"))
          .select("vec_id", "cell")
          .write.mode("overwrite").parquet(s"$vd/kmeans_assign")
      })
  }

  // ---- component accessors (build-if-absent) ----------------------------

  /** Tombstoned vec_ids, if any (see [[tombstone]]); per-row components are
    * served minus them, quantizer components (books/cells/stats) are
    * untouched — removal under a frozen quantizer, the mirror of
    * [[appendBatch]].
    */
  private def tombstones(s: SparkSession, sfDir: String): Option[DataFrame] = {
    val td = store.tombstoneDir(sfDir)
    if (new java.io.File(td).exists()) Some(s.read.parquet(td)) else None
  }

  private def minusTombstones(s: SparkSession, sfDir: String,
      df: DataFrame): DataFrame =
    tombstones(s, sfDir).fold(df)(t =>
      df.join(broadcast(t.select(col("vec").as("vec_id"))),
          Seq("vec_id"), "left_anti")
        .select(df.columns.map(col).toIndexedSeq: _*)) // USING joins front the key

  /** Logically remove vectors from the PERSISTED index (takedowns): ids
    * land in `_tombstones`, every per-row component reader anti-joins it
    * (broadcast — tiny), and no search path can return a removed vector.
    * Durable across rebuilds and compactions (the [[DedupIndex.tombstone]]
    * contract). Physical reclamation is [[compact]].
    */
  def tombstone(s: SparkSession, sfDir: String, ids: DataFrame): Unit = {
    ensure(s, sfDir)
    ids.select(col(ids.columns.head).cast("long").as("vec"))
      .write.mode("append").parquet(store.tombstoneDir(sfDir))
  }

  /** Physically rewrite the served version without tombstoned rows: fresh
    * immutable version dir + marker swap, certified against the
    * fingerprint the old marker carried (the new version derives from the
    * OLD one, not from a source re-read). Quantizer components are copied
    * through a read-write pass unchanged; per-row components drop the
    * removed ids. Readers see identical results before and after.
    */
  def compact(s: SparkSession, sfDir: String): String = {
    val old = store.servedVersion(sfDir).getOrElse(ensure(s, sfDir))
    store.rewriteVersion(sfDir) { vd =>
      Seq("pq_books", "cells", "sq8_stats", "kmeans_cells").foreach(c =>
        s.read.parquet(s"$old/$c").write.mode("overwrite").parquet(s"$vd/$c"))
      Seq("pq_codes", "cell_assign", "sq8_codes", "kmeans_assign").foreach(c =>
        minusTombstones(s, sfDir, s.read.parquet(s"$old/$c"))
          .write.mode("overwrite").parquet(s"$vd/$c"))
      ()
    }
  }

  def pqBooks(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(ensure(s, sfDir) + "/pq_books")
  def pqCodes(s: SparkSession, sfDir: String): DataFrame =
    minusTombstones(s, sfDir, s.read.parquet(ensure(s, sfDir) + "/pq_codes"))
  def cells(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(ensure(s, sfDir) + "/cells")
  def cellAssign(s: SparkSession, sfDir: String): DataFrame =
    minusTombstones(s, sfDir,
      s.read.parquet(ensure(s, sfDir) + "/cell_assign"))
  def sq8Stats(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(ensure(s, sfDir) + "/sq8_stats")
  def sq8Codes(s: SparkSession, sfDir: String): DataFrame =
    minusTombstones(s, sfDir, s.read.parquet(ensure(s, sfDir) + "/sq8_codes"))
  def kmeansCells(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(ensure(s, sfDir) + "/kmeans_cells")
  def kmeansAssign(s: SparkSession, sfDir: String): DataFrame =
    minusTombstones(s, sfDir,
      s.read.parquet(ensure(s, sfDir) + "/kmeans_assign"))

  // ---- incremental maintenance -------------------------------------------

  /** Index components for one corpus, as DataFrames — the unit [[appendBatch]]
    * merges. `pqCodes`/`sq8Codes` keyed by vec_id; `cellAssign` (vec_id, cell).
    */
  case class Components(pqCodes: DataFrame, cellAssign: DataFrame,
      sq8Codes: DataFrame)

  /** The persisted components of `sfDir`'s index (builds it if absent). */
  def components(s: SparkSession, sfDir: String): Components =
    Components(pqCodes(s, sfDir), cellAssign(s, sfDir), sq8Codes(s, sfDir))

  /** Append a batch of new vectors (vec_id, embedding) into existing
    * components under a FROZEN quantizer (books/cells/stats unchanged):
    * encode + assign the batch, union with the old rows. Because encode and
    * assignment are per-row maps, the merged components are row-identical
    * to a full re-encode of old ∪ new against the same quantizer — the
    * property `PipelineSpec` asserts and `q_sq8_ivf_append`'s unchanged
    * oracle hash-proves. No shuffle beyond encode's own (the batch side
    * only); the old components are untouched, exactly like a parquet
    * append at scale.
    */
  def appendBatch(old: Components, batch: DataFrame, books: DataFrame,
      cells: DataFrame, sq8StatsRow: DataFrame): Components = {
    val corpus = batch.select(col("vec_id"), col("embedding").as("vec"))
    Components(
      old.pqCodes.unionByName(Similarity.pqEncode(batch, books)),
      old.cellAssign.unionByName(
        Similarity.assignCells(corpus, cells).select("vec_id", "cell")),
      old.sq8Codes.unionByName(Similarity.sq8Encode(batch, sq8StatsRow)))
  }

  /** Remove vectors from components under a frozen quantizer — the inverse
    * of [[appendBatch]]: anti-join every per-row table on the removed ids.
    * Codes and assignments are per-row maps, so the result is row-identical
    * to encoding corpus ∖ removed against the same quantizer
    * (`q_sq8_ivf_remove` hash-proves the search over it). `ids` may be any
    * single-column DataFrame of vec_ids.
    */
  def removeBatch(old: Components, ids: DataFrame): Components = {
    val rem = ids.select(col(ids.columns.head).as("vec_id"))
    Components(
      old.pqCodes.join(rem, Seq("vec_id"), "left_anti"),
      old.cellAssign.join(rem, Seq("vec_id"), "left_anti"),
      old.sq8Codes.join(rem, Seq("vec_id"), "left_anti"))
  }
}
