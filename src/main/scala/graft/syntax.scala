package graft

import org.apache.spark.sql.{Column, DataFrame}

/** Import-and-go extension syntax for the pipeline operators:
  *
  * {{{
  *   import graft.syntax._
  *   docs.nearDupPairs("text", "doc_id").dupClusters()
  *   docs.hashSample($"doc_id", 10)
  *   $"embedding".cosineSim($"other")
  * }}}
  *
  * Thin sugar over the `graft.pipeline` / `graft.functions` objects — every
  * method delegates, so the plan shapes (and their tests) are identical.
  */
object syntax {

  implicit class GraftDataFrameOps(private val df: DataFrame) extends AnyVal {

    /** MinHash-LSH near-duplicate pairs; see [[pipeline.Dedup.nearDuplicatePairs]]. */
    def nearDupPairs(textCol: String, idCol: String, k: Int = 8,
        bands: Int = 4, threshold: Double = 0.5): DataFrame =
      pipeline.Dedup.nearDuplicatePairs(df, textCol, idCol, k, bands, threshold)

    /** Connected components over a (doc_a, doc_b) pair list; see
      * [[pipeline.Dedup.duplicateClusters]].
      */
    def dupClusters(maxIters: Int = 20): DataFrame =
      pipeline.Dedup.duplicateClusters(df, maxIters)

    /** Reproducible hash sample; see [[pipeline.Sampling.hashSample]]. */
    def hashSample(key: Column, pct: Int): DataFrame =
      pipeline.Sampling.hashSample(df, key, pct)

    /** Per-stratum reproducible sample; see
      * [[pipeline.Sampling.stratifiedHashSample]].
      */
    def stratifiedHashSample(key: Column, stratum: Column,
        rates: Map[String, Int], otherPct: Int): DataFrame =
      pipeline.Sampling.stratifiedHashSample(df, key, stratum, rates, otherPct)
  }

  implicit class GraftColumnOps(private val c: Column) extends AnyVal {

    /** Exact cosine similarity; see [[functions.VectorOps.cosineSim]]. */
    def cosineSim(other: Column): Column =
      functions.VectorOps.cosineSim(c, other)

    /** Dot product; see [[functions.VectorOps.dotProduct]]. */
    def dot(other: Column): Column =
      functions.VectorOps.dotProduct(c, other)

    /** Sign-pattern LSH bucket; see [[functions.VectorOps.cosineLshBucket]]. */
    def lshBucket(planes: Int = 8, table: Int = 0): Column =
      functions.VectorOps.cosineLshBucket(c, planes, table)

    /** Content-defined chunk hashes; see [[functions.TextHashes.contentChunks]]. */
    def contentChunks(avgBits: Int = 6): Column =
      functions.TextHashes.contentChunks(c, avgBits)
  }
}
