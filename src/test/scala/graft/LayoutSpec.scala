package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Layout/extension mechanics: bucketed joins run shuffle-free, salted joins
  * return exactly the plain-join result, and the GraftExtensions SQL
  * functions resolve.
  */
class LayoutSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("graft-wh").toString

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", warehouse)
    .config("spark.ui.enabled", "false")
    .withExtensions(new GraftExtensions)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  test("bucketed tables join without an exchange (co-located sort-merge)") {
    operators.Layout.writeBucketed(
      Tables.orders(spark, sf), "orders_b", "o_custkey", 4)
    operators.Layout.writeBucketed(
      Tables.customer(spark, sf).withColumn("o_custkey", col("c_custkey")),
      "customer_b", "o_custkey", 4)
    val joined = spark.table("orders_b")
      .join(spark.table("customer_b").hint("merge"), "o_custkey")
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"expected shuffle-free bucketed join:\n$p")
    assert(joined.count() === Tables.orders(spark, sf).count())
  }

  test("AQE splits a skewed join partition at runtime (the no-salt skew answer)") {
    // The complement of the manual salted join: planted hot key, skew-join
    // thresholds scaled to test size, and the FINAL adaptive plan must show
    // the sort-merge join running in skew mode — at 100 TB this is what
    // catches the hot keys nobody pre-salted.
    import spark.implicits._
    val s = spark.newSession() // isolated SQLConf; shared context
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import org.apache.spark.sql.functions.{col => c, lit => l}
    val pad = "x" * 64
    // 50k rows on ONE key (plus a sprinkle of cold keys) vs a 40-row dim
    val hot = s.range(50000).select(
      when(c("id") % 1000 === 0, (c("id") % 8) + 1).otherwise(l(0L)).as("k"),
      concat(c("id").cast("string"), l(pad)).as("payload"))
    val dim = s.range(40).select((c("id") % 10).as("k"),
      c("id").cast("string").as("dname"))
    val joined = hot.join(dim, "k")
    // execute `joined` itself so ITS adaptive plan finalizes (a derived
    // consumer would leave this plan isFinalPlan=false; count() would prune
    // the payload and deflate the skewed partition below the threshold)
    assert(joined.collect().length === 50000 * 4) // every row matches 4 dim rows
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("skew=true"),
      s"expected AQE to mark the hot-key sort-merge join as skewed:\n$p")
  }

  test("salted join returns exactly the plain join's rows") {
    val o = Tables.orders(spark, sf)
    val n = Tables.nation(spark, sf)
      .withColumn("o_custkey", (col("n_nationkey") % 10).cast("long"))
      .select("o_custkey", "n_name")
    val plain = o.join(n, Seq("o_custkey"))
      .select("o_orderkey", "n_name").collect().map(_.toSeq).toSet
    val salted = operators.Layout.saltedJoin(o, n, "o_custkey", 8)
      .select("o_orderkey", "n_name").collect().map(_.toSeq).toSet
    assert(salted === plain && plain.nonEmpty)
  }

  test("bloom-pruned semi-join: same rows as plain semi-join, big side pre-filtered") {
    val o = Tables.orders(spark, sf)
    val sel = Tables.customer(spark, sf)
      .filter(col("c_custkey") % 97 === 0) // selective small side
      .select(col("c_custkey").as("o_custkey"))
    val plain = o.join(sel, Seq("o_custkey"), "left_semi")
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val pruned = operators.Layout.bloomPrunedSemiJoin(o, sel, "o_custkey",
      expectedItems = 1000, fpp = 0.01)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(pruned === plain && plain.nonEmpty)
    // the bloom pre-filter alone already removes almost all non-matches
    val bf = sel.stat.bloomFilter("o_custkey", 1000, 0.01)
    val kept = o.collect().count(r =>
      bf.mightContain(r.getAs[Long]("o_custkey")))
    assert(kept < o.count() / 10, s"bloom kept $kept of ${o.count()}")
  }

  test("compact rewrites fragmented parquet into size-targeted files") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toFile
    val fragmented = new java.io.File(dir, "frag").getAbsolutePath
    val li = Tables.lineitem(spark, sf)
    li.repartition(64).write.mode("overwrite").parquet(fragmented) // 64 shards
    val nFrags = new java.io.File(fragmented).listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(nFrags >= 32)
    val out = new java.io.File(dir, "compacted").getAbsolutePath
    val parts = operators.Layout.compact(
      spark.read.parquet(fragmented), out, targetFileMB = 64)
    val nOut = new java.io.File(out).listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(nOut === parts && nOut < nFrags)
    // content preserved
    assert(spark.read.parquet(out).count() === li.count())
  }

  test("zValue interleaves bits; z-sorted layout keeps both dims locally bounded") {
    import spark.implicits._
    // known interleavings: z(1,0)=1, z(0,1)=2, z(3,5)=0b100111=39
    val z = Seq((1, 0), (0, 1), (3, 5)).toDF("a", "b")
      .select(operators.Layout.zValue(col("a"), col("b"))).collect()
      .map(_.getLong(0)).toSeq
    assert(z === Seq(1L, 2L, 39L))
    // locality: z-order a 32x32 grid into 16 chunks; in a lexicographic sort
    // by (a, b), each chunk spans the full b-range (spread 31), while z-order
    // bounds BOTH dimensions per chunk.
    val grid = (0 until 32).flatMap(a => (0 until 32).map(b => (a, b)))
      .toDF("a", "b")
    def maxChunkSpread(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val rows = df.collect().map(r => (r.getInt(0), r.getInt(1)))
      val spreads = rows.grouped(64).map { chunk =>
        (chunk.map(_._1).max - chunk.map(_._1).min,
          chunk.map(_._2).max - chunk.map(_._2).min)
      }.toSeq
      (spreads.map(_._1).max, spreads.map(_._2).max)
    }
    val lex = maxChunkSpread(grid.orderBy("a", "b"))
    val zord = maxChunkSpread(
      grid.orderBy(operators.Layout.zValue(col("a"), col("b"))))
    assert(lex._2 === 31) // lexicographic: trailing dim unbounded per chunk
    assert(zord._1 <= 8 && zord._2 <= 8, s"z-order spreads $zord") // both bounded
  }

  test("zValueScalar is value-equal to the Column zValue over the edge domain") {
    import spark.implicits._
    // the driver-side scalar (zorderLayout's zMax bucket bound) and the
    // executor-side Column expression build from ONE shared mask-stage
    // definition — this pins them equal so neither can drift alone
    val probes = Seq[(Long, Long)]((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L),
      (255L, 256L), (12345L, 54321L), ((1L << 31) - 1, 0L),
      (0L, (1L << 31) - 1), ((1L << 31) - 1, (1L << 31) - 1),
      (1L << 30, (1L << 30) + 7))
    val fromCol = probes.toDF("a", "b")
      .select(operators.Layout.zValue(col("a"), col("b"))).collect()
      .map(_.getLong(0)).toSeq
    val fromScalar = probes.map { case (a, b) =>
      operators.Layout.zValueScalar(a, b) }
    assert(fromCol === fromScalar)
    // monotonicity at the bound: z(maxA, maxB) dominates interior points
    assert(probes.forall { case (a, b) =>
      operators.Layout.zValueScalar(a, b) <=
        operators.Layout.zValueScalar((1L << 31) - 1, (1L << 31) - 1) })
  }

  test("md5 MinHash: sig derived from the shingle hashes ≡ minhash_sig_md5 over the strings, both ≡ the md5 reference") {
    import spark.implicits._
    import functions.TextHashes.{md5Hash60Array, minHashSigMd5, minHashSigMd5Hashed}
    // the cross-engine definition, spelled independently of the library:
    // hash60(s) = first 15 hex chars of md5(s); c_p = hash60("perm|p");
    // sig(p) = min over the set of hash60(shingle) XOR c_p
    def hash60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15), 16)
    def reference(shs: Seq[String], k: Int): Seq[Long] =
      (1 to k).map { p =>
        val c = hash60(s"perm|$p")
        shs.map(hash60(_) ^ c).foldLeft(Long.MaxValue)(math.min)
      }
    val rnd = new scala.util.Random(11L)
    val words = IndexedSeq("the", "fox", "über", "naïve", "日本", "a", "", "z9")
    val sets: Seq[Seq[String]] = Seq(Seq.empty, Seq("only one shingle")) ++
      Seq.fill(60)(Seq.fill(rnd.nextInt(40))(
        Seq.fill(3)(words(rnd.nextInt(words.size))).mkString(" ")).distinct)
    for (k <- Seq(1, 8, 16)) {
      val got = sets.toDF("shs")
        .select(col("shs"), minHashSigMd5(col("shs"), k).as("a"),
          minHashSigMd5Hashed(md5Hash60Array(col("shs")), k).as("b"))
        .collect()
      assert(got.length === sets.size)
      got.foreach { r =>
        val want = reference(r.getSeq[String](0), k)
        assert(r.getSeq[Long](1) === want, s"k=$k ${r.getSeq[String](0)}")
        assert(r.getSeq[Long](2) === want, s"k=$k ${r.getSeq[String](0)}")
      }
    }
    // the SQL surface returns the same values
    val sql = spark.sql(
      """SELECT minhash_sig_md5(array('the quick fox', 'quick fox jumps')) AS d,
        |  minhash_sig_md5(array('only one shingle'), 3) AS one,
        |  minhash_sig_md5(array()) AS empty""".stripMargin).head()
    assert(sql.getSeq[Long](0) === reference(Seq("the quick fox", "quick fox jumps"), 8))
    assert(sql.getSeq[Long](1) === reference(Seq("only one shingle"), 3))
    assert(sql.getSeq[Long](2) === Seq.fill(8)(Long.MaxValue))
    // element hashes digest each element's stored UTF-8 bytes; null and
    // empty elements both hash as ""
    val elems = spark.sql(
      "SELECT md5_hash60_array(array('', NULL, 'über', '日本 fox')) AS h").head()
    assert(elems.getSeq[Long](0) === Seq("", "", "über", "日本 fox").map(hash60))
  }

  test("GraftExtensions: native expressions callable from SQL") {
    Tables.documents(spark, sf).createOrReplaceTempView("docs_ext")
    val r = spark.sql(
      """SELECT doc_id, simhash_md5(text) AS sh,
        |  size(minhash_sig_md5(shingle_strings(text), 8)) AS k,
        |  jaccard_long(md5_hash60_array(shingle_strings(text)),
        |    md5_hash60_array(shingle_strings(text))) AS self_jac
        |FROM docs_ext LIMIT 5""".stripMargin).collect()
    assert(r.length === 5)
    assert(r.forall(_.getInt(2) === 8))
    assert(r.forall(_.getDouble(3) === 1.0))
    // md5-twin and string-shingle variants registered too
    val r2 = spark.sql(
      """SELECT doc_id, simhash_md5(text) AS sh60,
        |  size(minhash_sig_md5(shingle_strings(text), 4)) AS k,
        |  size(shingle_strings(text, 2)) AS n2
        |FROM docs_ext LIMIT 5""".stripMargin).collect()
    assert(r2.length === 5)
    assert(r2.forall(_.getLong(1) >= 0)) // 60-bit: always positive
    assert(r2.forall(_.getInt(2) === 4))
    assert(r2.forall(_.getInt(3) > 0))
    // positional span hashes: one hash per n-gram start, 15 hex chars each
    val r3 = spark.sql(
      """SELECT span_md5_hashes('a b c d', 3) AS h3,
        |  span_md5_hashes('a b') AS h8""".stripMargin).collect()
    assert(r3.head.getSeq[String](0).length === 2)
    assert(r3.head.getSeq[String](0).forall(_.length === 15))
    assert(r3.head.getSeq[String](1).isEmpty) // shorter than the gram width
  }

  test("GraftExtensions: vector expressions callable from SQL") {
    Tables.embeddings(spark, sf).createOrReplaceTempView("emb_ext")
    val r = spark.sql(
      """SELECT vec_id, cosine_sim(embedding, embedding) AS self_sim,
        |  cosine_lsh_bucket(embedding) AS b8,
        |  cosine_lsh_bucket(embedding, 4, 1) AS b4t1
        |FROM emb_ext LIMIT 5""".stripMargin).collect()
    assert(r.length === 5)
    assert(r.forall(x => math.abs(x.getDouble(1) - 1.0) < 1e-12))
    assert(r.forall(x => x.getLong(2) >= 0 && x.getLong(2) < 256))
    assert(r.forall(x => x.getLong(3) >= 0 && x.getLong(3) < 16))
    // every bucket ≡ an independent md5 reference: plane weight
    // w(gp, d) = (first 8 bytes of md5("plane|gp|d") >>> 4) % 100000 / 1e5
    // - 0.5 with gp = table * planes + p; bit p is set iff the projection
    // Σ_d v(d)·w(gp, d), summed in index order, is >= 0
    def weight(gp: Int, d: Int): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"plane|$gp|$d".getBytes("UTF-8"))
        .take(8).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
      ((h >>> 4) % 100000L).toDouble / 100000.0 - 0.5
    }
    def reference(v: Seq[Float], planes: Int, table: Int): Long =
      (0 until planes).foldLeft(0L) { (bucket, p) =>
        val proj = v.indices.foldLeft(0.0)((acc, d) =>
          acc + v(d).toDouble * weight(table * planes + p, d))
        if (proj >= 0) bucket | (1L << p) else bucket
      }
    import spark.implicits._
    import graft.syntax._
    val buckets = spark.sql(
      """SELECT embedding AS v, cosine_lsh_bucket(embedding) AS b8,
        |  cosine_lsh_bucket(embedding, 4, 1) AS b4t1
        |FROM emb_ext WHERE vec_id < 50""".stripMargin)
      .withColumn("sugar", $"v".lshBucket(4, 1)).collect()
    assert(buckets.length === 50)
    buckets.foreach { x =>
      val v = x.getSeq[Float](0)
      assert(x.getLong(1) === reference(v, 8, 0))
      assert(x.getLong(2) === reference(v, 4, 1))
      assert(x.getLong(3) === x.getLong(2))
    }
    // sq8_asym_sim: a self-comparison through an exact (span-0) "decode" —
    // codes all 0, mns = the vector itself — must give cosine 1
    val r2 = spark.sql(
      """SELECT vec_id, sq8_asym_sim(embedding,
        |  array_repeat(0, size(embedding)),
        |  transform(embedding, v -> CAST(v AS DOUBLE)),
        |  array_repeat(0D, size(embedding))) AS self_sim
        |FROM emb_ext LIMIT 5""".stripMargin).collect()
    assert(r2.length === 5)
    assert(r2.forall(x => math.abs(x.getDouble(1) - 1.0) < 1e-12))
  }

  test("native theta sketch family callable from SQL (E171 uses the built-ins, not shims)") {
    spark.range(1, 1001).toDF("k").createOrReplaceTempView("ta_ext")
    spark.range(501, 1501).toDF("k").createOrReplaceTempView("tb_ext")
    val r = spark.sql(
      """SELECT
        |  theta_sketch_estimate(theta_intersection(a.sk, b.sk)) AS i,
        |  theta_sketch_estimate(theta_union(a.sk, b.sk)) AS u,
        |  theta_sketch_estimate(theta_difference(a.sk, b.sk)) AS d
        |FROM (SELECT theta_sketch_agg(k) AS sk FROM ta_ext) a
        |CROSS JOIN (SELECT theta_sketch_agg(k) AS sk FROM tb_ext) b""".stripMargin)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((500L, 1500L, 500L)))
  }
}
