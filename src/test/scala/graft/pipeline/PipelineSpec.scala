package graft.pipeline

import graft.{Tables => T}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Unit verification for the non-oracle pipeline operators (SURVEY.md §2.10):
  * MinHash-LSH and SimHash near-dup (planted duplicates), ANN vs brute-force
  * agreement, language ID on planted texts, fingerprint overlap, multimodal
  * feature extraction determinism, approx_count_distinct accuracy.
  */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  test("minhash-LSH finds planted near-duplicates and skips unrelated docs") {
    import spark.implicits._
    val base = "spark shuffles partition data across the cluster for joins " +
      "and aggregations while the optimizer prunes columns and pushes filters"
    val nearDup = base.replace("cluster", "fleet") // 1-word edit
    val unrelated = "entirely different words about cooking pasta with basil " +
      "tomatoes olives garlic and a pinch of salt in a large pot"
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated))
      .toDF("doc_id", "text")
    // threshold 0.5 needs narrow bands: r=2 ⇒ per-band hit prob s², 16 bands
    // ⇒ miss prob (1-s²)^16 ≈ 1e-5 at s=0.7 (k=16,b=4 targets s≈0.8+).
    val pairs = Dedup.nearDuplicatePairs(docs, "text", "doc_id",
      k = 32, bands = 16, threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    assert(pairs.head.getDouble(2) > 0.5)
  }

  test("simhash: near-identical texts have close fingerprints (small hamming)") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog near the river bank"
    val b = a.replace("river", "creek")
    val c = "completely unrelated legal boilerplate concerning maritime law"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
      .select(col("doc_id"), graft.functions.TextHashes.simHashMd5(col("text")).as("h"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(hamming(m(1L), m(2L)) < hamming(m(1L), m(3L)))
    assert(hamming(m(1L), m(2L)) <= 16)
  }

  test("ANN bucketing: identical vectors collide; results agree with brute force on its candidates") {
    val e = T.embeddings(spark, sf)
    val probes = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = e.select(col("vec_id"), col("embedding").as("vec"))
    val brute = Similarity.bruteForceTopK(probes, corpus, 5).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val ann = Similarity.annTopK(probes, corpus, 5).collect()
    assert(ann.nonEmpty)
    // every ANN result's similarity is ≤ the brute-force result at that rank
    // (ANN sees a candidate subset), and self-bucket collisions guarantee the
    // probe's own bucket is never empty.
    ann.foreach { r =>
      val key = (r.getLong(0), r.getInt(1))
      brute.get(key).foreach { case (_, bsim) => assert(r.getDouble(3) <= bsim) }
    }
    // planted exact duplicate must be found at rank 1 with sim 1.0
    import spark.implicits._
    val v = corpus.filter(col("vec_id") === 0).collect()(0).getSeq[Float](1).toArray
    val dupCorpus = corpus.union(Seq((999L, v)).toDF("vec_id", "vec"))
    val res = Similarity.annTopK(
      probes.filter(col("qid") === 0), dupCorpus, 1).collect()
    assert(res.length === 1 && res(0).getLong(2) === 999L && res(0).getDouble(3) === 1.0)
  }

  test("ANN recall: >=0.9 on planted near-duplicates at production params") {
    // Production-shaped check: a near-duplicate (cos ~0.99+) must survive the
    // default planes=8 / tables=4 / multi-probe index with near-certainty
    // (per-plane agreement ~0.95 ⇒ per-table ≤1-flip ~0.95, miss ~(0.05)^4).
    import spark.implicits._
    val e = T.embeddings(spark, sf)
    val corpus = e.select(col("vec_id"), col("embedding").as("vec"))
    val rnd = new scala.util.Random(7)
    val planted = corpus.filter(col("vec_id") < 20).collect().map { r =>
      val v = r.getSeq[Float](1).toArray
      val noisy = v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f * math.abs(x).max(0.1f))
      (r.getLong(0) + 10000L, noisy)
    }
    val probes = planted.toSeq.toDF("qid", "qvec")
    val hits = Similarity.annTopK(probes, corpus, 1).collect()
      .filter(r => r.getLong(2) === r.getLong(0) - 10000L && r.getDouble(3) > 0.95)
    assert(hits.length >= 18, s"found ${hits.length}/20 planted near-duplicates")
  }

  test("IVF top-k: planted near-duplicates found; sims never beat brute force") {
    import spark.implicits._
    val e = T.embeddings(spark, sf)
    val cent = Similarity.centroidVectors(e)
    // corpus assigned to cells by true label (the quantizer the oracle query
    // q_sim_ivf_assign validates); queries probe nearest cells
    val corpus = e.select(col("label").as("cell"), col("vec_id"),
      col("embedding").as("vec"))
    val probes = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val brute = Similarity.bruteForceTopK(
      probes, corpus.select(col("vec_id"), col("vec")), 5).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(3)).toMap
    val ivf = Similarity.ivfTopK(probes, corpus, cent, 5, nprobe = 3).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      brute.get((r.getLong(0), r.getInt(1)))
        .foreach(bsim => assert(r.getDouble(3) <= bsim))
    }
    // a planted exact duplicate (same cell as its original) is found at rank 1
    val v0 = e.filter(col("vec_id") === 0)
      .select("label", "embedding").collect()(0)
    val dup = Seq((v0.getInt(0), 999L, v0.getSeq[Float](1).toArray))
      .toDF("cell", "vec_id", "vec")
    val res = Similarity.ivfTopK(probes.filter(col("qid") === 0),
      corpus.union(dup), cent, 1, nprobe = 3).collect()
    assert(res.length === 1 && res(0).getLong(2) === 999L &&
      res(0).getDouble(3) === 1.0)
  }

  test("k-means quantizer: Lloyd rounds improve fit over hash init; deterministic") {
    val e = T.embeddings(spark, sf)
    val corpus = e.select(col("vec_id"), col("embedding").as("vec"))
    def avgBestSim(centroids: org.apache.spark.sql.DataFrame): Double =
      Similarity.assignCells(corpus, centroids)
        .agg(avg(col("sim"))).collect()(0).getDouble(0)
    val init = Similarity.kmeansQuantizer(corpus, 8, iters = 0)
    val trained = Similarity.kmeansQuantizer(corpus, 8, iters = 2)
    val (a0, a2) = (avgBestSim(init), avgBestSim(trained))
    assert(a2 > a0, s"training did not improve fit: init $a0, trained $a2")
    // deterministic: an independent rebuild yields identical centroids
    val again = Similarity.kmeansQuantizer(corpus, 8, iters = 2)
    val c1 = trained.collect().map(_.toString).sorted.toSeq
    val c2 = again.collect().map(_.toString).sorted.toSeq
    assert(c1 === c2)
    // and the trained quantizer slots straight into ivfTopK
    val probes = e.filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val indexed = Similarity.assignCells(corpus, trained).drop("sim")
    val res = Similarity.ivfTopK(probes, indexed,
      trained.select(col("cell").as("clabel"), col("cvec")), 3, nprobe = 2)
    assert(res.collect().nonEmpty)
  }

  test("ANN recall vs brute-force top-5 >= 0.8 with wide test-sized params") {
    // Whole-ranking recall on this 500-vector fixture, where "neighbors" are
    // near-random (top-5 cosine ~0.25-0.4): per-plane agreement is only ~0.6,
    // so the test uses few planes + more tables (the knobs a 500-row corpus
    // would actually use; production sizes them up with the data).
    val e = T.embeddings(spark, sf)
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = e.select(col("vec_id"), col("embedding").as("vec"))
    val brute = Similarity.bruteForceTopK(probes, corpus, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = Similarity.annTopK(probes, corpus, 5, planes = 3, tables = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & ann).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall (${(brute & ann).size}/${brute.size})")
  }

  test("semantic dedup: planted near-duplicate removed with its keeper; rest kept") {
    import spark.implicits._
    val e = T.embeddings(spark, sf).select("vec_id", "label", "embedding")
    val r3 = e.filter(col("vec_id") === 3).collect()(0)
    // An exact copy has cosine 1.0 with its source and lands in the same
    // cell (identical centroid sims, same tie-break order).
    val planted = Seq((999L, r3.getInt(1), r3.getSeq[Float](2).toSeq))
      .toDF("vec_id", "label", "embedding")
    val e2 = e.union(planted)
    val dups = Similarity.semanticDedup(e2, 0.95).collect()
    assert(dups.length === 1, s"expected only the planted dup, got ${dups.toSeq}")
    assert(dups(0).getLong(0) === 999L && dups(0).getLong(1) === 3L)
    assert(dups(0).getDouble(2) === 1.0)
    assert(Similarity.semanticPrune(e2, 0.95).count() === e2.count() - 1)
  }

  test("langId picks the language with most stopword hits; ties deterministic") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat sat on the mat and it is happy for a while"),
      (2L, "der hund und die katze das ist nicht ein problem mit zu viel"),
      (3L, "le chat est dans la maison et les oiseaux dans un arbre pour que"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("p"))
    assert(df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ===
      Map(1L -> "en", 2L -> "de", 3L -> "fr"))
  }

  test("fingerprint: shared-shingle docs overlap, disjoint docs do not") {
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val c = "one two three four five six seven eight nine ten"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
    val m = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(m(1L).intersect(m(2L)).nonEmpty)
    assert(m(1L).intersect(m(3L)).isEmpty)
  }

  test("multimodal: mapPartitions feature extraction is deterministic, schema stable") {
    val f1 = Multimodal.extractFeatures(Multimodal.mediaTable(spark, sf))
    val f2 = Multimodal.extractFeatures(Multimodal.mediaTable(spark, sf))
    assert(f1.schema.fieldNames.toSeq ===
      Seq("media_id", "byte_len", "width", "height", "channels"))
    val a = f1.collect().sortBy(_.media_id)
    val b = f2.collect().sortBy(_.media_id)
    assert(a.toSeq === b.toSeq)
    assert(a.forall(r => r.width >= 1 && r.height >= 1 && r.byte_len > 0))
  }

  test("multimodal: real PNG payloads decode to exact dimensions via imageio") {
    import spark.implicits._
    // generate two tiny PNGs with known dims + one non-image payload
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xFF8800)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    assert(Multimodal.imageDims(png(17, 9)) === Some((17, 9, 3)))
    assert(Multimodal.imageDims("not an image".getBytes) === None)
    // end-to-end through the partition-batched extractor
    val media = Seq(
      (1L, png(17, 9)), (2L, png(3, 44)), (3L, "plain bytes".getBytes))
      .toDF("media_id", "content")
      .withColumn("meta", struct(lit("image/png").as("mime"),
        lit("image").as("modality"), length(col("content")).as("byte_len")))
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> ((f.width, f.height, f.channels))).toMap
    assert(feats(1L) === ((17, 9, 3)))
    assert(feats(2L) === ((3, 44, 3)))
    assert(feats(3L) === Multimodal.hashDims("plain bytes".getBytes)) // fallback
  }

  test("multimodal: real full-raster pixel decode for JDK image formats") {
    // a genuine 4x2 PNG: left half pure red, right half pure blue
    val img = new java.awt.image.BufferedImage(4, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 4)
      img.setRGB(x, y, if (x < 2) 0xff0000 else 0x0000ff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val Some((w, h, means)) = Multimodal.pixelStats(bos.toByteArray)
    assert((w, h) === ((4, 2)))
    assert(means(0) === 127.5) // half the pixels are 255-red
    assert(means(1) === 0.0)
    assert(means(2) === 127.5)
    assert(Multimodal.pixelStats("not an image".getBytes) === None)
  }

  test("multimodal: dHash — format/brightness invariant, edit-local, banded pairs find near-dups") {
    import spark.implicits._
    def encode(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos); bos.toByteArray
    }
    // a deterministic 36x32 gradient-ish image with real structure
    def base(shift: Int, edit: Boolean): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(36, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 36) {
        val v0 = (x * 7 + (y / 4) * 13 + (x * y) % 23) % 200
        val v = math.min(255, v0 + shift)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      if (edit) for (y <- 0 until 8; x <- 0 until 4)
        img.setRGB(x, y, 0xffffff) // local patch edit
      img
    }
    val png = encode(base(0, edit = false), "png")
    val bmp = encode(base(0, edit = false), "bmp")
    val bright = encode(base(30, edit = false), "png")
    val edited = encode(base(0, edit = true), "png")
    val Some(hPng) = Multimodal.dHash(png)
    // format-invariant: same pixels, different container → identical hash
    assert(Multimodal.dHash(bmp) === Some(hPng))
    // brightness-shift invariant: relative cell order survives +30
    // (saturation clamps only the top of the 0..199 ramp)
    val Some(hBright) = Multimodal.dHash(bright)
    assert(java.lang.Long.bitCount(hPng ^ hBright) <= 3,
      s"brightness shift moved ${java.lang.Long.bitCount(hPng ^ hBright)} bits")
    // a local patch edit flips few bits; the pair survives banding at d<=3
    val Some(hEdit) = Multimodal.dHash(edited)
    val dEdit = java.lang.Long.bitCount(hPng ^ hEdit)
    assert(dEdit >= 1 && dEdit <= 3, s"local edit distance $dEdit")
    // an unrelated image is far away
    val noise = new java.awt.image.BufferedImage(36, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 36)
      noise.setRGB(x, y, if ((x * 31 + y * 17) % 2 == 0) 0xffffff else 0)
    val Some(hNoise) = Multimodal.dHash(encode(noise, "png"))
    assert(java.lang.Long.bitCount(hPng ^ hNoise) > 10)
    // non-image payloads decode to None
    assert(Multimodal.dHash("not an image".getBytes) === None)
    // banded pair join: the near-dups pair up, the noise image does not
    val hashes = Seq((1L, hPng), (2L, hEdit), (3L, hNoise))
      .toDF("media_id", "dhash")
    val pairs = Multimodal.dHashPairs(hashes).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)), pairs.toString)
  }

  test("multimodal: dHash brightness compare is 128-bit exact past Long overflow") {
    // A ~0.4-gigapixel image's cell sums (≤ 255000·n) times neighbor counts
    // overflow 64-bit products; cmpProducts must still order correctly.
    // Planted ORDER INVERSION under naive Long math: left = 2⁶³−2 (stays
    // positive), right = 2⁶³+2 (wraps negative) — a signed 64-bit compare
    // would call left the brighter cell; the true order is left < right.
    val q = 4611686018427387904L // 2⁶²
    assert(Multimodal.cmpProducts(2L, q - 1, 2L, q + 1) < 0)
    assert(Multimodal.cmpProducts(2L, q + 1, 2L, q - 1) > 0)
    // equal overflowing products, and a*a just past sqrt(Long.MaxValue)
    val a = 3037000500L
    assert(Multimodal.cmpProducts(a, a, a, a) === 0)
    assert(Multimodal.cmpProducts(a, a, a - 1, a) > 0)
    assert(Multimodal.cmpProducts(a - 1, a, a, a) < 0)
    // 64-bit sanity: small operands agree with plain Long compare
    assert(Multimodal.cmpProducts(7L, 3L, 4L, 5L) > 0)
    assert(Multimodal.cmpProducts(2L, 3L, 4L, 5L) < 0)
  }

  test("multimodal: real JPEG pixel decode via the JDK's baseline reader") {
    // JPEG is the dominant web-corpus image format and the JDK ships its
    // own baseline codec — so the decode is REAL here, not the hash stub.
    // A solid color survives lossy 4:2:0 coding nearly exactly; golden
    // tolerance covers the DCT/quantization error.
    val img = new java.awt.image.BufferedImage(16, 12,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 12; x <- 0 until 16) img.setRGB(x, y, 0x60a0d0)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val jpeg = bos.toByteArray
    // header magic: a real JFIF/EXIF payload, not a re-encoded PNG
    assert((jpeg(0) & 0xff) === 0xff && (jpeg(1) & 0xff) === 0xd8)
    // header-only dims route through the real reader (not hashDims)
    val Some((hw, hh, _)) = Multimodal.imageDims(jpeg)
    assert((hw, hh) === ((16, 12)))
    // full-raster decode: means within a lossy tolerance of the source
    val Some((w, h, means)) = Multimodal.pixelStats(jpeg)
    assert((w, h) === ((16, 12)))
    assert(math.abs(means(0) - 0x60) <= 3.0, s"R mean ${means(0)}")
    assert(math.abs(means(1) - 0xa0) <= 3.0, s"G mean ${means(1)}")
    assert(math.abs(means(2) - 0xd0) <= 3.0, s"B mean ${means(2)}")
  }

  test("multimodal: WAV payloads decode real sample rate/channels/duration") {
    // generate a genuine 16-bit stereo 8 kHz WAV of 4000 frames (500 ms)
    import javax.sound.sampled._
    val fmt = new AudioFormat(8000f, 16, 2, true, false)
    val frames = 4000
    val pcm = new Array[Byte](frames * fmt.getFrameSize)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    assert(Multimodal.audioMeta(wav) === Some((8000, 2, 16, 500L)))
    assert(Multimodal.audioMeta("not audio".getBytes) === None)
    assert(Multimodal.imageDims(wav) === None) // seams don't cross-match
  }

  test("multimodal: binaryFile source ingests real media files into the decode seams") {
    // The actual 100 TB media-ingest path: a directory of raw files read as
    // (path, modificationTime, length, content) rows via Spark's built-in
    // binaryFile source, flowing straight into the header/sample decoders.
    val dir = java.nio.file.Files.createTempDirectory("media-ingest")
    val img = new java.awt.image.BufferedImage(7, 5,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    javax.imageio.ImageIO.write(img, "png", dir.resolve("a.png").toFile)
    javax.imageio.ImageIO.write(img, "jpg", dir.resolve("c.jpg").toFile)
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(new Array[Byte](1600)), fmt, 800L)
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, dir.resolve("b.wav").toFile)
    val files = spark.read.format("binaryFile").load(dir.toString)
      .select("path", "content").collect()
      .map(r => (r.getString(0).split('/').last, r.getAs[Array[Byte]](1))).toMap
    assert(files.keySet === Set("a.png", "b.wav", "c.jpg"))
    assert(Multimodal.imageDims(files("a.png")) === Some((7, 5, 3)))
    assert(Multimodal.imageDims(files("c.jpg")) === Some((7, 5, 3)))
    assert(Multimodal.pixelStats(files("c.jpg")).exists(_._1 === 7))
    val Some((frames, ch, _, _)) = Multimodal.audioStats(files("b.wav"))
    assert(frames === 800L && ch === 1)
  }

  test("multimodal: real PCM sample decode — sine RMS = A/sqrt(2), peak = A") {
    import javax.sound.sampled._
    def sineWav(amp: Double, hz: Double, frames: Int, stereo: Boolean,
        bits: Int): Array[Byte] = {
      val ch = if (stereo) 2 else 1
      val fmt = new AudioFormat(8000f, bits, ch, bits == 16, false)
      val pcm = new Array[Byte](frames * fmt.getFrameSize)
      for (i <- 0 until frames) {
        val s = amp * math.sin(2 * math.Pi * hz * i / 8000.0)
        for (c <- 0 until ch) {
          if (bits == 16) {
            val v = math.round(s * 32767).toInt
            pcm((i * ch + c) * 2) = (v & 0xff).toByte
            pcm((i * ch + c) * 2 + 1) = ((v >> 8) & 0xff).toByte
          } else pcm(i * ch + c) = (math.round(s * 127) + 128).toByte // u8
        }
      }
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    // 16-bit stereo: a full-period-aligned sine has RMS = A/sqrt(2)
    val Some((frames, ch, peak, rms)) =
      Multimodal.audioStats(sineWav(0.5, 1000, 8000, stereo = true, bits = 16))
    assert(frames === 8000L && ch === 2)
    assert(math.abs(peak - 0.5) < 0.01, s"peak $peak")
    assert(math.abs(rms - 0.5 / math.sqrt(2)) < 0.01, s"rms $rms")
    // 8-bit unsigned mono takes the other decode branch
    val Some((f8, c8, p8, r8)) =
      Multimodal.audioStats(sineWav(0.5, 1000, 8000, stereo = false, bits = 8))
    assert(f8 === 8000L && c8 === 1)
    assert(math.abs(p8 - 0.5) < 0.02 && math.abs(r8 - 0.5 / math.sqrt(2)) < 0.02)
    // silence: peak = rms = 0; non-audio: None (the seam)
    val Some((_, _, ps, rs)) =
      Multimodal.audioStats(sineWav(0.0, 1000, 100, stereo = false, bits = 16))
    assert(ps === 0.0 && rs === 0.0)
    assert(Multimodal.audioStats("not audio".getBytes) === None)
  }

  test("pq: 32x code compression; ADC shortlist + exact rerank recall >= 0.7") {
    val e = T.embeddings(spark, sf)
    val books = Similarity.pqCodebooksRefined(e)
    val codes = Similarity.pqEncode(e, books)
    // every vector gets exactly M codes in [0, ksub): 8 bytes vs 256
    val bad = codes.filter(size(col("codes")) =!= Similarity.pqM ||
      exists(col("codes"), c => c < 0 || c >= Similarity.pqK)).count()
    assert(bad === 0)
    assert(Similarity.pqM * 1 * 32 === 256) // 8 byte-codes stand in for 64 floats
    val probes = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = e.select(col("vec_id"), col("embedding").as("vec"))
    val exact = Similarity.bruteForceTopK(probes, corpus, 10)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val reranked = Similarity
      .pqShortlistTopK(probes, corpus, codes, books, 10, shortlist = 100)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & reranked).size.toDouble / exact.size
    assert(recall >= 0.7, s"shortlist+rerank recall@10 = $recall")
  }

  test("ivfadc: cell-pruned ADC recall within eps of the exhaustive ADC scan") {
    // sf0.01 (500 vectors): at sf0.001's ~50 vectors a 10-cell quantizer
    // leaves ~5-row cells and recall@10 is mostly sampling noise.
    val e = T.embeddings(spark, "/root/testdata/sf0.01")
    val books = Similarity.pqCodebooksRefined(e)
    val codes = Similarity.pqEncode(e, books)
    val corpus = e.select(col("vec_id"), col("embedding").as("vec"))
    val cent = Similarity.centroidVectors(e)
      .select(col("clabel").as("cell"), col("cvec"))
    val assigned = Similarity.assignCells(corpus, cent)
    val probes = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(probes, corpus, 10))
    val adc = pairs(Similarity.pqAdcTopK(probes, codes, books, 10))
    val ivfadc = pairs(Similarity.pqIvfAdcTopK(
      probes, codes, books, assigned, cent, 10, nprobe = 3))
    val rAdc = (exact & adc).size.toDouble / exact.size
    val rIvf = (exact & ivfadc).size.toDouble / exact.size
    // The claim under test: pruning to nprobe cells costs only a bounded
    // recall epsilon vs scanning EVERY code (exhaustive ADC measures 0.30
    // here — the 8×16 codebook is deliberately small; rerank recovers it,
    // see the shortlist test). Floor = 10× the random-k baseline (10/500).
    assert(rIvf >= rAdc - 0.15, s"ivfadc recall $rIvf vs adc $rAdc")
    assert(rIvf >= 0.2, s"ivfadc recall floor: $rIvf (adc: $rAdc)")
    // the full production composition — IVF prune → ADC shortlist → exact
    // rerank — recovers most of what the coarse codes lose
    val reranked = pairs(Similarity.pqIvfShortlistTopK(
      probes, corpus, codes, books, assigned, cent, 10,
      shortlist = 100, nprobe = 3))
    val rRerank = (exact & reranked).size.toDouble / exact.size
    // measured ~0.47: more than 2× the raw IVFADC top-k, and close to the
    // nprobe=3-of-10-cells ceiling (neighbors in unprobed cells are out of
    // reach by design — the recall/scan-cost dial every IVF index exposes)
    assert(rRerank >= rIvf, s"rerank lost recall: $rRerank vs ivfadc $rIvf")
    assert(rRerank >= 0.4, s"ivf+shortlist+rerank recall floor: $rRerank")
  }

  test("sq8: codes are valid uint8, asymmetric search recall@10 >= 0.9") {
    val e = T.embeddings(spark, sf)
    val stats = Similarity.sq8StatsRow(e)
    val codes = Similarity.sq8Encode(e, stats)
    // every vector gets exactly 64 codes in [0, 255]: 4x smaller than f32
    val bad = codes.filter(size(col("codes")) =!= 64 ||
      exists(col("codes"), c => c < 0 || c > 255)).count()
    assert(bad === 0)
    val probes = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = e.select(col("vec_id"), col("embedding").as("vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(probes, corpus, 10))
    val sq8 = pairs(Similarity.sq8TopK(probes, codes, stats, 10))
    // 256 levels/dim is near-exact — the quantization error per dim is
    // <= span/510, so rankings barely move (unlike PQ's 16 cells/subspace)
    val recall = (exact & sq8).size.toDouble / exact.size
    assert(recall >= 0.9, s"sq8 recall@10 = $recall")
    // IVF composition: cell pruning costs only the IVF epsilon (same claim
    // as the IVFADC test, on the SQ8 scan)
    val cent = Similarity.centroidVectors(e)
      .select(col("clabel").as("cell"), col("cvec"))
    val assigned = Similarity.assignCells(corpus, cent)
    val ivfSq8 = pairs(Similarity.sq8IvfTopK(
      probes, codes, stats, assigned, cent, 10, nprobe = 3))
    val rIvf = (exact & ivfSq8).size.toDouble / exact.size
    assert(rIvf >= 0.2, s"ivf-sq8 recall floor: $rIvf (sq8: $recall)")
    assert(ivfSq8.subsetOf(sq8) || rIvf <= recall,
      "cell pruning must never beat the exhaustive scan it prunes")
  }

  test("vector index: persisted components match a fresh build; appendBatch under a frozen quantizer equals the full encode") {
    val e = T.embeddings(spark, sf)
    val comp = VectorIndex.components(spark, sf) // builds on first access
    val books = VectorIndex.pqBooks(spark, sf)
    val cells = VectorIndex.cells(spark, sf)
    val stats = VectorIndex.sq8Stats(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    // the parquet round trip is lossless: persisted books == fresh refine
    assert(rows(books.select("sub", "cell", "cvec")) ===
      rows(Similarity.pqCodebooksRefined(e).select("sub", "cell", "cvec")))
    // incremental maintenance: (half index) ∪ appendBatch(rest) must be
    // row-identical to the full build — encode/assignment are per-row maps
    // under a frozen quantizer, so the merge loses nothing
    val half = VectorIndex.Components(
      comp.pqCodes.filter(col("vec_id") < 250),
      comp.cellAssign.filter(col("vec_id") < 250),
      comp.sq8Codes.filter(col("vec_id") < 250))
    val merged = VectorIndex.appendBatch(half,
      e.filter(col("vec_id") >= 250).select("vec_id", "embedding"),
      books, cells, stats)
    assert(rows(merged.pqCodes) === rows(comp.pqCodes))
    assert(rows(merged.cellAssign) === rows(comp.cellAssign))
    assert(rows(merged.sq8Codes) === rows(comp.sq8Codes))
    // and the search over the merged index equals the search over the full
    // one (the property q_sq8_ivf_append's unchanged oracle hash-proves)
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    assert(
      rows(Similarity.sq8IvfTopK(probes, merged.sq8Codes, stats,
        merged.cellAssign, cells, 10)) ===
      rows(Similarity.sq8IvfTopK(probes, comp.sq8Codes, stats,
        comp.cellAssign, cells, 10)))
  }

  test("dedup index: persisted ≡ fresh; append ≡ from-scratch; lookup finds cross-batch near-dups only") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    // persisted components are lossless vs a fresh in-memory build
    val docs = T.documents(spark, sf)
    val fresh = DedupIndex.components(docs, "text", "doc_id")
    val pers = DedupIndex.persisted(spark, sf)
    assert(rows(pers.sigs) === rows(fresh.sigs))
    assert(rows(pers.buckets) === rows(fresh.buckets))
    // append maintenance: corpus-slice index + appended batch must be
    // component-wise identical to the from-scratch build over everything
    // (signatures are per-doc maps — nothing cross-document to lose)
    val corpus = DedupIndex.components(
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "text", "doc_id")
    val merged = DedupIndex.appendBatch(corpus,
      docs.filter(pmod(col("doc_id"), lit(5)) === 0), "text", "doc_id")
    assert(rows(merged.sigs) === rows(fresh.sigs))
    assert(rows(merged.buckets) === rows(fresh.buckets))
    // planted incremental lookup: the batch's near-dup of a kept doc is
    // found; its unrelated doc matches nothing; corpus-internal dups are
    // NOT re-reported (the lookup only pairs corpus × batch)
    val base = "the quick brown fox jumps over the lazy dog near the old stone bridge today"
    val kept = Seq(
      (1L, base),
      (2L, base + " extra"), // corpus-internal near-dup of 1
      (3L, "completely different words about spark catalyst expression codegen internals")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (100L, base + " again"), // near-dup of kept 1/2
      (101L, "unrelated fresh content on streaming watermarks and state stores")
    ).toDF("doc_id", "text")
    val found = DedupIndex.lookup(
      DedupIndex.components(kept, "text", "doc_id"), batch, "text", "doc_id")
      .select("doc_corpus", "doc_new")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.nonEmpty && found.forall(_._2 == 100L),
      s"only the planted near-dup batch doc may match: $found")
    assert(found.contains((1L, 100L)))
  }

  test("vector index: persisted kmeans quantizer ≡ fresh build; persisted-path IVF search ≡ fused-path search") {
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val e = T.embeddings(spark, sf)
    val corpus = e.select(col("vec_id"), col("embedding").as("vec"))
    // the parquet round trip is lossless: persisted centroids == fresh Lloyd
    val fresh = Similarity.kmeansQuantizer(corpus, 8, 2)
    assert(rows(VectorIndex.kmeansCells(spark, sf)) === rows(fresh))
    // the persisted-path search (what q_sim_ivf now runs) returns exactly
    // what the r6 fused-path search did — the reroute changed the plan, not
    // one result row
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val persistedPath = Similarity.ivfTopK(probes,
      corpus.join(VectorIndex.kmeansAssign(spark, sf), Seq("vec_id")),
      VectorIndex.kmeansCells(spark, sf)
        .select(col("cell").as("clabel"), col("cvec")), 10, nprobe = 3)
    val fusedPath = Similarity.ivfTopK(probes,
      Similarity.assignCells(corpus, fresh).drop("sim"),
      fresh.select(col("cell").as("clabel"), col("cvec")), 10, nprobe = 3)
    assert(rows(persistedPath) === rows(fusedPath))
  }

  test("index removal: remove(B) ≡ build(corpus ∖ B) for pairs and codes; no removed id in any result") {
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    // dedup side: anti-joined persisted components (and the persisted pair
    // table) must equal a from-scratch build over the reduced corpus —
    // signatures and pairs are per-endpoint facts, nothing cross-document
    val docs = T.documents(spark, sf)
    val removedDocs = docs.select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(7)) === 0)
    val reducedPairs = DedupIndex.selfPairs(
      DedupIndex.removeBatch(DedupIndex.persisted(spark, sf), removedDocs))
    val scratchPairs = DedupIndex.selfPairs(DedupIndex.components(
      docs.filter(pmod(col("doc_id"), lit(7)) =!= 0), "text", "doc_id"))
    val tablePairs = DedupIndex.removePairs(
      DedupIndex.pairs(spark, sf), removedDocs)
    assert(rows(reducedPairs) === rows(scratchPairs))
    assert(rows(tablePairs) === rows(scratchPairs))
    // vector side: removeBatch under the frozen quantizer equals encoding
    // the reduced corpus against the same quantizer, and no removed vec_id
    // can surface in search results
    val e = T.embeddings(spark, sf)
    val removedVecs = e.select(col("vec_id"))
      .filter(pmod(col("vec_id"), lit(7)) === 3)
    val reduced = VectorIndex.removeBatch(
      VectorIndex.components(spark, sf), removedVecs)
    val stats = VectorIndex.sq8Stats(spark, sf)
    assert(rows(reduced.sq8Codes) === rows(Similarity.sq8Encode(
      e.filter(pmod(col("vec_id"), lit(7)) =!= 3), stats)))
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val hits = Similarity.sq8IvfTopK(probes, reduced.sq8Codes, stats,
      reduced.cellAssign, VectorIndex.cells(spark, sf), 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(hits.forall(_ % 7 != 3), s"removed vec_ids surfaced: $hits")
  }

  test("dedup index tombstones: durable logical deletes; compact rewrites without changing results") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    // private corpus copy — tombstones are durable, so the shared testdata
    // index must never be tombstoned from a test
    val dir = java.nio.file.Files
      .createTempDirectory("graft-tomb-test").toString
    val base = "the quick brown fox jumps over the lazy dog near the old stone bridge today"
    Seq(
      (1L, "en", "src0", base),
      (2L, "en", "src0", base + " extra"),     // near-dup of 1
      (3L, "en", "src1", base + " indeed"),    // near-dup of 1 and 2
      (4L, "en", "src1", "entirely different words about catalyst codegen and tungsten memory layout")
    ).toDF("doc_id", "lang", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val before = rows(DedupIndex.pairs(spark, dir))
      assert(before.nonEmpty, "fixture must produce near-dup pairs")
      // tombstone doc 2: every reader hides it, no pair touches it
      DedupIndex.tombstone(spark, dir, Seq(2L).toDF("doc_id"))
      assert(!DedupIndex.sigs(spark, dir).collect().map(_.getLong(0))
        .contains(2L))
      val afterPairs = DedupIndex.pairs(spark, dir)
      assert(rows(afterPairs) === rows(DedupIndex.selfPairs(
        DedupIndex.components(
          T.documents(spark, dir).filter(col("doc_id") =!= 2L),
          "text", "doc_id"))),
        "tombstoned pairs must equal the reduced-corpus build")
      // lookup against the persisted index never returns a removed doc
      val batch = Seq((100L, base + " again")).toDF("doc_id", "text")
      val found = DedupIndex.lookup(DedupIndex.persisted(spark, dir),
        batch, "text", "doc_id")
        .select("doc_corpus").collect().map(_.getLong(0)).toSet
      assert(found.contains(1L) && !found.contains(2L),
        s"lookup must match 1 but never tombstoned 2: $found")
      // compact: physically rewrites a fresh version, results unchanged,
      // and the removal survives (tombstones are never cleared)
      val served = rows(afterPairs)
      val vd = DedupIndex.compact(spark, dir)
      assert(rows(DedupIndex.pairs(spark, dir)) === served)
      assert(!spark.read.parquet(s"$vd/sigs").collect()
        .map(_.getLong(0)).contains(2L),
        "compacted files must not contain the removed doc")
      assert(!DedupIndex.contentHashes(spark, dir).collect()
        .map(_.getLong(0)).contains(2L))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(dir))
      rm(new java.io.File(DedupIndex.dir(dir)))
    }
  }

  test("semantic dedup: hot-cell cap bounds the pairwise block, same removed-set") {
    import spark.implicits._
    // planted skew: ONE cell holds 50% of all rows (the near-duplicate-heavy
    // web-corpus shape that makes the plain cell self-join a straggler)
    val rnd = new scala.util.Random(7)
    def jitter(hotDim: Int): Seq[Float] = {
      val a = Array.fill(64)(0.0f)
      a(hotDim) = 1.0f
      a.map(v => v + (rnd.nextGaussian() * 0.05).toFloat).toSeq
    }
    val rows = (0L until 100L).map(i => (i, "hot", jitter(0))) ++
      (100L until 200L).map(i => (i, "cold" + i % 5, jitter(1 + (i % 5).toInt)))
    val e = rows.toDF("vec_id", "label", "embedding")
    def removed(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "keep_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = removed(Similarity.semanticDedup(e, 0.9))
    val capped = removed(Similarity.semanticDedup(e, 0.9, maxCellSize = Some(10)))
    assert(capped === uncapped, "cap must not change the removed-set")
    assert(uncapped.nonEmpty, "planted near-duplicates must be found")
    // the guard's point: no (cell, i, j) task sees more than a bounded pair
    // block — hot cell alone would be 100·99/2 = 4950 pairs in ONE task
    val cent = Similarity.centroidVectors(e)
      .select(col("clabel").as("cell"), col("cvec"))
    val assigned = Similarity.assignCells(
      e.select(col("vec_id"), col("embedding").as("vec")), cent)
    val maxBlock = Similarity.saltedCellPairs(assigned, 10)
      .groupBy("cell", "_i", "_j").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxBlock <= 4L * 10 * 10,
      s"per-task pair block must stay bounded, got $maxBlock")
  }

  test("url normalization: case, ports, fragments, tracking params") {
    import spark.implicits._
    val in = Seq(
      "HTTP://Example.COM:80/A/b?utm_source=x&q=1#frag",
      "https://www.site.org:443/path/",
      "https://site.org/path?ref=tw",
      "https://site.org/p?q=1&utm_campaign=c&r=2",
      "ftp://Host.Net/File.TXT",
      "https://site.org/clean?q=UPPER")
    val out = in.toDF("url")
      .select(Web.normalizeUrl(col("url")).as("n"),
        Web.domainOf(Web.normalizeUrl(col("url"))).as("d"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out(0) === (("http://example.com/A/b?q=1", "example.com")))
    assert(out(1) === (("https://www.site.org/path/", "site.org")))
    assert(out(2) === (("https://site.org/path", "site.org")))
    assert(out(3) === (("https://site.org/p?q=1&r=2", "site.org")))
    assert(out(4) === (("ftp://host.net/File.TXT", "host.net"))) // path case kept
    assert(out(5) === (("https://site.org/clean?q=UPPER", "site.org")))
  }

  test("multimodal: MP4 box walk reads real brand/duration/size/tracks") {
    // handcraft a minimal valid ISO-BMFF file: ftyp + moov{mvhd, trak{tkhd}}
    val bb = java.nio.ByteBuffer.allocate(512)
    def box(tpe: String)(body: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(400)
      body(b); b.flip()
      val payload = new Array[Byte](b.remaining()); b.get(payload)
      val out = java.nio.ByteBuffer.allocate(8 + payload.length)
      out.putInt(8 + payload.length)
      out.put(tpe.getBytes("ISO-8859-1")); out.put(payload)
      out.array()
    }
    val ftyp = box("ftyp") { b =>
      b.put("isom".getBytes); b.putInt(512)
      b.put("isomavc1".getBytes)
    }
    val mvhd = box("mvhd") { b =>
      b.putInt(0) // version 0 + flags
      b.putInt(0); b.putInt(0) // creation, modification
      b.putInt(1000) // timescale: 1000 units/s
      b.putInt(7500) // duration: 7.5 s
      b.position(b.position() + 80) // rate..matrix..predefined, zeros
    }
    val tkhd = box("tkhd") { b =>
      b.putInt(0) // version 0 + flags
      b.putInt(0); b.putInt(0); b.putInt(1); b.putInt(0) // times, id, rsvd
      b.putInt(7500) // duration
      b.position(b.position() + 8 + 2 + 2 + 2 + 2 + 36) // rsvd..matrix
      b.putInt(1920 << 16) // width, 16.16 fixed
      b.putInt(1080 << 16) // height
    }
    val trak = box("trak")(b => b.put(tkhd))
    val moov = box("moov") { b => b.put(mvhd); b.put(trak) }
    bb.put(ftyp); bb.put(moov); bb.flip()
    val mp4 = new Array[Byte](bb.remaining()); bb.get(mp4)

    assert(Multimodal.videoMeta(mp4) === Some(("isom", 7500L, 1920, 1080, 1)))
    assert(Multimodal.videoMeta("definitely not an mp4 file".getBytes) === None)
    assert(Multimodal.videoMeta(Array.empty[Byte]) === None)
    // seams don't cross-match
    assert(Multimodal.imageDims(mp4) === None)
    assert(Multimodal.audioMeta(mp4) === None)
  }

  test("multimodal: WebM EBML walk and MP3 frame header read real metadata") {
    // handcraft a minimal WebM: EBML{DocType} Segment(unknown size){
    //   Info{TimestampScale, Duration} Tracks{TrackEntry{Video{W,H}}}}
    def elem(id: Array[Int], payload: Array[Byte]): Array[Byte] = {
      require(payload.length < 127)
      id.map(_.toByte) ++ Array((0x80 | payload.length).toByte) ++ payload
    }
    def u32(v: Long) = Array[Byte](
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val info = elem(Seq(0x15, 0x49, 0xa9, 0x66).toArray,
      elem(Seq(0x2a, 0xd7, 0xb1).toArray, u32(1000000L)) ++
        elem(Seq(0x44, 0x89).toArray,
          u32(java.lang.Float.floatToIntBits(12500f) & 0xffffffffL)))
    val video = elem(Seq(0xe0).toArray,
      elem(Seq(0xb0).toArray, Array[Byte](0x05, 0x00)) ++     // 1280
        elem(Seq(0xba).toArray, Array[Byte](0x02, 0xd0.toByte))) // 720
    val tracks = elem(Seq(0x16, 0x54, 0xae, 0x6b).toArray,
      elem(Seq(0xae).toArray, video))
    val ebml = elem(Seq(0x1a, 0x45, 0xdf, 0xa3).toArray,
      elem(Seq(0x42, 0x82).toArray, "webm".getBytes("ISO-8859-1")))
    // Segment with UNKNOWN size (streamed-WebM shape): 1-byte vint 0xFF
    val segment = Seq(0x18, 0x53, 0x80, 0x67).toArray.map(_.toByte) ++
      Array(0xff.toByte) ++ info ++ tracks
    val webm = ebml ++ segment
    assert(Multimodal.webmMeta(webm) === Some(("webm", 12500L, 1280, 720, 1)))
    assert(Multimodal.webmMeta("not an ebml stream".getBytes) === None)
    assert(Multimodal.webmMeta(Array.empty[Byte]) === None)
    // the seams don't cross-match
    assert(Multimodal.videoMeta(webm) === None)

    // minimal MP3: 10-byte empty ID3v2 tag + one MPEG1 Layer III frame
    // header (128 kbps, 44.1 kHz, joint stereo) + CBR filler to 1600 bytes
    // post-tag → duration = 1600·8/128 = 100 ms
    val id3 = "ID3".getBytes ++ Array[Byte](3, 0, 0, 0, 0, 0, 0)
    val frame = Array(0xff, 0xfb, 0x90, 0x40).map(_.toByte)
    val mp3 = id3 ++ frame ++ Array.fill[Byte](1596)(0)
    assert(Multimodal.mp3Meta(mp3) ===
      Some(("MPEG1", 128, 44100, 2, 100L, true)))
    // bare frame with no tag; mono MPEG2 at 24 kHz, 64 kbps
    val mp3v2 = Array(0xff, 0xf3, 0x84, 0xc0).map(_.toByte) ++
      Array.fill[Byte](796)(0)
    assert(Multimodal.mp3Meta(mp3v2) === Some(("MPEG2", 64, 24000, 1, 100L, false)))
    assert(Multimodal.mp3Meta("not an mp3 either".getBytes) === None)
    assert(Multimodal.mp3Meta(webm) === None)
  }

  test("multimodal container metadata: AVIF box walk, FLAC STREAMINFO, Ogg vorbis/opus") {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    def u32(v: Int): Array[Byte] = b(v >> 24, (v >> 16) & 0xff, (v >> 8) & 0xff, v & 0xff)
    def u32le(v: Int): Array[Byte] = b(v & 0xff, (v >> 8) & 0xff, (v >> 16) & 0xff, v >> 24)
    // AVIF: ftyp(avif) + meta[iinf(2 items) + iprp[ipco[ispe 1200x800 + ispe 160x90]]]
    val ispe1 = u32(20) ++ "ispe".getBytes ++ u32(0) ++ u32(1200) ++ u32(800)
    val ispe2 = u32(20) ++ "ispe".getBytes ++ u32(0) ++ u32(160) ++ u32(90)
    val ipco = u32(8 + 40) ++ "ipco".getBytes ++ ispe1 ++ ispe2
    val iprp = u32(8 + ipco.length) ++ "iprp".getBytes ++ ipco
    val iinf = u32(14) ++ "iinf".getBytes ++ b(0, 0, 0, 0, 0, 2)
    val metaBody = u32(0) ++ iinf ++ iprp
    val meta = u32(8 + metaBody.length) ++ "meta".getBytes ++ metaBody
    val avif = u32(16) ++ "ftyp".getBytes ++ "avif".getBytes ++ u32(0) ++ meta
    assert(Multimodal.avifMeta(avif) === Some(("avif", 1200, 800, 2)))
    assert(Multimodal.avifMeta("not bmff at all".getBytes) === None)
    // FLAC: fLaC + last|STREAMINFO block, 44.1 kHz stereo 16-bit, 44100
    // samples -> exactly 1000 ms
    val packed = b(0x0a, 0xc4, 0x42, 0xf0, 0x00, 0x00, 0xac, 0x44)
    val streaminfo = b(0x80, 0, 0, 34) ++ Array.fill[Byte](10)(0) ++ packed ++
      Array.fill[Byte](16)(0)
    val flac = "fLaC".getBytes ++ streaminfo
    assert(Multimodal.flacMeta(flac) === Some((44100, 2, 16, 1000L)))
    assert(Multimodal.flacMeta(avif) === None)
    // Ogg/Opus: BOS page with OpusHead (2ch, pre-skip 312) + EOS page with
    // granule 48312 -> (48312-312)/48000 = 1000 ms
    def page(htype: Int, granule: Long, segs: Array[Byte]): Array[Byte] =
      "OggS".getBytes ++ b(0, htype) ++
        (0 until 8).map(i => ((granule >> (8 * i)) & 0xff).toByte).toArray ++
        u32le(7) ++ u32le(0) ++ u32le(0) ++ b(1, segs.length) ++ segs
    val opusHead = "OpusHead".getBytes ++ b(1, 2) ++ b(312 & 0xff, 312 >> 8) ++
      u32le(48000) ++ b(0, 0, 0)
    val ogg = page(0x02, 0L, opusHead) ++ page(0x04, 48312L, Array.empty)
    assert(Multimodal.oggMeta(ogg) === Some(("opus", 48000, 2, 1000L)))
    // Ogg/Vorbis: ID header (22.05 kHz stereo), EOS granule 22050 -> 1000 ms
    val vorbisId = b(1) ++ "vorbis".getBytes ++ u32le(0) ++ b(2) ++
      u32le(22050) ++ Array.fill[Byte](15)(0)
    val oggV = page(0x02, 0L, vorbisId) ++ page(0x04, 22050L, Array.empty)
    assert(Multimodal.oggMeta(oggV) === Some(("vorbis", 22050, 2, 1000L)))
    assert(Multimodal.oggMeta(flac) === None)
    // cross-format seams stay clean
    assert(Multimodal.avifMeta(ogg) === None)
  }

  test("multimodal EXIF/TIFF: both endiannesses, JPEG APP1 location, Exif sub-IFD dims, orientation, corrupt → None") {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // little-endian standalone TIFF: 640x480, orientation 6, DateTime
    val dt = "2026:08:14 07:00:00\u0000".getBytes("ISO-8859-1")
    val leBuf = java.nio.ByteBuffer.allocate(96)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    leBuf.put("II".getBytes).putShort(42).putInt(8)
    leBuf.putShort(4) // entry count; entries at 10, data at 62
    def leEntry(tag: Int, tpe: Int, cnt: Int, v: Int): Unit = {
      leBuf.putShort(tag.toShort).putShort(tpe.toShort).putInt(cnt)
      if (tpe == 3) leBuf.putShort(v.toShort).putShort(0) else leBuf.putInt(v)
    }
    leEntry(0x0100, 3, 1, 640); leEntry(0x0101, 3, 1, 480)
    leEntry(0x0112, 3, 1, 6); leEntry(0x0132, 2, dt.length, 62)
    leBuf.putInt(0).put(dt)
    val tiff = java.util.Arrays.copyOf(leBuf.array(), leBuf.position())
    assert(Multimodal.exifMeta(tiff) ===
      Some((640, 480, 6, "2026:08:14 07:00:00")))
    // big-endian EXIF inside a JPEG APP1 (after a JFIF APP0 to skip):
    // IFD0 carries orientation 8 + the Exif sub-IFD pointer; the sub-IFD
    // carries pixel dims 1920x1080 and DateTimeOriginal (which wins)
    val dto = "2026:01:02 03:04:05\u0000".getBytes("ISO-8859-1")
    val beBuf = java.nio.ByteBuffer.allocate(128) // big-endian default
    beBuf.put("MM".getBytes).putShort(42).putInt(8)
    beBuf.putShort(2)
    def beEntry(tag: Int, tpe: Int, cnt: Int, v: Int): Unit = {
      beBuf.putShort(tag.toShort).putShort(tpe.toShort).putInt(cnt)
      if (tpe == 3) beBuf.putShort(v.toShort).putShort(0) else beBuf.putInt(v)
    }
    beEntry(0x0112, 3, 1, 8); beEntry(0x8769, 4, 1, 38)
    beBuf.putInt(0)
    beBuf.putShort(3) // Exif sub-IFD at 38; data at 38+2+36+4 = 80
    beEntry(0xa002, 4, 1, 1920); beEntry(0xa003, 4, 1, 1080)
    beEntry(0x9003, 2, dto.length, 80)
    beBuf.putInt(0).put(dto)
    val beTiff = java.util.Arrays.copyOf(beBuf.array(), beBuf.position())
    val app1Payload = "Exif\u0000\u0000".getBytes("ISO-8859-1") ++ beTiff
    val app0 = b(0xff, 0xe0, 0, 16) ++ "JFIF\u0000".getBytes ++
      Array.fill[Byte](9)(0)
    val app1 = b(0xff, 0xe1, (app1Payload.length + 2) >> 8,
      (app1Payload.length + 2) & 0xff) ++ app1Payload
    val jpeg = b(0xff, 0xd8) ++ app0 ++ app1
    assert(Multimodal.exifMeta(jpeg) ===
      Some((1920, 1080, 8, "2026:01:02 03:04:05")))
    // negatives: not TIFF/JPEG; JPEG with no APP1; truncated TIFF
    assert(Multimodal.exifMeta("plain text".getBytes) === None)
    assert(Multimodal.exifMeta(b(0xff, 0xd8) ++ app0) === None)
    assert(Multimodal.exifMeta(tiff.take(12)) === None)
  }

  test("multimodal resize/frame-sample stubs keep byte accounting exact") {
    val media = Multimodal.mediaTable(spark, sf)
    val resized = Multimodal.resize(media, 640, 480).collect()
    assert(resized.forall(r => r.width <= 640 && r.height <= 480 &&
      r.content.nonEmpty))
    import spark.implicits._
    val frames = Multimodal.sampleFrames(media, 64)
    val byteSums = frames.groupByKey(_.media_id)
      .mapGroups((id, fs) => (id, fs.map(_.frame.length).sum)).collect().toMap
    val origSizes = media.select(col("media_id"), col("meta.byte_len"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // frames partition the payload exactly: per-media byte sums match
    assert(byteSums === origSizes)
  }

  test("duplicate clusters: min-label propagation finds connected components") {
    import spark.implicits._
    // chain 1-2, 2-3 plus pair 10-11 and a transitive 20-21, 21-22, 22-23
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.9), (10L, 11L, 0.8),
      (20L, 21L, 0.7), (21L, 22L, 0.7), (22L, 23L, 0.7))
      .toDF("doc_a", "doc_b", "jaccard")
    val labels = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
    // survivors = one per component
    val survivors = labels.filter { case (id, l) => id == l }.keySet
    assert(survivors === Set(1L, 10L, 20L))
  }

  test("log-star clusters: 64-chain converges in <= log2(n)+1 rounds") {
    import spark.implicits._
    // one deep 64-node chain (diameter 63: min-label would need ~63 rounds)
    // plus a separate pair, to check components stay separate
    val chain = (0L until 63L).map(i => (i, i + 1, 0.9))
    val pairs = (chain :+ ((100L, 101L, 0.8))).toDF("doc_a", "doc_b", "jaccard")
    val (labelsDf, rounds) = Dedup.logStarWithRounds(pairs)
    val labels = labelsDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size === 66)
    (0L to 63L).foreach(i => assert(labels(i) === 0L, s"node $i"))
    assert(labels(100L) === 100L && labels(101L) === 100L)
    // O(log n) convergence — the whole point over min-label's O(diameter)
    assert(rounds <= 7, s"expected <= log2(64)+1 = 7 rounds, got $rounds")
    // same labeling as the min-label default
    val viaMinLabel = Dedup.duplicateClusters(pairs, maxIters = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaMinLabel === labels)
  }

  test("content-defined chunks survive a prefix insertion; fixed-width slicing doesn't") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "merge", "shuffle", "spark", "vector", "window", "stream")
    val body = Seq.fill(400)(words(rnd.nextInt(words.length))).mkString(" ")
    val shifted = "ENTIRELY NEW PREFIX SENTENCE INSERTED AT THE FRONT. " + body
    val chunks = Seq((1L, body), (2L, shifted)).toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.contentChunks(col("text")).as("ch"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val cdcShared = (chunks(1L) & chunks(2L)).size.toDouble / chunks(1L).size
    // fixed-width slicing baseline: the same byte shift misaligns every chunk
    val fixedA = body.grouped(64).toSet
    val fixedB = shifted.grouped(64).toSet
    val fixedShared = (fixedA & fixedB).size.toDouble / fixedA.size
    assert(cdcShared >= 0.6, s"CDC shared only $cdcShared")
    assert(fixedShared < 0.1, s"fixed-width baseline unexpectedly robust: $fixedShared")
    // the md5 twin (word-level boundaries) carries the same shift property
    val md5Chunks = Seq((1L, body), (2L, shifted)).toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.TextHashes.wordChunksMd5(col("text")).as("ch"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val md5Shared = (md5Chunks(1L) & md5Chunks(2L)).size.toDouble / md5Chunks(1L).size
    assert(md5Shared >= 0.6, s"md5 word-CDC shared only $md5Shared")
  }

  test("approx_percentile tracks exact percentile within 2% (A12b)") {
    val li = T.lineitem(spark, sf)
    val exact = li.selectExpr("percentile(floor(l_extendedprice * 100), 0.9)")
      .collect()(0).getDouble(0)
    val approx = li.selectExpr(
      "approx_percentile(floor(l_extendedprice * 100), 0.9, 1000)")
      .collect()(0).getLong(0).toDouble
    assert(math.abs(approx - exact) / exact < 0.02,
      s"approx $approx vs exact $exact")
  }

  test("approx_count_distinct is within rsd of exact (A10)") {
    val li = T.lineitem(spark, sf)
    val exact = li.select(countDistinct(col("l_partkey"))).collect()(0).getLong(0)
    val approx = li.select(approx_count_distinct(col("l_partkey"), 0.01))
      .collect()(0).getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
  }

  test("span removal: drops exactly the cross-doc duplicated run, keeps the rest") {
    import spark.implicits._
    // docs 1 and 2 share an 8-word boilerplate run; their other words are
    // unique. doc 3 is shorter than the gram width and must pass untouched.
    val boiler = "all rights reserved contact us terms privacy cookies"
    val a = s"alpha beta gamma $boiler delta"
    val b = s"one two three four $boiler five"
    val c = "tiny doc"
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(docs, l = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // the shared run is 8 words; every 8-gram containing any of them also
    // contains a unique flank word EXCEPT the run itself — so exactly the
    // run's 8 words are covered in each doc
    assert(out(1L) === ((12L, 8L, md5hex("alpha beta gamma delta"))))
    assert(out(2L) === ((13L, 8L, md5hex("one two three four five"))))
    assert(out(3L) === ((2L, 0L, md5hex("tiny doc"))))
  }

  test("leak-safe split: near-duplicate clusters never straddle the split") {
    import spark.implicits._
    // a 3-member chain cluster (1-2, 2-3) and two singletons
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val docs = Seq(1L, 2L, 3L, 10L, 11L).toDF("doc_id")
    val split = Sampling.leakSafeSplit(docs, pairs, valPct = 50)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(Set(split(1L), split(2L), split(3L)).size === 1,
      "all members of a duplicate cluster must land in the same split")
    // and on real data: zero verified near-dup pairs straddle the split
    val d = T.documents(spark, sf)
    val realPairs = graft.Ckpt(Dedup.nearDuplicatePairs(d, "text", "doc_id"))
    val assign = Sampling.leakSafeSplit(d, realPairs).select("doc_id", "split")
    val straddling = realPairs
      .join(assign.toDF("doc_id", "sa"), col("doc_a") === col("doc_id")).drop("doc_id")
      .join(assign.toDF("doc_id", "sb"), col("doc_b") === col("doc_id"))
      .filter(col("sa") =!= col("sb")).count()
    assert(straddling === 0L)
  }

  test("vector index: rebuilds are immutable versions behind an atomic marker") {
    def versions(d: String) =
      Option(new java.io.File(d).getParentFile.listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("v-"))
    val grace = IndexStore.sweepGraceMs
    try {
      // With the grace gate DISARMED, the sweep keeps the current version
      // plus at most one predecessor (readers in another process may be
      // mid-scan on it).
      IndexStore.sweepGraceMs = 0L
      val d1 = VectorIndex.rebuild(spark, sf)
      val d2 = VectorIndex.rebuild(spark, sf)
      assert(d1 !== d2, "each rebuild must write a fresh version dir")
      // the marker points at the newest complete version, and ensure() is a
      // metadata-only read of it
      assert(VectorIndex.ensure(spark, sf) === d2)
      val vs = versions(d2)
      assert(vs.length <= 2, s"stale versions not swept: ${vs.map(_.getName).toSeq}")
      assert(vs.map(_.getAbsolutePath).contains(d2))
      // With the grace gate ARMED (the production default), young versions
      // are never unlinked — a long-lived reader two rebuilds behind keeps
      // its files even though it lost the newest-predecessor slot.
      IndexStore.sweepGraceMs = 30L * 60 * 1000
      val d3 = VectorIndex.rebuild(spark, sf)
      val d4 = VectorIndex.rebuild(spark, sf)
      val after = versions(d4).map(_.getAbsolutePath)
      assert(Seq(d2, d3, d4).forall(after.contains),
        s"age gate must retain young superseded versions: ${after.toSeq}")
    } finally {
      IndexStore.sweepGraceMs = 0L
      VectorIndex.rebuild(spark, sf) // prune the pile-up for later tests
      IndexStore.sweepGraceMs = grace
    }
  }

  test("pagerank: centers outrank leaves, symmetric nodes tie exactly") {
    import spark.implicits._
    // path 1–2–3: node 2 is the hub; 1 and 3 are symmetric → identical rank
    val path = Seq((1L, 2L, 1.0), (2L, 3L, 1.0)).toDF("doc_a", "doc_b", "jaccard")
    val pr = Dedup.pageRank(path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr(2L) > pr(1L), s"hub must outrank leaf: $pr")
    assert(pr(1L) === pr(3L), s"symmetric leaves must tie exactly: $pr")
    // triangle: full symmetry → all three ranks identical
    val tri = Seq((1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0))
      .toDF("doc_a", "doc_b", "jaccard")
    val pt = Dedup.pageRank(tri).collect().map(_.getLong(1)).distinct
    assert(pt.length === 1, s"triangle ranks must all equal: ${pt.toSeq}")
  }

  test("canonicalByRank: hub wins its component; exact ties fall to min id") {
    import spark.implicits._
    // component A: star around 5 (5 is NOT the min id — rank must beat
    // min-label's pick); component B: symmetric pair → tie → min id 10
    val pairs = Seq((1L, 5L, 1.0), (2L, 5L, 1.0), (5L, 6L, 1.0),
      (10L, 11L, 1.0)).toDF("doc_a", "doc_b", "jaccard")
    val got = Dedup.canonicalByRank(pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    assert(got === Map(1L -> ((5L, 4L)), 10L -> ((10L, 2L))), got.toString)
  }

  test("curation chain: each stage drops exactly its planted offender") {
    import spark.implicits._
    val base = "the quick brown fox jumps over a lazy dog and runs far into " +
      "the deep green forest of tall old trees on it"
    val docs = Seq(
      // id 2: clean English, md5-bucket(2)=5 < 50 — survives every stage
      (2L, "en", "src0", base),
      // id 3: German — langId predicts 'de', dropped at stage 2
      (3L, "de", "src0", "der hund und die katze ist nicht mit auf das haus"),
      // id 4: repetitive (uniq ratio 2/8 = 0.25 < 0.3), dropped at stage 3
      (4L, "en", "src0", "the spam spam spam spam spam spam spam"),
      // id 5: exact dup of id 2 modulo case/whitespace — larger id, stage 4
      (5L, "en", "src1", base.toUpperCase + "   "),
      // id 6: near-dup of id 2 (one word edit) — LSH pair (2,6), stage 5
      (6L, "en", "src1", base.replace("forest", "jungle")),
      // id 7: clean unrelated English, md5-bucket(7)=71 >= 50 — stage 6
      (7L, "en", "src2", "a bright sun rises over the calm blue sea and warm " +
        "sand while gulls glide past small white boats in the bay")
    ).toDF("doc_id", "lang", "source", "text")

    val fun = Curation.funnel(docs).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(fun === Map(1 -> 6L, 2 -> 5L, 3 -> 4L, 4 -> 3L, 5 -> 2L, 6 -> 1L),
      s"funnel was $fun")

    val kept = Curation.curate(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(kept.toSeq === Seq((2L, "en", "src0")))
  }

  test("incremental curation: batch dedups against the corpus and itself, each planted offender drops") {
    import spark.implicits._
    val base = "the quick brown fox jumps over a lazy dog and runs far into " +
      "the deep green forest of tall old trees on it"
    val other = "a bright sun rises over the calm blue sea and warm sand " +
      "while gulls glide past small white boats in the bay on it"
    val corpus = Seq(
      (1L, "en", "src0", base),
      (9L, "en", "src0", other)
    ).toDF("doc_id", "lang", "source", "text")
    val batch = Seq(
      // 10: German — gate drop
      (10L, "de", "src1", "der hund und die katze ist nicht mit auf das haus"),
      // 15: exact dup of corpus 1 modulo case/whitespace — corpus wins
      (15L, "en", "src1", base.toUpperCase + "   "),
      // 20: near-dup of corpus 1 (one word edit) — corpus wins via lookup
      (20L, "en", "src1", base.replace("forest", "jungle")),
      // 25 & 30: near-dups of EACH OTHER (both unrelated to the corpus):
      // the larger id drops, the smaller survives
      (25L, "en", "src2", "nine small lamps glow in the narrow stone hall " +
        "while quiet monks copy long faded maps of far cold lands at night"),
      (30L, "en", "src2", "nine small lamps glow in the narrow stone hall " +
        "while quiet monks copy long faded maps of far cold lands at dawn"),
      // 35: clean unrelated survivor
      (35L, "en", "src3", "tall grey towers stand along the wide river bank " +
        "as slow barges drift beneath the iron bridge at dusk tonight")
    ).toDF("doc_id", "lang", "source", "text")
    // expected survivors BEFORE the sample stage: 25 and 35; the 50% sample
    // keeps those whose md5 bucket of doc_id lands below 50 (replayed here)
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16) % 100
    }
    // 30 must drop even though its own near-dup partner 25 also has a small
    // id: the within-batch rule is pairwise larger-id, not cluster-keep-one
    assert(bucket(25L) < 50 || bucket(35L) < 50, "fixture ids must be sampleable")
    val expected = Seq(25L, 35L).filter(bucket(_) < 50)
    val kept = Curation.curateIncremental(batch, corpus).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(kept === expected, s"kept $kept, expected $expected")
  }

  /** A seeded crawl-like corpus of `n` docs (doc_id, lang, source, text):
    * ~8% German, ~5% repetitive, ~8% exact duplicates (case and spacing
    * changed) and ~12% one-word-edit near duplicates of earlier docs; the
    * rest is fresh English-like text over a 400-word vocabulary.
    */
  private def plantedCorpus(n: Int, seed: Long): Seq[(Long, String, String, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = IndexedSeq.tabulate(400)(i => s"w$i")
    val stop = IndexedSeq("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")
    val de = IndexedSeq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf")
    def pick(ws: IndexedSeq[String]) = ws(rnd.nextInt(ws.size))
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until n).map { i =>
      val r = rnd.nextInt(100)
      val text =
        if (r < 8) Seq.fill(20)(pick(de)).mkString(" ")
        else if (r < 13) "the " + Seq.fill(12)("spam").mkString(" ") + " " + pick(vocab)
        else if (r < 21 && texts.nonEmpty)
          texts(rnd.nextInt(texts.size)).toUpperCase + "   "
        else if (r < 33 && texts.nonEmpty) {
          val ws = texts(rnd.nextInt(texts.size)).split(" ")
          ws(rnd.nextInt(ws.length)) = pick(vocab)
          ws.mkString(" ")
        } else Seq.fill(25 + rnd.nextInt(15))(
          if (rnd.nextInt(3) == 0) pick(stop) else pick(vocab)).mkString(" ")
      texts += text
      (i.toLong, "en", s"src${i % 4}", text)
    }
  }

  /** The planted corpus as a parquet file source (several part files). */
  private lazy val plantedDocs = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-curate").toString
    plantedCorpus(2000, 7L).toDF("doc_id", "lang", "source", "text")
      .repartition(4).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("curation: in-query near-dup stage ≡ curation over the md5 pair oracle of the stage-3 survivors") {
    val docs = plantedDocs
    val survivors = Curation.stageExact(
      Curation.stageQuality(Curation.stageLang(docs)))
    val pairs = Dedup.nearDuplicatePairs(survivors, "text", "doc_id")
    assert(pairs.count() > 100, "the corpus must plant verified near-dup pairs")
    def hashCount(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(bit_xor(xxhash64(col("doc_id"), col("lang"), col("source"))),
        count(lit(1))).head()
      (r.getLong(0), r.getLong(1))
    }
    val inQuery = Curation.curate(docs)
    val oracle = Curation.curate(docs, Some(pairs))
    assert(hashCount(inQuery) === hashCount(oracle))
    assert(inQuery.collect().toSet === oracle.collect().toSet)
    // the stage really drops docs, and keeps stageNear's column contract
    val near = Curation.stageNear(survivors)
    assert(near.columns.toSeq === survivors.columns.toSeq)
    assert(near.count() < survivors.count())
  }

  test("curation reads its input once: file-scan records read = corpus rows") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    val docs = plantedDocs
    val rows = docs.count()
    // Spark also counts a task's reads of cached/checkpointed blocks as
    // input records, so only the stages that scan the files are summed
    val scanned = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          scanned.addAndGet(e.stageInfo.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Curation.curate(docs).collect()
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(scanned.get === rows)
  }

  test("bpe: greedy merges learn the planted pair; segmentation partitions every word") {
    import spark.implicits._
    // corpus dominated by 'abab': the most frequent pair is (a, b) -> "ab",
    // then ("ab", "ab") -> "abab"
    val docs = Seq(
      (1L, "abab abab abab xy"),
      (2L, "abab abab zq"),
      (3L, "aaa bbb")
    ).toDF("doc_id", "text")
    val (merges, vocab) = Bpe.train(docs, 3)
    val m = merges.orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(m(0) === ((1, "a", "b", 10L)), s"step 1 must merge (a,b) x10: ${m.toSeq}")
    assert(m(1) === ((2, "ab", "ab", 5L)), s"step 2 must merge (ab,ab) x5: ${m.toSeq}")
    // the greedy walk is leftmost-first non-overlapping: 'aaa' under a
    // later (a,a) merge must become [aa, a], never [a, aa] — check via the
    // vocab of a corpus where (a,a) wins immediately
    val (_, v2) = Bpe.train(Seq((1L, "aaa aaa")).toDF("doc_id", "text"), 1)
    val aaa = v2.filter($"word" === "aaa").select("s").as[Seq[String]].head()
    assert(aaa === Seq("aa", "a"), s"leftmost-first: $aaa")
    // invariant: BPE segmentation partitions every word (concat(s) == word)
    val broken = vocab
      .filter(concat_ws("", col("s")) =!= col("word") || size(col("s")) === 0)
      .count()
    assert(broken === 0L, "every vocab word must re-concatenate exactly")
    // tokenize: doc 1 = 3x abab + xy -> with both merges learned at 3
    // steps, abab is one token; counts are exact
    val toks = Bpe.tokenize(docs, vocab, merges).orderBy("doc_id").collect()
    val d1 = toks.find(_.getLong(0) == 1L).get
    // abab abab abab xy -> [abab][abab][abab] + xy's symbols
    val xyLen = vocab.filter($"word" === "xy").select(size($"s"))
      .as[Int].head()
    assert(d1.getLong(1) === 3L + xyLen, s"doc1 token count: ${d1.getLong(1)}")
    // out-of-vocabulary fallback: 'ababab' was never a corpus word, so it
    // must segment by the merge-list fold exactly as training would have:
    // chars -> (a,b)x3 -> [ab ab ab] -> (ab,ab) leftmost-first -> [abab, ab]
    val oov = Bpe.tokenize(Seq((99L, "ababab")).toDF("doc_id", "text"),
      vocab, merges).collect()
    assert(oov.length === 1 && oov(0).getLong(1) === 2L,
      s"oov word must segment to [abab, ab]: ${oov.toSeq}")
  }

  test("naive bayes: planted counts, exact micro-unit scores, argmax with unseen words") {
    import spark.implicits._
    val trainDocs = Seq(
      (1L, "aa aa bb", "en"), (2L, "aa bb bb", "en"),
      (3L, "cc cc dd", "fr"), (4L, "cc dd dd", "fr")
    ).toDF("doc_id", "text", "lang")
    val m = NaiveBayes.train(trainDocs)
    // V = 4 (aa bb cc dd), tot_en = tot_fr = 6; c(en, aa) = 3
    val cell = m.model.filter($"lang" === "en" && $"word" === "aa")
      .select("c", "score_u").as[(Long, Long)].head()
    assert(cell._1 === 3L)
    // score_u(en, aa) = round(ln((3+1)/(6+4)) * 1e6) = round(ln(0.4)*1e6)
    assert(cell._2 === -916291L, s"got ${cell._2}")
    val labs = m.labels.orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(4)))
    assert(labs.map(_._1).toSeq === Seq("en", "fr"))
    assert(labs.forall(_._2 === -693147L), s"priors ln(1/2): ${labs.toSeq}")
    assert(labs.forall(_._3 === -2302585L), s"default ln(1/10): ${labs.toSeq}")
    // "aa bb zz": zz unseen anywhere -> default for both labels; en wins.
    // s_en = -693147 + 2*(-916291) + (-2302585) = -4828314
    val test = Seq((10L, "aa bb zz"), (11L, "cc dd cc")).toDF("doc_id", "text")
    val got = NaiveBayes.predict(test, m).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got(0) === ((10L, "en", -4828314L)), s"got ${got.toSeq}")
    assert(got(1)._2 === "fr", s"got ${got.toSeq}")
  }

  test("nb artifact: persisted model + derived labels ≡ fresh training on the corpus") {
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val fresh = NaiveBayes.train(
      T.documents(spark, sf).filter(pmod(col("doc_id"), lit(5)) =!= 0))
    val pers = NaiveBayes.persistedModel(spark, sf)
    assert(rows(pers.model) === rows(fresh.model))
    assert(rows(pers.labels) === rows(fresh.labels))
  }

  test("bpe artifact: persisted merges+vocab ≡ fresh training on the corpus") {
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val (m, v) = Bpe.train(T.documents(spark, sf), Bpe.Steps)
    assert(rows(Bpe.merges(spark, sf)) === rows(m))
    assert(rows(Bpe.vocab(spark, sf)) === rows(v))
  }

  test("nb model append: append(old, batch) ≡ train(old ∪ batch), model AND labels") {
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val docs = T.documents(spark, sf)
    // persisted artifact = 4/5 split; appended batch = the held-out 1/5
    val appended = NaiveBayes.appendedModel(spark, sf,
      docs.filter(pmod(col("doc_id"), lit(5)) === 0))
    val scratch = NaiveBayes.train(docs)
    assert(rows(appended.model) === rows(scratch.model))
    assert(rows(appended.labels) === rows(scratch.labels))
  }

  test("bpe word-count append: append(wc, batch) ≡ wordCounts(old ∪ batch); retrain matches") {
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val docs = T.documents(spark, sf)
    val appended = Bpe.appendWordCounts(
      Bpe.wordCounts(docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)),
      docs.filter(pmod(col("doc_id"), lit(3)) === 0))
    assert(rows(appended) === rows(Bpe.wordCounts(docs)))
    // the persisted component carries the same table, and retraining from
    // it reproduces the persisted merges without touching corpus text
    assert(rows(Bpe.wordCountsPersisted(spark, sf)) ===
      rows(Bpe.wordCounts(docs)))
    assert(rows(Bpe.trainFromCounts(
        Bpe.wordCountsPersisted(spark, sf), Bpe.Steps)._1) ===
      rows(Bpe.merges(spark, sf)))
  }

  test("text index: persisted components ≡ fresh build; planted rare-term doc ranks first") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    // persisted ≡ fresh on the shared sf0.001 corpus (build-if-absent)
    val fresh = TextIndex.componentsOf(T.documents(spark, sf))
    val pers = TextIndex.persisted(spark, sf)
    assert(rows(pers.postings) === rows(fresh.postings))
    assert(rows(pers.vocab) === rows(fresh.vocab))
    assert(rows(pers.stats) === rows(fresh.stats))
    // the fuzzy-search component: persisted (word, variant) neighborhood
    // equals the in-query derivation from the same vocab
    import org.apache.spark.sql.functions.{col, explode}
    assert(rows(TextIndex.variantsPersisted(spark, sf)) ===
      rows(fresh.vocab.select(col("word")).withColumn("variant",
        explode(TextIndex.deletionVariants(col("word"))))))
    // planted relevance: the only corpus doc sharing the query's rare terms
    // must rank first; a doc sharing only stop-like common terms ranks below
    val docs = Seq(
      (1L, "the catalyst optimizer prunes columns and pushes filters down"),
      (2L, "tungsten codegen compiles expression trees for the fast path"),
      (3L, "the the the of of and and to in is it on for common filler"),
      (10L, "catalyst optimizer query")
    ).toDF("doc_id", "text")
    val q = docs.filter($"doc_id" === 10L)
      .select($"doc_id".as("qid"), $"text".as("qtext"))
    val got = TextIndex.bm25TopK(q, TextIndex.componentsOf(docs), 3)
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(got.head === (1, 1L), s"doc 1 shares catalyst+optimizer: $got")
    assert(!got.map(_._2).contains(10L), "query doc must be excluded")
  }

  test("bm25 max-score: Zipf vocabulary certifies and prunes; flat vocabulary falls back; both row-identical to full scoring") {
    import spark.implicits._
    // planted Zipf shape: a rare high-impact term ("zebra", 3 docs) vs a
    // corpus-wide stopword ("the", every doc) — the impact split marks
    // "zebra" HIGH, phase A scores only the 3 zebra docs, and
    // ub_low(= the stopword's tiny maxc) < the k-th zebra score certifies
    val zipf = ((1L to 3L).map(i => (i, "zebra migration " + ("the word " * i.toInt).trim)) ++
      (10L until 60L).map(i => (i, "the quick brown fox and the lazy dog " + i))).toDF("doc_id", "text")
    val q = Seq((100L, "zebra the")).toDF("qid", "qtext")
    val qt = q.select(col("qid"),
      explode(array_distinct(TextAnalysis.tokens(col("qtext")))).as("word"))
    val ix = TextIndex.componentsOf(zipf)
    val mtf = TextIndex.maxTfOf(ix.postings)
    val (res, nCert, nFall) = TextIndex.scoreTermsMaxScore(qt, ix, mtf, 2)
    assert(nCert === 1 && nFall === 0,
      s"the Zipf query must certify (cert=$nCert fall=$nFall)")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("score_u"))).toSet
    assert(rows(res) === rows(TextIndex.bm25TopK(q, ix, 2)),
      "certified max-score must equal full scoring exactly")
    // equal-impact terms over DISJOINT posting sets: phase A sees only the
    // high term's docs, whose k-th score (wtf ≈ 1e6) stays BELOW the low
    // term's avgdl-free bound (≈ 1.69e6·idf) -> certification fails,
    // fallback runs, result still identical
    val flat = ((1L to 20L).map(i => (i, s"alpha one two d$i")) ++
      (30L to 49L).map(i => (i, s"beta one two d$i"))).toDF("doc_id", "text")
    val qf = Seq((100L, "alpha beta")).toDF("qid", "qtext")
    val qtf = qf.select(col("qid"),
      explode(array_distinct(TextAnalysis.tokens(col("qtext")))).as("word"))
    val ixf = TextIndex.componentsOf(flat)
    val (resF, _, nFallF) =
      TextIndex.scoreTermsMaxScore(qtf, ixf, TextIndex.maxTfOf(ixf.postings), 3)
    assert(nFallF === 1, "the flat query must fall back")
    assert(rows(resF) === rows(TextIndex.bm25TopK(qf, ixf, 3)),
      "fallback max-score must equal full scoring exactly")
  }

  test("weighted sample: heavy-weight docs dominate the draw; sample is deterministic") {
    import spark.implicits._
    // 10 heavy docs (w = 100000) among 100 light (w = 1): the A-ES key
    // u^(1/w) puts every heavy doc at ~1.0, so a k=10 draw is almost
    // exactly the heavy set (deterministic given the md5 uniforms)
    val docs = ((0L until 10L).map(i => (i, 100000L)) ++
      (100L until 200L).map(i => (i, 1L))).toDF("doc_id", "n_chars")
    val pick = Sampling.weightedSample(docs, col("n_chars"), 10)
      .collect().map(_.getLong(0)).toSet
    assert(pick.count(_ < 10L) >= 9, s"heavy docs must dominate: $pick")
    // deterministic across invocations
    val again = Sampling.weightedSample(docs, col("n_chars"), 10)
      .collect().map(_.getLong(0)).toSet
    assert(again === pick)
    // the plan takes top-k without a global sort (TakeOrderedAndProject)
    val plan = Sampling.weightedSample(docs, col("n_chars"), 10)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
  }

  test("JL-bucketed ANN: planted near-dup twins collide in a sign band and rerank exactly") {
    import spark.implicits._
    // base vectors with exact binary components; twins = base with one
    // small component nudge (cosine ~0.99 → sign codes agree)
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(d => (((seed * 37 + d * 17) % 101) - 50).toFloat)
    val corpus = (0 until 40).map { i =>
      val base = vec(i / 2)
      // odd ids are a near-dup twin of the preceding even id
      if (i % 2 == 1) base(0) += 0.25f
      (i.toLong, base)
    }.toDF("vec_id", "vec")
    val probes = corpus.filter($"vec_id" % 2 === 0 && $"vec_id" < 6)
      .select($"vec_id".as("qid"), $"vec".as("qvec"))
    val byQ = Similarity.randProjBucketedTopK(probes, corpus, 3)
      .filter($"rank" === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // each probe's rank-1 neighbor is its planted twin (qid + 1)
    assert(byQ === Map(0L -> 1L, 2L -> 3L, 4L -> 5L), byQ.toString)
  }

  test("random-sign projection: linear, deterministic, and sign-balanced") {
    import spark.implicits._
    // exact binary fractions → the fold and the doubling are both exact,
    // so round-to-6 is the identity and linearity checks bit-for-bit
    val v = Array(0.5f, 0.25f, 1.0f, 0.125f)
    val df = Seq((1L, v), (2L, v.map(_ * 2))).toDF("vec_id", "embedding")
    val proj = df.select(col("vec_id"),
      Similarity.randomSignProjection("embedding", 8).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(proj(1L).length === 8)
    assert(proj(2L) === proj(1L).map(_ * 2), "projection must be linear")
    // deterministic across invocations (seeded md5 signs, no RNG state)
    val again = df.filter($"vec_id" === 1L).select(
      Similarity.randomSignProjection("embedding", 8).as("p"))
      .collect()(0).getSeq[Double](0)
    assert(again === proj(1L))
    // the sign matrix is not degenerate: components differ across k
    assert(proj(1L).distinct.length > 1, proj(1L).toString)
  }

  test("exact set-sim join: prefix filter finds EVERY Jaccard>=1/2 pair (vs naive n²)") {
    import spark.implicits._
    val docs = T.documents(spark, "/root/testdata/sf0.001")
    val blocked = Dedup.setSimJoinExact(docs, 1, 2)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the exhaustive spelling over the same md5-hash sets
    val sets = docs
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), array_distinct(transform(col("sh"),
        s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"))).as("hv"))
    val naive = sets.select(col("doc_id").as("doc_a"), col("hv").as("a"))
      .crossJoin(sets.select(col("doc_id").as("doc_b"), col("hv").as("b")))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("i", size(array_intersect(col("a"), col("b"))))
      .withColumn("u", size(col("a")) + size(col("b")) - col("i"))
      .filter(col("i") * 2 >= col("u"))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked === naive,
      s"missed: ${naive -- blocked}; extra: ${blocked -- naive}")
    assert(naive.nonEmpty) // must not pass vacuously
  }

  test("containment join: a quoted doc scores 10000 bp one-way; completeness vs naive") {
    import spark.implicits._
    val small = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (1L, small),                                      // the quote
      (2L, s"intro words then $small and a long tail of extra material"),
      (3L, "entirely different content with nothing shared here at all")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentJoinExact(docs, 3, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("containment_bp")))
      .toSet
    // every shingle of doc 1 appears in doc 2 → C(1→2) = 10000; the long
    // doc is NOT contained in the short one at 3/4
    assert(got.exists(t => t._1 == 1L && t._2 == 2L && t._3 == 10000L),
      got.toString)
    assert(!got.exists(t => t._1 == 2L && t._2 == 1L), got.toString)
    assert(!got.exists(t => t._1 == 3L || t._2 == 3L), got.toString)
    // completeness on the corpus slice: blocked ≡ naive ordered pairs
    val corpus = T.documents(spark, "/root/testdata/sf0.001")
    val sets = corpus
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), array_distinct(transform(col("sh"),
        s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"))).as("hv"))
    val naive = sets.select(col("doc_id").as("doc_a"), col("hv").as("a"))
      .crossJoin(sets.select(col("doc_id").as("doc_b"), col("hv").as("b")))
      .filter(col("doc_a") =!= col("doc_b"))
      .withColumn("i", size(array_intersect(col("a"), col("b"))))
      .filter(col("i") * 4 >= size(col("a")) * 3)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Dedup.containmentJoinExact(corpus, 3, 4)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked === naive,
      s"missed: ${naive -- blocked}; extra: ${blocked -- naive}")
    assert(naive.nonEmpty)
  }

  test("novelty curve: first doc is all-novel, an exact duplicate is zero-novel") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact dup of doc 1
      (3L, "alpha beta gamma plus fresh new material here")
    ).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"),
        explode(Dedup.shingles(col("text"))).as("g"))
      .select(col("doc_id"), substring(md5(col("g")), 1, 15).as("h"))
      .distinct()
    val first = sh.groupBy("h").agg(min("doc_id").as("first_seen"))
    val bp = sh.join(first, Seq("h")).groupBy("doc_id")
      .agg((expr("10000 * sum(CASE WHEN first_seen = doc_id THEN 1 ELSE 0 END)")
        / count(lit(1))).cast("long").as("novelty_bp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bp(1L) === 10000L && bp(2L) === 0L, bp.toString)
    assert(bp(3L) > 0L && bp(3L) < 10000L, bp.toString)
  }

  test("sigma outliers: integer 3σ test flags exactly the planted spike, strict at the boundary") {
    import spark.implicits._
    // [0]*10 + [100]: the spike is >3σ; everything else is not
    val e1 = ((1L to 10L).map(i => (i, "k", 0L)) :+ (11L, "k", 100L))
      .toDF("event_id", "event_type", "c")
    val got = graft.operators.Temporal.sigmaOutliers(e1, "event_type",
      col("c"), 3).select("event_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(11L), got.toString)
    // {0, 100}: each point sits at exactly 1σ — strictly-greater excludes
    val e2 = Seq((1L, "k", 0L), (2L, "k", 100L))
      .toDF("event_id", "event_type", "c")
    assert(graft.operators.Temporal.sigmaOutliers(e2, "event_type",
      col("c"), 1).count() === 0)
  }

  test("source overlap: identical sources hit 10000 bp, disjoint sources emit no pair") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mirror1", "alpha beta gamma delta epsilon zeta"),
      (2L, "mirror2", "alpha beta gamma delta epsilon zeta"), // exact copy
      (3L, "other", "one two three four five six seven")      // disjoint
    ).toDF("doc_id", "source", "text")
    val got = Dedup.sourceOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("jaccard_bp")))
    assert(got.toSeq === Seq(("mirror1", "mirror2", 10000L)), got.toSeq.toString)
  }

  test("fuzzy BM25: distance-1 typos recover the exact ranking, distance-2 words stay unmatched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the catalyst optimizer prunes columns and pushes filters down"),
      (2L, "tungsten codegen compiles expression trees for the fast path"),
      (3L, "unrelated filler about nothing in particular here")
    ).toDF("doc_id", "text")
    val ix = TextIndex.componentsOf(docs)
    // every query word carries one typo (substitution / deletion / insert);
    // exact BM25 finds nothing, fuzzy must retrieve doc 1
    val typo = Seq((10L, "catalist optimzer prunez"))
      .toDF("qid", "qtext")
    assert(TextIndex.bm25TopK(typo, ix, 3).count() === 0,
      "exact search over typo'd terms must be empty")
    val fz = TextIndex.bm25FuzzyTopK(typo, ix, 3)
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(fz.head === (1, 1L), s"fuzzy must rank doc 1 first: ${fz.toSeq}")
    // a distance-1 typo scores identically to the clean word (qtf caps at 1)
    val clean = Seq((10L, "catalyst optimizer prunes")).toDF("qid", "qtext")
    def scores(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(2), r.getLong(3))).toSet
    assert(scores(TextIndex.bm25FuzzyTopK(typo, ix, 3)) ===
      scores(TextIndex.bm25TopK(clean, ix, 3)),
      "distance-1 expansion must recover the clean query's exact scores")
    // distance 2 is out of reach for the 1-deletion neighborhoods
    val far = Seq((11L, "catalizzt")).toDF("qid", "qtext")
    assert(TextIndex.bm25FuzzyTopK(far, ix, 3).count() === 0,
      "distance-2 words must not match")
  }

  test("phrase search: anchor coverage finds exact phrases, counts overlapping occurrences, persisted positions match") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "slow then the quick brown dog"),
      (3L, "the quick red fox and the quick brown cat"),
      (4L, "a b a b a"),
      (5L, "quick brown the backwards")
    ).toDF("doc_id", "text")
    val q = Seq((10L, "the quick brown"), (11L, "a b a"))
      .toDF("qid", "qtext")
    val got = TextIndex.phraseTopDocs(q, TextIndex.positionsOf(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // "the quick brown": docs 1 and 2 once each; doc 3 has "the quick" twice
    // but "the quick brown" only once; doc 5 has all three words, wrong order
    // "a b a": doc 4 = "a b a b a" → anchors 1 and 3 (overlapping BOTH count)
    assert(got === Set((10L, 1L, 1L), (10L, 2L, 1L), (10L, 3L, 1L),
      (11L, 4L, 2L)), got.toString)
    // the persisted component serves the same rows as the in-query derivation
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(rows(TextIndex.positionsPersisted(spark, sf)) ===
      rows(TextIndex.positionsOf(T.documents(spark, sf))))
  }

  test("proximity search: any-order window coverage, anchored at first-word occurrences, binned ≡ naive") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x a b x a c"), // a@2,5 b@3 c@6: no window-5 at a@5; [2,6] covers
      (2L, "a b c a b c"), // anchors a@1,a@4 both cover within 3 tokens
      (3L, "c b a"), // any-order: window anchored at a@3 has only a
      (4L, "a x x x x b c") // b,c outside window 5 of a@1
    ).toDF("doc_id", "text")
    val q = Seq((10L, "a b c")).toDF("qid", "qtext")
    def run(w: Int) = TextIndex
      .proximityTopDocs(q, TextIndex.positionsOf(docs), m = 3, window = w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(5) === Set((10L, 1L, 1L), (10L, 2L, 2L)), run(5).toString)
    // widening the window admits doc 4 (span a..c = 7) and a 2nd doc-2
    // anchor is already counted; doc 3 never matches (no b/c after its a)
    assert(run(7) === Set((10L, 1L, 1L), (10L, 2L, 2L), (10L, 4L, 1L)))
  }

  test("sparse cosine: exact similarity ranking; the df cutoff removes stop words from dot AND norms") {
    import spark.implicits._
    // 'the' has df 4 of 5 (above a 3/5 cutoff, but idf > 0 unpruned);
    // doc 2 differs from the query doc ONLY in the stop word's count;
    // doc 3 shares one kept word; doc 4 shares ONLY the stop word
    val docs = Seq(
      (1L, "the alpha beta zeta"),
      (2L, "the the the alpha beta zeta"),
      (3L, "zeta gamma"),
      (4L, "the delta epsilon"),
      (5L, "the eta")
    ).toDF("doc_id", "text")
    val ix = TextIndex.componentsOf(docs)
    val q = Seq((1L, "the alpha beta zeta")).toDF("qid", "qtext")
    def run(num: Int, den: Int) =
      TextIndex.sparseCosineTopK(q, ix, k = 10, maxDfNum = num,
        maxDfDen = den)
        .collect().map(r => (r.getLong(2), r.getDouble(3))).toList
        .sortBy(-_._2)
    // with the df/N ≤ 3/5 gate: 'the' is pruned everywhere, so doc 2's
    // kept vector is IDENTICAL to the query's (sim 1.0); doc 3 shares
    // zeta; docs 4/5 share nothing kept and never become candidates
    val pruned = run(3, 5)
    assert(pruned.head === (2L, 1.0), pruned.toString)
    assert(pruned.map(_._1) === List(2L, 3L), pruned.toString)
    // without pruning 'the' re-enters with idf ln(5/4) > 0: doc 2's extra
    // 'the's pull it off 1.0, and doc 4 surfaces through the stop word
    val full = run(1, 1)
    assert(full.find(_._1 == 2L).exists(s => s._2 < 1.0 && s._2 > 0.9),
      full.toString)
    assert(full.map(_._1).toSet === Set(2L, 3L, 4L, 5L), full.toString)
  }

  test("text index append: append(old, batch) ≡ from-scratch over old ∪ batch, all three components") {
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val docs = T.documents(spark, sf)
    val old = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val appended = TextIndex.appendBatch(TextIndex.componentsOf(old), batch)
    val scratch = TextIndex.componentsOf(docs)
    assert(rows(appended.postings) === rows(scratch.postings))
    assert(rows(appended.vocab) === rows(scratch.vocab))
    assert(rows(appended.stats) === rows(scratch.stats))
  }

  test("text index tombstones: deleted docs vanish from results, compact restores exact df/avgdl") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    // private corpus copy — tombstones are durable, so the shared testdata
    // index must never be tombstoned from a test
    val dir = java.nio.file.Files
      .createTempDirectory("graft-textix-test").toString
    Seq(
      (1L, "en", "s0", "catalyst optimizer prunes columns pushes filters"),
      (2L, "en", "s0", "catalyst codegen compiles the expression trees"),
      (3L, "en", "s1", "unrelated prose about rivers bridges and barges"),
      (4L, "en", "s1", "catalyst catalyst catalyst repetition heavy doc")
    ).toDF("doc_id", "lang", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val q = Seq((100L, "catalyst optimizer"))
        .toDF("qid", "qtext")
      val before = TextIndex.bm25TopK(q, TextIndex.persisted(spark, dir), 10)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(before.contains(4L), s"doc 4 matches 'catalyst': $before")
      // tombstone doc 4: it can never be returned, but vocab/stats keep
      // counting it until compact (the Lucene deleted-docs model)
      TextIndex.tombstone(spark, dir, Seq(4L).toDF("doc_id"))
      val after = TextIndex.bm25TopK(q, TextIndex.persisted(spark, dir), 10)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(after === before - 4L, s"tombstoned doc must vanish: $after")
      val staleN = TextIndex.stats(spark, dir).collect().head.getLong(0)
      assert(staleN === 4L, "stats stay stale (by design) until compact")
      // compact: physically rewrites postings AND re-derives vocab/stats —
      // the index becomes row-identical to a from-scratch build over the
      // reduced corpus, so scores are exact again
      TextIndex.compact(spark, dir)
      val reduced = TextIndex.componentsOf(
        T.documents(spark, dir).filter($"doc_id" =!= 4L))
      val pers = TextIndex.persisted(spark, dir)
      assert(rows(pers.postings) === rows(reduced.postings))
      assert(rows(pers.vocab) === rows(reduced.vocab))
      assert(rows(pers.stats) === rows(reduced.stats))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(dir))
      rm(new java.io.File(TextIndex.dir(dir)))
    }
  }

  test("unigram: Viterbi is DP-optimal (beats greedy) and ties break by piece count then segmentation") {
    import spark.implicits._
    def seg(word: String, vocab: Seq[(String, Long)]): (String, Long, Long) = {
      val words = Seq((word, 1L)).toDF("w", "wc")
      val v = vocab.toDF("p", "lpu")
      val r = Unigram.viterbiSegment(words, v).collect()(0)
      (r.getAs[String]("seg"), r.getAs[Long]("score_u"),
        r.getAs[Long]("n_pieces"))
    }
    // greedy-longest would take "abc" (score -20); DP finds ab|c = -11
    assert(seg("abc", Seq(("abc", -20L), ("ab", -1L), ("c", -10L),
      ("a", -5L), ("b", -5L))) === ("ab|c", -11L, 2L))
    // score tie (aa = a|a = -2): fewer pieces wins
    assert(seg("aa", Seq(("aa", -2L), ("a", -1L))) === ("aa", -2L, 1L))
    // score AND piece-count tie (aa|b = a|ab = -6, both 2 pieces):
    // lexicographically smaller segmentation STRING wins — 'a' (0x61)
    // sorts before the '|' separator (0x7c), so "aa|b" < "a|ab"
    assert(seg("aab", Seq(("aa", -3L), ("ab", -3L), ("a", -3L),
      ("b", -3L))) === ("aa|b", -6L, 2L))
    // unreachable word (no vocab coverage) drops instead of mis-scoring
    val none = Unigram.viterbiSegment(Seq(("xyz", 1L)).toDF("w", "wc"),
      Seq(("a", -1L)).toDF("p", "lpu"))
    assert(none.count() === 0)
  }

  test("unigram: corpus segmentations reassemble their words; refined vocab covers every piece") {
    val docs = T.documents(spark, sf)
    val vocab = Unigram.trainVocab(docs)
    val segs = Unigram.viterbiSegment(Unigram.wordCounts(docs), vocab)
    val rows = segs.select("w", "seg").collect()
    assert(rows.nonEmpty)
    // lossless: removing separators recovers the word exactly
    rows.foreach { r =>
      assert(r.getString(1).replace("|", "") === r.getString(0),
        s"segmentation ${r.getString(1)} does not spell ${r.getString(0)}")
    }
    // closure: every piece used by a segmentation is in the refined vocab
    val used = rows.flatMap(_.getString(1).split('|')).toSet
    val have = vocab.select("p").collect().map(_.getString(0)).toSet
    assert(used.subsetOf(have), s"pieces missing from vocab: ${used -- have}")
  }

  test("unigram: likelihood-loss pruning drops cheap pieces, keeps load-bearing ones, stays lossless") {
    val docs = T.documents(spark, sf)
    val words = Unigram.wordCounts(docs)
    val v2 = Unigram.trainVocab(docs)
    val v3 = Unigram.pruneVocab(words, v2)
    val before = v2.select("p").collect().map(_.getString(0)).toSet
    val after = v3.select("p").collect().map(_.getString(0)).toSet
    // multi-char pieces only ever shrink (singles may REAPPEAR — the
    // character-coverage guarantee restores chars the hard-EM dropped)
    val multiBefore = before.filter(_.length > 1)
    val multiAfter = after.filter(_.length > 1)
    assert(multiAfter.subsetOf(multiBefore),
      s"new multi-char pieces appeared: ${multiAfter -- multiBefore}")
    assert(multiAfter.size < multiBefore.size, "pruning dropped nothing")
    // single chars survive re-EM whenever still used; every word stays
    // segmentable and every winning piece is in the pruned vocab
    val segs = Unigram.viterbiSegment(words, v3)
    assert(segs.count() === words.count(),
      "a word became unsegmentable after pruning")
    val usedAfter = segs.select("seg").collect()
      .flatMap(_.getString(0).split('|')).toSet
    assert(usedAfter.subsetOf(after))
    // the corpus-likelihood cost of pruning is what the threshold
    // promised: bounded — total Viterbi score under v3 is within the
    // pruned pieces' summed losses of the v2 total (sanity, not exact:
    // re-EM can only improve on the ban-path bound)
    def total(v: org.apache.spark.sql.DataFrame): Long =
      Unigram.viterbiSegment(words, v)
        .select(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("wc") *
            org.apache.spark.sql.functions.col("score_u")))
        .collect()(0).getLong(0)
    assert(total(v3) <= 0L, "scores are log-probs — totals must be <= 0")
  }
  test("assignCells packed-key argmax equals the window argmax, ties to the lower cell") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // corpus of 40 vectors; centroids include an EXACT duplicate pair
    // (cells 7 and 2 share one cvec, so their rounded sims tie for every
    // vector) — the r15 max_by rewrite must break the tie to the LOWER
    // cell exactly like the former row_number window
    val dup = Array.tabulate(8)(d => (d % 5 - 2) / 3.0)
    val corpus = ((0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 17) % 23 - 11) / 7.0))
    } :+ (100L, dup)) // row 100 IS the duplicated centroid: sim 1.0 twice
      .toDF("vec_id", "vec")
    val cents = Seq(
      (7, dup), (2, dup),
      (1, Array.tabulate(8)(d => (d % 3 - 1) / 2.0)),
      (4, Array.tabulate(8)(d => ((d * 7) % 11 - 5) / 6.0))
    ).toDF("cell", "cvec")
    val got = Similarity.assignCells(corpus, cents)
      .select("vec_id", "cell", "sim").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(_._1)
    // reference: the former window spelling, inline
    val w = Window.partitionBy("vec_id").orderBy(col("sim").desc, col("cell"))
    val ref = corpus.crossJoin(broadcast(cents))
      .withColumn("sim",
        round(graft.functions.VectorOps.cosineSim(col("vec"), col("cvec")), 6))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("vec_id", "cell", "sim").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(_._1)
    assert(got.toSeq === ref.toSeq)
    // the duplicate-cvec tie is exercised (row 100 ties at sim 1.0) and
    // always resolves to the lower cell
    assert(got.find(_._1 == 100L).map(_._2) === Some(2))
    assert(!got.exists(_._2 == 7))
  }
}
