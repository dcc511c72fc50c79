package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for SURVEY.md §2 rows that have no DuckDB-portable oracle:
  * F6 (map functions — no map column in testdata), F8 (Hive xpath_* scalar
  * surface — the query-side twin of the reference's XML domain), S8
  * (csv/json sinks), and the cast edge semantics of §1.4.
  */
class CoverageSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("F6: map_keys / map_values / element_at over a map column") {
    import spark.implicits._
    val df = Seq((1, Map("a" -> 10, "b" -> 20)), (2, Map("c" -> 30)))
      .toDF("id", "m")
    val r = df.select(col("id"),
      array_sort(map_keys(col("m"))).as("ks"),
      array_sort(map_values(col("m"))).as("vs"),
      element_at(col("m"), "a").as("a"))
      .orderBy("id").collect()
    assert(r(0).getSeq[String](1).toSeq === Seq("a", "b"))
    assert(r(0).getSeq[Int](2).toSeq === Seq(10, 20))
    assert(r(0).getInt(3) === 10)
    assert(r(1).isNullAt(3))
  }

  test("F8: Hive xpath_* scalar functions work over XML strings") {
    import spark.implicits._
    val xml = "<book><title>Spark</title><price>42.5</price><tag>a</tag><tag>b</tag></book>"
    val df = Seq(xml).toDF("x")
    val r = df.select(
      expr("xpath_string(x, '/book/title')").as("title"),
      expr("xpath_double(x, '/book/price')").as("price"),
      expr("xpath(x, '/book/tag/text()')").as("tags")).collect()(0)
    assert(r.getString(0) === "Spark")
    assert(r.getDouble(1) === 42.5)
    assert(r.getSeq[String](2).toSeq === Seq("a", "b"))
  }

  test("T2: sliding window emits each event in exactly windowSize/slide windows") {
    import spark.implicits._
    // planted events: a 1-hour window sliding every 15 min must place each
    // event in exactly 4 windows, and per-window counts must match by hand.
    val df = Seq(
      "2024-05-01 10:00:00", // windows starting 09:15, 09:30, 09:45, 10:00
      "2024-05-01 10:07:30",
      "2024-05-01 10:31:00"  // windows starting 09:45, 10:00, 10:15, 10:30
    ).toDF("s").select(to_timestamp(col("s")).as("ts"))
    val agg = df.groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "HH:mm").as("wstart"), col("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // each of 3 events lands in exactly 4 windows
    assert(agg.values.sum === 12L)
    assert(agg === Map(
      "09:15" -> 2, "09:30" -> 2, "09:45" -> 3, "10:00" -> 3,
      "10:15" -> 1, "10:30" -> 1))
  }

  test("graft.syntax extension methods delegate to the pipeline operators") {
    import graft.syntax._
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // sampling: same membership as the module call
    val viaSyntax = docs.hashSample($"doc_id", 20).select("doc_id").collect().toSet
    val viaModule = pipeline.Sampling.hashSample(docs, $"doc_id", 20)
      .select("doc_id").collect().toSet
    assert(viaSyntax === viaModule && viaSyntax.nonEmpty)
    // column ops compile and evaluate
    val r = Seq(("a b c a", Array(1f, 0f), Array(1f, 0f))).toDF("t", "u", "v")
      .select($"u".dot($"v").as("d"), $"u".cosineSim($"v").as("cs"),
        $"u".lshBucket().as("b"), $"t".contentChunks().as("cc"))
      .collect()(0)
    assert(r.getDouble(0) === 1.0 && r.getDouble(1) === 1.0)
    assert(!r.isNullAt(2) && r.getSeq[Long](3).nonEmpty)
    // near-dup pairs through the sugar: the module's pair set
    assert(docs.nearDupPairs("text", "doc_id").collect().toSet ===
      pipeline.Dedup.nearDuplicatePairs(docs, "text", "doc_id").collect().toSet)
    // pair clustering through the sugar
    val labels = Seq((1L, 2L, 0.9), (2L, 3L, 0.9)).toDF("doc_a", "doc_b", "j")
      .dupClusters().collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("unknown XML mode option is rejected with the valid set named") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft.xml")
        .option("xml.schema.location", "src/test/resources/graftxml/library/schema")
        .option("xml.separator.tag", "item")
        .option("xml.separator.tag.type", "itemType")
        .option("mode", "IGNORE_ERRORS")
        .load("src/test/resources/graftxml/library/data")
    }
    assert(e.getMessage.contains("FAILFAST") && e.getMessage.contains("IGNORE_ERRORS"))
  }

  test("S8: csv and json sinks round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("sinks").toFile
    val df = Tables.nation(spark, "/root/testdata/sf0.001")
    df.write.mode("overwrite").option("header", "true")
      .csv(s"$dir/nation_csv")
    df.write.mode("overwrite").json(s"$dir/nation_json")
    val csvBack = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$dir/nation_csv")
    val jsonBack = spark.read.json(s"$dir/nation_json")
    assert(csvBack.count() === 25 && jsonBack.count() === 25)
    assert(jsonBack.select("n_name").distinct().count() === 25)
    // orc: the other columnar format, registered out of the box
    df.write.mode("overwrite").orc(s"$dir/nation_orc")
    val orcBack = spark.read.orc(s"$dir/nation_orc")
    assert(orcBack.count() === 25 && orcBack.schema === df.schema)
  }

  test("§1.4 cast semantics: double→int truncates toward zero, bad strings fail per mode") {
    import spark.implicits._
    val r = Seq((2.7, -2.7)).toDF("a", "b")
      .select(col("a").cast("int"), col("b").cast("int")).collect()(0)
    assert(r.getInt(0) === 2 && r.getInt(1) === -2)
  }

  test("J12: deletion-neighborhood fuzzy join finds EVERY lev<=1 pair (vs naive n²)") {
    // The SymSpell completeness guarantee under test: blocked pairs ==
    // the exhaustive theta join on the same vocabulary.
    val names = Tables.part(spark, "/root/testdata/sf0.001")
      .select("p_name").distinct()
    val blocked = operators.Joins.fuzzyPairsDeletes(names, "p_name")
      .select("a", "b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val x = names.select(col("p_name").as("a"))
    val y = names.select(col("p_name").as("b"))
    val naive = x.crossJoin(y)
      .filter(col("a") < col("b") && levenshtein(col("a"), col("b")) <= 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(blocked === naive, s"missed: ${naive -- blocked}; extra: ${blocked -- naive}")
    assert(naive.nonEmpty) // the assertion above must not pass vacuously
  }

  test("J12b: delete-2 neighborhood fuzzy join finds EVERY lev<=2 pair (vs naive n²)") {
    // SymSpell completeness at d=2: strings within levenshtein 2 always
    // share a <=2-delete variant, so the blocked join equals the exhaustive
    // theta join — including pairs at exactly distance 2, which the d=1
    // neighborhood misses by construction.
    val names = Tables.part(spark, "/root/testdata/sf0.001")
      .select("p_name").distinct()
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    val blocked = pairs(operators.Joins.fuzzyPairsDeletes2(names, "p_name"))
    val x = names.select(col("p_name").as("a"))
    val y = names.select(col("p_name").as("b"))
    val naive = x.crossJoin(y)
      .filter(col("a") < col("b") && levenshtein(col("a"), col("b")) <= 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(blocked === naive, s"missed: ${naive -- blocked}; extra: ${blocked -- naive}")
    val d1 = pairs(operators.Joins.fuzzyPairsDeletes(names, "p_name"))
    assert(d1.subsetOf(blocked))
    assert(naive.nonEmpty) // must not pass vacuously
  }

  test("T7: anchored funnel stages are monotone and cover every user") {
    val df = SparkEntry.queries("q_funnel")(spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val users = Tables.events(spark, "/root/testdata/sf0.01")
      .select("user_id").distinct().count()
    assert(df.values.sum === users, s"stages must partition users: $df")
    // anchored greedy: stages beyond 3 impossible, negatives impossible
    assert(df.keySet.forall(s => s >= 0 && s <= 3), s"bad stages: $df")
  }

  test("token budget: prefixes nest as the budget grows; overshoot bounded by one document per source") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def kept(b: Long): Map[Long, Long] =
      pipeline.Sampling.takeTokenBudget(docs, b).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val small = kept(700); val big = kept(1200)
    assert(small.nonEmpty && small.keySet.subsetOf(big.keySet),
      "budget prefix must nest")
    // per-source: selected tokens < budget + last doc's size
    val rows = pipeline.Sampling.takeTokenBudget(docs, 700).collect()
      .groupBy(_.getString(1))
    rows.foreach { case (src, rs) =>
      val total = rs.map(_.getLong(2)).sum
      val maxDoc = rs.map(_.getLong(2)).max
      assert(total < 700 + maxDoc, s"$src overshoot: $total")
    }
  }

  test("mixture allocation: largest-remainder exact, availability cap binds, md5 fill nests") {
    import spark.implicits._
    // 3 sources × 10 docs; weights 5/3/2 over 17 slots:
    // base = 85//10=8, 51//10=5, 34//10=3 (Σ16, deficit 1);
    // remainders rem = (17*w) % 10 → 5, 1, 4 → srcA takes the extra slot
    // → quotas 9/5/3.
    val docs = (0L until 30L).map(k =>
      (k, Seq("srcA", "srcB", "srcC")(k.toInt % 3), s"doc $k"))
      .toDF("doc_id", "source", "text")
    val got = pipeline.Sampling.allocateBySource(docs,
      Map("srcA" -> 5, "srcB" -> 3, "srcC" -> 2), defaultWeight = 1,
      total = 17)
    val quotas = got.collect().groupBy(_.getString(0))
      .map { case (s, rs) => s -> rs.length }
    assert(quotas === Map("srcA" -> 9, "srcB" -> 5, "srcC" -> 3),
      quotas.toString)
    // the cap: a 100-slot ask over 10-doc sources caps at availability
    val capped = pipeline.Sampling.allocateBySource(docs,
      Map("srcA" -> 1), defaultWeight = 0, total = 100)
    assert(capped.count() === 10, "quota must cap at availability")
    // md5-prefix fill nests: the 17-slot selection ⊆ the 23-slot one
    val ids17 = got.collect().map(_.getLong(1)).toSet
    val ids23 = pipeline.Sampling.allocateBySource(docs,
      Map("srcA" -> 5, "srcB" -> 3, "srcC" -> 2), 1, 23)
      .collect().map(_.getLong(1)).toSet
    assert(ids17.subsetOf(ids23), "fill order must nest across totals")
    // zero-weight sources are dropped entirely
    assert(!capped.collect().exists(r => r.getString(0) != "srcA"))
  }

  test("c-TF-IDF: within-class-frequent but corpus-rare terms win; uniform terms rank last") {
    import spark.implicits._
    // "alpha" dominates srcA and appears nowhere else; "common" is uniform
    val docs = Seq(
      (1L, "srcA", "alpha alpha alpha common"),
      (2L, "srcA", "alpha common beta"),
      (3L, "srcB", "gamma gamma common delta"),
      (4L, "srcB", "gamma common epsilon")
    ).toDF("doc_id", "source", "text")
    // the module query's shape run directly on the planted frame
    val toks = docs.select(col("source"),
      explode(pipeline.TextAnalysis.tokens(col("text"))).as("word"))
    val ctf = toks.groupBy("source", "word").agg(count(lit(1)).as("ctf"))
    val lens = ctf.groupBy("source").agg(sum("ctf").as("len_s"))
    val fw = ctf.groupBy("word").agg(sum("ctf").as("f_w"))
    val tot = lens.agg(sum("len_s").as("sl"), count(lit(1)).as("c"))
    val scored = ctf.join(lens, "source").join(fw, "word")
      .crossJoin(tot)
      .withColumn("tfn_u", round(col("ctf").cast("double") /
        col("len_s").cast("double") * lit(1e6), 0).cast("long"))
      .withColumn("idf_u", round(log(lit(1.0) +
        (col("sl").cast("double") / col("c").cast("double")) /
          col("f_w").cast("double")) * lit(1e6), 0).cast("long"))
      .withColumn("score_u", col("tfn_u") * col("idf_u"))
    val top = scored.collect()
      .groupBy(_.getAs[String]("source"))
      .map { case (s, rs) => s -> rs.maxBy(r2 => (r2.getAs[Long]("score_u"),
        r2.getAs[String]("word"))).getAs[String]("word") }
    assert(top === Map("srcA" -> "alpha", "srcB" -> "gamma"), top.toString)
    // the uniform word scores strictly below each class's distinctive term
    val bySrcWord = scored.collect()
      .map(r2 => (r2.getAs[String]("source"), r2.getAs[String]("word")) ->
        r2.getAs[Long]("score_u")).toMap
    assert(bySrcWord(("srcA", "common")) < bySrcWord(("srcA", "alpha")))
    assert(bySrcWord(("srcB", "common")) < bySrcWord(("srcB", "gamma")))
  }

  test("T8: gap interpolation — exact means on observed buckets, straight line across gaps, edges null") {
    import spark.implicits._
    // buckets (step 10): 0 → mean 2.00, 10/20 empty, 30 → mean 8.00, 40 empty
    val e = Seq((0L, 1.0), (5L, 3.0), (30L, 8.0), (45L, 0.0))
      .toDF("tsec", "value")
    val got = operators.Temporal.interpolateResample(e, "tsec", "value", 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    // 2e6 = $2 in micro-units (cents·10000); gap walks 2e6 → 8e6 in thirds
    assert(got === Set(
      (0L, 2L, "obs", 2000000L),
      (10L, 0L, "interp", 4000000L),
      (20L, 0L, "interp", 6000000L),
      (30L, 1L, "obs", 8000000L),
      (40L, 1L, "obs", 0L)), got.toString)
    // trailing edge: drop the last observation → bucket 40 has no right
    // anchor either way; make it a GRID point past the last observation
    val e2 = Seq((0L, 2.0), (25L, 4.0)).toDF("tsec", "value")
    val got2 = operators.Temporal.interpolateResample(e2, "tsec", "value", 10)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(got2 === Set((0L, "obs"), (10L, "interp"), (20L, "obs")))
  }

  test("A10b: HLL sketches are mergeable — union of partial sketches ≈ exact distinct") {
    // THE 100 TB rollup pattern: per-shard sketches stored, merged at query
    // time — no re-scan of raw data. Spark 4 ships DataSketches HLL.
    val o = Tables.orders(spark, "/root/testdata/sf0.001")
    o.filter(col("o_orderkey") % 2 === 0).createOrReplaceTempView("shard_a")
    o.filter(col("o_orderkey") % 2 =!= 0).createOrReplaceTempView("shard_b")
    val merged = spark.sql(
      """SELECT hll_sketch_estimate(hll_union_agg(s)) AS est FROM (
        |  SELECT hll_sketch_agg(o_custkey) AS s FROM shard_a
        |  UNION ALL
        |  SELECT hll_sketch_agg(o_custkey) AS s FROM shard_b)""".stripMargin)
      .collect()(0).getLong(0)
    val exact = o.select(countDistinct("o_custkey")).collect()(0).getLong(0)
    assert(math.abs(merged - exact).toDouble / exact < 0.05,
      s"HLL union estimate $merged vs exact $exact")
  }

  test("A10c: ApproxTopK partial sketches merge to the exact top words") {
    // Same rollup pattern for frequent items: per-source partial sketches,
    // combined + estimated at read time. The synthetic vocabulary (~31
    // distinct words) sits far below the 1024-item sketch capacity, so the
    // DataSketches frequent-items estimate is provably EXACT here — the
    // sketch query must reproduce the exact top-20 (word, n) rows.
    val dir = "/root/testdata/sf0.001"
    val sketch = SparkEntry.queries("q_text_topwords_sketch")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val exact = SparkEntry.queries("q_text_topwords")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // A count TIE at the 20th rank lets the two queries legitimately pick
    // different words for the last slot(s), so equality is asserted only
    // STRICTLY ABOVE the tie boundary (the 20th-ranked count), plus the
    // count multiset — which is tie-insensitive — over the full top 20.
    val boundary = exact.map(_._2).min
    val exactAbove = exact.filter(_._2 > boundary)
    val sketchAbove = sketch.filter(_._2 > boundary)
    assert(sketchAbove === exactAbove,
      s"missed: ${exactAbove -- sketchAbove}; extra: ${sketchAbove -- exactAbove}")
    assert(sketch.toSeq.map(_._2).sorted === exact.toSeq.map(_._2).sorted,
      "the (count-sorted) multiset of top-20 counts must agree")
  }

  test("LK: mergeUpsert takes the update row whole (explicit nulls win); diff classifies") {
    import spark.implicits._
    val t = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "name", "bal")
    val u = Seq((2L, null.asInstanceOf[String], 25L), (3L, "c", 30L))
      .toDF("k", "name", "bal")
    val m = operators.Lake.mergeUpsert(t, u, "k").collect()
      .map(r => r.getLong(0) -> ((if (r.isNullAt(1)) null else r.getString(1)),
        r.getLong(2))).toMap
    assert(m === Map(1L -> ("a", 10L), 2L -> ((null, 25L)), 3L -> ("c", 30L)))
    // diff: k=2 changed, k=3 added, k=1 removed when dropped from new snap
    val newSnap = operators.Lake.mergeUpsert(t, u, "k").filter(col("k") =!= 1)
    val d = operators.Lake.snapshotDiff(t, newSnap, "k", Seq("name", "bal"))
      .select("k", "change_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d === Map(1L -> "removed", 2L -> "changed", 3L -> "added"))
  }

  test("LK: versioned table — commits immutable, time travel exact, delete doesn't rewrite history") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vt").toString
    val v0rows = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
    assert(operators.Versioned.commit(
      v0rows.toDF("k", "name", "bal"), dir) === 0)
    val u = Seq((2L, "b2", 25L), (4L, "d", 40L)).toDF("k", "name", "bal")
    assert(operators.Versioned.upsert(spark, dir, u, "k") === 1)
    assert(operators.Versioned.deleteWhere(spark, dir, col("k") === 1) === 2)
    assert(operators.Versioned.latest(dir) === 2)
    def snap(v: Int): Set[(Long, String, Long)] =
      operators.Versioned.readAt(spark, dir, v).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // v0 unchanged after two later commits (immutability + time travel)
    assert(snap(0) === v0rows.toSet)
    assert(snap(1) === Set((1L, "a", 10L), (2L, "b2", 25L), (3L, "c", 30L),
      (4L, "d", 40L)))
    assert(snap(2) === snap(1) - ((1L, "a", 10L)))
    assert(operators.Versioned.readLatest(spark, dir).count() === 3)
    // CDC across the full history classifies all three change kinds
    val d = operators.Versioned.changes(spark, dir, 0, 2, "k",
      Seq("name", "bal")).select("k", "change_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d === Map(1L -> "removed", 2L -> "changed", 4L -> "added"))
    // vacuum: keep the newest 2 versions — v0 is gone, v1/v2 still serve
    operators.Versioned.vacuum(dir, 2)
    assert(!new java.io.File(s"$dir/v0").exists(), "v0 must be vacuumed")
    assert(snap(1).size === 4 && operators.Versioned.latest(dir) === 2)
  }

  test("LK: partitioned CoW — upsert rewrites only touched partitions, manifest stitches reads, compact rewrites forward") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vtp").toString
    val t = Seq((1L, "a", "P1"), (2L, "b", "P1"), (3L, "c", "P2"),
      (4L, "d", "P3")).toDF("k", "name", "seg")
    assert(operators.Versioned.commitPartitioned(t, dir, "seg") === 0)
    assert(operators.Versioned.manifest(dir, 0) ===
      Map("P1" -> 0, "P2" -> 0, "P3" -> 0))
    // upsert touches P1 only (update k=2, insert k=5) + a NEW partition P4
    val u = Seq((2L, "b2", "P1"), (5L, "e", "P1"), (6L, "f", "P4"))
      .toDF("k", "name", "seg")
    assert(operators.Versioned.upsertPartitioned(spark, dir, u, "k", "seg")
      === 1)
    // copy-on-write: v1's data dir holds ONLY the touched partitions
    val v1parts = new java.io.File(s"$dir/v1/data").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(v1parts === Set("seg=P1", "seg=P4"), v1parts.toString)
    assert(operators.Versioned.manifest(dir, 1) ===
      Map("P1" -> 1, "P2" -> 0, "P3" -> 0, "P4" -> 1))
    def snap(v: Int): Set[(Long, String, String)] =
      operators.Versioned.readPartitionedAt(spark, dir, v).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("name"),
          r.getAs[String]("seg"))).toSet
    val want = Set((1L, "a", "P1"), (2L, "b2", "P1"), (5L, "e", "P1"),
      (3L, "c", "P2"), (4L, "d", "P3"), (6L, "f", "P4"))
    assert(snap(1) === want)
    // time travel: v0 is untouched by the CoW commit
    assert(snap(0) === Set((1L, "a", "P1"), (2L, "b", "P1"),
      (3L, "c", "P2"), (4L, "d", "P3")))
    // compact rewrites every live partition into one fresh version
    assert(operators.Versioned.compactPartitioned(spark, dir, "seg") === 2)
    assert(operators.Versioned.manifest(dir, 2).values.toSet === Set(2))
    assert(snap(2) === want)
  }

  test("LK: deletion-vector deletes — DV versions hold only keys, chained DVs compose, compact folds") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vtdv").toString
    val t = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L),
      (4L, "d", 40L)).toDF("k", "name", "bal")
    assert(operators.Versioned.commit(t, dir) === 0)
    // v1: DV delete of k=1 — merge-on-read, nothing rewritten
    assert(operators.Versioned.deleteWhereDv(spark, dir,
      col("k") === 1, "k") === 1)
    assert(operators.Versioned.isDvVersion(dir, 1))
    // the DV version dir holds ONLY the key parquet, no data files
    val v1files = new java.io.File(s"$dir/v1").listFiles().map(_.getName).toSet
    assert(v1files === Set("_dv"), v1files.toString)
    // v2: DV delete evaluated against the v1-RESOLVED snapshot (chaining)
    assert(operators.Versioned.deleteWhereDv(spark, dir,
      col("bal") === 40, "k") === 2)
    def ks(v: Int): Set[Long] =
      operators.Versioned.readAtDv(spark, dir, v).collect()
        .map(_.getAs[Long]("k")).toSet
    assert(ks(0) === Set(1L, 2L, 3L, 4L)) // time travel: base untouched
    assert(ks(1) === Set(2L, 3L, 4L))
    assert(ks(2) === Set(2L, 3L))
    // compact folds the DV chain into a materialized snapshot
    assert(operators.Versioned.compactDv(spark, dir) === 3)
    assert(!operators.Versioned.isDvVersion(dir, 3))
    assert(ks(3) === Set(2L, 3L))
    // a DV after compact resolves the NEW base, not v0
    assert(operators.Versioned.deleteWhereDv(spark, dir,
      col("k") === 2, "k") === 4)
    assert(ks(4) === Set(3L))
    // a materialized read of the compacted version agrees with the DV read
    assert(operators.Versioned.readAt(spark, dir, 3).collect()
      .map(_.getAs[Long]("k")).toSet === Set(2L, 3L))
    // snapshot-deriving mutations over a live DV tip fail LOUDLY (they
    // would resurrect deleted keys) and name the remedy
    val e = intercept[IllegalArgumentException] {
      operators.Versioned.upsert(spark, dir,
        Seq((9L, "z", 90L)).toDF("k", "name", "bal"), "k")
    }
    assert(e.getMessage.contains("resurrect") &&
      e.getMessage.contains("compactDv"), e.getMessage)
    intercept[IllegalArgumentException] {
      operators.Versioned.deleteWhere(spark, dir, col("k") === 3)
    }
    // after compacting the chain, the same mutation succeeds
    assert(operators.Versioned.compactDv(spark, dir) === 5)
    assert(operators.Versioned.upsert(spark, dir,
      Seq((9L, "z", 90L)).toDF("k", "name", "bal"), "k") === 6)
    assert(operators.Versioned.readLatest(spark, dir).collect()
      .map(_.getAs[Long]("k")).toSet === Set(3L, 9L))
  }

  test("LK: append (delta) commits — in-order chain fold, re-append after delete, guard, compact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vtadd").toString
    val t = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "name", "bal")
    assert(operators.Versioned.commit(t, dir) === 0)
    // v1: append-only commit — the version dir holds ONLY the delta rows
    // plus the footer-stats sidecar they arrive with (E198)
    assert(operators.Versioned.appendRows(
      Seq((4L, "d", 40L), (5L, "e", 50L)).toDF("k", "name", "bal"), dir) === 1)
    assert(operators.Versioned.isAddVersion(dir, 1))
    val v1files = new java.io.File(s"$dir/v1").listFiles().map(_.getName).toSet
    assert(v1files === Set("_add", "_addstats"), v1files.toString)
    // v2: DV delete evaluated against the v1-resolved snapshot — deletes
    // from base AND appended rows
    assert(operators.Versioned.deleteWhereDv(spark, dir,
      col("k").isin(2L, 4L), "k") === 2)
    // v3: re-append of a DELETED key — in-order fold must keep it (a
    // union-then-anti-join shortcut would wrongly delete it again)
    assert(operators.Versioned.appendRows(
      Seq((4L, "d2", 41L)).toDF("k", "name", "bal"), dir) === 3)
    def ks(v: Int): Set[(Long, String)] =
      operators.Versioned.readAtDv(spark, dir, v).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("name"))).toSet
    assert(ks(0) === Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(ks(1) === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    assert(ks(2) === Set((1L, "a"), (3L, "c"), (5L, "e")))
    assert(ks(3) === Set((1L, "a"), (3L, "c"), (5L, "e"), (4L, "d2")))
    // snapshot-deriving mutations over a live APPEND tip fail loudly (they
    // would silently drop the appended rows)
    val e = intercept[IllegalArgumentException] {
      operators.Versioned.upsert(spark, dir,
        Seq((9L, "z", 90L)).toDF("k", "name", "bal"), "k")
    }
    assert(e.getMessage.contains("append") &&
      e.getMessage.contains("compactDv"), e.getMessage)
    // appendRows on an EMPTY table fails loudly (no base to append onto)
    intercept[IllegalArgumentException] {
      operators.Versioned.appendRows(t,
        java.nio.file.Files.createTempDirectory("graft-vtadd-empty").toString)
    }
    // compact folds the whole chain into a materialized snapshot
    assert(operators.Versioned.compactDv(spark, dir) === 4)
    assert(!operators.Versioned.isAddVersion(dir, 4) &&
      !operators.Versioned.isDvVersion(dir, 4))
    assert(ks(4) === ks(3))
    // chain-aware vacuum: with a DV/append tip, the live chain's base and
    // links survive even when keepLast alone would remove them
    val dir2 = java.nio.file.Files.createTempDirectory("graft-vtvac").toString
    operators.Versioned.commit(t, dir2)
    operators.Versioned.appendRows(Seq((4L, "d", 40L)).toDF("k", "name", "bal"), dir2)
    operators.Versioned.deleteWhereDv(spark, dir2, col("k") === 1, "k")
    operators.Versioned.vacuum(dir2, 1) // tip v2 is a DV: base v0 must survive
    assert(new java.io.File(s"$dir2/v0").exists(), "live-chain base vacuumed")
    assert(operators.Versioned.readAtDv(spark, dir2, 2).collect()
      .map(_.getAs[Long]("k")).toSet === Set(2L, 3L, 4L))
    // restore: materialize an old version as the new tip, history intact
    assert(operators.Versioned.restore(spark, dir2, 0) === 3)
    assert(operators.Versioned.readLatest(spark, dir2).collect()
      .map(_.getAs[Long]("k")).toSet === Set(1L, 2L, 3L))
    assert(operators.Versioned.readAtDv(spark, dir2, 2).collect()
      .map(_.getAs[Long]("k")).toSet === Set(2L, 3L, 4L))
  }

  test("LK: the _addstats sidecar of a multi-file append is pinned byte for byte") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-vtaddstats").toString
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("d", DateType), StructField("ln", LongType),
      StructField("z", IntegerType), StructField("s", StringType),
      StructField("nest", StructType(Seq(StructField("a", IntegerType),
        StructField("b", ArrayType(IntegerType)))))))
    val rows = (0 until 9).map { k =>
      Row(k - 4, 1000000000000L * k, java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(k.toLong * 40)),
        if (k % 3 == 0) null else -7L * k, null, s"s$k",
        Row(k, Seq(k, k + 1)))
    }
    operators.Versioned.commit(spark.createDataFrame(
      spark.sparkContext.parallelize(rows.take(1), 1), schema), dir)
    // three partitions: the batch lands as three parquet files
    val batch = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    assert(operators.Versioned.appendRows(batch, dir) === 1)
    val parts = new java.io.File(operators.Versioned.addPath(dir, 1))
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(parts === 3)
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "v1", "_addstats"))
    // string and nested columns are named in the layout but untracked;
    // the all-null column keeps its counts with an empty min/max
    assert(text === Seq(
      "#cols\ti,l,d,ln,z,s,nest",
      "d\td\t9\t0\t19723\t20043",
      "i\ti\t9\t0\t-4\t4",
      "l\ti\t9\t0\t0\t8000000000000",
      "ln\ti\t9\t3\t-56\t-7",
      "z\ti\t9\t9\t\t").mkString("\n"))
  }

  test("LK: append-chain scan coalescing — plan size tracks boundaries, not commits") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-vtcoal").toString
    def rows(ks: Long*) = ks.map(k => (k, s"n$k", k * 10L)).toDF("k", "name", "bal")
    assert(operators.Versioned.commit(rows(1, 2, 3), dir) === 0)
    // v1..v4: four same-schema appends (one ingest batch each)
    (4L to 7L).foreach(k => operators.Versioned.appendRows(rows(k), dir))
    // v5: a DV delete pins the batches below it
    operators.Versioned.deleteWhereDv(spark, dir, col("k") === 2, "k")
    // v6, v7: two more same-schema appends ABOVE the DV (must not merge
    // with v1..v4 — the delete applies only to rows below it)
    operators.Versioned.appendRows(rows(8), dir)
    operators.Versioned.appendRows(rows(9), dir)
    // v8: widened append — schema boundary, its own scan
    operators.Versioned.appendRows(
      Seq((10L, "n10", 100L, "gold")).toDF("k", "name", "bal", "tier"), dir)
    val resolved = operators.Versioned.readAtDv(spark, dir, 8)
    assert(resolved.collect().map(r =>
        (r.getAs[Long]("k"), r.getAs[String]("tier"))).toSet ===
      ((1L to 10L).toSet - 2L).map(k => (k, if (k == 10L) "gold" else null)))
    // the plan reads one APPEND scan per boundary group (v1-4, v6-7, v8)
    // — not one per commit. (The tiny DV scan may appear more than once:
    // Catalyst pushes the left-anti join into union branches, which is
    // its call — the thing that must not grow with commit count is the
    // append-side scan list.)
    val addScans = resolved.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("_add"))
        => s.relation.location.rootPaths.size
    }.sorted
    assert(addScans === Seq(1, 2, 4),
      s"expected 3 coalesced append scans of sizes 1/2/4, got $addScans")
  }

  test("LK: concurrent partitioned upserts never lose updates (mutator claim serializes RMW)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-vtrace").toString
    val t = (1L to 160L).map(k => (k, k % 8, s"old$k")).toDF("k", "p", "name")
    assert(operators.Versioned.commitPartitioned(t, dir, "p") === 0)
    // 8 racing threads, each upserting ONE disjoint partition. Without
    // the _mutate._claim every racer reads the v0 manifest and the last
    // seal reverts the other seven's pointers (lost updates).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0L until 8L).map { part =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = operators.Versioned.upsertPartitioned(spark, dir,
            t.filter(col("p") === part)
              .withColumn("name", org.apache.spark.sql.functions
                .concat(org.apache.spark.sql.functions.lit("new"), col("k"))),
            "k", "p")
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    assert(operators.Versioned.latest(dir) === 8)
    val names = operators.Versioned
      .readPartitionedAt(spark, dir, 8)
      .select("name").collect().map(_.getString(0))
    // every one of the 160 rows carries its upserted value — no partition
    // silently reverted to v0
    assert(names.length === 160)
    assert(names.forall(_.startsWith("new")),
      s"lost update: ${names.count(!_.startsWith("new"))} rows reverted")
    // the claim is released: a follow-up mutation proceeds
    assert(operators.Versioned.deleteWhere(spark, dir,
      col("k") === 1L) === 9)
  }

  test("LK: selective OPTIMIZE — scattered partitions rewritten, majority zero-copy, no-op on one owner") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-vtopt").toString
    val t = (1L to 200L).map(k => (k, k % 10, s"n$k")).toDF("k", "p", "name")
    assert(operators.Versioned.commitPartitioned(t, dir, "p") === 0)
    // three upserts scatter 6 partitions across v1..v3
    Seq(Seq(0L, 1L), Seq(2L, 3L), Seq(4L, 5L)).foreach { ps =>
      operators.Versioned.upsertPartitioned(spark, dir,
        t.filter(col("p").isin(ps: _*)).withColumn("name",
          org.apache.spark.sql.functions.concat_ws("", col("name"))), "k", "p")
    }
    val before = operators.Versioned.readPartitionedAt(spark, dir, 3)
      .collect().map(_.toString).sorted.toSeq
    assert(operators.Versioned.manifest(dir, 3).values.toSet.size === 4)
    val v = operators.Versioned.optimizeScattered(spark, dir)
    assert(v === 4)
    val man = operators.Versioned.manifest(dir, v)
    // manifest collapses to 2 owners; the 4 majority partitions stay on v0
    assert(man.values.toSet === Set(0, 4))
    assert(man.count(_._2 == 0) === 4)
    // v4's data dir holds ONLY the 6 scattered partitions (zero-copy rest)
    val rewritten = new java.io.File(s"$dir/v4/data").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("p="))
    assert(rewritten === 6)
    // rows unchanged, and a single-owner table is a no-op
    assert(operators.Versioned.readPartitionedAt(spark, dir, v)
      .collect().map(_.toString).sorted.toSeq === before)
    assert(operators.Versioned.compactPartitioned(spark, dir, "p") === 5)
    assert(operators.Versioned.optimizeScattered(spark, dir) === 5)
  }

  test("LK: schema evolution via append — union schema null-padded, time travel keeps old schema") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vtevo").toString
    val t = Seq((1L, "a"), (2L, "b")).toDF("k", "name")
    operators.Versioned.commit(t, dir)
    // widened append: new `tier` column (and rows missing nothing)
    operators.Versioned.appendRows(
      Seq((3L, "c", "gold")).toDF("k", "name", "tier"), dir)
    val resolved = operators.Versioned.readAtDv(spark, dir, 1)
    assert(resolved.columns.toSeq === Seq("k", "name", "tier"))
    val rows = resolved.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("tier"))).toMap
    assert(rows === Map(1L -> null, 2L -> null, 3L -> "gold"))
    // time travel to the pre-evolution version keeps the ORIGINAL schema
    assert(operators.Versioned.readAt(spark, dir, 0).columns.toSeq ===
      Seq("k", "name"))
    // a NARROW append (missing a base column) null-pads the other way
    operators.Versioned.appendRows(Seq(Tuple1(4L)).toDF("k"), dir)
    val r2 = operators.Versioned.readAtDv(spark, dir, 2).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("name"))).toMap
    assert(r2(4L) === null && r2(1L) === "a")
  }

  test("LK: expectation-gated commit — valid rows commit, violations quarantined with reasons") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vtexp").toString
    val t = Seq(
      (1L, "a", 10L), (2L, null.asInstanceOf[String], 20L),
      (3L, "c", -5L), (4L, null.asInstanceOf[String], -1L))
      .toDF("k", "name", "bal")
    val v = operators.Versioned.commitExpect(t, dir, Seq(
      "has_name" -> col("name").isNotNull,
      "nonneg_bal" -> (col("bal") >= 0)))
    assert(v === 0)
    // committed snapshot = only the fully-valid rows
    assert(operators.Versioned.readLatest(spark, dir).collect()
      .map(_.getAs[Long]("k")).toSet === Set(1L))
    // quarantine carries every failing row with ALL its violated gates
    val q = operators.Versioned.quarantine(spark, dir).collect()
      .map(r => r.getAs[Long]("k") ->
        (r.getAs[String]("violations"), r.getAs[Int]("commit_version")))
      .toMap
    assert(q === Map(
      2L -> ("has_name", 0), 3L -> ("nonneg_bal", 0),
      4L -> ("has_name,nonneg_bal", 0)))
  }

  test("LK: appendBatchIdempotent — replayed batch ids are no-ops, first batch bootstraps") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vtbid").toString
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("k", "name")
    val b1 = Seq((3L, "c")).toDF("k", "name")
    // empty table: batch 0 bootstraps as the initial full commit
    assert(operators.Versioned.appendBatchIdempotent(b0, dir, 0L) === Some(0))
    assert(!operators.Versioned.isAddVersion(dir, 0))
    // batch 1 lands as an append (delta) commit
    assert(operators.Versioned.appendBatchIdempotent(b1, dir, 1L) === Some(1))
    assert(operators.Versioned.isAddVersion(dir, 1))
    // crash-replay of either batch id: recognized, nothing committed
    assert(operators.Versioned.appendBatchIdempotent(b0, dir, 0L) === None)
    assert(operators.Versioned.appendBatchIdempotent(b1, dir, 1L) === None)
    assert(operators.Versioned.latest(dir) === 1)
    assert(operators.Versioned.readAtDv(spark, dir, 1).count() === 3)
  }

  test("LK: z-order layout — conjunctive zone maps prune strictly more than a single-dimension layout") {
    import spark.implicits._
    // uniform 25×22 grid, 2 rows per cell — every (a, b) combination present
    val rows = for (i <- 0 until 1100) yield (i.toLong, i % 25, (i / 25) % 22)
    val df = rows.toDF("id", "a", "b")
    val preds = Seq(("a", 5L, 10L), ("b", 4L, 7L))
    // z-order layout: partitions are Morton-interleave buckets (tight in
    // BOTH dims)
    val zdir = java.nio.file.Files.createTempDirectory("graft-zord").toString
    val zdf = df.withColumn("pbucket",
      shiftright(operators.Layout.zValue(col("a"), col("b")), 4))
    operators.Versioned.commitPartitionedStatsMulti(spark, zdf, zdir,
      "pbucket", Seq("a", "b"))
    // single-dimension layout: partitions are b alone — every partition
    // spans ALL of a, so the a-predicate can never prune
    val ldir = java.nio.file.Files.createTempDirectory("graft-lin").toString
    val ldf = df.withColumn("pbucket", col("b"))
    operators.Versioned.commitPartitionedStatsMulti(spark, ldf, ldir,
      "pbucket", Seq("a", "b"))
    def keptFrac(d: String): Double =
      operators.Versioned.prunedPartitionsMulti(d, 0, preds).size.toDouble /
        operators.Versioned.manifest(d, 0).size
    val (zf, lf) = (keptFrac(zdir), keptFrac(ldir))
    // the linear layout keeps exactly the 4/22 b-partitions; z-order also
    // prunes on a, so its surviving fraction must be strictly smaller
    assert(lf === 4.0 / 22, s"single-dim layout kept $lf")
    assert(zf < lf, s"z-order kept $zf, single-dim kept $lf")
    // both layouts serve the identical result (pruning is never a filter)
    val want = df.filter(col("a").between(5, 10) && col("b").between(4, 7))
      .select("id").collect().map(_.getLong(0)).toSet
    for (d <- Seq(zdir, ldir))
      assert(operators.Versioned.readPartitionedPrunedMulti(spark, d, 0, preds)
        .select("id").collect().map(_.getLong(0)).toSet === want)
  }

  test("LK: ingest crash hole — a claimed-but-unsealed batch is invisible and its replay re-appends") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vtcrash").toString
    val b0 = Seq((1L, "a")).toDF("k", "name")
    assert(operators.Versioned.appendBatchIdempotent(b0, dir, 0L) === Some(0))
    // simulate a sink that CRASHED between the data write and seal: v1 has
    // a claim, data, and the batch-id marker — but no commit mark
    val b1 = Seq((2L, "b")).toDF("k", "name")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "v1._claim"))
    b1.write.parquet(s"$dir/v1/_add")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "v1", "_batchid"), "1")
    // the aborted slot is invisible to readers and to the marker scan
    assert(operators.Versioned.latest(dir) === 0)
    assert(operators.Versioned.readAtDv(spark, dir, 0).count() === 1)
    // the checkpoint replays batch 1: the uncommitted marker must NOT
    // suppress it — the replay claims the next number (the hole stays) and
    // commits for real
    assert(operators.Versioned.appendBatchIdempotent(b1, dir, 1L) === Some(2))
    assert(operators.Versioned.readAtDv(spark, dir, 2).collect()
      .map(_.getAs[Long]("k")).toSet === Set(1L, 2L))
    // and a SECOND replay of the same id is now a no-op
    assert(operators.Versioned.appendBatchIdempotent(b1, dir, 1L) === None)
  }

  test("LK: graft.versioned data source — DDL view, time travel, DV resolution, CDC, pushdown") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vtds").toString
    val t = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L),
      (4L, "d", 40L)).toDF("k", "name", "bal")
    assert(operators.Versioned.commit(t, dir) === 0)
    val u = Seq((2L, "b2", 25L), (5L, "e", 50L)).toDF("k", "name", "bal")
    assert(operators.Versioned.upsert(spark, dir, u, "k") === 1)
    assert(operators.Versioned.deleteWhereDv(spark, dir,
      col("k") === 1, "k") === 2)
    def ks(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getAs[Long]("k")).toSet
    // default read = latest, DV-resolved
    assert(ks(spark.read.format("graft.versioned").load(dir)) ===
      Set(2L, 3L, 4L, 5L))
    // time travel through the option
    assert(ks(spark.read.format("graft.versioned")
      .option("versionAsOf", 0).load(dir)) === Set(1L, 2L, 3L, 4L))
    assert(ks(spark.read.format("graft.versioned")
      .option("versionAsOf", 1).load(dir)) === Set(1L, 2L, 3L, 4L, 5L))
    // SQL-visible: DDL temp view over the source
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW vt_ds USING `graft.versioned` " +
      s"OPTIONS (path '$dir', versionAsOf '1')")
    val viaSql = spark.sql("SELECT k, name FROM vt_ds WHERE bal >= 25 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(viaSql === Seq((2L, "b2"), (3L, "c"), (4L, "d"), (5L, "e")))
    // count(*) exercises the empty-projection path
    assert(spark.sql("SELECT count(*) FROM vt_ds").collect()(0).getLong(0) === 5)
    // pushdown: the translated filter reaches the inner parquet scan
    val planned = spark.read.format("graft.versioned")
      .option("versionAsOf", 1).load(dir).filter(col("bal") >= 25)
    val leafScans = planned.queryExecution.executedPlan.collectLeaves().map(_.toString)
    assert(leafScans.exists(l => l.contains("PushedFilters") && l.contains("bal")),
      s"expected bal filter pushed into the delegate scan:\n${leafScans.mkString("\n")}")
    // CDC read through the source
    val cdc = spark.read.format("graft.versioned")
      .option("changesFrom", 0).option("changesTo", 1)
      .option("key", "k").option("compareCols", "name,bal").load(dir)
      .select("k", "change_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cdc === Map(2L -> "changed", 5L -> "added"))
    // CDC with a DV-tip endpoint resolves through readAtDv: the DV delete
    // arrives as a "removed" row instead of failing the snapshot read
    val cdcDv = spark.read.format("graft.versioned")
      .option("changesFrom", 1).option("changesTo", 2)
      .option("key", "k").option("compareCols", "name,bal").load(dir)
      .select("k", "change_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cdcDv === Map(1L -> "removed"))
    // write path: overwrite commits the given rows as the next full
    // snapshot; history stays time-travelable
    val snap = spark.read.format("graft.versioned").load(dir)
    snap.filter(col("k") =!= 3).write.format("graft.versioned")
      .mode("overwrite").save(dir)
    assert(operators.Versioned.latest(dir) === 3)
    assert(ks(spark.read.format("graft.versioned").load(dir)) ===
      Set(2L, 4L, 5L))
    assert(ks(spark.read.format("graft.versioned")
      .option("versionAsOf", 0).load(dir)) === Set(1L, 2L, 3L, 4L))
    // append PRESERVES existing rows (the SQL append contract) AND lands
    // as an append (DELTA) commit — cost ∝ batch, never a snapshot
    // rewrite of the whole table (the 100 TB scale contract, enforced)
    Seq((9L, "z", 90L)).toDF("k", "name", "bal")
      .write.format("graft.versioned").mode("append").save(dir)
    assert(operators.Versioned.latest(dir) === 4)
    assert(operators.Versioned.isAddVersion(dir, 4),
      "v1 SQL append must be a delta commit, not a snapshot rewrite")
    assert(ks(spark.read.format("graft.versioned").load(dir)) ===
      Set(2L, 4L, 5L, 9L))
    // schema gate: a mismatched batch fails loudly BEFORE committing
    intercept[Exception] {
      Seq((9L, "z")).toDF("k", "name")
        .write.format("graft.versioned").mode("append").save(dir)
    }
    assert(operators.Versioned.latest(dir) === 4)
    // INSERT INTO through the DDL view appends too (delta-kind as well)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW vt_w USING `graft.versioned` " +
      s"OPTIONS (path '$dir')")
    spark.sql("INSERT INTO vt_w VALUES " +
      "(CAST(10 AS BIGINT), 'w', CAST(100 AS BIGINT))")
    assert(operators.Versioned.latest(dir) === 5)
    assert(operators.Versioned.isAddVersion(dir, 5),
      "DDL-view INSERT INTO must be a delta commit")
    assert(ks(spark.read.format("graft.versioned").load(dir)) ===
      Set(2L, 4L, 5L, 9L, 10L))
    // INSERT OVERWRITE replaces the snapshot (history intact)
    spark.sql("INSERT OVERWRITE TABLE vt_w VALUES " +
      "(CAST(20 AS BIGINT), 'v', CAST(200 AS BIGINT))")
    assert(operators.Versioned.latest(dir) === 6)
    assert(ks(spark.read.format("graft.versioned").load(dir)) === Set(20L))
    assert(ks(spark.read.format("graft.versioned")
      .option("versionAsOf", 5).load(dir)) === Set(2L, 4L, 5L, 9L, 10L))
    // a fresh dir with errorifexists: first save commits, second raises
    val dir2 = java.nio.file.Files.createTempDirectory("graft-vtds2").toString
    t.write.format("graft.versioned").mode("errorifexists").save(dir2)
    assert(operators.Versioned.latest(dir2) === 0)
    intercept[Exception] {
      t.write.format("graft.versioned").mode("errorifexists").save(dir2)
    }
    // ignore: no-op on an existing table
    t.write.format("graft.versioned").mode("ignore").save(dir2)
    assert(operators.Versioned.latest(dir2) === 0)
  }

  test("LK: versioned relation reports real sizeInBytes — a small versioned dim BROADCASTS in a join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-vtsize").toString
    val dim = (1L to 50L).map(k => (k, s"n$k")).toDF("k", "name")
    operators.Versioned.commit(dim, dir)
    operators.Versioned.appendRows(
      Seq((51L, "n51")).toDF("k", "name"), dir) // chain adds count too
    val rel = spark.read.format("graft.versioned").load(dir)
    // the relation claims its true (tiny) footprint, not the
    // defaultSizeInBytes infinity that would veto every broadcast
    val stats = rel.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(stats > 0 && stats < 10L * 1024 * 1024,
      s"expected a small real size estimate, got $stats")
    val fact = (1L to 20000L).map(i => (i % 60L, i)).toDF("k", "v")
    val joined = fact.join(rel, Seq("k"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small versioned dim must broadcast:\n$plan")
    assert(joined.count() === fact.filter(col("k").between(1, 51)).count())
    // manifest-aware estimate: after an upsert rewrites half the
    // partitions, the estimate must NOT double-count the superseded
    // copies still physically present under the old owner's data dir
    val pdir = java.nio.file.Files.createTempDirectory("graft-vtsizep")
      .toString
    val pt = (1L to 100L).map(k => (k, k % 10, s"n$k")).toDF("k", "p", "n")
    operators.Versioned.commitPartitioned(pt, pdir, "p")
    operators.Versioned.upsertPartitioned(spark, pdir,
      pt.filter(col("p") < 5).withColumn("n",
        org.apache.spark.sql.functions.concat(col("n"), col("n"))),
      "k", "p")
    def allBytes(f: java.io.File): Long =
      if (f.isFile) { if (f.getName.endsWith(".parquet")) f.length() else 0L }
      else Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .map(allBytes).sum
    val naive = allBytes(new java.io.File(pdir)) // counts superseded parts
    val est = spark.read.format("graft.versioned").load(pdir)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est > 0 && est < naive,
      s"manifest-aware estimate $est must be below the double-count $naive")
  }

  test("LK: DESCRIBE HISTORY is metadata-only — zero Spark jobs regardless of history length") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-vthistmeta").toString
    val t = (1L to 40L).map(k => (k, s"n$k")).toDF("k", "name")
    operators.Versioned.commit(t, dir)
    (1 to 5).foreach { i =>
      operators.Versioned.appendRows(
        Seq((100L + i, s"a$i")).toDF("k", "name"), dir)
    }
    operators.Versioned.deleteWhereDv(spark, dir, col("k") === 2, "k")
    // payload counts come from parquet footers on the driver — a listener
    // watching job starts must see NOTHING while history() runs, so the
    // call stays ≤O(files) metadata reads on a 10k-commit chain, never
    // one driver-blocking count job per version
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val h = operators.Versioned.history(spark, dir).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      assert(h.toSeq === Seq((0, "snapshot", 40L), (1, "append", 1L),
        (2, "append", 1L), (3, "append", 1L), (4, "append", 1L),
        (5, "append", 1L), (6, "dv", 1L)))
      Thread.sleep(1000) // listener events post asynchronously
      assert(jobs.get === 0,
        s"history() launched ${jobs.get} Spark job(s); must be footer-only")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("LK: concurrent SQL appends never lose rows (write path under the mutator claim)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vtracesql").toString
    Seq((0L, "base")).toDF("k", "name")
      .write.format("graft.versioned").mode("overwrite").save(dir)
    // 8 racing SQL appends, each ONE distinct row. Append derives the new
    // snapshot from the tip (readAtDv(latest) ∪ new rows), so without the
    // _mutate._claim two writers could both read v_N and the later seal
    // would silently drop the earlier writer's row.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1L to 8L).map { k =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = Seq((k, s"new$k")).toDF("k", "name")
            .write.format("graft.versioned").mode("append").save(dir)
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    assert(operators.Versioned.latest(dir) === 8)
    // every writer's row survives at the tip — no lost update
    assert(spark.read.format("graft.versioned").load(dir).collect()
      .map(_.getAs[Long]("k")).toSet === (0L to 8L).toSet)
    // the claim is released: a follow-up SQL append proceeds
    Seq((9L, "new9")).toDF("k", "name")
      .write.format("graft.versioned").mode("append").save(dir)
    assert(operators.Versioned.latest(dir) === 9)
  }

  test("LK: DV deletes over a PARTITIONED base — readAtDv stitches the manifest") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vtdvp").toString
    val t = Seq((1L, "a", "P1"), (2L, "b", "P1"), (3L, "c", "P2"),
      (4L, "d", "P3")).toDF("k", "name", "seg")
    assert(operators.Versioned.commitPartitioned(t, dir, "seg") === 0)
    // v1: CoW upsert touching P1 only — the base manifest now references
    // TWO owning versions, so a flat read of either version dir would be
    // a partial snapshot (the round-10 readAtDv defect)
    val u = Seq((2L, "b2", "P1"), (5L, "e", "P1")).toDF("k", "name", "seg")
    assert(operators.Versioned.upsertPartitioned(spark, dir, u, "k", "seg")
      === 1)
    // v2/v3: chained DV deletes on top of the stitched partitioned base
    assert(operators.Versioned.deleteWhereDv(spark, dir,
      col("k") === 3, "k") === 2)
    assert(operators.Versioned.deleteWhereDv(spark, dir,
      col("name") === "b2", "k") === 3)
    assert(operators.Versioned.isDvVersion(dir, 2) &&
      operators.Versioned.isDvVersion(dir, 3))
    def ks(v: Int): Set[Long] =
      operators.Versioned.readAtDv(spark, dir, v).collect()
        .map(_.getAs[Long]("k")).toSet
    // base resolution walks to v1 (partitioned) and stitches all partitions
    assert(ks(1) === Set(1L, 2L, 4L, 5L, 3L))
    assert(ks(2) === Set(1L, 2L, 4L, 5L))
    assert(ks(3) === Set(1L, 4L, 5L))
    // the stitched DV read carries the full schema incl. the partition col
    val cols = operators.Versioned.readAtDv(spark, dir, 3).columns.toSet
    assert(cols === Set("k", "name", "seg"))
    // compact folds the chain; post-compact reads agree
    assert(operators.Versioned.compactDv(spark, dir) === 4)
    assert(ks(4) === Set(1L, 4L, 5L))
  }

  test("LK: zone-map skipping — range reads prune partitions driver-side, upserts refresh stats") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vtzm").toString
    // planted clustering: bucket = k / 10, so c_custkey-style ranges map
    // to few partitions
    val t = (0L until 100L).map(k => (k, s"r$k", k / 10))
      .toDF("k", "name", "bkt")
    assert(operators.Versioned.commitPartitionedStats(spark, t, dir,
      "bkt", "k") === 0)
    // zone map recorded per partition
    assert(operators.Versioned.zoneMap(dir, 0)("3") === ((30L, 39L)))
    // [35, 44] admits exactly buckets 3 and 4 of the 10
    val kept = operators.Versioned.prunedPartitions(dir, 0, 35L, 44L)
    assert(kept.keySet === Set("3", "4"), kept.toString)
    def rng(v: Int, lo: Long, hi: Long): Set[Long] =
      operators.Versioned.readPartitionedPruned(spark, dir, v, "k", lo, hi)
        .collect().map(_.getAs[Long]("k")).toSet
    assert(rng(0, 35L, 44L) === (35L to 44L).toSet)
    // an upsert into bucket 3 refreshes ITS stats; other buckets keep v0's
    val u = Seq((100L, "new", 3L)).toDF("k", "name", "bkt") // widens bucket 3's max
    assert(operators.Versioned.upsertPartitionedStats(spark, dir, u,
      "k", "bkt", "k") === 1)
    assert(operators.Versioned.zoneMap(dir, 1)("3") === ((30L, 100L)))
    // [95, 200] now admits bucket 3 (owner v1) and bucket 9 (owner v0)
    val kept2 = operators.Versioned.prunedPartitions(dir, 1, 95L, 200L)
    assert(kept2 === Map("3" -> 1, "9" -> 0), kept2.toString)
    assert(rng(1, 95L, 200L) === Set(95L, 96L, 97L, 98L, 99L, 100L))
    // every partition pruned → empty result, correct schema
    assert(rng(1, 5000L, 6000L) === Set.empty[Long])
    // partitions without stats are conservatively kept
    val dir2 = java.nio.file.Files.createTempDirectory("graft-vtzm2").toString
    assert(operators.Versioned.commitPartitioned(t, dir2, "bkt") === 0)
    assert(operators.Versioned.prunedPartitions(dir2, 0, 35L, 44L).size === 10)
  }

  test("LK: versioned table — concurrent committers claim distinct versions (O_EXCL, no lock)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vt-cc").toString
    // 8 simultaneous commits racing for version numbers with NO shared
    // lock: the exclusive v<N>._claim create is the only arbiter (the
    // cross-process story — separate JVMs hit the same createFile O_EXCL
    // path, which the filesystem serializes; threads exercise it here).
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val vs = (0 until 8).map { i =>
      pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          gate.await()
          operators.Versioned.commit(Seq((i.toLong, s"w$i")).toDF("k", "who"), dir)
        }
      })
    }
    gate.countDown()
    val got = vs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS)).sorted
    pool.shutdown()
    assert(got === (0 until 8), "claimed versions must be exactly 0..7, no collisions")
    assert(operators.Versioned.latest(dir) === 7)
    // every version is complete and carries exactly its writer's row
    val whoByV = (0 until 8).map { v =>
      val rows = operators.Versioned.readAt(spark, dir, v).collect()
      assert(rows.length === 1, s"v$v must hold exactly one row")
      rows.head.getString(1)
    }
    assert(whoByV.toSet.size === 8, "no two versions may share a writer")
    // crashed-writer hole: a claim with no commit mark makes later writers
    // skip the number and latest() never serves it
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "v8._claim"))
    assert(operators.Versioned.commit(Seq((99L, "after")).toDF("k", "who"),
      dir) === 9)
    assert(operators.Versioned.latest(dir) === 9)
  }

  test("LK: versioned table schema evolution — a column appears at its commit, history keeps its schema") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vt-se").toString
    operators.Versioned.commit(
      Seq((1L, "a"), (2L, "b")).toDF("k", "name"), dir)
    // v1 adds a column: time travel returns each version's OWN schema
    operators.Versioned.commit(
      operators.Versioned.readLatest(spark, dir)
        .withColumn("score", col("k") * 2), dir)
    assert(operators.Versioned.readAt(spark, dir, 0).columns.toSeq ===
      Seq("k", "name"))
    assert(operators.Versioned.readAt(spark, dir, 1).columns.toSeq ===
      Seq("k", "name", "score"))
    // CDC across the schema change still works on the common columns —
    // and correctly reports nothing changed in them
    assert(operators.Versioned.changes(spark, dir, 0, 1, "k",
      Seq("name")).count() === 0L)
  }

  test("LK: mergeUpsert fails loudly on duplicate update keys (MERGE semantics)") {
    import spark.implicits._
    val t = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "name", "bal")
    // two updates on key 2: a real MERGE raises; silent fan-out would
    // return 2 rows for the key and violate the row-count contract
    val dup = Seq((2L, "x", 1L), (2L, "y", 2L)).toDF("k", "name", "bal")
    val e = intercept[Exception] {
      operators.Lake.mergeUpsert(t, dup, "k").collect()
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("duplicate update key")), e.toString)
    // null-key rows are exempt: each is its own insert, never a "duplicate"
    val nulls = Seq((null.asInstanceOf[java.lang.Long], "p", 1L),
      (null.asInstanceOf[java.lang.Long], "q", 2L))
      .toDF("k", "name", "bal")
    assert(operators.Lake.mergeUpsert(t, nulls, "k").count() === 4)
  }

  test("LK: applyChanges — matched deletes remove, ghost deletes no-op, mixed ops on one key raise") {
    import spark.implicits._
    val t = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "name", "bal")
    val ch = Seq(
      (2L, "b2", 25L, "upsert"),  // matched update
      (4L, "d", 40L, "upsert"),   // insert
      (1L, "a", 10L, "delete"),   // matched delete
      (9L, "x", 0L, "delete"))    // ghost delete → no-op
      .toDF("k", "name", "bal", "op")
    val got = operators.Lake.applyChanges(t, ch, "k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set((2L, "b2", 25L), (3L, "c", 30L), (4L, "d", 40L)),
      got.toString)
    // a delete AND an upsert for one key = SQL MERGE multi-match → raise
    val conflict = Seq((2L, "b2", 25L, "upsert"), (2L, "b", 20L, "delete"))
      .toDF("k", "name", "bal", "op")
    val e = intercept[Exception] {
      operators.Lake.applyChanges(t, conflict, "k").collect()
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("duplicate change key")), e.toString)
  }

  test("LK: mergeConditional — clause order wins, conditional insert, by-source update/delete, null-key insert, dup raise") {
    import spark.implicits._
    import operators.Lake
    import operators.Lake.{MergeUpdate, MergeDelete, MergeInsert, tcol, scol}
    // target keys: 1..6; source: 1 (matched, low), 2 (matched, high),
    // 10 (new, even), 11 (new, odd), null (never equi-joins → insert)
    val t = Seq((1L, 5L, "t"), (2L, 50L, "t"), (3L, 0L, "t"),
      (4L, 0L, "t"), (5L, 0L, "t"), (6L, 0L, "t")).toDF("k", "bal", "seg")
    val srcRows = Seq((Some(1L), 7L), (Some(2L), 70L), (Some(10L), 1L),
      (Some(11L), 1L), (None, 99L))
    val s = srcRows.toDF("k", "bal")
    val got = Lake.mergeConditional(t, s, "k",
      whenMatched = Seq(
        MergeDelete(Some(scol("bal") < 10L)),          // fires for k=1
        MergeUpdate(Map("bal" -> scol("bal"), "seg" -> lit("upd")))),
      whenNotMatched = Seq(
        MergeInsert(Map("k" -> scol("k"), "bal" -> scol("bal"),
          "seg" -> lit("ins")))),                      // uncond → null key inserts
      whenNotMatchedBySource = Seq(
        // k=3 hits BOTH by-source clauses → the update wins by order
        MergeUpdate(Map("seg" -> lit("stale")), Some(tcol("k") % 3 === 0)),
        MergeDelete(Some(tcol("k") % 4 === 0))))
      .collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        r.getLong(1), r.getString(2))).toSet
    assert(got === Set(
      (Some(2L), 70L, "upd"),    // matched, second clause
      (Some(3L), 0L, "stale"),   // by-source: update beats delete by order
      (Some(5L), 0L, "t"),       // by-source: no clause → kept
      (Some(6L), 0L, "stale"),   // %3 by-source update
      (Some(10L), 1L, "ins"), (Some(11L), 1L, "ins"),
      (None, 99L, "ins")         // null key = source-only insert
      // k=1 deleted (matched clause 1), k=4 deleted (by-source clause 2)
    ), got.toString)
    // conditional insert: unmatched rows failing every insert cond vanish
    val gated = Lake.mergeConditional(t, s, "k",
      whenNotMatched = Seq(MergeInsert(
        Map("k" -> scol("k"), "bal" -> scol("bal"), "seg" -> lit("i")),
        Some(scol("k") % 2 === 0))))
    assert(gated.filter(col("seg") === "i").collect()
      .map(_.getLong(0)).toSet === Set(10L)) // 11 odd, null%2=null → dropped
    // unnamed insert column → typed null
    val sparse = Lake.mergeConditional(t, s.filter(col("k") === 10L), "k",
      whenNotMatched = Seq(MergeInsert(Map("k" -> scol("k")))))
    val ins10 = sparse.filter(col("k") === 10L).collect().head
    assert(ins10.isNullAt(1) && ins10.isNullAt(2))
    // duplicate source keys raise (SQL MERGE multi-match)
    val dup = Seq((2L, 1L), (2L, 2L)).toDF("k", "bal")
    val e = intercept[Exception] {
      Lake.mergeConditional(t, dup, "k",
        whenMatched = Seq(MergeUpdate(Map("bal" -> scol("bal"))))).collect()
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("duplicate source key")), e.toString)
  }

  test("LK: maintainAgg — adds, removes, group migrations, and zero-count groups drop") {
    import spark.implicits._
    // view over (grp, v): A = {10, 20}, B = {5}
    val agg0 = Seq(("A", 2L, 30L), ("B", 1L, 5L)).toDF("grp", "cnt", "sum_v")
    // cdc: remove A/10; change B/5 → A/7 (group migration); add C/100
    val cdc = Seq(
      ("removed", "A", null.asInstanceOf[String], java.lang.Long.valueOf(10L), null.asInstanceOf[java.lang.Long]),
      ("changed", "B", "A", java.lang.Long.valueOf(5L), java.lang.Long.valueOf(7L)),
      ("added", null.asInstanceOf[String], "C", null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(100L))
    ).toDF("change_type", "o_grp", "n_grp", "o_v", "n_v")
    val got = operators.Lake.maintainAgg(agg0, cdc, "o_grp", "n_grp",
      "o_v", "n_v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // A: (2-1-0+1, 30-10-0+7) = (2, 27); B: (1-1, 5-5) = 0 → drops;
    // C: (1, 100)
    assert(got === Set(("A", 2L, 27L), ("C", 1L, 100L)), got.toString)
  }

  test("VO: sq8_asym_sim validates ALL children types and rejects null elements") {
    import functions.VectorOps.sq8AsymSim
    import spark.implicits._
    val q = Seq(1.0f, 0.0f); val codes = Seq(255, 0)
    val mns = Seq(0.0, 0.0); val spans = Seq(1.0, 1.0)
    def run(df: org.apache.spark.sql.DataFrame): Double =
      df.select(sq8AsymSim(col("q"), col("c"), col("m"), col("s")).as("v"))
        .collect()(0).getDouble(0)
    // float stats arrays + bigint codes must CONVERT (not stride-copy garbage)
    val widened = Seq((q, codes.map(_.toLong), mns.map(_.toFloat), spans.map(_.toFloat)))
      .toDF("q", "c", "m", "s")
    val exact = Seq((q, codes, mns, spans)).toDF("q", "c", "m", "s")
    assert(math.abs(run(widened) - run(exact)) < 1e-12)
    // decoded corpus vector = (1, 0) → cosine vs q = 1
    assert(math.abs(run(exact) - 1.0) < 1e-12)
    // a float codes column must fail loudly, not rank plausibly
    val badCodes = Seq((q, codes.map(_.toDouble), mns, spans))
      .toDF("q", "c", "m", "s")
    val e1 = intercept[Exception](run(badCodes))
    assert(e1.toString.contains("integral") ||
      Option(e1.getCause).exists(_.getMessage.contains("integral")), e1.toString)
    // null elements in any vector array must fail loudly
    val nullElem = Seq((Seq[java.lang.Float](1.0f, null), codes, mns, spans))
      .toDF("q", "c", "m", "s")
    val e2 = intercept[Exception](run(nullElem))
    assert(e2.toString.contains("dense") ||
      Option(e2.getCause).exists(_.getMessage.contains("dense")), e2.toString)
  }

  test("A14: runningSumRanged is deterministic and row-identical to the single-partition window at forced-bucketing scale") {
    // 60k rows with heavy value ties at 4 shuffle partitions: the boundary
    // sample rate p = 60000/(128*4) ≈ 117 > 1, so the deterministic
    // hash-sample path genuinely samples (the regime where the old
    // repartitionByRange spelling could draw different reservoir bounds
    // per job and silently corrupt the prefix sums).
    import org.apache.spark.sql.expressions.Window
    val n = 60000L
    val df = spark.range(1, n + 1).toDF("id")
      .withColumn("v", (col("id") * 2654435761L) % 1000L)
    def run() = operators.Aggregations
      .runningSumRanged(df, "v", "id", "cum", "tot")
    val got = run()
    // the two-phase plan must not contain any unpartitioned (single-task)
    // window — that is the scale-killer the rewrite removes
    val wins = got.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"expected only bucket-partitioned windows:\n${got.queryExecution.sparkPlan}")
    val grand = df.agg(sum("v")).collect()(0).getLong(0)
    val w = Window.orderBy(col("v").desc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cum", sum("v").over(w))
      .withColumn("tot", lit(grand))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    def snap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val g1 = snap(got)
    assert(g1.size === n.toInt)
    assert(g1 === want, "two-phase prefix sum diverged from the single-partition window")
    // determinism: a fresh invocation (fresh sample, fresh totals job)
    // reproduces the result bit-for-bit
    assert(snap(run()) === g1, "second invocation diverged")
    // NULL values: pinned to the last bucket (desc = nulls last), running
    // sum carries the accumulated non-null mass — row-identical to the
    // single-partition window's trailing-null semantics
    val withNulls = df.withColumn("v",
      when(col("id") % 97 === 0, lit(null).cast("long")).otherwise(col("v")))
    val gotN = snap(operators.Aggregations
      .runningSumRanged(withNulls, "v", "id", "cum", "tot"))
    val grandN = withNulls.agg(sum("v")).collect()(0).getLong(0)
    val wantN = withNulls
      .withColumn("cum", coalesce(sum("v").over(w), lit(0L)))
      .withColumn("tot", lit(grandN))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(gotN === wantN, "null-value rows diverged from the window reference")
  }

  test("LK: shallow clone — zero-copy fork, chain resolution, divergence isolation, detach") {
    import spark.implicits._
    import operators.Versioned
    val base = java.nio.file.Files.createTempDirectory("graft-clone").toString
    val src = s"$base/src"; val dst = s"$base/dst"
    val dst2 = s"$base/dst2"; val dst3 = s"$base/dst3"
    new java.io.File(src).mkdirs()
    val df = spark.range(0, 100).toDF("id").withColumn("v", col("id") * 2)
    Versioned.commit(df, src) // v0
    // source tip is a live DV chain: the pointer must record the RESOLVED
    // snapshot, not a raw version dir
    Versioned.deleteWhereDv(spark, src, col("id") >= 90, "id") // v1
    assert(Versioned.cloneShallow(spark, src, dst) === 0)
    assert(Versioned.isCloneVersion(dst, 0))
    assert(Versioned.readAtDv(spark, dst, 0).count() === 90)
    // zero-copy: the clone version dir holds ONLY the pointer file
    val v0files = new java.io.File(s"$dst/v0").listFiles().map(_.getName)
    assert(v0files.toSet === Set("_clone"), s"expected metadata only: ${v0files.toSeq}")
    // divergence: a DV delete on the clone never reaches the source
    Versioned.deleteWhereDv(spark, dst, col("id") < 10, "id")
    assert(Versioned.readAtDv(spark, dst, 1).count() === 80)
    assert(Versioned.readAtDv(spark, src, 1).count() === 90)
    // snapshot-deriving mutation over a clone-pointer tip: upsert resolves
    // the pointer (chain-aware tip read) and commits a materialized v1
    Versioned.cloneShallow(spark, src, dst2)
    Versioned.upsert(spark, dst2, Seq((0L, 999L)).toDF("id", "v"), "id")
    val up = Versioned.readAt(spark, dst2, 1)
    assert(up.count() === 90)
    assert(up.filter(col("id") === 0).select("v").head().getLong(0) === 999L)
    // clone of a clone: the pointer resolves recursively
    Versioned.cloneShallow(spark, dst, dst3)
    assert(Versioned.readAtDv(spark, dst3, 0).count() === 80)
    // self-clone is rejected
    intercept[IllegalArgumentException] {
      Versioned.cloneShallow(spark, src, src)
    }
    // compactDv DETACHES: the new tip is a materialized local snapshot
    val mv = Versioned.compactDv(spark, dst)
    assert(!Versioned.isCloneVersion(dst, mv))
    assert(Versioned.readAt(spark, dst, mv).count() === 80)
  }

  test("LK: bloom point-lookup sidecar — no false negatives, real pruning, exact residual") {
    import operators.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    // 2000 keys spread over 20 partitions by an uncorrelated hash — every
    // partition's key RANGE spans ~the whole space, so zone maps cannot
    // prune a point lookup; the bloom sidecar must
    val df = spark.range(0, 2000).toDF("k")
      .withColumn("p", pmod(xxhash64(col("k")), lit(20)))
    val v = Versioned.commitPartitionedBloom(spark, df, dir, "p", "k",
      expectedPerPart = 1000L, fpp = 0.01)
    // no false negatives: each probed key's true partition is admitted,
    // and the read returns exactly the full-filter rows
    val keys = Seq(3L, 700L, 1999L)
    val admitted = Versioned.prunedPartitionsBloom(dir, v, keys)
    val truth = df.filter(col("k").isin(keys: _*))
      .select(col("p").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(truth.subsetOf(admitted.keySet), "bloom pruned a true partition")
    // pruning is real: at fpp 1% over 20 partitions, the admitted set is
    // far below the manifest (deterministic — Spark's bloom is seed-fixed)
    assert(admitted.size < 10, s"no pruning: admitted ${admitted.size} of 20")
    val got = Versioned.readPartitionedPoint(spark, dir, v, "k", keys)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(got === keys.toSet)
    // a key absent from the table returns no rows even when a false
    // positive admits a partition (the residual filter keeps it exact)
    assert(Versioned.readPartitionedPoint(spark, dir, v, "k", Seq(999999L))
      .count() === 0)
  }

  test("LK: stats-served aggregates — zero-scan count/min/max/nulls, upsert refresh, all-null column, loud gaps") {
    import spark.implicits._
    import operators.Versioned
    val base = java.nio.file.Files.createTempDirectory("graft-sagg").toString
    val dir = s"$base/t"; new java.io.File(dir).mkdirs()
    // two partitions; v has nulls in both; w is ENTIRELY null
    val df = Seq(
      (1L, Some(10L), "a"), (2L, None, "a"), (3L, Some(30L), "a"),
      (4L, Some(-5L), "b"), (5L, None, "b"))
      .toDF("id", "v", "p")
      .withColumn("w", lit(null).cast("long"))
    Versioned.commitPartitionedStatsMulti(spark, df, dir, "p",
      Seq("v", "w"))                                             // v0
    val a0 = Versioned.aggFromStats(spark, dir, 0, Seq("v", "w"))
    assert(a0.columns.toSeq === Seq("row_cnt", "min_v", "max_v", "nulls_v",
      "min_w", "max_w", "nulls_w"))
    val r0 = a0.collect().head
    assert(r0.getLong(0) === 5L && r0.getLong(1) === -5L &&
      r0.getLong(2) === 30L && r0.getLong(3) === 2L)
    // all-null column: SQL aggregate semantics — null min/max, full nulls
    assert(r0.isNullAt(4) && r0.isNullAt(5) && r0.getLong(6) === 5L)
    // CoW upsert touching only partition b: stats refresh per-owner and
    // the manifest fold must equal a full scan of the merged table
    val upd = Seq((4L, Some(100L), "b"), (6L, None, "b")).toDF("id", "v", "p")
      .withColumn("w", lit(null).cast("long"))
    Versioned.upsertPartitionedStatsMulti(spark, dir, upd, "id", "p",
      Seq("v", "w"))                                             // v1
    val r1 = Versioned.aggFromStats(spark, dir, 1, Seq("v", "w"))
      .collect().head
    val scan = Versioned.readPartitionedAt(spark, dir, 1)
      .agg(count(lit(1)), min("v"), max("v"),
        sum(when(col("v").isNull, 1L).otherwise(0L))).collect().head
    assert(r1.getLong(0) === scan.getLong(0) &&
      r1.getLong(1) === scan.getLong(1) &&
      r1.getLong(2) === scan.getLong(2) &&
      r1.getLong(3) === scan.getLong(3))
    assert(r1.getLong(0) === 6L && r1.getLong(2) === 100L)
    // a table committed WITHOUT stats fails loudly, never guesses
    val dir2 = s"$base/nostats"; new java.io.File(dir2).mkdirs()
    Versioned.commitPartitioned(df, dir2, "p")
    val e = intercept[RuntimeException] {
      Versioned.aggFromStats(spark, dir2, 0, Seq("v"))
    }
    assert(e.getMessage.contains("no row count"), e.getMessage)
    // and a non-partitioned version is refused up front
    val dir3 = s"$base/flat"; new java.io.File(dir3).mkdirs()
    Versioned.commit(df, dir3)
    intercept[IllegalArgumentException] {
      Versioned.aggFromStats(spark, dir3, 0, Seq("v"))
    }
  }

  test("LK: column rename — zero-copy, time travel keeps old name, chain composes, guards") {
    import spark.implicits._
    import operators.Versioned
    val base = java.nio.file.Files.createTempDirectory("graft-ren").toString
    val dir = s"$base/t"; new java.io.File(dir).mkdirs()
    val df = spark.range(0, 100).toDF("id").withColumn("v", col("id") * 2)
    Versioned.commit(df, dir)                                  // v0
    Versioned.deleteWhereDv(spark, dir, col("id") >= 90, "id") // v1
    val rv = Versioned.renameColumn(spark, dir, "v", "val")    // v2
    assert(rv === 2 && Versioned.isRenameVersion(dir, 2))
    // zero-copy: the rename version dir holds ONLY the annotation
    assert(new java.io.File(s"$dir/v2").listFiles().map(_.getName).toSet
      === Set("_rename"))
    // latest serves the renamed schema with the pre-rename DV applied
    val cur = Versioned.readAtDv(spark, dir, 2)
    assert(cur.columns.toSeq === Seq("id", "val"))
    assert(cur.count() === 90)
    // time travel below the rename keeps the creation-time name
    assert(Versioned.readAtDv(spark, dir, 1).columns.toSeq === Seq("id", "v"))
    // appends after the rename carry the new name; DVs compose across it
    Versioned.appendRows(Seq((200L, 400L)).toDF("id", "val"), dir) // v3
    Versioned.deleteWhereDv(spark, dir, col("id") === 0, "id")     // v4
    val r4 = Versioned.readAtDv(spark, dir, 4)
    assert(r4.columns.toSeq === Seq("id", "val"))
    assert(r4.count() === 90) // 90 − 1 deleted + 1 appended
    assert(r4.filter(col("id") === 200).select("val").head().getLong(0) === 400L)
    // validation: unknown source and occupied destination raise
    intercept[IllegalArgumentException] {
      Versioned.renameColumn(spark, dir, "nope", "x")
    }
    intercept[IllegalArgumentException] {
      Versioned.renameColumn(spark, dir, "val", "id")
    }
    // a snapshot-deriving mutation over a rename TIP chain-resolves
    val dir2 = s"$base/t2"; new java.io.File(dir2).mkdirs()
    Versioned.commit(df, dir2)
    Versioned.renameColumn(spark, dir2, "v", "val")
    Versioned.upsert(spark, dir2, Seq((0L, 999L)).toDF("id", "val"), "id")
    val up = Versioned.readAt(spark, dir2, 2)
    assert(up.columns.toSet === Set("id", "val"))
    assert(up.filter(col("id") === 0).select("val").head().getLong(0) === 999L)
    // vacuum clamps to the live base below the rename chain
    Versioned.vacuum(dir, 1)
    assert(Versioned.readAtDv(spark, dir, 4).count() === 90)
  }

  test("LK: column drop — zero-copy, time travel keeps it, re-add never " +
      "resurrects old values, guards") {
    import spark.implicits._
    import operators.Versioned
    val base = java.nio.file.Files.createTempDirectory("graft-drp").toString
    val dir = s"$base/t"; new java.io.File(dir).mkdirs()
    val df = spark.range(0, 100).toDF("id")
      .withColumn("v", col("id") * 2)
      .withColumn("tag", concat(lit("t"), col("id")))
    Versioned.commit(df, dir)                                  // v0
    Versioned.deleteWhereDv(spark, dir, col("id") >= 90, "id") // v1
    val dv = Versioned.dropColumn(spark, dir, "tag")           // v2
    assert(dv === 2 && Versioned.isDropVersion(dir, 2))
    // zero-copy: the drop version dir holds ONLY the annotation
    assert(new java.io.File(s"$dir/v2").listFiles().map(_.getName).toSet
      === Set("_drop"))
    // latest serves the narrowed schema with the pre-drop DV applied
    val cur = Versioned.readAtDv(spark, dir, 2)
    assert(cur.columns.toSeq === Seq("id", "v"))
    assert(cur.count() === 90)
    // time travel below the drop keeps the creation-time schema
    assert(Versioned.readAtDv(spark, dir, 1).columns.toSeq ===
      Seq("id", "v", "tag"))
    // appends after the drop carry the narrowed schema; DVs compose
    Versioned.appendRows(Seq((200L, 400L)).toDF("id", "v"), dir) // v3
    Versioned.deleteWhereDv(spark, dir, col("id") === 0, "id")   // v4
    val r4 = Versioned.readAtDv(spark, dir, 4)
    assert(r4.columns.toSeq === Seq("id", "v") && r4.count() === 90)
    // re-ADDING the name post-drop is a fresh column: the projection
    // happened strictly below, so old values must NOT resurrect
    Versioned.appendRows(
      Seq((300L, 600L, "fresh")).toDF("id", "v", "tag"), dir)    // v5
    val r5 = Versioned.readAtDv(spark, dir, 5)
    assert(r5.columns.toSeq === Seq("id", "v", "tag"))
    assert(r5.filter(col("tag").isNotNull).count() === 1,
      "pre-drop tag values must stay dropped after a same-name re-add")
    // history reports the annotation kind
    assert(Versioned.history(spark, dir)
      .filter(col("version") === 2).head().getString(1) === "drop")
    // guards: unknown column; the last data column
    intercept[IllegalArgumentException] {
      Versioned.dropColumn(spark, dir, "nope")
    }
    val dir2 = s"$base/t2"; new java.io.File(dir2).mkdirs()
    Versioned.commit(spark.range(3).toDF("only"), dir2)
    intercept[IllegalArgumentException] {
      Versioned.dropColumn(spark, dir2, "only")
    }
    // vacuum clamps to the live base below the drop chain
    Versioned.vacuum(dir, 1)
    assert(Versioned.readAtDv(spark, dir, 5).count() === 91)
  }

  test("LK: hidden partitioning — transform pruning is real, residual exact, bucket points, guards") {
    import spark.implicits._
    import operators.Versioned
    // month transform over a year of daily rows: a 40-day range must plan
    // a 3-partition scan (of 13) and still return exactly the filter rows
    val dirM = java.nio.file.Files.createTempDirectory("graft-hpm").toString
    val days = spark.range(0, 366).toDF("i")
      .select(col("i"),
        expr("timestamp '2003-01-01 00:00:00' + make_interval(0,0,0,CAST(i AS INT),0,0,0)").as("ts"))
    Versioned.commitPartitionedHidden(days, dirM, "month", "ts")
    assert(Versioned.manifest(dirM, 0).size === 13) // 2003-01..2004-01
    val got = Versioned.readPartitionedHiddenRange(spark, dirM, 0,
      "2003-03-15", "2003-04-23")
    assert(!got.columns.contains("gpart"), "derived key must not leak")
    assert(got.count() === 40)
    // pruning is structural: only the 2 admitted month dirs are scanned
    val scanned = got.queryExecution.sparkPlan.toString
    assert(scanned.contains("gpart"), "partition key filter missing from scan")
    val kept = Versioned.manifest(dirM, 0).keySet
      .filter(p => p >= "2003-03" && p <= "2003-04")
    assert(kept.size === 2)
    // residual correctness at the edges: first/last returned days exact
    val dates = got.select(col("ts").cast("date").cast("string"))
      .collect().map(_.getString(0)).sorted
    assert(dates.head === "2003-03-15" && dates.last === "2003-04-23")
    // bucket transform: a 2-key point lookup over 16 hash buckets scans
    // at most 2 partitions and survives bucket collisions exactly
    val dirB = java.nio.file.Files.createTempDirectory("graft-hpb").toString
    val rows = spark.range(0, 400).toDF("k").withColumn("v", col("k") * 3)
    Versioned.commitPartitionedHidden(rows, dirB, "bucket:16", "k")
    val pt = Versioned.readPartitionedHiddenIn(spark, dirB, 0, Seq("7", "399"))
    assert(pt.select("k").collect().map(_.getLong(0)).toSet === Set(7L, 399L))
    // range read over a bucket transform is refused loudly
    val e = intercept[IllegalArgumentException] {
      Versioned.readPartitionedHiddenRange(spark, dirB, 0, "0", "10")
    }
    assert(e.getMessage.contains("monotone"))
    // trunc transform: integer range pruning + residual
    val dirT = java.nio.file.Files.createTempDirectory("graft-hpt").toString
    Versioned.commitPartitionedHidden(rows, dirT, "trunc:100", "k")
    assert(Versioned.manifest(dirT, 0).size === 4)
    val tr = Versioned.readPartitionedHiddenRange(spark, dirT, 0, "150", "249")
    assert(tr.count() === 100)
    assert(tr.agg(min("k"), max("k")).head() ===
      org.apache.spark.sql.Row(150L, 249L))
  }

  test("A15: count-min sketch honors its one-sided bound; planted hitter surfaces") {
    // 20k draws over 200 keys with one planted heavy key (every 5th row):
    // the CMS (eps = 1e-3, conf 0.99, fixed seed) must never undercount
    // any key and never overcount by more than eps·N — the exact contract
    // q_heavy_hitters certifies per hitter on the real table.
    val n = 20000L
    val df = spark.range(0, n).toDF("id")
      .withColumn("k",
        when(col("id") % 5 === 0, lit(7L))
          .otherwise((col("id") * 2654435761L) % 200L))
    val cms = df.stat.countMinSketch("k", 0.001, 0.99, 42)
    val exact = df.groupBy("k").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, c) =>
      val e = cms.estimateCount(k)
      assert(e >= c, s"CMS undercounted key $k: $e < $c")
      assert(e <= c + (0.001 * n).toLong, s"CMS overshot eps*N on key $k")
    }
    // the planted key dominates: it is a heavy hitter under the 1.4x-mean
    // integer threshold the declared row uses
    val keys = exact.size.toLong
    assert(exact(7L) * keys * 5 >= n * 7, "planted key not above threshold")
    // determinism: same seed, fresh build, identical estimates
    val cms2 = df.stat.countMinSketch("k", 0.001, 0.99, 42)
    assert(exact.keys.forall(k => cms.estimateCount(k) === cms2.estimateCount(k)))
  }

  test("SA: dsirSelect — target-like docs outrank disjoint ones, targets never surface, deterministic") {
    import spark.implicits._
    import pipeline.Sampling
    // target speaks "alpha beta gamma"; raw docs: a verbatim target copy,
    // a half-overlap doc, and two docs over disjoint vocabulary
    val docs = Seq(
      (0L, "alpha beta gamma alpha beta", "tgt"),
      (1L, "alpha beta gamma alpha beta gamma", "tgt"),
      (2L, "alpha beta gamma alpha beta", "raw"), // verbatim target copy
      (3L, "alpha beta noise junk", "raw"),       // half overlap
      (4L, "noise junk filler noise junk", "raw"),
      (5L, "filler junk noise filler", "raw"),
      (6L, "x", "raw")                            // 1 token: no features
    ).toDF("doc_id", "text", "source")
    val got = Sampling.dsirSelect(docs, col("source") === "tgt", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
    val byRank = got.sortBy(_._3).map(_._1)
    // the verbatim target copy is the most target-like raw doc; the
    // target docs themselves and the featureless 1-token doc never appear
    assert(byRank.head === 2L, s"verbatim target copy should rank 1: ${byRank.toSeq}")
    assert(byRank.toSet === Set(2L, 3L, 4L, 5L))
    // monotone in target-gram mass: the verbatim copy beats the
    // half-overlap doc, which beats the doc sharing zero target grams
    // whose own grams are the most raw-typical (noise junk ×2)
    val score = got.map(t => t._1 -> t._2).toMap
    assert(score(2L) > score(3L) && score(3L) > score(4L))
    // deterministic: a rerun is byte-identical
    val again = Sampling.dsirSelect(docs, col("source") === "tgt", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
    assert(got.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("LK: multi-column zone maps — conjunctive pruning, null-column prune, no-stats conservatism") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vtzm3").toString
    // bucket = k/10; second stats column v correlates with k except bucket
    // 7 where it is entirely NULL (the null-count prune case)
    val t = (0L until 100L).map { k =>
      val v: java.lang.Long = if (k / 10 == 7) null else java.lang.Long.valueOf(k * 2)
      (k, v, k / 10)
    }.toDF("k", "v", "bkt")
    assert(operators.Versioned.commitPartitionedStatsMulti(spark, t, dir,
      "bkt", Seq("k", "v")) === 0)
    val zm = operators.Versioned.zoneMapMulti(dir, 0)
    assert(zm("3")("k") === ((Some((30L, 39L)), 0L)))
    assert(zm("7")("v") === ((None, 10L))) // all-null column: no min/max
    // conjunctive pruning: k ∈ [35,44] admits buckets 3,4; v ∈ [70,85]
    // admits only bucket 3 (v = 2k → [70,85] ⇒ k ∈ [35,42])
    val kept = operators.Versioned.prunedPartitionsMulti(dir, 0,
      Seq(("k", 35L, 44L), ("v", 70L, 85L)))
    assert(kept.keySet === Set("3", "4"), kept.toString)
    // on v alone, bucket 7 (all-null v) is PRUNED even though k admits it
    val keptNull = operators.Versioned.prunedPartitionsMulti(dir, 0,
      Seq(("v", 140L, 159L)))
    assert(!keptNull.keySet.contains("7"), keptNull.toString)
    // the pruned read equals the logical filter exactly
    val got = operators.Versioned.readPartitionedPrunedMulti(spark, dir, 0,
      Seq(("k", 35L, 44L), ("v", 70L, 85L)))
      .collect().map(_.getAs[Long]("k")).toSet
    assert(got === (35L to 42L).toSet)
    // untracked predicate columns keep every partition (conservatism)
    val keptU = operators.Versioned.prunedPartitionsMulti(dir, 0,
      Seq(("nope", 0L, 1L)))
    assert(keptU.size === 10)
    // all pruned → empty frame with the table schema
    val empty = operators.Versioned.readPartitionedPrunedMulti(spark, dir, 0,
      Seq(("k", 5000L, 6000L)))
    assert(empty.count() === 0 && empty.columns.toSet === Set("k", "v", "bkt"))
  }

  test("LK: scdType2 — close+open on change, idempotent re-delivery, insert, history passthrough") {
    import spark.implicits._
    val dim = Seq(
      (1L, "a", 10L, 0L, Option(5L), false), // k=1 history epoch
      (1L, "a2", 15L, 5L, Option.empty[Long], true), // k=1 current
      (2L, "b", 20L, 0L, Option.empty[Long], true), // k=2 current, no update
      (4L, "d", 40L, 0L, Option(3L), false) // k=4 closed with NO successor
    ).toDF("k", "name", "bal", "valid_from", "valid_to", "is_current")
    val upd = Seq(
      (1L, "a2", 99L), // changed balance → close epoch + open new
      (2L, "b", 20L), // identical re-delivery → must create NO churn
      (3L, "c", 30L), // brand-new key → insert current
      (4L, "d", 44L) // key with history only → insert current
    ).toDF("k", "name", "bal")
    val got = operators.Lake.scdType2(dim, upd, "k", Seq("name", "bal"), 9L)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4), r.getBoolean(5)))
      .toSet
    assert(got === Set(
      (1L, "a", 10L, 0L, 5L, false), // history untouched
      (1L, "a2", 15L, 5L, 9L, false), // closed at ts
      (1L, "a2", 99L, 9L, -1L, true), // opened at ts
      (2L, "b", 20L, 0L, -1L, true), // no churn on re-delivery
      (3L, "c", 30L, 9L, -1L, true), // new key
      (4L, "d", 40L, 0L, 3L, false), // old closed epoch untouched
      (4L, "d", 44L, 9L, -1L, true))) // re-opened after closure
    // duplicate update keys raise (SQL MERGE multi-match)
    val dup = Seq((2L, "x", 1L), (2L, "y", 2L)).toDF("k", "name", "bal")
    val e = intercept[Exception] {
      operators.Lake.scdType2(dim, dup, "k", Seq("name", "bal"), 9L).collect()
    }
    assert(e.getMessage.contains("duplicate update key"))
    // a null-key update never equi-joins: it inserts as its own row
    val nulls = Seq((Option.empty[Long], "n", 7L)).toDF("k", "name", "bal")
    val withNull = operators.Lake.scdType2(
      dim, nulls, "k", Seq("name", "bal"), 9L)
    assert(withNull.filter(col("k").isNull && col("is_current")).count() === 1)
    assert(withNull.count() === dim.count() + 1)
  }

  test("LK: timestamp time travel — versionAtTime boundary resolution, " +
      "timestampAsOf reader option, legacy empty marks") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vts").toString
    val V = operators.Versioned
    V.commit(Seq((1L, "a")).toDF("k", "s"), dir) // v0
    V.appendRows(Seq((2L, "b")).toDF("k", "s"), dir) // v1
    // real wall-clock times were recorded; plant deterministic ones
    def plant(v: Int, t: String): Unit = {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, s"v$v._commit"), t); ()
    }
    plant(0, "1000"); plant(1, "2000")
    assert(V.commitTimeOf(dir, 0) === Some(1000L))
    intercept[Exception] { V.versionAtTime(dir, 999L) } // predates history
    assert(V.versionAtTime(dir, 1000L) === 0)
    assert(V.versionAtTime(dir, 1500L) === 0)
    assert(V.versionAtTime(dir, 2000L) === 1)
    assert(V.versionAtTime(dir, 99999L) === 1)
    assert(V.readAtTimestamp(spark, dir, 1500L).collect()
      .map(_.getLong(0)).toSet === Set(1L))
    assert(V.readAtTimestamp(spark, dir, 2500L).collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L))
    // the SQL-visible option, all three accepted spellings
    assert(spark.read.format("graft.versioned")
      .option("timestampAsOf", "1500").load(dir)
      .collect().map(_.getLong(0)).toSet === Set(1L))
    assert(spark.read.format("graft.versioned")
      .option("timestampAsOf",
        java.time.Instant.ofEpochMilli(2500L).toString).load(dir)
      .count() === 2)
    val both = intercept[Exception] {
      spark.read.format("graft.versioned")
        .option("timestampAsOf", "1500").option("versionAsOf", "1")
        .load(dir).collect()
    }
    assert(both.getMessage.contains("not both"))
    // a legacy EMPTY commit mark sorts older than any timestamp
    plant(0, "")
    assert(V.versionAtTime(dir, 999L) === 0)
  }

  test("PR: profile — typed extrema, all-null column, one-shuffle distincts; approx agrees") {
    import spark.implicits._
    val df = Seq((9L, Option("b"), Option.empty[Long]),
      (10L, Option("a"), Option.empty[Long]),
      (2L, Option.empty[String], Option.empty[Long]))
      .toDF("n", "s", "z")
    val p = operators.Profile.profile(df, Seq("n", "s", "z")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.getString(4)), Option(r.getString(5))))).toMap
    // extrema computed on the ORIGINAL type: numeric min is 2, not "10"
    assert(p("n") === ((3L, 0L, 3L, Some("2"), Some("10"))))
    assert(p("s") === ((3L, 1L, 2L, Some("a"), Some("b"))))
    // all-null column: 0 distinct, null extrema — never dropped
    assert(p("z") === ((3L, 3L, 0L, None, None)))
    val a = operators.Profile.profileApprox(df, Seq("n", "s", "z"), 0.01)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(a("n") === 3L && a("s") === 2L && a("z") === 0L)
  }

  test("LK: escaped + NULL partition values round-trip every read path (no silent loss)") {
    import spark.implicits._
    // values Spark ESCAPES in hive dir names (':' -> %3A) and a NULL —
    // the manifest must record TRUE values / the null sentinel, and
    // reads must bind the sentinel as IS NULL (an isin literal never
    // matches it). Before the fix every such row silently vanished.
    val dir = java.nio.file.Files.createTempDirectory("graft-vesc").toString
    val t = Seq((1L, "a:b"), (2L, "P1"), (3L, null.asInstanceOf[String]))
      .toDF("k", "seg")
    assert(operators.Versioned.commitPartitioned(t, dir, "seg") === 0)
    assert(operators.Versioned.manifest(dir, 0) ===
      Map("a:b" -> 0, "P1" -> 0, "__HIVE_DEFAULT_PARTITION__" -> 0))
    def snap(v: Int): Set[(Long, Option[String])] =
      operators.Versioned.readPartitionedAt(spark, dir, v).collect()
        .map(r => (r.getAs[Long]("k"),
          Option(r.getAs[String]("seg")))).toSet
    assert(snap(0) === Set((1L, Some("a:b")), (2L, Some("P1")),
      (3L, None)))
    // upsert INTO the escaped and the null partitions: the affected-value
    // compare and the old-partition read must hit them (a miss would
    // bury k=1/k=3 under a manifest pointer to a dir not holding them)
    val u = Seq((1L, "a:b"), (4L, "a:b"), (3L, null.asInstanceOf[String]))
      .toDF("k", "seg")
    assert(operators.Versioned.upsertPartitioned(spark, dir, u, "k", "seg")
      === 1)
    assert(snap(1) === Set((1L, Some("a:b")), (4L, Some("a:b")),
      (2L, Some("P1")), (3L, None)))
    // the size estimate walks the ON-DISK (escaped) dir names — a
    // decoded-key path miss would report ~0 bytes and under-size the
    // relation (the broadcast-OOM direction)
    def pqBytes(p: String): Long = {
      val d = new java.io.File(p)
      assert(d.isDirectory, s"expected partition dir $p")
      d.listFiles.filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.length).sum
    }
    val floor = pqBytes(s"$dir/v1/data/seg=a%3Ab") +
      pqBytes(s"$dir/v1/data/seg=__HIVE_DEFAULT_PARTITION__") +
      pqBytes(s"$dir/v0/data/seg=P1")
    assert(operators.Versioned.approxDataBytes(dir, 1) >= floor,
      "escaped/NULL partitions must contribute to sizing")
  }

  test("LK: hidden partitioning keeps NULL-source rows; range prune skips them; identity specials prune by point") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vhn").toString
    val rows = Seq((1L, "2024-01-05 00:00:00"), (2L, "2024-02-10 00:00:00"),
      (3L, null.asInstanceOf[String]))
      .toDF("k", "s").withColumn("ts", col("s").cast("timestamp")).drop("s")
    operators.Versioned.commitPartitionedHidden(rows, dir, "month", "ts")
    // the NULL-ts row lands in the default partition and SURVIVES the
    // full read (it used to vanish)
    assert(operators.Versioned.readPartitionedAt(spark, dir, 0)
      .count() === 3)
    // the range read excludes it (BETWEEN is null-rejecting) — and must
    // not crash resolving the sentinel partition key
    val ranged = operators.Versioned.readPartitionedHiddenRange(
      spark, dir, 0, "2024-01-01", "2024-01-31")
    assert(ranged.select("k").as[Long].collect().toSet === Set(1L))
    // identity over a STRING column with an escaped value: point prune
    // admits exactly that partition and returns the row
    val dir2 = java.nio.file.Files.createTempDirectory("graft-vhi").toString
    val t2 = Seq((1L, "a:b"), (2L, "plain")).toDF("k", "seg")
    operators.Versioned.commitPartitionedHidden(t2, dir2, "identity", "seg")
    val hit = operators.Versioned.readPartitionedHiddenIn(
      spark, dir2, 0, Seq("a:b"))
    assert(hit.select("k").as[Long].collect().toSet === Set(1L))
  }

  test("LK: zorder keeps NULL clustering values readable; 2-D prune excludes them exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vzn").toString
    val df = ((0L until 64L).map(i => (i, Option(i % 8), Option(i / 8))) ++
      Seq((100L, Some(3L), Option.empty[Long]),
        (101L, Option.empty[Long], Some(5L))))
      .toDF("id", "a", "b")
    operators.Versioned.commit(df, dir)
    val v = operators.Versioned.zorderLayout(spark, dir, "a", "b", 16)
    // every row survives the rewrite — NULL z-keys land in the default
    // partition, which full reads serve via IS NULL
    assert(operators.Versioned.readPartitionedAt(spark, dir, v)
      .count() === 66)
    // conjunctive 2-D prune: row-identical to the logical filter (which
    // null-rejects the two NULL rows)
    val pruned = operators.Versioned.readPartitionedPrunedMulti(
      spark, dir, v, Seq(("a", 1L, 2L), ("b", 1L, 2L)))
    assert(pruned.select("id").as[Long].collect().toSet ===
      df.filter($"a".between(1, 2) && $"b".between(1, 2))
        .select("id").as[Long].collect().toSet)
  }

  test("SparkEntry contract: every oracle key has a query; entry returns rows") {
    val qs = SparkEntry.queries.keySet
    val orphan = SparkEntry.oracleSql.keySet.diff(qs)
    assert(orphan.isEmpty, s"oracles without queries: $orphan")
    // the declared-query count never drops, and a query only runs without
    // a DuckDB oracle when no SQL twin can express it
    assert(qs.size >= 249, s"expected >= 249 declared queries, got ${qs.size}")
    assert(qs.diff(SparkEntry.oracleSql.keySet) === Set(
      "q_agg_percentile_approx", "q_dedup_chunks", "q_multimodal_features",
      "q_multimodal_frames"))
  }
}
