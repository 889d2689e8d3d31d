package graft

import org.apache.spark.sql.functions._

import graft.api._

/** The `graft.api` façade must be pure syntax: results (and, where it
  * matters, plans) identical to calling the operators directly. */
class ApiSpec extends SparkSpecBase {
  import spark.implicits._

  test("valueCounts matches groupBy count with deterministic tiebreak") {
    val got = Tables(spark, sf, "orders").valueCounts("o_orderpriority")
      .as[(String, Long)].collect().toSeq
    val want = Tables(spark, sf, "orders")
      .groupBy("o_orderpriority").count()
      .orderBy(col("count").desc, col("o_orderpriority"))
      .as[(String, Long)].collect().toSeq
    assert(got == want && got.nonEmpty)
  }

  test("nlargest/nsmallest are top-k limits, not global sorts") {
    val o = Tables(spark, sf, "orders")
    assert(o.nlargest(5, "o_totalprice").count() == 5)
    val top = o.nlargest(1, "o_totalprice").select("o_totalprice").as[Double].head()
    val bot = o.nsmallest(1, "o_totalprice").select("o_totalprice").as[Double].head()
    assert(top > bot)
    val plan = o.nlargest(5, "o_totalprice").queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), "top-k must not global-sort")
  }

  test("mergeAsof dispatches all three directions and rejects others") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val l = Seq((1L, "k", ts(10))).toDF("id", "key", "t")
    val r = Seq(("k", ts(8), 8.0), ("k", ts(11), 11.0)).toDF("key", "t", "v")
    def v(d: String) = l.mergeAsof(r, "t", Seq("key"), Seq("v"), d)
      .select("v").as[Double].head()
    assert(v("backward") == 8.0 && v("forward") == 11.0 && v("nearest") == 11.0)
    intercept[IllegalArgumentException] { v("sideways") }
  }

  test("ngramNearDups via the façade equals the operator result") {
    import graft.operators.Dedup
    val docs = Tables(spark, sf, "documents")
    val got = docs.ngramNearDups("doc_id", "text", "lang", threshold = 0.2)
    val want = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang",
      threshold = 0.2)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("dedupExact via the façade equals the operator result") {
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val got = docs.dedupExact("doc_id", "text")
      .orderBy("keep_id").select("keep_id", "n_dups").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (3L, 1L)))
  }

  test("keepBestPerCluster keeps the quality-max member, id tiebreak, " +
    "singletons included") {
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (4L, 2L))
      .toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = docs.keepBestPerCluster("doc_id", "n_chars", pairs)
      .orderBy("cluster")
      .select("cluster", "n_members", "kept_id", "kept_quality")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // cluster {1,2,3}: quality max 9 ties between 2 and 3 → smaller id
    assert(got == Seq((1L, 3L, 2L, 9L), (4L, 1L, 4L, 2L)))
  }

  test("keepBestPerCluster: Long.MinValue id survives the decimal-negated " +
    "tiebreak; NULL quality loses to any non-null") {
    // quality ties at 9 across {MinValue, 0}: the tiebreak negates ids in
    // DECIMAL(20,0), so MinValue orders as the LARGEST negid → it wins
    // the min-id policy instead of wrapping to itself-as-minimum noise
    val docs = Seq((Long.MinValue, Some(9L)), (0L, Some(9L)),
        (7L, None), (8L, Some(1L)))
      .toDF("doc_id", "n_chars")
    val pairs = Seq((Long.MinValue, 0L), (7L, 8L)).toDF("id_a", "id_b")
    val got = docs.keepBestPerCluster("doc_id", "n_chars", pairs)
      .orderBy("kept_id")
      .select("n_members", "kept_id", "kept_quality")
      .as[(Long, Long, Option[Long])].collect().toSeq
    assert(got == Seq(
      (2L, Long.MinValue, Some(9L)), // exact negation → min-id wins the tie
      (2L, 8L, Some(1L))))           // null quality loses to quality 1
  }

  test("describeNum returns one exact summary row") {
    val d = Seq(1.0, 2.0, 3.0, 4.0).toDF("x").describeNum("x")
    val r = d.collect().head
    assert(r.getAs[Long]("count") == 4L && r.getAs[Double]("mean") == 2.5
      && r.getAs[Double]("min") == 1.0 && r.getAs[Double]("max") == 4.0)
  }

  test("quantiles interpolates like pandas linear") {
    val got = Seq(1.0, 2.0, 3.0, 4.0).toDF("x")
      .quantiles(col("x"), Seq(("med", 0.5), ("q75", 0.75)))
      .as[(Double, Double)].head()
    assert(got == ((2.5, 3.25)))
  }

  test("contaminationAgainst counts shared shingles per held-out doc") {
    val train = Seq((1L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val test = Seq(
      (10L, "the quick brown fox sleeps"), // shares 2 of its 3 shingles
      (11L, "completely unrelated words right here")).toDF("doc_id", "text")
    val got = test.contaminationAgainst(train, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_shingles", "n_hit").as[(Long, Long, Long)]
      .collect().toSeq
    assert(got == Seq((10L, 3L, 2L), (11L, 3L, 0L)))
    val bloomed = test.contaminationAgainstBloom(train, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_shingles", "n_hit").as[(Long, Long, Long)]
      .collect().toSeq
    assert(bloomed == got, "bloom façade must be answer-identical")
  }

  test("saltedJoinWith equals the plain join through the façade") {
    val big = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("k", "id")
    val dim = Seq(("a", "A")).toDF("k", "label")
    val got = big.saltedJoinWith(dim, "k", col("id"), buckets = 4)
      .orderBy("id").select("k", "id", "label").as[(String, Long, String)]
      .collect().toSeq
    assert(got == Seq(("a", 1L, "A"), ("a", 2L, "A")))
  }

  test("overlapJoin via the façade equals the theta join") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val l = Seq((1L, t("2024-01-01 00:00:00"), t("2024-01-01 00:00:40")),
        (2L, t("2024-01-01 00:02:00"), t("2024-01-01 00:02:30")))
      .toDF("lid", "ls", "le")
    val r = Seq((10L, t("2024-01-01 00:00:30"), t("2024-01-01 00:01:10")),
        (11L, t("2024-01-01 00:05:00"), t("2024-01-01 00:05:30")))
      .toDF("rid", "rs", "re")
    val got = l.overlapJoin("ls", "le", r, "rs", "re",
        bandSeconds = 60L, maxLenSeconds = 60L)
      .select("lid", "rid").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 10L)))
  }

  test("quantilesNearestRank picks actual data values at ceil-rank") {
    import spark.implicits._
    val df = (1 to 97).map(_.toDouble).toDF("v")
    val r = df.quantilesNearestRank(col("v"),
      Seq(("p25", 0.25), ("p50", 0.5), ("p100", 1.0))).collect()(0)
    assert(r.getAs[Double]("p25") === math.ceil(97 * 0.25))
    assert(r.getAs[Double]("p50") === math.ceil(97 * 0.5))
    assert(r.getAs[Double]("p100") === 97.0)
  }

  test("isinAligned matches aligned cells, false on missing labels") {
    import spark.implicits._
    val d = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "s", "v")
    val vals = Seq((1L, "a", 11L), (3L, "x", 30L)).toDF("k", "s", "v")
    val got = d.isinAligned(vals, "k", Seq("s" -> "s", "v" -> "v"))
      .as[(Long, Boolean, Boolean)].collect().toSet
    // k=1: s matches, v differs; k=2: no label; k=3: s differs, v matches
    assert(got == Set((1L, true, false), (2L, false, false),
      (3L, false, true)))
  }

  test("toBinaryI64 round-trips through the binary source decode") {
    import spark.implicits._
    val out = TempDirs.create("graft_api_bin").toString
    val src = Seq(5L, -3L, 1L << 40, 0L).toDF("x")
    src.toBinaryI64(out)
    val bytes = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .toArray.map(_.toString).filter(_.endsWith(".i64"))
      .flatMap(p => java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val vals = Iterator.continually(bb).takeWhile(_.remaining >= 8)
      .map(_.getLong).toSeq
    assert(vals.sorted == Seq(-3L, 0L, 5L, 1L << 40))
  }

  test("decodeMedia and decodeAudioChunks drive the real codecs") {
    import spark.implicits._
    val ids = Seq(4L, 9L).toDF("doc_id")
    val img = graft.operators.Media.syntheticImages(spark, ids).decodeMedia()
    assert(img.count() == 2 && img.columns.contains("mean_luma"))
    val au = graft.operators.Media.syntheticAudio(spark, ids)
      .decodeAudioChunks(800)
    assert(au.count() == (2 + 4 % 4) + (2 + 9 % 4))
  }
}
