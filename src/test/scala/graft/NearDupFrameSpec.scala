package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup

/** The near-dup family's shared shingle-set frame (Dedup.shingleSets)
  * and its one verifier: fused and pruned set sources give identical
  * verified pairs, the frame is one projection after the fan-out and
  * signature-only consumers output no set, and every public pair
  * operator survives degenerate inputs under ANSI. */
class NearDupFrameSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true)))

  private def frame(rows: Seq[(Long, String, String)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, t, l) => Row(id, t, l) }, 2), schema)

  /** Near-dup pairs (a doc and a one-word edit of it) among unrelated
    * docs of mixed length and language, so (lang, length) blocks hold
    * several docs each and low caps leave some docs in no candidate. */
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 80).map(i => s"w$i")
    def sentence(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val langs = Seq("en", "de")
    val bases = (0 until 12).map { i =>
      val ws = sentence(8 + (i % 3) * 20)
      Seq((i.toLong, ws.mkString(" "), langs(i % 2)),
        (100L + i, (ws.init :+ "edit").mkString(" "), langs(i % 2)))
    }.flatten
    val others = (0 until 16).map(j =>
      (200L + j, sentence(8 + (j % 3) * 20).mkString(" "), langs(j % 2)))
    frame(bases ++ others)
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def endpoints(pairs: DataFrame): Set[Long] =
    pairs.select(col("id_a")).union(pairs.select(col("id_b")))
      .collect().map(_.getLong(0)).toSet

  test("unionPairsFlagged: fused sets verify exactly like pruned candidate sets") {
    val (maxBucket, maxBlock) = (3, 3)
    val fused = Dedup.unionPairsFlagged(corpus, "doc_id", "text", "lang",
      threshold = 0.5, maxBucket = maxBucket, maxBlock = maxBlock)
    val sig = Dedup.shingleSets(corpus, "doc_id", "text", 3,
      Dedup.minhashCoeffs(16))
    val cand = Dedup.flaggedUnion(
      Dedup.bandedCandidates(sig, 16, 4, maxBucket), "from_banded",
      Dedup.blockedCandidates(corpus, "doc_id", "text", "lang", maxBlock),
      "from_blocked")
    val sets = Dedup.candidateSets(corpus, "doc_id", "text", 3, cand)
    val pruned = Dedup.verifyJaccard(cand, sets, 0.5,
      Seq("from_banded", "from_blocked"))
    // the caps must leave docs out, or the two sources coincide trivially
    assert(sets.count() < corpus.count(),
      s"pruned sets cover all ${corpus.count()} docs")
    assert(fused.columns.toSeq ==
      Seq("id_a", "id_b", "jaccard", "from_banded", "from_blocked"))
    assert(rows(fused).nonEmpty)
    assert(rows(fused) == rows(pruned))
  }

  test("chainSimhashUnionPairs: fused sets verify exactly like pruned candidate sets") {
    val (passes, window, maxBucket) = (2, 2, 3)
    val fused = Dedup.chainSimhashUnionPairs(corpus, "doc_id", "text",
      passes = passes, window = window, threshold = 0.5,
      maxBucket = maxBucket)
    val sig = Dedup.shingleSets(corpus, "doc_id", "text", 3,
      Dedup.minhashCoeffs(passes))
    val cand = Dedup.flaggedUnion(
      Dedup.sortedCandidatesFromSig(sig, passes, window), "from_chain",
      Dedup.simhashPairs(corpus, "doc_id", "text", 3, maxBucket),
      "from_simhash")
    val pruned = Dedup.verifyJaccard(cand,
      Dedup.candidateSets(corpus, "doc_id", "text", 3, cand), 0.5,
      Seq("from_chain", "from_simhash"))
    assert(rows(fused).nonEmpty)
    assert(rows(fused) == rows(pruned))
  }

  test("shingleSets: one projection after the fan-out; signatures carry no sh") {
    val docs = Tables(spark, sf, "documents")
    val sig = Dedup.chainSignatures(docs, "doc_id", "text", passes = 4)
    assert(sig.columns.toSeq == Seq("id", "mh0", "mh1", "mh2", "mh3"))
    assert(!Dedup.minhashBucketStats(docs, "doc_id", "text").columns.contains("sh"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val sets = Dedup.shingleSets(docs, "doc_id", "text", 3, Dedup.minhashCoeffs(4))
      val plan = sets.queryExecution.executedPlan
      val text = plan.toString
      assert(plan.collect { case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a }.isEmpty, s"shingleSets aggregates:\n$text")
      assert(plan.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }.isEmpty,
        s"shingleSets explodes:\n$text")
      // the documents table is one file, so the fan-out repartitions it
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      assert(exchanges.size == 1 && exchanges.head.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning],
        s"shingleSets shuffles beyond its fan-out:\n$text")
      // each doc's set and minhashes are computed once
      val code = org.apache.spark.sql.execution.debug.codegenStringSeq(plan)
        .map(_._2).mkString
      for (kernel <- Seq("shingleSet", "minhash"))
        assert(s"ShingleKernels\\.$kernel\\(".r.findAllIn(code).size == 1,
          s"$kernel calls in the generated code:\n$code")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  private val base = "the quick brown fox jumps over the lazy dog today"

  /** Degenerate inputs by name; doc ids 1 and 2 carry null text. */
  private def degenerate: Seq[(String, DataFrame)] = Seq(
    "empty" -> frame(Nil),
    "single row" -> frame(Seq((6L, base, "en"))),
    "empty text" -> frame(Seq((3L, "", "en"), (4L, "", "en"),
      (5L, base, "en"))),
    "shorter than w" -> frame(Seq((3L, "hi there", "en"),
      (4L, "hi there", "en"), (5L, "hello", "en"))),
    "null text" -> frame(Seq((1L, null, "en"), (2L, null, "en"),
      (3L, base, "en"), (4L, base + " again", "en"),
      (5L, base + " again", "en"))),
    "duplicate ids" -> frame(Seq((3L, base, "en"), (3L, base, "en"),
      (3L, "an unrelated text of some other words", "en"),
      (4L, base + " again", "en"), (4L, base + " again", "en"))))

  private val pairOps: Seq[(String, DataFrame => DataFrame)] = Seq(
    "minhashPairs" -> (d => Dedup.minhashPairs(d, "doc_id", "text",
      threshold = 0.5)),
    "unionPairsFlagged" -> (d => Dedup.unionPairsFlagged(d, "doc_id",
      "text", "lang")),
    "sortedNeighborPairs" -> (d => Dedup.sortedNeighborPairs(d, "doc_id",
      "text", "lang")),
    "minhashSortedPairs" -> (d => Dedup.minhashSortedPairs(d, "doc_id",
      "text", passes = 2, window = 2)),
    "chainSimhashUnionPairs" -> (d => Dedup.chainSimhashUnionPairs(d,
      "doc_id", "text", passes = 2, window = 2)),
    "ngramJaccardPairs" -> (d => Dedup.ngramJaccardPairs(d, "doc_id",
      "text", "lang")))

  private def withAnsi[T](body: => T): T = {
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try body finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("pair operators: degenerate inputs under ANSI, null-text docs never pair") {
    withAnsi {
      for ((input, df) <- degenerate; (op, run) <- pairOps) withClue(s"$op on $input: ") {
        val ids = endpoints(run(df))
        if (input == "empty") assert(ids.isEmpty)
        assert(!ids.contains(1L) && !ids.contains(2L), ids.toString)
        if (input == "null text") assert(ids.contains(4L) && ids.contains(5L))
      }
    }
  }

  test("incrementalNearDup: degenerate inputs under ANSI, null-text docs stay keep") {
    withAnsi {
      for ((input, df) <- degenerate) withClue(s"$input: ") {
        val batch = df.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("text"))
        val corpus = df.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("text"))
        val sigs = Dedup.chainSignatures(corpus, "doc_id", "text", passes = 2)
        val got = Dedup.incrementalNearDup(batch, corpus, sigs, "doc_id",
            "text", passes = 2, window = 2)
          .collect().map(r => (r.getLong(0), r.getString(1))).toMap
        assert(got.keySet ==
          batch.collect().map(_.getLong(0)).toSet, got.toString)
        if (input == "null text")
          assert(got(1L) == "keep" && got(5L) == "dup_base", got.toString)
      }
    }
  }
}
