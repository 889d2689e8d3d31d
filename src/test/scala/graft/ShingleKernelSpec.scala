package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{jaccard, md5Fold32, minhash, shingleSet}
import graft.operators.{Dedup, TextOps}

/** The near-dup kernels equal the built-in spellings they replace:
  * `graft_shingle_set` ≡ `array_sort(collect_set(md5Fold32(shingle)))`
  * over `Dedup.shingleRows`, `graft_minhash` ≡ `min(minhashTerm(h, a, b))`
  * over the set's rows, and `graft_jaccard` ≡
  * `size(array_intersect) / size(array_union)`. Every case runs under
  * ANSI mode, once through generated code (`CODEGEN_ONLY`, whole-stage
  * codegen on) and once through `eval` (`NO_CODEGEN`, whole-stage codegen
  * off). Inputs come from RDD-backed frames, so no kernel call is
  * constant-folded or evaluated in a local relation. */
class ShingleKernelSpec extends SparkSpecBase {

  private val modes = Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")

  private def inModes(body: => Unit): Unit =
    for ((factory, wholeStage) <- modes) withClue(s"$factory: ") {
      val confs = Seq("spark.sql.ansi.enabled" -> "true",
        "spark.sql.codegen.factoryMode" -> factory,
        "spark.sql.codegen.wholeStage" -> wholeStage)
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  private val textSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))

  private val (nullTextId, emptyText, blankText, shortText, exactText, repeatText) =
    (90L, 91L, 92L, 93L, 94L, 95L)

  /** Random texts (mixed case, punctuation, tabs, non-ASCII) plus the
    * edge cases by id. */
  private lazy val texts: DataFrame = {
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 25).map(i => s"w$i") ++
      Seq("Alpha", "naïve", "x-y", "A.B", "don't", "42", "ÜBER")
    val seps = Seq(" ", "  ", "\t", ", ", " - ", "\n")
    val random = (0 until 60).map { i =>
      val n = rnd.nextInt(14)
      Row(i.toLong, (0 until n).map(_ => vocab(rnd.nextInt(vocab.size)) +
        seps(rnd.nextInt(seps.size))).mkString)
    }
    frame(textSchema, random ++ Seq(
      Row(nullTextId, null), Row(emptyText, ""), Row(blankText, " \t \n "),
      Row(shortText, "two words"), Row(exactText, "exactly three words"),
      Row(repeatText, "a b a b a b a b a b")))
  }

  private def longSeqs(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  private def kernelSets(df: DataFrame, w: Int): DataFrame =
    df.select(col("id"), shingleSet(TextOps.normWords(col("text")), w).as("sh"))

  test("graft_shingle_set equals the sorted collect_set of shingleRows' hashes") {
    inModes {
      for (w <- Seq(1, 2, 3, 5)) withClue(s"w=$w: ") {
        val want = longSeqs(Dedup.shingleRows(texts, "id", "text", w)
          .groupBy(col("id")).agg(array_sort(collect_set(md5Fold32(col("shingle"))))))
        val got = kernelSets(texts, w).collect()
          .map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
        assert(got(nullTextId).isEmpty && !want.contains(nullTextId))
        assert(got.collect { case (id, Some(sh)) => id -> sh } == want)
        for (id <- Seq(emptyText, blankText)) assert(want(id).size == 1)
        if (w == 3) {
          assert(want(shortText).size == 1 && want(exactText).size == 1)
          assert(want(repeatText).size == 2) // "a b a" and "b a b"
        }
      }
    }
  }

  test("graft_shingle_set joins a window's non-null words, empty and multi-byte ones included") {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("ws", ArrayType(StringType, containsNull = true), nullable = true)))
    val rows = Seq(Seq("a", "", "b", "c"), Seq("", "x"), Seq("ü", null, "ß", "日本"),
      Seq(null, null, "z"), Seq(null), Seq("one"), Seq.empty[String], null)
    val df = frame(schema, rows.zipWithIndex.map { case (ws, i) => Row(i.toLong, ws) })
    val w = 3
    val want = longSeqs(df.select(col("id"), col("ws"), posexplode(col("ws")))
      .filter(col("pos") + w <= size(col("ws")) || (size(col("ws")) < w && col("pos") === 0))
      .select(col("id"), concat_ws(" ",
        Seq(col("col")) ++ (1 until w).map(j => get(col("ws"), col("pos") + j)): _*).as("s"))
      .groupBy(col("id")).agg(array_sort(collect_set(md5Fold32(col("s"))))))
    inModes {
      val got = df.select(col("id"), shingleSet(col("ws"), w)).collect()
        .map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
      assert(got(7L).isEmpty)                // null array
      assert(got(6L).contains(Seq.empty))    // empty array: no shingle
      assert(got.collect { case (id, Some(sh)) if sh.nonEmpty => id -> sh } == want)
    }
  }

  private val setSchema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("sh", ArrayType(LongType, containsNull = false), nullable = true)))

  test("graft_minhash equals min(minhashTerm(h, a, b)) over the set's rows") {
    val coeffs = Dedup.minhashCoeffs(8) ++
      Seq((0L, 0L), (1L, 0L), (Dedup.MinhashP - 1, Dedup.MinhashP - 1))
    val rnd = new scala.util.Random(5)
    // hashes of either sign and above P, so the reduction mod P is exercised
    val sets = (0 until 40).map(i => Row(i.toLong,
      Seq.fill(1 + rnd.nextInt(20))(rnd.nextLong() >> rnd.nextInt(40)).distinct.sorted)) ++
      Seq(Row(50L, Seq.empty[Long]), Row(51L, null), Row(52L, Seq(Dedup.MinhashP)))
    val df = frame(setSchema, sets)
    val want = df.select(col("id"), explode(col("sh")).as("h")).groupBy(col("id"))
      .agg(array(coeffs.map { case (a, b) => min(ShingleReference.minhashTerm(col("h"), a, b)) }: _*))
    inModes {
      val got = df.select(col("id"), minhash(col("sh"), coeffs)).collect()
        .map(r => r.getLong(0) -> Option(r.getSeq[Any](1))).toMap
      assert(got(51L).isEmpty)
      assert(got(50L).contains(Seq.fill(coeffs.size)(null)))
      assert(got.collect { case (id, Some(mh)) if id != 50L => id -> mh } ==
        longSeqs(want))
      // the shingle-set kernel's output feeds it unchanged
      val sh = kernelSets(texts.filter(col("text").isNotNull), 3)
      val viaRows = sh.select(col("id"), explode(col("sh")).as("h")).groupBy(col("id"))
        .agg(array(coeffs.map { case (a, b) =>
          min(ShingleReference.minhashTerm(col("h"), a, b)) }: _*))
      assert(longSeqs(sh.select(col("id"), minhash(col("sh"), coeffs))) == longSeqs(viaRows))
    }
  }

  test("graft_jaccard equals size(array_intersect) / size(array_union)") {
    val rnd = new scala.util.Random(3)
    def randomSet() = Seq.fill(rnd.nextInt(30))(rnd.nextInt(60).toLong - 20).distinct.sorted
    val fixed = Seq(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L), Seq(4L, 5L), Seq(Long.MinValue, 0L,
      Long.MaxValue), Seq(0L), Seq.empty[Long])
    val sets = fixed ++ Seq.fill(25)(randomSet())
    val pairSchema = StructType(Seq(
      StructField("i", IntegerType, nullable = false),
      StructField("j", IntegerType, nullable = false),
      StructField("a", ArrayType(LongType, containsNull = false), nullable = true),
      StructField("b", ArrayType(LongType, containsNull = false), nullable = true)))
    val pairs = for (i <- sets.indices; j <- sets.indices
        if sets(i).nonEmpty || sets(j).nonEmpty) yield Row(i, j, sets(i), sets(j))
    val df = frame(pairSchema, pairs :+ Row(-1, -1, null, Seq(1L)))
    val want = size(array_intersect(col("a"), col("b"))).cast("double") /
      size(array_union(col("a"), col("b"))).cast("double")
    inModes {
      val got = df.select(col("i"), col("j"), jaccard(col("a"), col("b")).as("got"),
        when(col("a").isNotNull, want).as("want")).collect()
      assert(got.length == pairs.size + 1)
      for (r <- got) withClue(s"(${r.getInt(0)}, ${r.getInt(1)}): ") {
        assert(r.get(2) == r.get(3))
      }
      val byPair = got.map(r => (r.getInt(0), r.getInt(1)) -> r.get(2)).toMap
      assert(byPair((0, 1)) == 1.0)         // equal sets
      assert(byPair((0, 2)) == 0.0)         // disjoint sets
      assert(byPair((5, 0)) == 0.0)         // empty against non-empty
      assert(byPair((-1, -1)) == null)
      // two empty sets: the old division raises under ANSI; the kernel gives null
      assert(frame(pairSchema, Seq(Row(0, 0, Seq.empty[Long], Seq.empty[Long])))
        .select(jaccard(col("a"), col("b"))).head().isNullAt(0))
    }
  }

  test("the verifier's size bound keeps a pair whose Jaccard equals the threshold") {
    // |A| = 55 ⊂ |B| = 100: J = 55/100 = 0.55 exactly as doubles, while
    // 55 >= 0.55 * 100 is false in doubles (0.55 * 100 = 55.00000000000001)
    val a = (0L until 55L)
    val b = (0L until 100L)
    assert(55.0 / 100.0 >= 0.55 && !(55.0 >= 0.55 * 100.0))
    val cand = frame(StructType(Seq(StructField("id_a", LongType, nullable = false),
      StructField("id_b", LongType, nullable = false))), Seq(Row(1L, 2L)))
    val sets = frame(setSchema, Seq(Row(1L, a), Row(2L, b)))
    val got = Dedup.verifyJaccard(cand, sets, 0.55).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((1L, 2L, 0.55)))
  }

  test("the verifier evaluates graft_jaccard once per pair in its generated code") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val cand = frame(StructType(Seq(StructField("id_a", LongType, nullable = false),
        StructField("id_b", LongType, nullable = false))), Seq(Row(1L, 2L)))
      val sets = frame(setSchema, Seq(Row(1L, Seq(1L, 2L)), Row(2L, Seq(2L, 3L))))
      val pairs = cand
        .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
        .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      val verified = Dedup.jaccardAtLeast(pairs, 0.3, Nil)
      val code = org.apache.spark.sql.execution.debug
        .codegenStringSeq(verified.queryExecution.executedPlan).map(_._2).mkString
      assert("ShingleKernels.intersection\\(".r.findAllIn(code).size == 1, code)
      assert(verified.collect().map(_.getDouble(2)).toSeq == Seq(0.333333))
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }
}
