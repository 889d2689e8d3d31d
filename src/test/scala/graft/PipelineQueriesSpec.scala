package graft

import org.apache.spark.sql.functions._

/** Invariants of the round-5 pipeline queries (drop_duplicates,
  * stratified sampling, contamination scan) on sf0.001 — the oracle gate
  * checks exact values; these pin the semantic contracts. */
class PipelineQueriesSpec extends SparkSpecBase {
  import spark.implicits._

  test("drop_duplicates keeps exactly one row per subset key, the min-position one") {
    val got = SparkEntry.queries("q_drop_duplicates")(spark, sf)
    val keys = got.select("o_custkey", "o_orderstatus")
    assert(keys.count() == keys.distinct().count())
    val expected = Tables(spark, sf, "orders")
      .groupBy(col("o_custkey"), col("o_orderstatus"))
      .agg(min(col("o_orderkey")).as("k"))
      .agg(sum(col("k"))).as[Long].head()
    val gotSum = got.agg(sum(col("o_orderkey"))).as[Long].head()
    assert(gotSum == expected)
  }

  test("Kaplan-Meier survival matches the hand-computed curve on a " +
    "5-user fixture with censoring") {
    // users (first_day, last_day): u1 (0,1) churn, u2 (0,2) churn,
    // u3 (0,3) censored at horizon, u4 (1,3) censored, u5 (3,3)
    // censored. durations: 0 (1 censored), 1 (1 event), 2 (1 event +
    // 1 censored), 3 (1 censored). KM: S(0)=1, S(1)=3/4,
    // S(2)=3/4 * 2/3 = 1/2, S(3)=1/2.
    val rows = Seq(
      (1L, 0, 101L), (2L, 1, 101L),
      (3L, 0, 102L), (4L, 2, 102L),
      (5L, 0, 103L), (6L, 3, 103L),
      (7L, 1, 104L), (8L, 3, 104L),
      (9L, 3, 105L))
    val dir = TempDirs.create("graft_km").toString
    rows.toDF("event_id", "d", "user_id")
      .select(col("event_id"),
        expr("timestamp_micros(d * 86400000000)").as("ts"),
        col("user_id"), lit("view").as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q_survival_km")(spark, dir)
      .select("dur_days", "n_risk", "n_events", "survival")
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(got == Seq(
      (0L, 5L, 0L, 1.0),
      (1L, 4L, 1L, 0.75),
      (2L, 3L, 1L, 0.5),
      (3L, 1L, 0L, 0.5)), got.toString)
  }

  test("logrank statistic equals a sequential Scala replay on the fixture") {
    // Determinism witness independent of BOTH engines (the Logreg/Pca
    // sequential-replay pattern): fold the per-user spans in plain
    // Scala with the same quantization recipe and require the exact
    // query output.
    val got = SparkEntry.queries("q_logrank")(spark, sf)
      .as[(Long, Long, Long, Double, Double, Double)].head()

    val spans = Tables(spark, sf, "events")
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("d"))
      .groupBy("user_id")
      .agg(min(col("d")).as("fd"), max(col("d")).as("ld"))
      .as[(Long, Long, Long)].collect()
    val horizon = spans.map(_._3).max
    def bucketA(uid: Long): Boolean = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"lr:$uid".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 2 == 0
    }
    val users = spans.map { case (uid, fd, ld) =>
      (ld - fd, if (ld < horizon) 1L else 0L, if (bucketA(uid)) 1L else 0L)
    }
    val nTot = users.length.toLong
    val nTotA = users.map(_._3).sum
    val perDur = users.groupBy(_._1).toSeq.sortBy(_._1)
    var cumN = 0L; var cumA = 0L
    var oA = 0L; var eqs = 0L; var vqs = 0L
    perDur.foreach { case (_, rows) =>
      val nD = rows.length.toLong
      val nDA = rows.map(_._3).sum
      val ev = rows.map(_._2).sum
      val evA = rows.filter(_._3 == 1L).map(_._2).sum
      cumN += nD; cumA += nDA
      val nr = nTot - cumN + nD
      val nra = nTotA - cumA + nDA
      if (ev > 0) {
        oA += evA
        eqs += math.floor(ev.toDouble * nra.toDouble / nr.toDouble * 1e9
          + 0.5).toLong
        if (nr > 1) {
          val fa = nra.toDouble / nr.toDouble
          vqs += math.floor(ev.toDouble * fa * (1.0 - fa) *
            ((nr - ev).toDouble / (nr - 1).toDouble) * 1e9 + 0.5).toLong
        }
      }
    }
    val eA = math.floor(eqs.toDouble / 1e9 * 1e6 + 0.5) / 1e6
    val vLr = math.floor(vqs.toDouble / 1e9 * 1e6 + 0.5) / 1e6
    val zLr = if (vqs > 0)
      math.floor((oA.toDouble - eqs.toDouble / 1e9) /
        math.sqrt(vqs.toDouble / 1e9) * 1e6 + 0.5) / 1e6
    else 0.0
    assert(got == ((nTot, nTotA, oA, eA, vLr, zLr)), got.toString)
  }

  test("stratified sample is deterministic and actually downsamples 'en'") {
    val a = SparkEntry.queries("q_stratified_sample")(spark, sf)
      .as[(Long, String)].collect().toSeq
    val b = SparkEntry.queries("q_stratified_sample")(spark, sf)
      .as[(Long, String)].collect().toSeq
    assert(a == b)
    val docs = Tables(spark, sf, "documents")
    val rates = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    val kept = a.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    // en keeps ~20%, others ~60% — allow wide slack at tiny sf, but the
    // ordering of the rates must hold
    val enRate = kept.getOrElse("en", 0L).toDouble / rates("en")
    val otherKept = (kept - "en").values.sum.toDouble
    val otherAll = (rates - "en").values.sum.toDouble
    assert(enRate < otherKept / otherAll,
      s"en rate $enRate should be below the others' ${otherKept / otherAll}")
  }

  test("domain caps keep at most 20 per source and account chars exactly") {
    val got = SparkEntry.queries("q_domain_caps")(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    assert(got.forall { case (_, n, k, _) => k == math.min(20L, n) })
    // kept_chars must equal the n_chars sum of the 20 lowest doc_ids
    val docs = Tables(spark, sf, "documents")
      .select("source", "doc_id", "n_chars")
      .as[(String, Long, Long)].collect()
      .groupBy(_._1)
    got.foreach { case (src, n, _, chars) =>
      val rows = docs(src).sortBy(_._2)
      assert(n == rows.size)
      assert(chars == rows.take(20).map(_._3).sum)
    }
  }

  test("doc chunks tile each document with stride 40 and a full-width body") {
    val got = SparkEntry.queries("q_doc_chunks")(spark, sf)
      .select("doc_id", "chunk_idx", "n_tok")
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    val toks = Tables(spark, sf, "documents")
      .select(col("doc_id"),
        size(graft.operators.TextOps.normWords(col("text"))).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == toks.keySet)
    got.foreach { case (id, rows) =>
      val sorted = rows.sortBy(_._2)
      val len = toks(id)
      // chunk indices are 0..ceil(len/40)-1; each chunk takes
      // min(50, len - 40*idx) tokens (a trailing window of 41..49
      // can immediately precede the final sub-stride tail)
      assert(sorted.map(_._2).toSeq == (0L until ((len + 39) / 40)).toList)
      sorted.foreach { case (_, i, n) =>
        assert(n == math.min(50L, len - 40 * i))
      }
    }
  }

  test("dedup apply totals equal the cluster representatives") {
    val applied = SparkEntry.queries("q_dedup_apply")(spark, sf)
      .agg(sum(col("n_docs"))).as[Long].head()
    val reps = SparkEntry.queries("q_dedup_cluster")(spark, sf)
      .filter(col("is_rep") === 1).count()
    assert(applied == reps)
  }

  test("contamination scan covers exactly the test split and bounds the ratio") {
    val got = SparkEntry.queries("q_contamination")(spark, sf)
      .select(col("doc_id"), col("n_shingles"), col("n_hit"))
      .as[(Long, Long, Long)].collect()
    assert(got.nonEmpty)
    assert(got.forall { case (_, n, h) => h >= 0 && h <= n && n > 0 })
    // doc ids must be exactly the test bucket (md5 bucket >= 90)
    val testIds = Tables(spark, sf, "documents")
      .filter(pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8),
        16, 10).cast("long"), lit(100L)) >= 90)
      .select("doc_id").as[Long].collect().toSet
    assert(got.map(_._1).toSet == testIds)
  }
}
