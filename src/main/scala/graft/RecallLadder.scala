package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Recall-vs-cost sweep for the minhash-sorted chain dedup strategy —
  * the measurement behind the production (passes, window) default.
  *
  * For each (passes, window) config: build the sorted-chain pairs,
  * cluster them with star contraction, and read CHAIN recall — the
  * fraction of the union stage's verified exact-Jaccard pairs whose
  * endpoints land in one chain component (the recall a CLUSTERING
  * consumer experiences; q_chain_recall's metric). The union
  * denominator is computed ONCE and pinned; each config then costs
  * one candidate+verify+CC pass, timed wall-clock.
  *
  * Writes a JSON artifact:
  * {"sf": dir, "n_union": U, "configs": [{"passes","window",
  *   "n_pairs","n_chained","recall","sec"}, ...]}
  *
  * Usage: runMain graft.RecallLadder <sfDir> <outPath>
  *        [passesList windowList]  (comma-separated, default 2,3,4 / 4,8,16)
  */
object RecallLadder {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = args(1)
    val passesList = args.lift(2).map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(2, 3, 4))
    val windowList = args.lift(3).map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(4, 8, 16))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt)

    val d = Tables(spark, sfDir, "documents")
    // the denominator: the union stage's verified exact-Jaccard >= 0.5
    // pairs — maximum-recall pair completeness at <= sf1 scale. Pinned:
    // every config's recall readout joins against it.
    val t0u = System.nanoTime()
    val union: DataFrame = Dedup.unionPairs(d, "doc_id", "text", "lang",
        threshold = 0.5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nUnion = union.count()
    val unionSec = (System.nanoTime() - t0u) / 1e9
    System.err.println(f"[ladder] union pairs: $nUnion%d in $unionSec%.1f s")

    val rows = for (p <- passesList; w <- windowList) yield {
      val t0 = System.nanoTime()
      val pairs = Dedup.minhashSortedPairs(d, "doc_id", "text",
        passes = p, window = w, threshold = 0.5)
      val cc = Dedup.connectedComponentsStar(pairs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nPairs = pairs.count()
      val chained = union
        .join(cc.select(col("id").as("id_a"), col("cluster").as("__ca")),
          Seq("id_a"), "left")
        .join(cc.select(col("id").as("id_b"), col("cluster").as("__cb")),
          Seq("id_b"), "left")
        .filter(col("__ca").isNotNull && col("__ca") === col("__cb"))
        .count()
      cc.unpersist(false)
      val sec = (System.nanoTime() - t0) / 1e9
      val recall = if (nUnion == 0) 1.0 else chained.toDouble / nUnion
      System.err.println(f"[ladder] passes=$p window=$w pairs=$nPairs " +
        f"chained=$chained recall=$recall%.4f sec=$sec%.1f")
      f"""{"passes": $p, "window": $w, "n_pairs": $nPairs,""" +
        f""" "n_chained": $chained, "recall": ${recall}%.6f,""" +
        f""" "sec": ${sec}%.1f}"""
    }
    union.unpersist(false)
    val json = s"""{"sf": "$sfDir", "n_union": $nUnion,""" +
      f""" "union_sec": ${unionSec}%.1f,""" +
      s""" "configs": [\n${rows.mkString(",\n")}\n]}\n"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    println(s"[ladder] wrote $outPath")
    spark.stop()
  }
}
