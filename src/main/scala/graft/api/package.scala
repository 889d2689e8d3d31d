package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{Dedup, GlobalOrder, MergeAsof, Parallelism,
  RangeJoin, Skew}

/** User-facing library surface: the reference's pandas-style operations
  * as extension methods over DataFrame (`import graft.api._`).
  *
  * This is syntax only — every method delegates to the operator objects
  * (`graft.operators.*`) or composes codegen'd built-ins, so the plans
  * are identical to the oracle-verified `SparkEntry.queries` entries.
  * A reference user writes `df.valueCounts("col")` instead of
  * `df.groupby('col').size().sort_values(...)`; the Spark plan stays a
  * partial+final hash aggregate either way.
  */
package object api {

  implicit class GraftFrame(private val df: DataFrame) extends AnyVal {

    // ——— pandas staples (SURVEY §2.4/§2.7) ———

    /** `S.value_counts()`: counts desc, value asc tiebreak. */
    def valueCounts(c: String): DataFrame =
      df.groupBy(col(c)).agg(count(lit(1)).as("count"))
        .orderBy(col("count").desc, col(c))

    /** `S.nlargest(n)` on column `c` (top-k, no global sort). */
    def nlargest(n: Int, c: String): DataFrame =
      df.orderBy(col(c).desc).limit(n)

    /** `S.nsmallest(n)` on column `c`. */
    def nsmallest(n: Int, c: String): DataFrame =
      df.orderBy(col(c).asc).limit(n)

    /** Exact decimal-sum describe of a numeric column (count/mean/std/
      * min/max as one aggregated row). */
    def describeNum(c: String, scale: Int = 2): DataFrame = {
      val x = col(c)
      val dec = DecimalType(30, scale)
      val n = count(x).cast("double")
      val s1 = sum(x.cast(dec)).cast("double")
      val s2 = sum((x * x).cast(DecimalType(32, 2 * scale))).cast("double")
      df.agg(count(x).as("count"), (s1 / n).as("mean"),
        sqrt((s2 - s1 * s1 / n) / (n - lit(1.0))).as("std"),
        min(x).as("min"), max(x).as("max"))
    }

    // ——— positional-index ops (scale-safe two-pass, SURVEY §1/§2.2) ———

    /** pandas `cumsum` over a global order (exact decimal two-pass). */
    def cumsum(order: Seq[Column], value: Column, name: String): DataFrame =
      GlobalOrder.withRunningSum(df, order, value, name)

    /** pandas `cummax` over a global order. */
    def cummax(order: Seq[Column], value: Column, name: String): DataFrame =
      GlobalOrder.withRunningMax(df, order, value, name)

    /** pandas `shift(1)` over a global order. */
    def shifted(order: Seq[Column], value: Column, name: String): DataFrame =
      GlobalOrder.withLag(df, order, value, name)

    /** `S.quantile(qs)` exact interpolated quantiles, sort-based —
      * one output column per (name, q). */
    def quantiles(value: Column, qs: Seq[(String, Double)]): DataFrame =
      GlobalOrder.exactQuantiles(df, value, qs)

    /** `S.quantile(qs, interpolation='higher')` — nearest-rank picks:
      * the bound of choice for comparisons/outputs (data values,
      * bit-stable at any n; interpolation keeps last-ulp freedom). */
    def quantilesNearestRank(value: Column,
                             qs: Seq[(String, Double)]): DataFrame =
      GlobalOrder.nearestRankPicks(df, value, qs)

    // ——— joins (SURVEY §2.3) ———

    /** `pd.merge_asof`; direction ∈ backward | forward | nearest. */
    def mergeAsof(right: DataFrame, on: String, by: Seq[String],
                  rightCols: Seq[String],
                  direction: String = "backward"): DataFrame =
      direction match {
        case "backward" => MergeAsof.backward(df, right, on, by, rightCols)
        case "forward"  => MergeAsof.forward(df, right, on, by, rightCols)
        case "nearest"  => MergeAsof.nearest(df, right, on, by, rightCols)
        case other => throw new IllegalArgumentException(
          s"direction must be backward|forward|nearest, got '$other'")
      }

    // ——— skew + parallelism guards ———

    /** Skew-safe grouped count + exact sum (content-derived salt). */
    def saltedSumCount(keyCol: String, valueCol: String, saltFrom: Column,
                       buckets: Int = 16): DataFrame =
      Skew.saltedSumCount(df, keyCol, valueCol, saltFrom, buckets)

    /** Skew-safe equi-join against a small dim (salted both sides;
      * row multiset equals the plain inner join). */
    def saltedJoinWith(small: DataFrame, key: String, saltFrom: Column,
                       buckets: Int = 16): DataFrame =
      Skew.saltedJoin(df, small, key, saltFrom, buckets)

    /** Repartition only when the scan under-parallelizes the session. */
    def fanOut: DataFrame = Parallelism.fanOut(df)

    /** `df.isin(other_frame)` / `df.isin(series)` (SURVEY §2.2): aligned
      * per-column equality on index key `on` — True where `values`
      * carries the same label AND an equal cell. One index-key left
      * join; columns without a counterpart in `values` are pandas'
      * constant-false (omit them from `pairs` and project `lit(false)`).
      * For the series form pass the single value column against each
      * probed frame column. */
    def isinAligned(values: DataFrame, on: String,
                    pairs: Seq[(String, String)]): DataFrame = {
      val v = values.select(col(on).as("__k") +:
        pairs.map { case (_, vc) => col(vc).as(s"__v_$vc") }: _*)
      df.join(v, df(on) === col("__k"), "left")
        .select(df(on) +: pairs.map { case (dc, vc) =>
          coalesce(df(dc) === col(s"__v_$vc"), lit(false)).as(s"${dc}_in")
        }: _*)
    }

    // ——— graph analytics (co-occurrence graphs) ———

    /** Undirected co-occurrence pairs (a < b) of items sharing a key,
      * kept at co-occurrence ≥ minCount — basket-bounded self-join;
      * maxBasket caps the per-key fan-out deterministically. */
    def coOccurrencePairs(keyCol: String, itemCol: String,
                          minCount: Long = 2L,
                          maxBasket: Int = 64): DataFrame =
      graft.operators.Graphs.coOccurrencePairs(df, keyCol, itemCol,
        minCount, maxBasket)

    /** PageRank over (a, b) pair rows → (node, prq); prq/1e9 = rank. */
    def pageRank(iters: Int = 3): DataFrame =
      graft.operators.Graphs.pageRank(df, iters)

    /** PageRank iterated to CONVERGENCE: stop when relative L1 rank
      * movement < epsMilli/1000 (bit-deterministic integer gate),
      * bounded by maxIters → (final ranks, iterations run). */
    def pageRankConverged(epsMilli: Long = 20L,
                          maxIters: Int = 10): (DataFrame, Int) =
      graft.operators.Graphs.pageRankConverged(df, epsMilli, maxIters)

    /** Triangle/wedge stats over (a, b) pair rows (degree-ordered
      * orientation — hub-safe). */
    def triangleStats(): DataFrame =
      graft.operators.Graphs.triangleStats(df)

    /** np.tofile, distributed: pack the frame's first column as
      * little-endian int64, one part file per partition via the Hadoop
      * FileSystem API (file:// locally, HDFS/object store on cluster). */
    def toBinaryI64(outDir: String): Unit =
      graft.queries.Sources.writeBinaryI64(df, outDir)

    // ——— multimodal (media-table frames: doc_id, bytes, meta) ———

    /** Batch media decode — REAL `javax.imageio` codec for image mimes
      * (pixel-luma integration), byte-length stub for non-media blobs. */
    def decodeMedia(): DataFrame =
      graft.operators.Media.decode(df.sparkSession, df).toDF()

    /** Batch WAV decode → one row per `chunkSamples` chunk with RMS
      * energy over the real decoded PCM samples. */
    def decodeAudioChunks(chunkSamples: Int): DataFrame =
      graft.operators.Media.decodeAudio(df.sparkSession, df, chunkSamples)
        .toDF()

    // ——— LLM-pipeline: dedup (documents-shaped frames) ———

    /** Exact dedup by content digest → (content_md5, keep_id, n_dups). */
    def dedupExact(idCol: String, textCol: String): DataFrame =
      Dedup.exact(df, idCol, textCol)

    /** MinHash+LSH near-duplicate pairs with verified Jaccard. */
    def nearDupPairs(idCol: String, textCol: String,
                     threshold: Double = 0.7): DataFrame =
      Dedup.minhashPairs(df, idCol, textCol, threshold = threshold)

    /** LSH bucket-size distribution with the >maxBucket class flagged —
      * the cap-tuning readout to run BEFORE a corpus-scale
      * [[nearDupPairs]]: how much boilerplate the cap will tombstone. */
    def minhashBucketStats(idCol: String, textCol: String,
                           maxBucket: Int = 200): DataFrame =
      Dedup.minhashBucketStats(df, idCol, textCol, maxBucket = maxBucket)

    /** Blocked n-gram Jaccard near-dup pairs (no LSH): all-pairs within
      * (lang, length-bucket) blocks, `maxBlock`-capped — right for
      * modest blocks; use [[nearDupPairs]] when blocks outgrow the cap. */
    def ngramNearDups(idCol: String, textCol: String, langCol: String,
                      threshold: Double = 0.5, maxBlock: Int = 1000): DataFrame =
      Dedup.ngramJaccardPairs(df, idCol, textCol, langCol,
        threshold = threshold, maxBlock = maxBlock)

    /** Cluster this frame of (id_a, id_b) near-dup pairs into
      * components → (id, cluster = component min id). Diameter-bound
      * label propagation; use [[nearDupClustersStar]] for adversarial
      * chain-shaped graphs (O(log n) rounds). */
    def nearDupClusters(): DataFrame = Dedup.connectedComponents(df)

    /** [[nearDupClusters]] by large-star/small-star contraction. */
    def nearDupClustersStar(): DataFrame = Dedup.connectedComponentsStar(df)

    /** Resolve this document frame's near-dup clusters (from `pairs`)
      * to their `qualityCol`-best member each, `idCol` tiebreak →
      * (cluster, n_members, kept_id, kept_quality). */
    def keepBestPerCluster(idCol: String, qualityCol: String,
                           pairs: DataFrame): DataFrame =
      Dedup.keepBestClusters(df, idCol, qualityCol, pairs)

    /** Which of this frame's docs share a w-shingle with `train`'s docs,
      * and how much — (idCol, n_shingles, n_hit) per doc of `df`. */
    def contaminationAgainst(train: DataFrame, idCol: String,
                             textCol: String, w: Int = 3): DataFrame =
      Dedup.contaminationScan(df, train, idCol, textCol, w)
        .withColumnRenamed("id", idCol)

    /** [[contaminationAgainst]] with a broadcast bloom prefilter — only
      * sketch-surviving shingles reach the confirm shuffle; identical
      * answer (the 100 TB default when `df` dwarfs `train`). */
    def contaminationAgainstBloom(train: DataFrame, idCol: String,
                                  textCol: String, w: Int = 3,
                                  expectedItems: Long = 1000000L): DataFrame =
      Dedup.contaminationScanBloom(df, train, idCol, textCol, w, expectedItems)
        .withColumnRenamed("id", idCol)

    // ——— range/interval joins (banded rewrites — no nested loops) ———

    /** Interval-overlap join (each overlapping pair exactly once). */
    def overlapJoin(lStart: String, lEnd: String, right: DataFrame,
                    rStart: String, rEnd: String,
                    bandSeconds: Long, maxLenSeconds: Long,
                    equi: Seq[(String, String)] = Nil): DataFrame =
      RangeJoin.intervalOverlap(df, lStart, lEnd, right, rStart, rEnd,
        bandSeconds, maxLenSeconds, equi)
  }
}
