package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.{DotProduct, dotp, nearest, quantize}
import graft.operators.Pin.PinOps

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a single projection + TakeOrdered,
  * no shuffle of the embedding table beyond the top-k reduction; exact and
  * embarrassingly parallel, the right tool when k·|queries| is small.
  *
  * Scale path: random-hyperplane LSH bucketing — embeddings are hashed to
  * a signature of sign-bits against deterministic pseudo-random
  * hyperplanes; candidate search touches only matching buckets, turning a
  * 100 TB scan per query into a bucket-join. (IVF would need a trained
  * codebook; hyperplane LSH is data-independent and needs no fit step.)
  *
  * Every dot product here is the native codegen expression
  * [[graft.functions.DotProduct]] (`graft_dot`): an ordered per-row loop,
  * whole-stage codegen, NO shuffle — signature generation is a pure
  * projection over the scan. The ascending-index accumulation is the
  * identical FP-operation sequence to DuckDB's `list_reduce` fold, so
  * signatures and cosines are bit-identical to the oracle REGARDLESS of
  * partitioning, spill, or retries (the earlier explode→hash-aggregate
  * formulation guaranteed that order only while a group's accumulator
  * stayed in one partial).
  */
object Similarity {

  /** Cosine similarity between an embedding column and a broadcast-literal
    * query vector (float inputs widened to double element-wise). */
  def cosineToQuery(emb: Column, query: Seq[Double]): Column = {
    val q = array(query.map(lit): _*)
    val nq = lit(math.sqrt(query.map(x => x * x).sum))
    dotp(emb, q) / (sqrt(dotp(emb, emb)) * nq)
  }

  /** Pairwise cosine between two embedding columns (same ordered-loop
    * fold as [[cosineToQuery]]). */
  def cosinePair(a: Column, b: Column, dim: Int): Column =
    dotp(a, b) / (sqrt(dotp(a, a)) * sqrt(dotp(b, b)))

  /** Exact brute-force top-k by cosine similarity (TakeOrderedAndProject —
    * per-partition top-k then a k-row merge, no global sort). */
  def bruteForceTopK(df: DataFrame, idCol: String, embCol: String,
                     query: Seq[Double], k: Int): DataFrame =
    df.select(col(idCol), cosineToQuery(col(embCol), query).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)

  /** Deterministic pseudo-random hyperplane component for (plane p, dim d):
    * the first 4 bytes of md5("p:d") as a uint32, mapped affinely to
    * [-1, 1). md5 — not a JVM hash — so the DuckDB oracle can regenerate
    * the identical planes; the mapping is exact in double arithmetic
    * (32-bit integer scaled by powers of two), so both engines hold
    * bit-identical components. */
  private[graft] def planeComponent(p: Int, d: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val v = ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
      ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)
    v.toDouble / 4294967296.0 * 2 - 1
  }

  /** The literal plane vector for plane `p` over `dim` dims. Constant-
    * folded to one array literal per plane — not re-built per row. */
  private def planeLit(p: Int, dim: Int): Column =
    array((0 until dim).map(d => lit(planeComponent(p, d))): _*)

  /** LSH bucket signature: `planes` sign bits packed into a long. A pure
    * projection — `planes` ordered-loop dot products per row, no shuffle,
    * no state; this IS the 100 TB path (used verbatim by
    * [[withHyperplaneSig]] over whole tables). */
  def hyperplaneSig(emb: Column, dim: Int, planes: Int = 16): Column =
    (0 until planes).map { p =>
      when(dotp(emb, planeLit(p, dim)) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** Signature + L2 norm over a whole table: one shuffle-free projection.
    * The norm rides along (`graft_dot(e, e)`) so downstream pair scoring
    * pays one dot product per pair instead of re-deriving two norms.
    * Returns (id, e = original embedding, nrm, sig). */
  def withHyperplaneSig(df: DataFrame, idCol: String, embCol: String,
                        dim: Int, planes: Int): DataFrame = {
    val e = col(embCol)
    Parallelism.fanOut(df).select(
      col(idCol).as("id"), e.as("e"),
      sqrt(dotp(e, e)).as("nrm"),
      hyperplaneSig(e, dim, planes).as("sig"))
  }

  /** Index build: embeddings + their materialized LSH signature. At
    * 100 TB this frame is written ONCE, bucketed/partitioned by `__sig`
    * (e.g. `df.write.bucketBy(4096, "__sig")`), so each query's Hamming
    * ball prunes to matching buckets at scan time instead of re-hashing
    * the whole table per query. */
  def buildIndex(df: DataFrame, idCol: String, embCol: String,
                 dim: Int, planes: Int = 12): DataFrame =
    withHyperplaneSig(df, idCol, embCol, dim, planes)
      .select(col("id").as(idCol), col("e").as(embCol), col("sig").as("__sig"))

  /** Multi-table signatures over a whole table — OR-amplification, the
    * standard fix for single-table hyperplane recall on isotropic data
    * (a wider Hamming ball admits most buckets; more independent tables
    * don't). Table t uses global plane indices t·planes+p, so every
    * table hashes with distinct planes. Still one shuffle-free
    * projection. Returns (id, e, nrm, sig0..sig{T-1}). */
  def withHyperplaneSigs(df: DataFrame, idCol: String, embCol: String,
                         dim: Int, planes: Int, tables: Int): DataFrame = {
    val e = col(embCol)
    val sigs = (0 until tables).map { t =>
      (0 until planes).map { p =>
        when(dotp(e, planeLit(t * planes + p, dim)) >= 0, lit(1L << p))
          .otherwise(lit(0L))
      }.reduce(_ bitwiseOR _).as(s"sig$t")
    }
    Parallelism.fanOut(df).select(
      Seq(col(idCol).as("id"), e.as("e"), sqrt(dotp(e, e)).as("nrm")) ++ sigs: _*)
  }

  /** Per-table signatures of a literal query vector. */
  def querySigs(query: Seq[Double], planes: Int, tables: Int): Seq[Long] =
    (0 until tables).map { t =>
      (0 until planes).map { p =>
        val dot = query.indices
          .map(d => query(d) * planeComponent(t * planes + p, d)).sum
        if (dot >= 0) 1L << p else 0L
      }.reduce(_ | _)
    }

  /** Multi-table ANN top-k: a row is a candidate when ANY table's
    * signature exactly matches the query's (classic OR-amplified LSH —
    * each table prunes to one bucket of ~2^-planes of the data); exact
    * cosine reranks candidates only. */
  def multiTableTopK(df: DataFrame, idCol: String, embCol: String,
                     query: Seq[Double], k: Int,
                     planes: Int = 8, tables: Int = 4): DataFrame = {
    val sigs = withHyperplaneSigs(df, idCol, embCol, query.length, planes, tables)
    val qs = querySigs(query, planes, tables)
    val anyMatch = (0 until tables)
      .map(t => col(s"sig$t") === lit(qs(t)))
      .reduce(_ || _)
    sigs.filter(anyMatch)
      .select(col("id").as(idCol),
        cosineToQuery(col("e"), query).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Signature of a literal query vector (same planes as buildIndex). */
  def querySig(query: Seq[Double], planes: Int = 12): Long =
    (0 until planes).map { p =>
      val dot = query.indices.map(d => query(d) * planeComponent(p, d)).sum
      if (dot >= 0) 1L << p else 0L
    }.reduce(_ | _)

  /** Every signature within Hamming distance ≤ d of `sig` over `planes`
    * bits — Σ C(planes, i) values (planes=12, d=4 → 794). Small enough
    * to enumerate for practical (planes, d). */
  def hammingBall(sig: Long, planes: Int, d: Int): Seq[Long] =
    (0 to d).flatMap(r => (0 until planes).combinations(r)
      .map(_.foldLeft(sig)((s, b) => s ^ (1L << b))))

  /** Query stage against a built index: the Hamming ball is ENUMERATED
    * into an IN-list on the materialized signature, so the filter
    * pushes into the scan — on an index written
    * `partitionBy/bucketBy("__sig")` this prunes to the ball's
    * partitions at planning time (a runtime `bit_count(xor) <= d`
    * expression filter would read every row). Exact cosine only on
    * survivors. Semantically identical to the bit-count filter. */
  def queryIndex(index: DataFrame, idCol: String, embCol: String,
                 query: Seq[Double], k: Int, planes: Int = 12,
                 maxHammingDist: Int = 2): DataFrame = {
    val ball = hammingBall(querySig(query, planes), planes, maxHammingDist)
    index
      .filter(col("__sig").isin(ball: _*))
      .select(col(idCol), cosineToQuery(col(embCol), query).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** ANN top-k via LSH: build + query in one shot (the one-off path;
    * recall is tunable via planes/maxHammingDist — candidates shrink
    * ~2^-planes per extra plane). */
  def lshTopK(df: DataFrame, idCol: String, embCol: String,
              query: Seq[Double], k: Int, planes: Int = 12,
              maxHammingDist: Int = 2): DataFrame =
    queryIndex(buildIndex(df, idCol, embCol, query.length, planes),
      idCol, embCol, query, k, planes, maxHammingDist)

  /** IVF(-flat) coarse quantization: every vector is assigned to its
    * nearest centroid by cosine. The argmax is a `max_by` HASH AGGREGATE
    * over the |D|·nCents scored rows (centroids broadcast) — partial
    * aggregation collapses each vector's candidates map-side, so the
    * shuffle carries one row per vector and nothing ever sorts (a window
    * row_number spelling would sort |D|·nCents rows). Ties break to the
    * lowest cent_id via the (cos, −cent_id) struct ordering — the same
    * deterministic rank the DuckDB oracle replays, exact because both
    * engines fold the dot products in the same order. Returns
    * (id, e, nrm, cent).
    *
    * At 100 TB the assigned frame is written ONCE, partitioned by
    * `cent` (`df.write.partitionBy("cent")`), so a probe's scan reads
    * nprobe/nCents of the corpus via partition pruning — the IVF
    * counterpart of [[buildIndex]]'s signature bucketing. */
  def ivfAssign(df: DataFrame, idCol: String, embCol: String,
                cents: DataFrame): DataFrame = {
    val e = col(embCol)
    val scored = Parallelism.fanOut(df)
      .select(col(idCol).as("id"), e.as("e"), sqrt(dotp(e, e)).as("nrm"))
      .crossJoin(broadcast(cents))
      .withColumn("__cos_c",
        dotp(col("e"), col("cemb")) / (col("nrm") * col("cnrm")))
    scored.groupBy(col("id")).agg(
      max_by(struct(col("e"), col("nrm"), col("cent_id")),
        struct(col("__cos_c"), -col("cent_id"))).as("__best"))
      .select(col("id"), col("__best.e").as("e"), col("__best.nrm").as("nrm"),
        col("__best.cent_id").as("cent"))
  }

  /** Seed centroids: the vectors with id < nCents, normalized metadata
    * attached. Deterministic by construction (both engines read the same
    * rows), which is what lets the DuckDB oracle replay the whole index. */
  def ivfSeedCentroids(df: DataFrame, idCol: String, embCol: String,
                       nCents: Int): DataFrame = {
    val e = col(embCol)
    df.filter(col(idCol) < nCents)
      .select(col(idCol).as("cent_id"), e.as("cemb"),
        sqrt(dotp(e, e)).as("cnrm"))
  }

  /** IVF ANN top-k: rank centroids by cosine to the query, keep the
    * nprobe best, score exactly ONLY the vectors assigned to those
    * centroids. Probe selection runs over nCents rows (metadata-sized);
    * the candidate filter is a broadcast semi-join on `cent` — at scale,
    * partition pruning on the materialized assignment. Recall is
    * tunable via nprobe (nprobe = nCents degenerates to brute force). */
  def ivfTopK(df: DataFrame, idCol: String, embCol: String,
              query: Seq[Double], k: Int,
              nCents: Int = 16, nprobe: Int = 4): DataFrame = {
    val cents = ivfSeedCentroids(df, idCol, embCol, nCents)
    val assigned = ivfAssign(df, idCol, embCol, cents)
    val q = array(query.map(lit): _*)
    val nq = lit(math.sqrt(query.map(x => x * x).sum))
    val probed = cents
      .withColumn("__cos_q", dotp(col("cemb"), q) / (col("cnrm") * nq))
      .orderBy(col("__cos_q").desc, col("cent_id"))
      .limit(nprobe)
      .select(col("cent_id").as("cent"))
    assigned
      .join(broadcast(probed), Seq("cent"), "left_semi")
      .select(col("id").as(idCol), (dotp(col("e"), q) / (col("nrm") * nq)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Materializes the IVF assignment as a parquet index PARTITIONED BY
    * centroid — the on-disk layout [[ivfTopK]]'s scaladoc promises at
    * scale. Each inverted list is its own partition directory, so a
    * probe touches exactly its nprobe directories and query cost is
    * O(probed lists), independent of |index|. Write once (one
    * assignment pass + one shuffle-free partitioned write), probe
    * forever. */
  def ivfWriteIndex(df: DataFrame, idCol: String, embCol: String,
                    nCents: Int, path: String): Unit = {
    val cents = ivfSeedCentroids(df, idCol, embCol, nCents)
    ivfAssign(df, idCol, embCol, cents)
      .write.mode("overwrite").partitionBy("cent").parquet(path)
    // centroids persist WITH the index (underscore-prefixed, so the data
    // scan never lists them) — a probe must not touch the base table
    cents.coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_centroids")
  }

  /** Probes a [[ivfWriteIndex]] index. Centroid ranking runs on the
    * index's OWN persisted centroid sidecar (metadata-sized — the base
    * table is never listed, let alone scanned, so query cost really is
    * O(probed lists), independent of |base|) and the nprobe winners
    * land in the scan filter as LITERALS — partition pruning happens at
    * planning time (PartitionFilters in the scan node, pinned in
    * PlanShapeSpec), so unprobed lists are never read, or even listed.
    * The nprobe-int collect is sketch-sized driver traffic, the same
    * move Spark's own dynamic partition pruning makes with its subquery
    * broadcast. Scoring replays [[ivfTopK]]'s ordered-fold dot products
    * on the read-back vectors — bit-identical results. */
  def ivfQueryIndex(spark: org.apache.spark.sql.SparkSession,
                    idCol: String, embCol: String,
                    path: String, query: Seq[Double], k: Int,
                    nprobe: Int = 4): DataFrame = {
    val cents = spark.read.parquet(s"$path/_centroids")
    val q = array(query.map(lit): _*)
    val nq = lit(math.sqrt(query.map(x => x * x).sum))
    val probeIds = cents
      .withColumn("__cos_q", dotp(col("cemb"), q) / (col("cnrm") * nq))
      .orderBy(col("__cos_q").desc, col("cent_id"))
      .limit(nprobe)
      .select(col("cent_id")).collect().map(_.getLong(0))
    spark.read.parquet(path)
      .filter(col("cent").isin(probeIds: _*))
      .select(col("id").as(idCol),
        (dotp(col("e"), q) / (col("nrm") * nq)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Incremental ANN ingest — the daily-crawl shape for EMBEDDINGS,
    * mirroring [[graft.operators.Dedup.incrementalNearDup]]'s contract:
    * classify a NEW batch of vectors against a PERSISTED corpus index
    * ([[ivfWriteIndex]]) without re-assigning — or even scanning — the
    * corpus base table. The corpus enters ONLY through the index path
    * (assignments + `_centroids` sidecar); there is deliberately no
    * corpus-frame parameter, so a corpus edit invisible to the
    * persisted index cannot change the answer.
    *
    * Per batch vector: rank the sidecar centroids (metadata-sized,
    * collected once — the same driver round-trip [[ivfQueryIndex]]
    * makes, and the same move Spark's own DPP makes with its subquery
    * broadcast), exact-score ONLY the nprobe best inverted lists, emit
    * the single best corpus neighbor and a dup_base/keep status at
    * `threshold`.
    *
    * Scale shape: for compact codebooks (≤ `literalProbeMax`
    * centroids) the probe list is ONE projection over the
    * broadcast-literal centroids (an nCents-element struct array sorted
    * per row — no explode→window, so no batch shuffle); past that the
    * literal expression tree outgrows codegen, so the probe switches to
    * a broadcast crossJoin + rank window (map-side WindowGroupLimit
    * keeps each task's local top-nprobe; ONE batch-sized shuffle on
    * batch id, rows are (id, cos, cent) — narrow). Both paths rank by
    * the identical (cos DESC, cent_id ASC) order over the identical
    * widened-float dot products, so they are answer-equivalent
    * (spec-pinned). The candidate join streams the index scan PRUNED
    * at planning time to the union of probed partitions against the
    * broadcast batch-probe frame (daily batch ≪ corpus — when a batch
    * outgrows broadcast, flip the build side and the same plan
    * shuffles on `cent`); the top-1 is a max_by agg keyed on batch id
    * (map-side partials, one batch-sized shuffle). Ties: probe ranking
    * (cos DESC, cent_id ASC), match (cos DESC, id ASC) — both replayed
    * by the DuckDB oracle. All cosines ride the ordered `graft_dot`
    * fold, so candidates, scores and statuses are bit-deterministic at
    * any partitioning.
    *
    * COST MODEL (why the index must be written with corpus-scaled
    * nCents): a probe scores |batch|·nprobe·|corpus|/nCents candidate
    * pairs. At fixed nCents that is linear in |corpus| PER BATCH ROW —
    * quadratic end-to-end as both grow. Sizing nCents ∝ |corpus|
    * (constant-size inverted lists — IVF's own design rule) keeps the
    * candidate volume |batch|·nprobe·listSize, linear in the batch. */
  def ivfBatchMatch(spark: org.apache.spark.sql.SparkSession,
                    idCol: String, embCol: String,
                    path: String, batch: DataFrame,
                    nprobe: Int = 4,
                    threshold: Double = 0.30,
                    literalProbeMax: Int = 64): DataFrame = {
    val centsDf = spark.read.parquet(s"$path/_centroids")
    val cents = centsDf
      .select(col("cent_id"), col("cemb"), col("cnrm"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble), r.getDouble(2)))
      .sortBy(_._1)
    require(cents.nonEmpty, s"no _centroids sidecar under $path")
    val e = col(embCol)
    val b = batch.select(col(idCol).as("__bid"), e.as("__be"),
      sqrt(dotp(e, e)).as("__bnrm"))
    val probed = (if (cents.length <= literalProbeMax) {
      // (cos, -cent_id) structs: sort_array desc = cos DESC, cent_id ASC
      val centScores = array(cents.map { case (cid, cemb, cnrm) =>
        struct(
          (dotp(col("__be"), array(cemb.map(lit): _*)) /
            (col("__bnrm") * lit(cnrm))).as("c"),
          lit(-cid).as("nid"))
      }: _*)
      b.withColumn("__probe",
          slice(sort_array(centScores, asc = false), 1, nprobe))
        .select(col("__bid"), col("__be"), col("__bnrm"),
          explode(col("__probe.nid")).as("__ncid"))
        .withColumn("cent", -col("__ncid")).drop("__ncid")
    } else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__bid"))
        .orderBy(col("__cos_c").desc, col("cent_id"))
      b.crossJoin(broadcast(centsDf
          .select(col("cent_id"), col("cemb"), col("cnrm"))))
        .withColumn("__cos_c",
          dotp(col("__be"), col("cemb")) / (col("__bnrm") * col("cnrm")))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= nprobe)
        .select(col("__bid"), col("__be"), col("__bnrm"),
          col("cent_id").as("cent"))
    }).pinned
    val probeCents = probed.select(col("cent")).distinct()
      .collect().map(_.getLong(0))
    val idx = spark.read.parquet(path)
    val cand = idx
      .filter(col("cent").isin(probeCents: _*))
      .join(broadcast(probed
        .withColumn("cent", col("cent").cast(idx.schema("cent").dataType))),
        Seq("cent"))
      .withColumn("__cs",
        dotp(col("__be"), col("e")) / (col("__bnrm") * col("nrm")))
    cand.groupBy(col("__bid"))
      .agg(max_by(struct(col("id"), col("__cs")),
        struct(col("__cs"), -col("id"))).as("__best"))
      .select(col("__bid").as(idCol),
        col("__best.id").as("match_id"),
        round(col("__best.__cs"), 6).as("cos_sim"),
        when(col("__best.__cs") >= threshold, "dup_base")
          .otherwise("keep").as("status"))
  }

  /** All-pairs near-duplicate detection by embedding cosine within LSH
    * buckets (bucket equi-join, verified exactly). `maxBucket` caps
    * per-bucket membership — one degenerate bucket (e.g. the all-zeros
    * region) would otherwise go quadratic at scale; capped buckets are
    * dropped, trading recall for a bounded candidate count (same policy
    * as Dedup.minhashPairs). Per-pair scoring is one `graft_dot` in the
    * join's output projection — the only shuffle in this operator is the
    * bucket equi-join itself, keyed on the 64-bit signature.
    *
    * The bucket-size gate is an unordered window count riding the
    * bucket shuffle (one pass, spills instead of buffering a degenerate
    * bucket), and the gated signature frame is materialized ONCE before
    * the self-join — otherwise Catalyst plans the signature projection
    * (planes × `graft_dot` per row) separately for the count and for
    * EACH join side (~3× the dot products; measured ~35% slower at
    * sf0.1). This is the in-query form of the production shape, where
    * the signature frame is written once, bucketed by `sig`
    * ([[buildIndex]]). */
  def cosineNearDupPairs(df: DataFrame, idCol: String, embCol: String,
                         dim: Int, planes: Int = 12,
                         threshold: Double = 0.95,
                         maxBucket: Int = 1000): DataFrame = {
    val bucketW = org.apache.spark.sql.expressions.Window.partitionBy(col("sig"))
    val sig = withHyperplaneSig(df, idCol, embCol, dim, planes)
      .withColumn("__n", count(lit(1)).over(bucketW))
      .filter(col("__n") <= maxBucket)
      .drop("__n")
      .pinned
    val a = sig.select(col("sig"), col("id").as("id_a"), col("e").as("e_a"),
      col("nrm").as("nrm_a"))
    val b = sig.select(col("sig"), col("id").as("id_b"), col("e").as("e_b"),
      col("nrm").as("nrm_b"))
    a.join(b, Seq("sig")).filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim",
        dotp(col("e_a"), col("e_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_sim"), 6).as("cos_sim"))
  }

  /** Distributed Lloyd's k-means over an embedding column, with every
    * number cross-engine deterministic — the capability behind the
    * reference's (skipped) k-means kernel (`sdc/tests/test_ml.py:131`).
    *
    * Determinism recipe: vectors are quantized once to SCALED integer-
    * valued doubles (floor(x·1e6 + 0.5) — the explicit op sequence, not
    * round(), which is decimal HALF_UP in Spark but float-multiply in
    * DuckDB). Per-dim sums of those integers stay < 2^53, so the
    * centroid means are exact double functions of the data in ANY
    * summation order — the one FP hazard of a distributed k-means (the
    * reduction tree) is gone by construction. Distances run in scaled
    * space (argmin is scale-invariant): ‖x‖² − 2·x·c + ‖c‖² via the
    * ordered `graft_dot` fold, ties broken by centroid id.
    *
    * Scale shape per iteration: the centroids ride in the task closure
    * as array literals (k × dim ≤ 2^20 doubles, [[lloydAssign]]),
    * assignment is a projection, update is a (cent, pos) hash-agg whose
    * k×dim partial rows are all that crosses the wire; classic Lloyd on
    * Spark.
    * Seeds = the k smallest ids (deterministic, replayable by SQL).
    * Returns (cent, n, c_sum): cluster sizes + centroid checksum. */
  def kmeans(df: DataFrame, idCol: String, embCol: String,
             dim: Int = 64, k: Int = 4, iters: Int = 2): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val pts = lloydPoints(df, idCol, embCol, dim)
    var cents = collectCents(lloydSeeds(pts, k))
    require(cents.nonEmpty, "kmeans: empty points frame — df has no rows")
    var a: DataFrame = null
    for (_ <- 0 until iters) {
      // a is NOT pinned: each round's assignment has one consumer
      // (update), and the driver-resident centroids already sever the
      // lineage chain — materializing the |pts|-row frame every round
      // bought nothing but the pin job. lloydResult recomputes the
      // final assignment once from the persisted pts (bit-identical:
      // the same (dist, cent) total-order argmin).
      a = lloydAssign(pts, cents)
      // ONE job per iteration (r16): the k×dim update collects to the
      // driver (k rows — metadata-sized at any corpus scale) instead
      // of pinning to executor blocks; the next assignment takes the
      // centroids as array literals, so the per-iteration pin job AND
      // the per-iteration broadcast-build job both disappear. Collected
      // doubles round-trip through literals bit-exactly.
      cents = collectCents(lloydUpdate(a))
    }
    val res = lloydResult(a, centsFrame(df.sparkSession, cents), dim)
    pts.unpersist(false)
    res
  }

  /** Convergence-GATED Lloyd's k-means — the loop shape a real
    * clustering job runs: iterate until centroid movement < ε, bounded
    * at `maxIters`. Same quantized-integer arithmetic as [[kmeans]];
    * the gate compares relative L1 centroid movement
    * Σ|Δc| / Σ|c| < epsMilli/1000 where each |Δc| and |c| term is
    * quantized to a long (floor(|x|·1e3 + 0.5)) BEFORE the order-free
    * sums, and the comparison itself is integer cross-multiplication —
    * the stopping decision is bit-deterministic under any partitioning,
    * spill, or retry, and a DuckDB oracle can replay it exactly by
    * unrolling rounds. (Each per-dim delta is one IEEE subtract of two
    * exact-rational doubles — both engines round it identically.)
    *
    * An empty cluster drops out of the update (standard Lloyd); its
    * vanished centroid contributes nothing to either gate sum — the
    * movement join is on surviving centroid ids.
    *
    * Executor-loss behavior (r16): each iterate's centroids are
    * COLLECTED to the driver (k × dim doubles — metadata-sized), so no
    * executor holds loop state at all; a lost executor re-runs at most
    * the in-flight update job from the persisted points. The gate
    * replays over identical bits either way — never a silently
    * re-randomized trajectory.
    *
    * @return (result frame as [[kmeans]] — (cent, n, c_sum), iterations
    *         actually run; `maxIters` when the gate never fired). */
  def kmeansConverged(df: DataFrame, idCol: String, embCol: String,
                      dim: Int = 64, k: Int = 4, epsMilli: Long,
                      maxIters: Int): (DataFrame, Int) = {
    require(epsMilli > 0 && maxIters >= 1, s"bad gate ($epsMilli, $maxIters)")
    val pts = lloydPoints(df, idCol, embCol, dim)
    var cents = collectCents(lloydSeeds(pts, k))
    require(cents.nonEmpty,
      "kmeansConverged: empty points frame — df has no rows")
    var a: DataFrame = null
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      // unpinned for the same reason as in [[kmeans]]'s loop
      a = lloydAssign(pts, cents)
      // ONE job per iteration (r16): the update's k rows collect to
      // the driver and the gate runs in driver arithmetic — the old
      // shape paid a pin job for `next` PLUS a gate job (explode +
      // join over two pinned k-row frames) every round. The gate math
      // is the identical op sequence on the identical doubles
      // (java.lang.Math.floor/abs are exactly Spark's FLOOR/ABS on
      // DOUBLE; the quantized terms are nonnegative longs, so the sums
      // are order-free integer adds), and the integer
      // cross-multiplication compare is unchanged — the stopping
      // decision stays bit-deterministic.
      val next = collectCents(lloydUpdate(a))
      // An empty points frame leaves the update with zero rows — name
      // the cause instead of gating on an empty sum.
      require(next.nonEmpty,
        "kmeansConverged: empty points frame — df has no rows")
      // movement joins on surviving centroid ids (next ⊆ old by
      // construction: assignments only pick from the old list)
      val old = cents.toMap
      var l1 = 0L
      var mass = 0L
      for {
        (ct, cn) <- next
        co <- old.get(ct).toSeq
        i <- cn.indices
      } {
        l1 += math.floor(math.abs(cn(i) - co(i)) * 1e3 + 0.5).toLong
        mass += math.floor(math.abs(cn(i)) * 1e3 + 0.5).toLong
      }
      cents = next
      it += 1
      converged = BigInt(l1) * 1000 < BigInt(epsMilli) * BigInt(mass)
    }
    val res = lloydResult(a, centsFrame(df.sparkSession, cents), dim)
    pts.unpersist(false)
    (res, it)
  }

  /** Quantized point frame (id, e, xx=‖e‖²), fanned out and cached for
    * the iteration's repeated scans. `e` is `graft_quantize`'s one loop
    * per row ([[graft.functions.QuantizeArray]]): floor(x·1e6 + 0.5) per
    * element, bit-identical to the `dim` unrolled element_at terms it
    * replaced. */
  private[graft] def lloydPoints(df: DataFrame, idCol: String,
                                 embCol: String, dim: Int): DataFrame = {
    Parallelism.fanOut(df)
      .select(col(idCol).cast("long").as("id"),
        quantize(col(embCol), dim, 1e6).as("e"))
      .withColumn("xx", dotp(col("e"), col("e")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Seeds = the k smallest ids, whatever the id space —
    * TakeOrderedAndProject over (id), not a filter(id < k) that assumes
    * ids start at 0. Deterministic, replayable by SQL. */
  private def lloydSeeds(pts: DataFrame, k: Int): DataFrame =
    pts.orderBy(col("id")).limit(k)
      .select(col("id").cast("int").as("cent"), col("e").as("ce"))

  /** Collect a (cent, ce) frame to the driver, cent-ascending. k rows ×
    * dim doubles — metadata-sized at any corpus scale; the doubles are
    * the exact bits the executors computed. */
  private def collectCents(c: DataFrame): Seq[(Int, Seq[Double])] =
    c.select(col("cent"), col("ce")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1).toSeq

  /** Driver centroids back as a LocalRelation frame (for
    * [[lloydResult]]'s unchanged join/rounding expressions). */
  private def centsFrame(spark: org.apache.spark.sql.SparkSession,
                         cents: Seq[(Int, Seq[Double])]): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("cent", IntegerType, nullable = false),
      StructField("ce", ArrayType(DoubleType, containsNull = false))))
    spark.createDataFrame(
      java.util.Arrays.asList(cents.map { case (ct, ce) =>
        org.apache.spark.sql.Row(ct, ce) }: _*), schema)
  }

  /** Most centroid doubles (k·dim) [[lloydAssign]] accepts: the
    * centroids are literals in every assignment task's closure, so the
    * bound keeps that closure under 8 MB. */
  private[graft] val MaxCentroidDoubles: Long = 1L << 20

  /** Per-row nearest-centroid assignment: one `graft_nearest` projection
    * over the points — no broadcast, no job, nothing shuffled (the
    * iteration's only exchange is [[lloydUpdate]]'s k×dim partial agg).
    *
    * The driver-resident centroids go in as three array literals, cent-
    * ascending: ids, vectors and ‖c‖². Spark passes array literals to the
    * generated code by reference, so every iteration generates the same
    * assignment class and the codegen cache compiles it once, not once
    * per iteration ([[graft.functions.NearestCentroid]]).
    * ‖c‖² is [[graft.functions.DotProduct]]'s own eval run on the driver,
    * the exact double Catalyst constant-folded for the unrolled spelling
    * this replaced. `graft_nearest` picks the first minimum of the same
    * distance op sequence, so distance ties go to the smallest cent, a
    * vanished (empty-cluster) centroid is simply absent from the lists,
    * and a single centroid wins without a distance.
    *
    * Contract: 1 ≤ k and k·dim ≤ [[MaxCentroidDoubles]] (2^20 doubles). */
  private[graft] def lloydAssign(pts: DataFrame,
                                 cents: Seq[(Int, Seq[Double])]): DataFrame = {
    require(cents.nonEmpty, "lloydAssign: no centroids")
    val size = cents.map(_._2.length.toLong).sum
    require(size <= MaxCentroidDoubles,
      s"lloydAssign: ${cents.size} centroids hold $size doubles, over the " +
        s"$MaxCentroidDoubles-double bound on literal centroids")
    // the collected Seq[Double] holds boxed doubles (null for a null
    // element): the java.lang.Double view keeps them as they are
    val vecs = cents.map(_._2.asInstanceOf[Seq[java.lang.Double]])
    val norms = vecs.map { v =>
      val l = Literal.create(v, ArrayType(DoubleType, containsNull = true))
      DotProduct(l, l).eval().asInstanceOf[java.lang.Double]
    }
    pts.select(col("id"),
      nearest(col("e"), col("xx"), typedLit(cents.map(_._1)), typedLit(vecs),
        typedLit(norms)).as("cent"),
      col("e"))
  }

  private def lloydUpdate(a: DataFrame): DataFrame =
    a.select(col("cent"), posexplode(col("e")))
      .groupBy(col("cent"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("col")).as("s"))
      .withColumn("c", col("s") / col("n"))
      .groupBy(col("cent"))
      // k rows — the sort_array/getField rebuild is driver-scale work
      .agg(sort_array(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("cent"), col("pc").getField("c").as("ce"))

  private def lloydResult(a: DataFrame, cents: DataFrame,
                          dim: Int): DataFrame = {
    val cSum = (0 until dim).map(d => element_at(col("ce"), d + 1))
      .reduce(_ + _)
    a.groupBy(col("cent")).agg(count(lit(1)).as("n"))
      .join(cents.select(col("cent"),
        round(cSum / lit(1e6), 6).as("c_sum")), Seq("cent"))
      .orderBy(col("cent"))
      .pinned
  }
}
