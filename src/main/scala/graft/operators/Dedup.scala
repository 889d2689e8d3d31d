package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Pin.PinOps

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Design for 100 TB:
  *  - exact dedup is a single hash-shuffle on a 128-bit digest (never on
  *    the full text);
  *  - MinHash/LSH turns all-pairs similarity into an equi-join on
  *    (band, bandHash) — the only shuffle key — so cost is driven by
  *    bucket sizes, not |D|²;
  *  - candidate verification re-checks true Jaccard only inside buckets.
  * Each doc's shingle set and minhashes come from native codegen
  * expressions in one per-row projection, and a candidate pair is
  * verified by a sorted merge ([[graft.functions.ShingleKernels]]): no
  * UDFs, no interpreted higher-order functions, no driver-side loops.
  */
object Dedup {

  private val bloomViewId = new java.util.concurrent.atomic.AtomicLong()

  /** One connected-components run: algorithm, rounds, and whether label
    * propagation auto-escalated to star contraction — the signal that
    * the pair graph is chain-shaped and callers should start on
    * [[connectedComponentsStar]] directly. */
  case class CcRun(algo: String, rounds: Int, escalated: Boolean)

  private val LabelProp = "cc.labelprop"
  private val Star = "cc.star"

  /** A CC loop's [[Loop.Run]] as a [[CcRun]]: label propagation
    * escalated exactly when its gate never fired. */
  private[graft] def ccRun(r: Loop.Run): Option[CcRun] = r.op match {
    case LabelProp => Some(CcRun("labelprop", r.rounds, !r.converged))
    case Star => Some(CcRun("star", r.rounds, escalated = false))
    case _ => None
  }

  /** [[Loop.drain]]'s CC runs as (jobGroup, run) pairs; the drain drops
    * the other loops' records. */
  def drainCcRuns(): Seq[(String, CcRun)] =
    Loop.drain().flatMap { case (g, r) => ccRun(r).map(g -> _) }

  /** Normalized word array — the ONE normalization definition, shared
    * with the text subsystem (TF-IDF tokens == shingle words by
    * construction, not by parallel regex copies). */
  private def words(text: Column): Column = TextOps.normWords(text)

  /** MinHash permutation family: mh_s(h) = (a_s·(h mod P) + b_s) mod P
    * over a 32-bit base hash h — the textbook Carter-Wegman affine
    * construction over Z_P, so each shingle costs ONE md5 plus k
    * multiply-adds (not k hashes). P is the Mersenne prime 2^31−1;
    * operands stay < 2^31, so every product is < 2^62 — exact signed-64
    * arithmetic in both this engine and the DuckDB oracle. Coefficients
    * come from a fixed-seed LCG (JVM-spec deterministic) and are baked
    * as literals into both plans.
    *
    * WHY P = 2^31−1 and h reduced FIRST (r12 fix): the previous family
    * used P = 2^61−1 with a_s < 2^30 over unreduced h < 2^32 — but then
    * a_s·h + b_s < P whenever a_s < 2^29, i.e. for ~half the drawn
    * coefficients THE MODULUS NEVER WRAPS and the map is monotone in h:
    * those "independent" permutations all select the SAME argmin
    * shingle (the minimum base hash) and rank documents identically.
    * Measured before the fix: sorted-neighborhood passes 1 and 3 agreed
    * on all 500 ranks at sf0.01, and a 4th pass added ZERO new
    * candidates. Over Z_{2^31−1} with h reduced into the field first,
    * a_s·h' exceeds P for every a_s ≥ 2 across the domain — the wrap
    * count varies with h', restoring real mixing, pass independence,
    * and the MinHash identity P[mh(A)=mh(B)] ≈ J(A,B) the banding and
    * chain-recall math assume. (Reducing h mod P folds only 2 residues
    * per value — negligible at shingle-set sizes, identical in both
    * engines.) */
  val MinhashP: Long = graft.functions.ShingleKernels.MinhashP

  /** The affine coefficient family: the first `k` (a, b) draws of the
    * seed-42 stream, after discarding the first `skip` draws. skip = 0
    * (every production path) keeps the historical coefficients;
    * skip = 16 yields a family DISJOINT from the banding family's
    * `minhashCoeffs(16)` — used by recall-ladder measurements so the
    * chain sort orders share no permutation with the banded-pair
    * denominator they are scored against (sharing biases recall up:
    * a pair surfaced by band (mh0, mh1) is near-guaranteed adjacent in
    * the mh0/mh1 chain orders). */
  def minhashCoeffs(k: Int, skip: Int = 0): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42L)
    Seq.fill(skip + k)((math.floorMod(rnd.nextLong(), MinhashP - 1) + 1,
      math.floorMod(rnd.nextLong(), MinhashP))).drop(skip)
  }

  /** DuckDB spelling of one minhash term, (a·(h mod P) + b) mod P, for
    * an int64 expression `h` — all operands non-negative, so `%` matches
    * pmod. [[graft.functions.minhash]] computes the same terms. */
  private[graft] def minhashTermSql(h: String, a: Long, b: Long): String =
    s"($a*($h % $MinhashP) + $b) % $MinhashP"

  /** 32-bit base hash of a shingle string — the shared cross-engine
    * md5 fold ([[graft.functions.md5Fold32]]). */
  private[graft] def shingleBaseHash(s: Column): Column =
    graft.functions.md5Fold32(s)

  /** One row per (id, w-shingle string), entirely whole-stage-codegen
    * (split/posexplode/concat_ws/get — no higher-order functions): the
    * word array is exploded with position; start positions are
    * pos ≤ n−w, plus pos = 0 for short docs, where `get` past the end is
    * null and concat_ws skips nulls, so the short-doc shingle is the
    * whole doc. Every non-null doc yields ≥1 row (split of "" is [""]),
    * so no id is lost. [[graft.functions.ShingleSet]] computes the same
    * shingles' hashes inside one row. */
  private[graft] def shingleRows(df: DataFrame, idCol: String, textCol: String,
                                 w: Int): DataFrame =
    df.select(col(idCol).as("id"), words(col(textCol)).as("ws"))
      .select(col("id"), col("ws"), posexplode(col("ws")))
      .filter(col("pos") + w <= size(col("ws")) ||
        (size(col("ws")) < w && col("pos") === 0))
      .select(col("id"), concat_ws(" ",
        Seq(col("col")) ++ (1 until w).map(j => get(col("ws"), col("pos") + j)): _*)
        .as("shingle"))

  /** The per-doc shingle-set frame of the near-dup family:
    * (id, sh, mh0..mh{k-1}) for `k = coeffs.size`. `sh` is the ascending,
    * distinct set of 32-bit [[shingleBaseHash]]es of the doc's w-shingles
    * ([[graft.functions.shingleSet]]) and `mh_s` its affine minhash under
    * `coeffs(s)` ([[graft.functions.minhash]]). Null-text docs are
    * dropped, then the fan-out, then one projection: no explode, no
    * aggregate and no shuffle of its own. A consumer that does not
    * select `sh` still computes it once inside the minhash call, and a
    * signature-only consumer ([[chainSignatures]],
    * [[minhashBucketStats]]) outputs no set.
    *
    * Each input row is one document, and its id must be unique: the
    * frame has one row per input row, so a repeated id gives repeated
    * set rows, and the verifier's per-endpoint joins multiply that id's
    * pairs.
    *
    * Where the verifier's sets come from — one rule for every candidate
    * generator:
    *  - FUSED: when the candidates cover (nearly) every doc, the caller
    *    pins ONE frame ([[Pin]]), derives its candidates from the mh
    *    columns and verifies from `sh` of the same blocks, so the corpus is
    *    tokenized once ([[unionPairsFlagged]], [[chainSimhashUnionPairs]],
    *    [[minhashSortedPairs]], the batch side of [[incrementalNearDup]];
    *    [[sortedNeighborPairs]] has no signature stage and verifies from
    *    a sets-only frame over its whole input);
    *  - PRUNED: when the candidates touch a small share of the docs, the
    *    sets come from [[candidateSets]] over the scan semi-joined to the
    *    candidate ids, so only candidate docs are tokenized
    *    ([[minhashPairs]]' bucket-capped banding, the corpus side of
    *    [[incrementalNearDup]]).
    *
    * The two give the same [[verifyJaccard]] output: a doc's set is a
    * function of its text, and the verifier inner-joins both endpoints.
    * A null-text doc has no set, no signature and no pair. The filter
    * is on the text, below the fan-out: a filter on the kernel's output
    * would be pushed below the fan-out repartition and compute every set
    * twice. */
  private[graft] def shingleSets(df: DataFrame, idCol: String, textCol: String,
                                 w: Int,
                                 coeffs: Seq[(Long, Long)] = Nil): DataFrame = {
    val sets = Parallelism.fanOut(df.filter(col(textCol).isNotNull))
      .select(col(idCol).as("id"), graft.functions.shingleSet(words(col(textCol)), w).as("sh"))
    if (coeffs.isEmpty) sets
    else sets
      .select(col("id"), col("sh"), graft.functions.minhash(col("sh"), coeffs).as("__mh"))
      .select(col("id") +: col("sh") +: coeffs.indices.map(s => col("__mh")(s).as(s"mh$s")): _*)
  }

  /** The PRUNED set source: [[shingleSets]] (`sh` only) for the docs of
    * `df` that appear in some (id_a, id_b) pair of `cand`. The semi-join
    * filters the RAW scan, below [[shingleSets]]' fan-out repartition, so
    * the broadcast filter prunes at the scan and only candidate docs'
    * text crosses the fan-out shuffle. */
  private[graft] def candidateSets(df: DataFrame, idCol: String,
                                   textCol: String, w: Int,
                                   cand: DataFrame): DataFrame = {
    val ids = cand.select(col("id_a").as("cid"))
      .union(cand.select(col("id_b").as("cid"))).distinct()
    shingleSets(df.join(broadcast(ids), col(idCol) === col("cid"), "left_semi"),
      idCol, textCol, w)
  }

  /** The pairs of `pairs` (id_a, id_b, sh_a, sh_b, extraCols…) whose
    * shingle-set Jaccard is ≥ `threshold`, as (id_a, id_b, jaccard
    * rounded to 6 places, extraCols…). Hash-set Jaccard equals
    * string-set Jaccard except under 32-bit collisions (~n²/2³³ per
    * doc — irrelevant at shingle-set sizes, and both engines collide
    * identically).
    *
    * Two steps, both exact:
    *  - the size bound `least(|A|, |B|) / greatest(|A|, |B|) ≥ t` drops
    *    a pair before any set work. J = |A∩B| / |A∪B| ≤ min / max, and
    *    both sides are the same correctly rounded double division, so
    *    the bound never drops a pair whose computed J is ≥ t. (The form
    *    `min ≥ t·max` is not exact: at t = 0.55 it drops sizes 55 and
    *    100, whose J can be exactly 0.55.)
    *  - [[graft.functions.jaccard]] merges the two sorted sets once per
    *    surviving pair. It is the element of a one-element `explode`, so
    *    the `≥ t` filter stays above the generator: a filter on a
    *    projected value would be pushed into the join condition and the
    *    kernel evaluated again for the output. */
  private[graft] def jaccardAtLeast(pairs: DataFrame, threshold: Double,
                                    extraCols: Seq[String]): DataFrame = {
    val na = size(col("sh_a")).cast("double")
    val nb = size(col("sh_b")).cast("double")
    val extra = extraCols.map(col)
    pairs.filter(least(na, nb) / greatest(na, nb) >= threshold)
      .select(Seq(col("id_a"), col("id_b"),
        explode(array(graft.functions.jaccard(col("sh_a"), col("sh_b")))).as("jaccard")) ++
        extra: _*)
      .filter(col("jaccard") >= threshold)
      .select(Seq(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")) ++
        extra: _*)
  }

  /** The near-dup verifier: exact shingle-set Jaccard of every candidate
    * (id_a, id_b) pair whose two docs both have a row in `sets` (id, sh,
    * [ignored columns]), kept at ≥ `threshold`. Returns (id_a, id_b,
    * jaccard rounded to 6 places, extraCols…), eagerly pinned. `sets`
    * feeds both endpoint joins, so pass a pinned frame (or a union over
    * pinned frames); where it comes from is the fused-or-pruned rule on
    * [[shingleSets]].
    *
    * @param extraCols candidate-frame columns (e.g. provenance flags)
    *                  carried through verification into the output. */
  private[graft] def verifyJaccard(cand: DataFrame, sets: DataFrame,
                                   threshold: Double,
                                   extraCols: Seq[String] = Nil): DataFrame =
    jaccardAtLeast(cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b")),
      threshold, extraCols)
      .pinned

  /** Union of two (id_a, id_b) candidate frames, one row per pair, with
    * 1/0 provenance flags `fa` (pair came from `a`) and `fb` (from `b`). */
  private[graft] def flaggedUnion(a: DataFrame, fa: String,
                                  b: DataFrame, fb: String): DataFrame =
    a.select(col("id_a"), col("id_b"), lit(1).as(fa), lit(0).as(fb))
      .union(b.select(col("id_a"), col("id_b"), lit(0).as(fa), lit(1).as(fb)))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col(fa)).as(fa), max(col(fb)).as(fb))

  /** Exact dedup: keep the lowest-id row per exact content digest.
    * Returns (keyCol, kept id, duplicate count). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Incremental (cross-corpus) exact dedup: classify each incoming row
    * against an already-ingested base corpus — the shape every recurring
    * crawl ingest runs. Returns (idCol, status) with status one of
    * `dup_base` (digest already in base), `dup_batch` (first occurrence
    * is another incoming row — min id keeps), `keep`.
    *
    * Scale: the base side collapses to DISTINCT 128-bit digests before
    * anything joins (text never leaves its scan), so the join key frame
    * is |unique base docs| × 16 bytes; the in-batch first-occurrence
    * window rides the same digest shuffle as the join. At 100 TB the
    * base digest set is exactly what a production pipeline persists
    * between ingests (bucketed by digest, so this join is co-located). */
  def incremental(incoming: DataFrame, base: DataFrame,
                  idCol: String, textCol: String): DataFrame = {
    val baseDg = base.select(md5(col(textCol)).as("__dg")).distinct()
      .withColumn("__seen", lit(1))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__dg"))
    incoming.select(col(idCol), md5(col(textCol)).as("__dg"))
      .withColumn("__first", min(col(idCol)).over(w))
      .join(baseDg, Seq("__dg"), "left")
      .withColumn("status",
        when(col("__seen").isNotNull, "dup_base")
          .when(col(idCol) =!= col("__first"), "dup_batch")
          .otherwise("keep"))
      .select(col(idCol), col("status"))
  }

  /** MinHash-LSH near-duplicate candidate pairs with Jaccard verification.
    *
    * 100 TB shape (each stage's shuffle carries the minimum possible,
    * and — critically — the hot path contains NO higher-order functions:
    * `transform`/`slice`/`array_min` are CodegenFallback in Spark and an
    * interpreted shingle tree measured 330s at sf0.1 vs ~3s for this plan):
    *  1. each doc's word array (plain codegen `split`) becomes its
    *     shingle-hash set in one native expression: a w-shingle is
    *     identified by ONE md5 of the joined shingle (first 8 hex chars
    *     → 32-bit base hash), from which the k minhashes are affine
    *     permutations — k multiply-adds, not k hashes;
    *  2. the k minhashes are one native expression over the set, in the
    *     same per-row projection ([[shingleSets]]): no explode, no
    *     aggregate, and no shuffle beyond the scan's fan-out;
    *  3. band hash = md5 of the band's r minhash columns — a plain
    *     projection; candidate generation groups (band, bandHash, id)
    *     rows ONLY into buckets and dedups on the (id_a, id_b) pair;
    *  4. degenerate buckets (empty/boilerplate docs hashing together) are
    *     capped at `maxBucket` members before any pair is formed, bounding
    *     the worst bucket at maxBucket² instead of |D|²;
    *  5. exact shingle-set Jaccard is verified by [[verifyJaccard]] over
    *     PRUNED sets ([[candidateSets]]), pinned once for both endpoint
    *     joins: the bucket cap leaves most docs in no candidate pair, so
    *     the signature stage selects only the mh columns of
    *     [[shingleSets]] and the verification pass tokenizes just the
    *     candidate docs — hundreds, not |D|.
    *
    * @param bands     number of LSH bands (k % bands == 0)
    * @param threshold verified word-shingle Jaccard similarity cut
    * @param maxBucket per-(band, bandHash) membership cap; a bucket larger
    *                  than this is boilerplate, not near-duplication, and
    *                  is dropped from candidate generation (logged in the
    *                  reference pipelines as "tombstoned buckets")
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 16, bands: Int = 4, w: Int = 3,
                   threshold: Double = 0.7,
                   maxBucket: Int = 200): DataFrame = {
    val cand = bandedCandidates(
      shingleSets(df, idCol, textCol, w, minhashCoeffs(k)), k, bands, maxBucket)
    verifyJaccard(cand, candidateSets(df, idCol, textCol, w, cand).pinned, threshold)
  }

  /** Stages 3–4 of [[minhashPairs]]: banding → bucket cap → intra-bucket
    * candidate (id_a < id_b) pairs, distinct, eagerly pinned (the pair
    * table is Σ bucket_n² ≪ |docs| by the cap — tiny next to anything
    * upstream, and every consumer branches over it). The buckets are the
    * (band, bandHash) groups of [[cappedBucketPairs]]' one aggregate.
    * `sig` is a [[shingleSets]] frame with at least (id, mh0..mh{k-1}). */
  private[graft] def bandedCandidates(sig: DataFrame, k: Int, bands: Int,
                                      maxBucket: Int): DataFrame =
    cappedBucketPairs(bandedIds(sig, k, bands), Seq("band", "bh"), maxBucket)

  /** Intra-bucket candidate pairs of `rows` (id, keys…), distinct
    * (id_a < id_b), eagerly pinned. A bucket is the rows sharing `keys`,
    * built by ONE `groupBy(keys)` aggregate into a list of one-field id
    * structs (never null, so the size counts null ids too); buckets
    * outside [2, cap] members are dropped, and each kept bucket's sorted
    * list explodes into its in-bucket pairs. A row with a null key joins
    * no bucket. No window, no second pass over the members and no
    * self-join; the aggregate holds a bucket's ids in one task before
    * the size gate drops it. */
  private[graft] def cappedBucketPairs(rows: DataFrame, keys: Seq[String],
                                       cap: Int): DataFrame = {
    val k = keys.map(col)
    rows.filter(k.map(_.isNotNull).reduce(_ && _))
      .groupBy(k: _*)
      .agg(collect_list(struct(col("id").as("id"))).as("__m"))
      .filter(size(col("__m")).between(2, cap))
      .select(sort_array(col("__m")).getField("id").as("__ids"))
      .select(col("__ids"), posexplode(col("__ids")))
      .select(col("col").as("id_a"),
        explode(slice(col("__ids"), col("pos") + lit(2), lit(cap))).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
      .pinned
  }

  /** The (lang, length-bucket) BLOCKING strategy's candidate stage —
    * [[ngramJaccardPairs]]' block structure WITHOUT any shingle work:
    * candidate generation needs only the two blocking attributes, so
    * this is one narrow projection + [[cappedBucketPairs]]' one
    * aggregate over the (lang, length-bucket) blocks. Same [2, maxBlock]
    * cap semantics as the verifying variant; the pair table is
    * Σ block_n² bounded by the cap, eagerly pinned.
    *
    * ≤sf1 DIAGNOSTIC GENERATOR, NOT A SCALE STRATEGY: the blocking
    * key has FIXED cardinality (|langs| × |length buckets|), so block
    * COUNT cannot grow with the corpus — at 10× data every block is
    * ~10× fatter and the capped intra-block all-pairs work grows
    * ~100× until `maxBlock` starts dropping whole blocks (cost then
    * bounded, recall cliffs). Measured in the r11 sf10 soak: the
    * union queries riding this generator read 11–15.5× wall-clock
    * for 10× data with ~36 GB spill. Use it for per-pair-completeness
    * readouts at ≤sf1 (q_dedup_union / q_union_recall); production
    * clustering runs [[minhashSortedPairs]] — linear candidates whose
    * key cardinality grows with the corpus by construction. */
  private[graft] def blockedCandidates(df: DataFrame, idCol: String,
                                       textCol: String, langCol: String,
                                       maxBlock: Int): DataFrame = {
    val attrs = df.select(col(idCol).as("id"), col(langCol).as("lang"),
      (length(col(textCol)) / 100).cast("int").as("lenb"))
    cappedBucketPairs(attrs, Seq("lang", "lenb"), maxBlock)
  }

  /** SORTED-NEIGHBORHOOD candidate generation (Hernández & Stolfo's
    * merge/purge windowing) — the SCALE-CORRECT successor to
    * [[blockedCandidates]], added after the r11 sf10 soak measured the
    * fixed-cardinality (lang, length-bucket) key saturating its caps:
    * block COUNT does not grow with the corpus, so at 10× data every
    * block is ~10× fatter and intra-block all-pairs work grows ~100×
    * (the union queries read 11–15× wall-clock for 10× data, 36 GB
    * spill). Here members of each (lang, length-bucket) block are
    * totally ordered by (n_chars, id) and each member pairs with
    * exactly its `window` successors, so candidates are O(n·window) —
    * LINEAR in corpus size with no membership cap and no tombstoned
    * blocks at any scale. Near-duplicates have near-equal lengths, so
    * the length sort puts them within a small window of each other.
    *
    * The window join is not a self-theta-join: each row EXPLODES its
    * `window` successor ranks (`sequence(rn+1, rn+window)`) and
    * equi-joins on (lang, lenb, rn) — one shuffle carrying n·window
    * narrow rows, no banding needed, nothing quadratic anywhere. */
  private[graft] def sortedNeighborCandidates(df: DataFrame, idCol: String,
                                              textCol: String, langCol: String,
                                              window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val attrs = df.select(col(idCol).as("id"), col(langCol).as("lang"),
      (length(col(textCol)) / 100).cast("int").as("lenb"),
      length(col(textCol)).as("len"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("lenb")).orderBy(col("len"), col("id"))
    val ranked = attrs.withColumn("rn", row_number().over(w))
      .select(col("id"), col("lang"), col("lenb"), col("rn"))
      .pinned
    ranked
      .select(col("id").as("id_l"), col("lang"), col("lenb"),
        explode(sequence(col("rn") + 1, col("rn") + window)).as("rn"))
      .join(ranked.select(col("id").as("id_r"), col("lang"), col("lenb"),
        col("rn")), Seq("lang", "lenb", "rn"))
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"))
      .pinned
  }

  /** Sorted-neighborhood near-dup pairs: [[sortedNeighborCandidates]]
    * verified by exact shingle-set Jaccard — linear candidates, no
    * caps, no recall cliff when fixed-cardinality blocks outgrow a
    * cap; recall is governed by `window` and the LENGTH-sort locality.
    * Measured at organic sf1: that locality is weak (length orders
    * near-dups hundreds of ranks apart inside fat blocks — recall
    * 0.068 of the union's verified pairs at window=8), which is why
    * the production-grade linear strategy is [[minhashSortedPairs]]:
    * same windowing machinery, CONTENT sort keys. Kept as the classic
    * merge/purge baseline the readouts compare against. Every member of
    * a block of two or more is a candidate, so the sets are built over
    * the whole input ([[shingleSets]]' rule). */
  def sortedNeighborPairs(df: DataFrame, idCol: String, textCol: String,
                          langCol: String, window: Int = 8, w: Int = 3,
                          threshold: Double = 0.5): DataFrame =
    verifyJaccard(
      sortedNeighborCandidates(df, idCol, textCol, langCol, window),
      shingleSets(df, idCol, textCol, w).pinned, threshold)

  /** The per-doc chain signature frame: (id, mh0..mh{passes-1}) — one
    * affine minhash per pass over the w-shingle set ([[shingleSets]]'
    * mh columns; the set itself is not output). This is the frame
    * a production deployment PERSISTS between ingests (the
    * `_signatures` sidecar): it is deterministic in the text, narrow
    * (id + passes longs), and [[incrementalNearDup]] chains a new
    * batch against it WITHOUT re-shingling the corpus. `passes` ≤ 0
    * resolves from the session chain dial like [[minhashSortedPairs]]. */
  def chainSignatures(df: DataFrame, idCol: String, textCol: String,
                      passes: Int = -1, w: Int = 3,
                      coeffSkip: Int = 0): DataFrame = {
    val p = if (passes > 0) passes else chainPasses(df.sparkSession)
    shingleSets(df, idCol, textCol, w, minhashCoeffs(p, coeffSkip))
      .select(col("id") +: (0 until p).map(s => col(s"mh$s")): _*)
  }

  /** MINHASH-SORTED neighborhood candidates — sorted-neighborhood with
    * CONTENT sort keys: `passes` independent minhash values per doc
    * (the same affine family as [[bandedIds]] — coefficients are a
    * prefix of the banding family's, so oracles replay them), and per
    * pass a GLOBAL total order by (minhash_p, id) in which each doc
    * pairs with its `window` successors. Two docs with Jaccard J share
    * a pass's minhash with probability J (the MinHash identity), and
    * equal keys sort adjacent — so expected recall after `passes`
    * independent passes is ≈ 1−(1−J)^passes at ANY corpus size, while the
    * candidate count is EXACTLY passes·window·n: linear by
    * construction, cap-free (a boilerplate mega-cluster contributes a
    * chain of window-bounded pairs, never a quadratic bucket and never
    * a tombstone cliff — the failure modes of banding caps and
    * fixed-cardinality blocks the r11 soak measured).
    *
    * The global rank comes from [[GlobalOrder.withRowNumberLong]] —
    * range-partition + two-pass offset composition, never a
    * single-partition window; the rank join is one equi-join on rn per
    * pass over (id, rn) rows. */
  private[graft] def minhashSortedCandidates(df: DataFrame, idCol: String,
                                             textCol: String, passes: Int,
                                             window: Int, w: Int): DataFrame =
    sortedCandidatesFromSig(chainSignatures(df, idCol, textCol, passes, w),
      passes, window)

  /** The melted chain-candidate stage of [[minhashSortedCandidates]] over
    * a prebuilt signature frame (id, mh0..mh{passes-1}[, extra columns —
    * ignored]), so fused callers can feed their [[shingleSets]] frame. */
  private[graft] def sortedCandidatesFromSig(sig: DataFrame, passes: Int,
                                             window: Int): DataFrame = {
    require(passes >= 1 && window >= 1, "passes and window must be >= 1")
    // MELTED rank (r15 optimization): all `passes` global total orders
    // ride ONE range shuffle. The signature frame unpivots to one row
    // per (pass, mh_p, id), and a single global rank over
    // (pass, key, id) is taken. Within a pass the melted rank order is
    // exactly the old per-pass (mh_p, id) order and the pass's rows
    // occupy one CONTIGUOUS rank range (pass is the leading sort key),
    // so "the next `window` ranks within the same pass" — the
    // (__p, rn) equi-join below — reproduces each pass's chain pairs
    // bit-for-bit, while cross-pass rank neighbors never match (__p
    // differs). Replaces `passes` × (range-sample + shuffle +
    // checkpoint + rank join) with one of each; candidate volume is
    // unchanged (exactly passes·window·n before the distinct).
    val melted = sig
      .select(col("id"),
        posexplode(array((0 until passes).map(p => col(s"mh$p")): _*)))
      .select(col("pos").as("__p"), col("col").as("__k"), col("id"))
    val ranked = GlobalOrder.withRowNumberLong(melted,
        Seq(col("__p"), col("__k"), col("id")), "rn")
      .select(col("__p"), col("id"), col("rn"))
    ranked
      .select(col("__p"), col("id").as("id_l"),
        explode(sequence(col("rn") + 1, col("rn") + window)).as("rn"))
      .join(ranked.select(col("__p"), col("id").as("id_r"), col("rn")),
        Seq("__p", "rn"))
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"))
      .distinct()
      .pinned
  }

  /** Production sorted-chain config — measured across TWO decades of
    * corpus size (BENCH_RECALL_LADDER.json: union-denominator sweep at
    * sf1, banded-denominator union-find sweep at sf10; both with the
    * r12-fixed permutation family).
    *
    * The r13 finding that set this: chain recall at a FIXED config
    * sags with corpus size — 4×4 reads 0.9955 of the banded pairs at
    * sf1 (50k docs) but 0.9693 at sf10 (500k docs), because a larger
    * corpus packs more interlopers between two near-dups in each
    * sorted order, so a window-4 neighborhood misses more of them.
    * The recovery axis is PASSES, not window: at equal candidate
    * volume (32·n) the sf10 ladder reads 8×4 = 0.9956 vs 4×8 =
    * 0.9850 — each pass is an independent 1−(1−J) draw, while the
    * window axis saturates at every tested scale. Doubling passes
    * (4→8) restored sf1-level recall across the measured decade at
    * near-flat wall cost (the shingle/minhash stage dominates:
    * 132→140 s at sf10 for 4→8 passes), so the production default is
    * 8×4 (32·n candidates).
    *
    * Sizing for corpora beyond the tested decades (REVISED r14, after
    * the third-decade probe at 2M docs): recall at a fixed config
    * drops ~2-3 points per 10× docs at EVERY measured decade (8×4:
    * 0.9956 at 500k → 0.9691 at 2M), but passes-recovery DECELERATES —
    * the r13 linear rule (passes ≈ 8 + 4·log10(n/500k)) prescribed
    * ~10-11 passes at 2M docs, where 10×4 reads only 0.9805 and 12×4
    * 0.9868, not parity. There is no closed-form rule: treat passes as
    * a measured dial — run the ladder recipe at the target corpus
    * (tools/gen_alt_pairs.scala + tools/uf_compare.py --alt-pairs
    * reads it at any scale without a union-stage denominator; ~12×4 is
    * the 0.99-ish operating point at the 2M-doc decade). Candidate
    * volume (verification cost) stays passes·window·n — linear,
    * cap-free; rank passes are narrow (id, long) frames.
    *
    * MEASUREMENT CAVEAT (r13 advice, r14 MEASURED): banded-denominator
    * recall numbers read with the DEFAULT chain family are biased UP —
    * its coefficients are the exact prefix of the banding family's
    * `minhashCoeffs(16)`, so banded pairs found via bands 0-1 (mh0-7)
    * share all their minhashes with the chain sort orders. The r14
    * ladder re-measured with a DISJOINT family (`coeffSkip = 16`): at
    * 2M docs the default-prefix 8×4 reads 0.9691 vs the decorrelated
    * 0.9506 — ~1.9 points optimistic — and the bias GROWS with corpus
    * size (0.3 points at sf10: 0.9956 vs 0.9927), because as true
    * recall sags the shared-coefficient pair subset stays
    * near-guaranteed chained (BENCH_RECALL_LADDER.json, docs2m
    * section). Passes-axis comparison directions survive (all
    * shared-prefix rungs carry the same bias); quote decorrelated
    * numbers when the ABSOLUTE recall matters. Production keeps
    * skip = 0 (the correlation only affects scoring against the banded
    * denominator, not standalone chain behavior). */
  val SortedPassesDefault = 8
  val SortedWindowDefault = 4

  /** Session-conf keys for the chain dial: the ONE deployment knob the
    * recall ladder sizes. `spark.graft.dedup.chain.passes` /
    * `spark.graft.dedup.chain.window` override the measured 8×4
    * default for every chain consumer that doesn't pass explicit
    * values ([[minhashSortedPairs]]' default arguments resolve here),
    * so a deployment sizes the dial ONCE at session build instead of
    * threading a parameter through every query.
    *
    * Sizing is a MEASURED step, not a formula (the r14 third-decade
    * ladder disproved the linear rule): run the ladder recipe at the
    * target corpus — dump chain pairs at candidate configs with a
    * DISJOINT coefficient family (tools/gen_alt_pairs.scala,
    * SPARK_GRAFT_COEFF_SKIP=16) and score chain connectivity against
    * the banded pairs with tools/uf_compare.py --alt-pairs — and set
    * the smallest passes whose DECORRELATED recall clears the
    * deployment's floor. Measured decorrelated operating points:
    * 8×4 ≈ 0.993 at 500k docs, ≈ 0.9506 at 2M docs; 12×4 ≈ 0.9790 at
    * 2M docs (the r15 decorrelated read — the shared-prefix 0.9868 is
    * ~0.78 pts optimistic at 12 passes). Recall sags ~2-3 points per
    * 10× docs at a fixed config and passes-recovery DECELERATES, so
    * every decade of corpus growth needs a re-measurement, not an
    * extrapolation. Passes are also the MEASURED best recovery axis:
    * at 2M docs, +4 passes buys +2.84 pts where unioning in the whole
    * SimHash family buys +0.87 ([[chainSimhashUnionPairs]]). */
  val ChainPassesConfKey = "spark.graft.dedup.chain.passes"
  val ChainWindowConfKey = "spark.graft.dedup.chain.window"

  /** The session's chain pass count: [[ChainPassesConfKey]] if set,
    * else the measured [[SortedPassesDefault]]. */
  def chainPasses(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.get(ChainPassesConfKey, SortedPassesDefault.toString).toInt

  /** The session's chain window: [[ChainWindowConfKey]] if set, else
    * the measured [[SortedWindowDefault]]. */
  def chainWindow(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.get(ChainWindowConfKey, SortedWindowDefault.toString).toInt

  /** Minhash-sorted neighborhood pairs: [[minhashSortedCandidates]]
    * verified by the shared exact-Jaccard pass — the LINEAR,
    * cap-free candidate strategy for corpora where banding caps
    * tombstone and fixed blocks saturate.
    *
    * `passes`/`window` ≤ 0 (the default) resolve from the session's
    * chain dial ([[ChainPassesConfKey]]/[[ChainWindowConfKey]], falling
    * back to the measured [[SortedPassesDefault]]×[[SortedWindowDefault]]
    * knee) — one source of truth for every production consumer, sized
    * per deployment by the ladder recipe on [[ChainPassesConfKey]]'s
    * scaladoc. Explicit positive arguments always win (ladder rungs,
    * fixed-config oracles). The default-config DuckDB oracle CTEs
    * build from the same [[SortedPassesDefault]] constants.
    *
    * Chain candidates cover every doc (each pairs with its window
    * successors in every pass), so verification is FUSED: candidates
    * and sets come from one pinned [[shingleSets]] frame. */
  def minhashSortedPairs(df: DataFrame, idCol: String, textCol: String,
                         passes: Int = -1,
                         window: Int = -1, w: Int = 3,
                         threshold: Double = 0.5,
                         coeffSkip: Int = 0): DataFrame = {
    val p = if (passes > 0) passes else chainPasses(df.sparkSession)
    val win = if (window > 0) window else chainWindow(df.sparkSession)
    val sig = shingleSets(df, idCol, textCol, w, minhashCoeffs(p, coeffSkip)).pinned
    verifyJaccard(sortedCandidatesFromSig(sig, p, win), sig, threshold)
  }

  /** Batch-vs-corpus chain CANDIDATES without re-shingling the corpus —
    * the candidate stage of [[incrementalNearDup]]. By construction the
    * corpus side enters as its persisted SIGNATURE frame only
    * (`corpusSigs`, schema (id, mh0..mh{passes-1}) as written by
    * [[chainSignatures]]) — there is no corpus text parameter, so the
    * stage CANNOT re-shingle the corpus. Only the incoming batch is
    * shingled; per pass, batch and corpus signature rows rank together
    * in ONE global (mh_p, id) total order — identical to the order a
    * full recompute would produce, because signatures are
    * deterministic in the text — and each doc pairs with its `window`
    * rank-successors exactly as in [[minhashSortedCandidates]].
    * Corpus-corpus pairs are dropped (the corpus's own dedup already
    * clustered them); returns (id_a, id_b, batch_a, batch_b) with the
    * 0/1 flags marking which endpoints are batch docs. */
  private[graft] def incrementalChainCandidates(batch: DataFrame,
                                                idCol: String,
                                                textCol: String,
                                                corpusSigs: DataFrame,
                                                passes: Int, window: Int,
                                                w: Int): DataFrame =
    incrementalCandidatesFromSigs(
      chainSignatures(batch, idCol, textCol, passes, w),
      corpusSigs, passes, window)

  /** The melted batch-vs-corpus candidate stage over prebuilt signature
    * frames — `bsig` (batch) and `corpusSigs` both carry
    * (id, mh0..mh{passes-1}[, extras — projected away]), so
    * [[incrementalNearDup]] can feed its fused batch [[shingleSets]]
    * frame. */
  private[graft] def incrementalCandidatesFromSigs(bsigIn: DataFrame,
                                                   corpusSigs: DataFrame,
                                                   passes: Int,
                                                   window: Int): DataFrame = {
    require(passes >= 1 && window >= 1, "passes and window must be >= 1")
    val bsig = bsigIn
      .select(col("id") +: (0 until passes).map(i => col(s"mh$i")): _*)
      .withColumn("__isb", lit(1))
    val csig = corpusSigs
      .select(col("id") +: (0 until passes).map(i => col(s"mh$i")): _*)
      .withColumn("__isb", lit(0))
    val all = bsig.unionByName(csig)
    // Melted rank, as in [[minhashSortedCandidates]] (r15): one range
    // shuffle carries all `passes` total orders — within a pass the
    // melted (pass, key, id) rank order equals the old per-pass order
    // and pass ranges are contiguous, so the (__p, rn) join yields the
    // identical chain pairs with `passes`× fewer sample/shuffle/
    // checkpoint rounds. The batch flag melts alongside the id.
    val melted = all
      .select(col("id"), col("__isb"),
        posexplode(array((0 until passes).map(p => col(s"mh$p")): _*)))
      .select(col("pos").as("__p"), col("col").as("__k"), col("id"),
        col("__isb"))
    val ranked = GlobalOrder.withRowNumberLong(melted,
        Seq(col("__p"), col("__k"), col("id")), "rn")
      .select(col("__p"), col("id"), col("__isb"), col("rn"))
    ranked
      .select(col("__p"), col("id").as("id_l"), col("__isb").as("__bl"),
        explode(sequence(col("rn") + 1, col("rn") + window)).as("rn"))
      .join(ranked.select(col("__p"), col("id").as("id_r"),
        col("__isb").as("__br"), col("rn")), Seq("__p", "rn"))
      .filter(col("__bl") + col("__br") >= 1)
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        when(col("id_l") <= col("id_r"), col("__bl"))
          .otherwise(col("__br")).as("batch_a"),
        when(col("id_l") <= col("id_r"), col("__br"))
          .otherwise(col("__bl")).as("batch_b"))
      // distinct on the pair; the flags are functions of the doc ids,
      // so max() just carries the (constant) value through
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("batch_a")).as("batch_a"),
        max(col("batch_b")).as("batch_b"))
      .pinned
  }

  /** Incremental NEAR-dup ingest — the pipeline shape every daily
    * crawl needs: classify an incoming batch against an
    * already-ingested corpus by near-duplication (verified shingle
    * Jaccard ≥ `threshold`), where the corpus enters as its persisted
    * [[chainSignatures]] sidecar + its doc frame, and the corpus text
    * is NEVER re-shingled corpus-wide — the candidate stage
    * ([[incrementalChainCandidates]]) consumes signatures only. The
    * batch's signatures and sets come from one FUSED [[shingleSets]]
    * frame; the corpus sets are PRUNED ([[candidateSets]]) to the
    * ≤ passes·window·|batch| corpus docs that appear in some candidate
    * pair; [[verifyJaccard]] runs over the union of the two.
    *
    * Returns (idCol, status) for every batch doc, statuses mirroring
    * [[incremental]]'s exact-digest contract:
    *   - `dup_base`  — verified near-dup of some corpus doc;
    *   - `dup_batch` — else, verified near-dup of a SMALLER-id batch
    *     doc (the pairwise twin of the exact path's min-id
    *     first-occurrence rule — SQL-replayable, no closure);
    *   - `keep`      — neither.
    *
    * Scale: the signature union is |corpus|+|batch| narrow rows (id +
    * passes longs — the same frame class the rank passes already
    * shuffle); batch-side shingling is |batch|-sized; verification is
    * candidate-bounded. A 100 TB corpus ingesting a daily batch pays
    * |batch| text work + |corpus| SIGNATURE-row rank work, never
    * |corpus| text work.
    *
    * CONTRACT: batch and corpus ids must be DISJOINT — the natural
    * ingest invariant (a re-crawled doc gets a new id; the exact-digest
    * [[incremental]] stage upstream already keys first-occurrence on
    * id). An id on both sides would contribute two rows to the fused
    * set union and the verifier's per-endpoint joins would multiply
    * that pair's output rows (ADVICE r15); enforcing it here would cost
    * an extra |corpus|-row pass per ingest, so it stays a documented
    * precondition like the unique-order-key contract in
    * [[GlobalOrder]]. */
  def incrementalNearDup(batch: DataFrame, corpus: DataFrame,
                         corpusSigs: DataFrame, idCol: String,
                         textCol: String, passes: Int = -1,
                         window: Int = -1, w: Int = 3,
                         threshold: Double = 0.5): DataFrame = {
    val p = if (passes > 0) passes else chainPasses(batch.sparkSession)
    val win = if (window > 0) window else chainWindow(batch.sparkSession)
    val bsig = shingleSets(batch, idCol, textCol, w, minhashCoeffs(p)).pinned
    val cand = incrementalCandidatesFromSigs(bsig, corpusSigs, p, win)
    // batch ids never match a corpus row (the disjointness contract), so
    // the semi-join keeps exactly the corpus-side endpoints
    val sets = bsig.select(col("id"), col("sh"))
      .unionByName(candidateSets(corpus, idCol, textCol, w, cand))
    val vp = verifyJaccard(cand, sets, threshold, Seq("batch_a", "batch_b"))
    val baseHits = vp.filter(col("batch_a") === 1 && col("batch_b") === 0)
      .select(col("id_a").as("__idb"))
      .union(vp.filter(col("batch_a") === 0 && col("batch_b") === 1)
        .select(col("id_b").as("__idb")))
      .distinct().withColumn("__hb", lit(1))
    val batchLarger = vp.filter(col("batch_a") === 1 && col("batch_b") === 1)
      .select(col("id_b").as("__ids")).distinct().withColumn("__hs", lit(1))
    batch.select(col(idCol))
      .join(baseHits, col(idCol) === col("__idb"), "left")
      .join(batchLarger, col(idCol) === col("__ids"), "left")
      .withColumn("status",
        when(col("__hb") === 1, "dup_base")
          .when(col("__hs") === 1, "dup_batch")
          .otherwise("keep"))
      .select(col(idCol), col("status"))
  }

  /** HIGH-RECALL near-dup pairs: the UNION of both candidate-generation
    * strategies — MinHash banding (bucket-capped) ∪ (lang, length-bucket)
    * blocking (block-capped) — verified ONCE by exact shingle-set
    * Jaccard. The per-PAIR-completeness DIAGNOSTIC the recall
    * readouts are measured against (≤sf1 — it inherits
    * [[blockedCandidates]]' superlinear regime past that); production
    * clustering runs [[minhashSortedPairs]] since r12.
    *
    * Why: q_minhash_recall measured on the organic sf1 corpus that each
    * single strategy alone finds only ~half of the other's verified
    * exact-Jaccard≥0.5 pairs (banding loses pairs that collide in no
    * band or overflow a bucket; blocking loses cross-block pairs —
    * 83k/57k pairs sharing only 29k). The union subsumes both for the
    * cost of ONE extra shingle-free blocking pass: banded candidates
    * need the corpus-wide signature scan either way, blocked candidates
    * need only (lang, length) attributes, and verification runs once
    * over the merged candidate set (overlapping candidates dedup in the
    * merge, so the union verifies FEWER pairs than the two verifying
    * pipelines did separately).
    *
    * Each verified pair carries provenance flags `from_banded` /
    * `from_blocked` (1/0) so the recall readout — each generator's
    * share of the union's verified pairs — aggregates straight off the
    * output with zero extra passes (q_union_recall).
    *
    * Scale shape: both generators stay capped-never-all-pairs; the
    * merge is a hash aggregate over the two pair tables. The blocked
    * half pairs nearly every doc, so verification is FUSED: the banding
    * signatures and the verifier's sets come from one pinned
    * [[shingleSets]] frame, and the corpus is tokenized once. */
  def unionPairsFlagged(df: DataFrame, idCol: String, textCol: String,
                        langCol: String, k: Int = 16, bands: Int = 4,
                        w: Int = 3, threshold: Double = 0.5,
                        maxBucket: Int = 200,
                        maxBlock: Int = 1000): DataFrame = {
    val sets = shingleSets(df, idCol, textCol, w, minhashCoeffs(k)).pinned
    val cand = flaggedUnion(
      bandedCandidates(sets, k, bands, maxBucket), "from_banded",
      blockedCandidates(df, idCol, textCol, langCol, maxBlock), "from_blocked")
    verifyJaccard(cand, sets, threshold, Seq("from_banded", "from_blocked"))
  }

  /** FAMILY-DIVERSITY union candidate stage: minhash-sorted chain
    * candidates ∪ SimHash banded-Hamming pairs, verified ONCE at the
    * shared exact-Jaccard threshold. Unlike [[unionPairsFlagged]]'s
    * blocked half, BOTH families are content-keyed and linear-ish at
    * any corpus size (chains: exactly passes·window·n candidates;
    * SimHash: 64-bit band space — no fixed-cardinality cliff), so the
    * union is shippable, not just diagnostic.
    *
    * MEASURED VERDICT (r15, 2M docs, decorrelated — BENCH_RECALL_LADDER
    * .json docs2m_union_families_r15): for CLUSTER recall, PASSES WIN —
    * chains 8×4∪SimHash reads 0.9593 of the banded pairs' connectivity
    * (+0.87 pts over chains alone) at 721 s and 1.33M verified pairs,
    * while chains 12×4 reads 0.9790 (+2.84 pts) at 675 s and 0.81M
    * pairs. SimHash's Hamming≤3 ball surfaces ~584k pairs the chains
    * miss as PAIRS, but they land almost entirely inside components
    * the chains already connect. Run this union when the consumer
    * needs the pair LIST itself to be more complete (audit trails,
    * pair-supervised training data); size PASSES
    * ([[ChainPassesConfKey]]) when the consumer is clustering.
    * Chain candidates cover every doc, so verification is FUSED with
    * the chain signatures ([[shingleSets]]' rule).
    * Returns (id_a, id_b, jaccard, from_chain, from_simhash). */
  def chainSimhashUnionPairs(df: DataFrame, idCol: String, textCol: String,
                             passes: Int = -1, window: Int = -1,
                             w: Int = 3, threshold: Double = 0.5,
                             maxHamming: Int = 3, maxBucket: Int = 200,
                             coeffSkip: Int = 0): DataFrame = {
    val p = if (passes > 0) passes else chainPasses(df.sparkSession)
    val win = if (window > 0) window else chainWindow(df.sparkSession)
    val sets = shingleSets(df, idCol, textCol, w, minhashCoeffs(p, coeffSkip)).pinned
    val cand = flaggedUnion(
      sortedCandidatesFromSig(sets, p, win), "from_chain",
      simhashPairs(df, idCol, textCol, maxHamming, maxBucket), "from_simhash")
    verifyJaccard(cand, sets, threshold, Seq("from_chain", "from_simhash"))
  }

  /** [[unionPairsFlagged]] without the provenance flags — the
    * maximum-recall pair dump for ≤sf1 completeness readouts
    * (q_dedup_union and the recall denominators). */
  def unionPairs(df: DataFrame, idCol: String, textCol: String,
                 langCol: String, k: Int = 16, bands: Int = 4, w: Int = 3,
                 threshold: Double = 0.5, maxBucket: Int = 200,
                 maxBlock: Int = 1000): DataFrame =
    unionPairsFlagged(df, idCol, textCol, langCol, k, bands, w, threshold,
        maxBucket, maxBlock)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Stages 1–2 of [[minhashPairs]] as a reusable frame: one row per
    * (id, band, bandHash) over a prebuilt [[shingleSets]] frame `sig`
    * with at least (id, mh0..mh{k-1}). Shared so bucket observability
    * reads the EXACT pipeline the dedup runs, not a re-derivation that
    * could drift. */
  private[graft] def bandedIds(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    val bandHashes = array((0 until bands).map { b =>
      md5(concat_ws("|",
        (b * r until (b + 1) * r).map(s => col(s"mh$s").cast("string")): _*))
    }: _*)
    sig.select(col("id"), posexplode(bandHashes))
      .select(col("id"), col("pos").as("band"), col("col").as("bh"))
  }

  /** LSH bucket-size observability — the introspection read before
    * tuning `maxBucket` (the pair-graph counterpart is
    * q_degree_histogram): the distribution of (band, bandHash) bucket
    * sizes with each size classed against the cap. The drop RATE the
    * cap imposes is read directly off the output:
    * Σ(bucket_size · n_buckets) where capped, over the same sum overall
    * — the fraction of banding slots tombstoned as boilerplate. Runs
    * stages 1–2 only (signatures + banding + one hash agg); nothing
    * quadratic, no pair generation. */
  def minhashBucketStats(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 16, bands: Int = 4, w: Int = 3,
                         maxBucket: Int = 200): DataFrame =
    bandedIds(shingleSets(df, idCol, textCol, w, minhashCoeffs(k)), k, bands)
      .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("__n"))
      .groupBy(col("__n").as("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))
      .withColumn("capped", col("bucket_size") > maxBucket)

  /** Token hash for SimHash: the first 16 hex chars of md5(token) as two
    * unsigned 32-bit halves (single 64-bit parse would overflow a signed
    * long under ANSI). md5 — not xxhash64 — so the DuckDB oracle can
    * recompute the identical signature (both engines emit the same
    * lowercase hex digest; hex-nibble folding is engine-agnostic). */
  private[graft] def md5Halves(token: Column): (Column, Column) = {
    val hex = md5(token)
    (conv(substring(hex, 1, 8), 16, 10).cast("long"),
      conv(substring(hex, 9, 8), 16, 10).cast("long"))
  }

  /** Bit b (0 = LSB) of the 64-bit value (hi << 32 | lo). `b` is a Scala
    * constant, so this stays on the shiftright(Column, Int) overload. */
  private[graft] def hashBit(hi: Column, lo: Column, b: Int): Column =
    shiftright(if (b < 32) lo else hi, b % 32).bitwiseAND(lit(1L))

  /** SimHash over a table: explode words → 64 conditional-sum hash
    * aggregates → one bit-fold projection. Unlike a Column form (an
    * `aggregate` lambda, which is CodegenFallback), every stage here is
    * whole-stage-codegen, and map-side partial aggregation means the
    * shuffle carries (id, 64 ints) per doc. Returns (idCol, simhash). */
  def simhashDF(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = Parallelism.fanOut(df)
      .select(col(idCol), explode(words(col(textCol))).as("__w"))
      .select(col(idCol), md5(col("__w")).as("__hex"))
      .select(col(idCol),
        conv(substring(col("__hex"), 1, 8), 16, 10).cast("long").as("__hi"),
        conv(substring(col("__hex"), 9, 8), 16, 10).cast("long").as("__lo"))
    val sums = (0 until 64).map { b =>
      sum((hashBit(col("__hi"), col("__lo"), b) * 2 - 1).cast("int")).as(s"__s$b")
    }
    val simhash = (0 until 64)
      .map(b => when(col(s"__s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    toks.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
      .select(col(idCol), simhash.as("simhash"))
  }

  /** SimHash near-duplicate pairs by banded Hamming search: split the
    * 64-bit signature into `maxHamming + 1` equal bit-bands — by
    * pigeonhole, any pair within the Hamming budget agrees EXACTLY on at
    * least one band — equi-join ids within (band, bandValue) buckets,
    * then verify `bit_count(xor) <= maxHamming` on the candidates.
    * Returns (id_a, id_b, hamming) with id_a < id_b.
    *
    * Scale: the signature frame is |docs| × (id + one long) — tiny next
    * to the corpus — and is the ONLY thing banded, joined, or verified;
    * text never crosses a shuffle after the one simhashDF pass. The
    * band join is an equi-join on (band, bandValue), so cost is driven
    * by bucket sizes, not |D|²; the same bucket cap minhashPairs uses
    * ([[cappedBucketPairs]]) drops degenerate buckets (identical
    * boilerplate signatures) before anything quadratic. Verification is a projection over the
    * candidate pairs — no re-hash of any document.
    *
    * Reference behavior: near-dup detection via 64-bit fingerprint
    * Hamming balls (Manku et al., WWW'07 — the SimHash dedup paper);
    * the reference exposes the signature, this adds the scale pairing.
    *
    * @param maxHamming inclusive Hamming-distance cut; bands =
    *                   maxHamming + 1 must divide 64 (3 → 4×16-bit bands)
    * @param maxBucket  per-(band, value) membership cap, as in
    *                   [[minhashPairs]]
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 200): DataFrame = {
    val bands = maxHamming + 1
    require(64 % bands == 0, s"maxHamming + 1 = $bands must divide 64")
    val width = 64 / bands
    // width = 64 (maxHamming = 0, exact-signature pairing) needs the
    // all-ones mask spelled -1L: Scala shifts are mod 64, so
    // (1L << 64) - 1 would be 0 and collapse every band value
    val mask = if (width == 64) -1L else (1L << width) - 1
    // Three consumers (banding + two verification joins) — pin so the
    // explode/md5 signature pass runs once.
    val sig = simhashDF(df, idCol, textCol).pinned
    // Arithmetic shiftright sign-fill is masked off, so band values are
    // the raw bit slices regardless of the signature's sign.
    val bandVals = array((0 until bands).map { b =>
      shiftright(col("simhash"), b * width).bitwiseAND(lit(mask))
    }: _*)
    val banded = sig.select(col(idCol).as("id"), posexplode(bandVals))
      .select(col("id"), col("pos").as("band"), col("col").as("bv"))
    cappedBucketPairs(banded, Seq("band", "bv"), maxBucket)
      .join(sig.select(col(idCol).as("id_a"), col("simhash").as("__sa")),
        Seq("id_a"))
      .join(sig.select(col(idCol).as("id_b"), col("simhash").as("__sb")),
        Seq("id_b"))
      .withColumn("hamming",
        bit_count(col("__sa").bitwiseXOR(col("__sb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .pinned
  }

  /** Connected components over an undirected (id_a, id_b) pair frame by
    * iterative min-label propagation: each round every vertex takes the
    * minimum label among itself and its neighbors, so the smallest id in
    * a component floods outward one hop per round. Returns (id, cluster)
    * for every id that appears in some pair; cluster = the component's
    * minimum id (callers attach singletons with cluster = own id via a
    * left join — see q_dedup_cluster).
    *
    * Scale shape: the loop runs ONLY over ids that appear in some pair.
    * At 100 TB the near-dup graph is a small fraction of the corpus
    * (LSH pairs, not the documents), so each round is an equi-join on
    * vertex id over |V_dup| rows — never |D|. Rounds are bounded by the
    * component diameter; near-dup clusters are shallow (a cluster is a
    * quasi-clique of mutual candidates), so propagation converges in a
    * handful of rounds. Each round pins its labels — the loop would
    * otherwise double plan depth per iteration — and the pin's own job
    * counts the labels that changed ([[Pin.withGate]]).
    *
    * NON-CONVERGENCE IS NEVER SILENT (r11): if labels still change at
    * `maxIter` — a component whose diameter exceeds the round budget,
    * e.g. a 21+-hop chain of boilerplate edits — the call
    * AUTO-ESCALATES to [[connectedComponentsStar]] (O(log n) rounds at
    * any diameter, the identical (id, min-id) labeling), and its loop
    * record reads unconverged ([[drainCcRuns]]: `escalated`).
    *
    * Reference scope: the reference's dedup surface is
    * `drop_duplicates` (`sdc/datatypes/hpat_pandas_dataframe_functions
    * .py`); clustering LSH pairs into components is the parity-plus
    * step every production dedup pipeline needs to pick ONE keeper per
    * near-dup group rather than dropping both ends of each pair.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edges = ccEdges(pairs)
    val (lab0, bcast) = ccInit(edges)
    // state: (labels, labels changed by the round that produced them)
    val ((lab, changed), _) = Loop.run(LabelProp, (lab0, 1L), maxIter) {
      case (lab, _) =>
        val (next, changed) = ccStep(edges, lab, bcast)
        ((next, changed), changed == 0)
    }
    if (changed > 0) connectedComponentsStar(pairs)
    else lab.select(col("id"), col("lab").as("cluster"))
  }

  /** Both directions (src, dst) of every pair, from one projection,
    * hash-partitioned on `src` and pinned; the pin severs the LSH plan.
    * The partition count is left to adaptive execution, so it follows
    * the edges' size: when a round broadcasts the labels, its message
    * join runs one task per edge partition. (A fixed count bought no
    * exchange: the pinned edges report UnknownPartitioning, so a round
    * that shuffles for its join shuffles them again.) */
  private[graft] def ccEdges(pairs: DataFrame): DataFrame = {
    val (a, b) = (col("id_a").cast("long"), col("id_b").cast("long"))
    pairs
      .select(explode(array(struct(a.as("src"), b.as("dst")),
        struct(b.as("src"), a.as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src"))
      .pinned
  }

  /** The initial labels (id, lab = id, __prev), pinned, and whether the
    * rounds broadcast the labels to their message join.
    *
    * The labels have a round's exact schema: `lab` and `__prev` come out
    * of an aggregate, as in [[ccRound]], so they are nullable in both,
    * and every round reads them through the same projection. The
    * broadcast is decided once, from the vertex count the pin's own job
    * counts; every round has one label row per vertex, so the answer
    * holds for all of them. The planner would follow size estimates
    * instead: a pinned frame keeps the estimate of the plan that made it,
    * and a round's labels come out of a join, whose estimate is the
    * product of its sides'. So round 1 would broadcast the labels and
    * later rounds the edges. With both, round 1 compiles no classes of
    * its own. */
  private[graft] def ccInit(edges: DataFrame): (DataFrame, Boolean) = {
    val (lab0, g) = Pin.withGate(edges.groupBy(col("src").as("id"))
      .agg(min(col("src")).as("lab"), max(lit(null).cast("long")).as("__prev")),
      count(lit(1)))
    // a label row (id, lab) is 24 bytes as an UnsafeRow
    val threshold = edges.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    (lab0, g.getLong(0) * 24 <= threshold)
  }

  /** One round of [[connectedComponents]]: [[ccRound]] pinned, and the
    * number of labels it changed, counted by the pin's own job. */
  private[graft] def ccStep(edges: DataFrame, lab: DataFrame,
                            bcast: Boolean): (DataFrame, Long) = {
    val (next, g) = Pin.withGate(ccRound(edges, lab, bcast),
      // labels only decrease, so decreased ⟺ changed
      sum(when(col("lab") < col("__prev"), 1L).otherwise(0L)))
    // no label rows → the sum is NULL: nothing changed
    (next, if (g.isNullAt(0)) 0L else g.getLong(0))
  }

  /** One message pass over pinned labels `lab` (id, lab, __prev):
    * lab'(v) = min(lab(v), min over neighbors u of lab(u)); the vertex's
    * own row rides the union flagged __self, so the aggregate also emits
    * its previous label as __prev, for the gate. With `bcast` the labels
    * are the join's broadcast side; without it the planner chooses. */
  private[graft] def ccRound(edges: DataFrame, lab: DataFrame,
                             bcast: Boolean): DataFrame = {
    val cur = lab.select(col("id"), col("lab"))
    val msgs = edges
      .join((if (bcast) broadcast(cur) else cur).withColumnRenamed("id", "src"),
        Seq("src"))
      .select(col("dst").as("id"), col("lab"), lit(0).as("__self"))
    cur.withColumn("__self", lit(1)).union(msgs)
      .groupBy(col("id"))
      .agg(min(col("lab")).as("lab"),
        max(when(col("__self") === 1, col("lab"))).as("__prev"))
  }

  /** Connected components by alternating large-star/small-star edge
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14): each round rewires every edge toward the
    * smallest id seen in its endpoint's neighborhood, so components
    * collapse into stars centered at their minimum in O(log n) rounds
    * EVEN on a path/chain graph — where [[connectedComponents]]' label
    * propagation needs O(diameter) rounds. Same (id, cluster) contract.
    *
    * Per round (r16 restructure — same contraction sequence, ~half the
    * exchanges): the edge set is kept NORMALIZED (u < v, distinct) and
    * hash-partitioned on `u` between rounds, which buys three
    * exchange eliminations at once. (a) The neighborhood minimum
    * m(x) = min(Γ(x) ∪ {x}) needs only x's SMALLER neighbors — larger
    * ones can never be the min — so it is one groupBy over e's v-side
    * (half the old dir()-union's input) instead of over the doubled
    * edge list. (b) The large-star join on u finds e already
    * partitioned (the pinned frame carries its HashPartitioning), so
    * only the vertex-sized min frame moves. (c) The round's final
    * dedup rides the SAME exchange that restores the u-partitioning
    * invariant (HashPartitioning(u) satisfies the (u, v) aggregate's
    * clustering), and the intermediate large-star output skips its
    * old full distinct outright — min aggregates and the final dedup
    * absorb duplicate edges unchanged. No per-node neighbor lists are
    * ever collected (the degenerate high-degree node that breaks the
    * naive MR formulation is just a big group in a hash aggregate).
    * Edge count never grows (each directed edge maps to one rewired
    * edge, minus self-loops), so every round's shuffle is bounded by
    * the LSH pair count. A pin per round severs the exponential plan;
    * convergence = the rewired edge set equals the previous one (one
    * signed-membership job over the pinned blocks).
    *
    * Large-star from each edge's SMALLER endpoint u: (v, min Γ(u)∪{u})
    * for v > u; small-star from the LARGER endpoint u: each smaller
    * neighbor and u itself connect to min Γ≤(u). */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    // normalized distinct edge set, re-keyed on u and pinned — the
    // between-round invariant everything above relies on
    def dedupOnU(e: DataFrame): DataFrame = e
      .repartition(col("u"))
      .dropDuplicates("u", "v")
      .pinned
    val e0 = dedupOnU(pairs
      .select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
      .select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")))
    // an empty edge set converges in its first round (both sides of
    // the set-equality gate are empty)
    val (e, _) = Loop.run(Star, e0, maxIter) { e =>
      // large-star: every larger neighbor v of u rewires to the
      // neighborhood minimum m(u) = least(u, min of u's smaller
      // neighbors) — vertices with no smaller neighbor (absent from
      // the v-side groups) fall back to themselves via the left join
      // (least() skips the null). m(u) ≤ u < v, so the output is
      // normalized by construction: no self-loops, no reorder needed.
      val mins = e.groupBy(col("v")).agg(min(col("u")).as("__mn"))
        .select(col("v").as("u"), col("__mn"))
      val ls = e.join(mins, Seq("u"), "left")
        .select(least(col("u"), col("__mn")).as("u"), col("v"))
      // small-star keyed on the larger endpoint: ONE explicit
      // repartition feeds both the min aggregate and the rewire join
      // (reused exchange), emitting (m(v), u) per edge — normalized
      // since m(v) ≤ u, self-loops filtered — plus each center's own
      // (m(v), v) edge from the min frame.
      val lsP = ls.repartition(col("v"))
      val mins2 = lsP.groupBy(col("v")).agg(min(col("u")).as("m"))
      val next = dedupOnU(
        lsP.join(mins2, Seq("v"))
          .select(col("m").as("u"), col("u").as("v"))
          .filter(col("u") =!= col("v"))
          .union(mins2.select(col("m").as("u"), col("v"))))
      // Set equality in ONE job (r15): both frames are distinct
      // normalized edge sets, so next == e ⟺ no (u, v) key whose +1/−1
      // membership sum is nonzero.
      val stable = next.select(col("u"), col("v"), lit(1L).as("__w"))
        .union(e.select(col("u"), col("v"), lit(-1L).as("__w")))
        .groupBy(col("u"), col("v")).agg(sum(col("__w")).as("__s"))
        .filter(col("__s") =!= 0L)
        .isEmpty
      (next, stable)
    }
    // converged: every edge is (center, v) with center the component
    // min; centers label themselves, original singleton-side vertices
    // (none by construction of `pairs`) would coalesce to their own id
    val verts = pairs.select(col("id_a").cast("long").as("id"))
      .union(pairs.select(col("id_b").cast("long").as("id"))).distinct()
    val labels = e.select(col("v").as("id"), col("u").as("cluster"))
    verts.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }

  /** Train/eval contamination scan: for each doc of `test`, how many of
    * its distinct w-shingles appear anywhere in `train` — the benchmark-
    * leakage check every pretraining pipeline runs. Returns
    * (id, n_shingles, n_hit) per test doc.
    *
    * Scale shape: the train side collapses to ONE row per distinct
    * shingle hash before the equi-join (boilerplate shingles dedupe in
    * the aggregate, not the join), the test side carries distinct
    * (doc, hash) pairs, and the only other shuffles are the per-doc
    * hash aggregates — never doc × doc, never full text. Shingling goes
    * through the codegen [[shingleRows]] path. */
  def contaminationScan(test: DataFrame, train: DataFrame, idCol: String,
                        textCol: String, w: Int = 3): DataFrame = {
    def hashes(src: DataFrame) =
      shingleRows(Parallelism.fanOut(src), idCol, textCol, w)
        .select(col("id"), shingleBaseHash(col("shingle")).as("h"))
    val trainH = hashes(train).select(col("h")).distinct()
      .withColumn("__hit", lit(1))
    hashes(test).distinct()
      .join(trainH, Seq("h"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("__hit")).as("n_hit"))
  }

  /** [[contaminationScan]] with a bloom prefilter on the probe side —
    * the 100 TB default. [[contaminationScan]] shuffles EVERY distinct
    * test shingle into the equi-join; here the train side first folds
    * into one fixed-size bloom sketch (Spark's own runtime-filter
    * aggregate, surfaced as `graft_bloom_agg`), the sketch ships as an
    * uncorrelated scalar subquery (evaluated once, broadcast into the
    * probe plan — the same move Spark's injected runtime filters make),
    * and the test side splits on `graft_might_contain`: bloom-misses are definitive
    * non-hits (no false negatives) and skip the join entirely, so the
    * confirm shuffle carries only bloom-surviving candidates (true hits
    * + the ~1% false-positive tail). The exact semi-confirm join makes
    * the final answer independent of the bloom's false-positive rate —
    * identical to [[contaminationScan]] row for row.
    *
    * The distinct test-shingle frame feeds two branches (miss counting,
    * candidate join), so it is localCheckpoint'd — one shingle explode
    * pass, not two plans (the q_text_repetition materialization trade:
    * O(test-split tokens) to block storage buys a single scan).
    *
    * @param expectedItems sizing hint for the sketch (train-side
    *                      distinct shingles); overestimating costs
    *                      sketch bytes, underestimating costs
    *                      false-positive candidates, never correctness.
    *
    * Measured honestly: at sf0.1 (test≈train≈small) this is ~1.5× the
    * plain [[contaminationScan]] — the sketch build and checkpoint are
    * pure overhead when the join they avoid is already cheap. The
    * crossover is where it matters: a 100 TB eval-against-frozen-train
    * scan probes billions of shingles against a train set whose sketch
    * is O(100 MB); pruning ~99% of the probe side before its shuffle
    * then dominates everything else. */
  def contaminationScanBloom(test: DataFrame, train: DataFrame,
                             idCol: String, textCol: String, w: Int = 3,
                             expectedItems: Long = 1000000L): DataFrame = {
    def hashes(src: DataFrame) =
      shingleRows(Parallelism.fanOut(src), idCol, textCol, w)
        .select(col("id"), shingleBaseHash(col("shingle")).as("h"))
    val trainH = hashes(train).select(col("h")).distinct()
      .pinned // feeds the sketch build AND the confirm join
    // The sketch travels as an UNCORRELATED SCALAR SUBQUERY — evaluated
    // once, broadcast into the probe plan — exactly how Spark's own
    // injected runtime filters ship their blooms. Keeping the bytes out
    // of the expression tree matters at scale: an O(100 MB) sketch as a
    // Literal would be cloned by every plan transform and stringified by
    // every explain/event-log render. The view name is unique per call
    // so concurrent scans in one session can't collide.
    val viewName = s"graft_bloom_sketch_${bloomViewId.incrementAndGet()}"
    trainH
      .agg(call_function("graft_bloom_agg", xxhash64(col("h")),
        lit(expectedItems)).as("bf"))
      .createOrReplaceTempView(viewName)
    // an EMPTY train side aggregates to a null sketch; might_contain
    // then returns null — coalesce to false: the correct verdict for
    // "nothing to hit" is candidate=false everywhere
    val candidate = coalesce(
      call_function("graft_might_contain",
        expr(s"(SELECT bf FROM $viewName)"), xxhash64(col("h"))),
      lit(false))
    val testH = hashes(test).distinct()
      .withColumn("__cand", candidate)
      .pinned
    // the subquery is fully evaluated by the eager checkpoint above;
    // drop the view so repeated calls don't accumulate catalog entries
    // pinning the train-hash checkpoint for the session lifetime
    test.sparkSession.catalog.dropTempView(viewName)
    val misses = testH.filter(!col("__cand"))
      .select(col("id"), lit(null).cast("int").as("__hit"))
    val hits = testH.filter(col("__cand"))
      .join(trainH.withColumn("__hit", lit(1)), Seq("h"), "left")
      .select(col("id"), col("__hit"))
    misses.unionByName(hits)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("__hit")).as("n_hit"))
  }

  /** n-gram Jaccard dedup without LSH: blocks by (lang, length bucket) and
    * verifies all pairs inside a block. Right for modest block sizes;
    * use [[minhashPairs]] when blocks get large.
    *
    * Shingle sets are [[shingleSets]]' per-row kernel — a Column-form
    * higher-order-function shingle tree is interpreted CodegenFallback
    * and measured 46 s vs ~2 s for the codegen path at sf0.1. Sets hold
    * the 32-bit md5 base hashes, not strings, sorted: the all-pairs
    * Jaccard inside blocks is the hot loop, and it runs as the same size
    * bound and sorted merge as [[verifyJaccard]]. Block attrs rejoin on
    * id (hash join over |docs| rows).
    *
    * @param maxBlock per-(lang, length-bucket) membership cap — the same
    *                 gate [[minhashPairs]] applies per LSH bucket. One
    *                 hot block (boilerplate docs of equal length) is
    *                 otherwise quadratic: at 100 TB a single oversized
    *                 block becomes a straggler task running
    *                 the Jaccard merge over millions of pairs. Blocks
    *                 larger than the cap are not near-duplication
    *                 evidence at this blocking granularity and are
    *                 dropped (route such corpora to [[minhashPairs]]);
    *                 singleton blocks produce no pairs and are pruned by
    *                 the same gate. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        langCol: String, w: Int = 3,
                        threshold: Double = 0.5, maxBlock: Int = 1000): DataFrame = {
    val sets = shingleSets(df, idCol, textCol, w)
    // attrs does no per-row-expensive work and rejoins on id, so it reads
    // the RAW scan — deriving it from the fanned frame would plan a
    // second scan + round-robin shuffle (the branches prune different
    // columns, so the exchanges are not reusable).
    val attrs = df.select(col(idCol).as("id"), col(langCol).as("lang"),
      (length(col(textCol)) / 100).cast("int").as("lenb"))
    // Block-size gate as a window count riding the (lang, lenb) shuffle —
    // same one-pass shape as minhashPairs' bucket cap. base feeds both
    // self-join sides, so it is pinned (the shingle sets are the
    // expensive subtree; unpinned they would be computed twice).
    val blockW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("lenb"))
    val base = sets.join(attrs, Seq("id"))
      .withColumn("__bn", count(lit(1)).over(blockW))
      .filter(col("__bn").between(2, maxBlock))
      .select(col("id"), col("lang"), col("lenb"), col("sh"))
      .pinned
    val a = base.select(col("lang"), col("lenb"), col("id").as("id_a"),
      col("sh").as("sh_a"))
    val b = base.select(col("lang"), col("lenb"), col("id").as("id_b"),
      col("sh").as("sh_b"))
    jaccardAtLeast(a.join(b, Seq("lang", "lenb")).filter(col("id_a") < col("id_b")),
      threshold, Nil)
      .pinned
  }

  /** Resolve near-dup clusters to ONE survivor each by quality: every
    * row of `df` is labeled with its component from `pairs` (absent →
    * its own singleton), then each cluster keeps its `qualityCol`-max
    * member with `idCol` as the total-order tiebreak — the policy real
    * pipelines run instead of min-id (keep the longest / highest-score
    * document). One max-of-struct hash aggregate (codegen, map-side
    * partial); the component labels stay bounded by the near-dup doc
    * count, so AQE broadcasts the label join exactly as in the min-id
    * resolution path.
    *
    * The min-id tiebreak rides the max-of-struct as the id negated IN
    * DECIMAL(20,0) — wide enough that even Long.MinValue negates
    * exactly (a bare long negation would wrap silently there and
    * invert the tiebreak), so the full id range is safe.
    *
    * NULL quality loses: struct-field comparison orders NULL below
    * every non-null value, so a null-quality member survives only in
    * an all-null cluster — which then deterministically degrades to
    * the min-id policy with `kept_quality` NULL. Callers wanting a
    * hard guarantee should filter or coalesce the quality column
    * first.
    *
    * @return (cluster, n_members, kept_id, kept_quality) per cluster —
    *         including singletons; filter n_members >= 2 for the
    *         near-dup report. */
  def keepBestClusters(df: DataFrame, idCol: String, qualityCol: String,
                       pairs: DataFrame): DataFrame = {
    // the tiebreak negates the id, so it must be a numeric column —
    // a string id would cast to null and silently invert the policy
    val idType = df.schema(idCol).dataType
    require(Seq("byte", "short", "integer", "long")
        .contains(idType.typeName),
      s"keepBestClusters: idCol '$idCol' must be an integral column " +
        s"for the min-id tiebreak, got ${idType.typeName}")
    // label columns renamed before the join so caller frames that
    // already carry an `id` or `cluster` column stay unambiguous.
    // Star contraction, not label propagation: the production pair
    // source is the minhash-sorted CHAIN generator, whose mega-cluster
    // components are paths — O(diameter) label propagation would burn
    // its full round budget there before auto-escalating to this.
    val cc = connectedComponentsStar(pairs)
      .select(col("id").as("__kb_id"), col("cluster").as("__kb_cluster"))
    df.join(cc, col(idCol) === col("__kb_id"), "left")
      .select(col(idCol), col(qualityCol),
        coalesce(col("__kb_cluster"), col(idCol)).as("__kb_c"))
      .groupBy(col("__kb_c"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col(qualityCol).as("q"),
          (-col(idCol).cast(org.apache.spark.sql.types.DecimalType(20, 0)))
            .as("negid"),
          col(idCol).as("kid"))).as("b"))
      .select(col("__kb_c").as("cluster"), col("n_members"),
        col("b.kid").as("kept_id"), col("b.q").as("kept_quality"))
  }
}
