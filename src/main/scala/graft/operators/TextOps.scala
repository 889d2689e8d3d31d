package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.Pin.PinOps

/** Text-analysis primitives for large-scale training-data pipelines.
  *
  * Everything here is built from codegen'd built-ins (length/split/regexp)
  * or higher-order array functions — no UDFs — so a 100 TB documents scan
  * stays a single pipelined stage: scan → project. Parity-plus over the
  * reference (whose string surface is §2.9; these compose it).
  */
object TextOps {

  /** Full-whitespace trim: Spark's `trim()` (and DuckDB's `TRIM`)
    * strip only ASCII spaces, but pandas `str.strip()`/`str.split()`
    * treat ANY whitespace as padding — a tab-padded doc would otherwise
    * grow a phantom empty token (Spark's split keeps trailing empties).
    * Oracles mirror this with `TRIM(x, ' '||chr(9..13))`. */
  def wsTrim(c: Column): Column = regexp_replace(c, "^\\s+|\\s+$", "")

  /** Whitespace tokens (pandas-ish `str.split()` with no args). */
  def tokens(text: Column): Column = split(wsTrim(text), "\\s+")

  /** Case-folded, punctuation-stripped word array (the normalization
    * the dedup shingles use — one definition both subsystems share). */
  def normWords(text: Column): Column =
    split(wsTrim(regexp_replace(lower(text), "[^a-z0-9\\s]", " ")), "\\s+")

  /** Token count (whitespace tokenization; 0 for empty/blank). */
  def tokenCount(text: Column): Column =
    when(length(wsTrim(text)) === 0, lit(0)).otherwise(size(tokens(text)))

  /** BPE-ish token count via match counting (GPT-2-style lexeme classes:
    * letter runs, digit runs, single punctuation). The pattern avoids
    * lookarounds, so RE2-based engines (DuckDB) count the identical
    * tokens — the count is oracle-checkable. */
  val bpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(bpeTokenPattern))

  /** Mean token length in characters. */
  def meanTokenLen(text: Column): Column =
    // Σ token lengths ≡ the non-whitespace chars of the trimmed text —
    // one codegen regex instead of an interpreted aggregate() lambda
    length(regexp_replace(text, "\\s+", "")).cast("double") /
      greatest(size(tokens(text)), lit(1)).cast("double")

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[.,!?;:'\"()\\[\\]-]", "")))
      .cast("double") / greatest(length(text), lit(1)).cast("double")

  /** English stopword ratio over tokens — one quality-score component. */
  val enStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "be")

  def stopwordRatio(text: Column, stopwords: Seq[String] = enStopwords): Column = {
    // token-boundary alternation counted in ONE codegen regex pass — the
    // filter(t, _.isin(...)) spelling is an interpreted lambda per row.
    // (?:^|\s) consumes the left boundary, the lookahead leaves the right
    // one for the next match, so adjacent stopwords all count.
    val pat = "(?:^|\\s)(?:" +
      stopwords.map(java.util.regex.Pattern.quote).mkString("|") +
      ")(?=\\s|$)"
    regexp_count(wsTrim(lower(text)), lit(pat)).cast("double") /
      greatest(size(tokens(lower(text))), lit(1)).cast("double")
  }

  /** Integer quality score in {0..3}: length band + stopword presence +
    * low punctuation density (shape borrowed from Gopher/C4-style
    * rules). Integer-valued so pipeline filters/aggregations over it
    * are exact under any partitioning. */
  def qualityScore3(text: Column): Column = {
    val lenOk = when(length(text).between(50, 5000), 1).otherwise(0)
    val stopOk = when(stopwordRatio(text) > 0.05, 1).otherwise(0)
    val punctOk = when(punctRatio(text) < 0.2, 1).otherwise(0)
    (lenOk + stopOk + punctOk).cast("int")
  }

  /** Composite quality score in [0,1] (the [0..3] rule count over 3). */
  def qualityScore(text: Column): Column =
    qualityScore3(text).cast("double") / lit(3.0)

  /** Language markers for the n-gram/stopword language-ID heuristic. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "with", "for", "that"),
    "fr" -> Seq("le", "la", "les", "et", "de", "un", "une", "est"),
    "es" -> Seq("el", "la", "los", "las", "y", "de", "un", "una", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "mit"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有"))

  /** Heuristic language ID: argmax of per-language marker-token hit count,
    * deterministic tie-break by language code. Pure expression tree —
    * scales as a projection; each language's hits are one codegen
    * regexp_count of a token-boundary alternation (the filter+isin
    * lambda spelling is interpreted CodegenFallback — same rewrite as
    * [[stopwordRatio]]). */
  def langId(text: Column): Column = {
    val lowered = wsTrim(lower(text))
    val scored = langMarkers.toSeq.sortBy(_._1).map { case (code, markers) =>
      val pat = "(?:^|\\s)(?:" +
        markers.map(java.util.regex.Pattern.quote).mkString("|") +
        ")(?=\\s|$)"
      struct(
        (-regexp_count(lowered, lit(pat))).as("neg_score"),
        lit(code).as("code"))
    }
    // argmax = least() over the (−score, code) structs: best score wins,
    // ties resolve to the alphabetically-first code. least() compares
    // structs lexicographically in codegen — array_sort would drag an
    // interpreted default-comparator lambda into every plan.
    least(scored: _*).getField("code")
  }

  /** Normalized document fingerprint: lowercase, strip punctuation,
    * collapse whitespace, md5. Identical fingerprints ⇒ near-identical
    * docs under formatting noise. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(wsTrim(regexp_replace(lower(text), "[^a-z0-9\\s]", "")),
      "\\s+", " "))

  /** Top-k TF-IDF terms per document.
    *
    * Plan shape at 100 TB: one token explode feeding a (doc, word)
    * hash aggregate (TF, map-side partials), a (word) hash aggregate
    * (DF) joined back on word — the natural key — and a per-doc window
    * for the top-k selection (shuffle on doc). Three key-appropriate
    * shuffles, nothing global, no collect: the corpus size N rides in
    * via a broadcast 1-row aggregate.
    *
    * The TF frame feeds BOTH the DF aggregate and the scoring join, and
    * Catalyst plans the two consumers as independent subtrees — without
    * materialization the (regex-heavy) tokenize + TF aggregation runs
    * twice (measured: 2.5 s → 1.4 s at sf0.1). localCheckpoint is the
    * standard TF-materialization step of every IR pipeline; blocks are
    * disk-backed and reclaimed by the ContextCleaner once the result is
    * unreferenced.
    *
    * Determinism: the rank orders by the 6-dp ROUNDED score (then term)
    * so a sub-1e-6 `ln` libm difference between engines can reorder
    * nothing — rounded ties break alphabetically on both sides.
    */
  def tfidfTopTerms(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, k: Int = 3): org.apache.spark.sql.DataFrame = {
    val toks = Parallelism.fanOut(df)
      .select(col(idCol), explode(normWords(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
      .pinned
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") *
        (log((col("n") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)), 6))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(byDoc))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tfidf"),
        col("rank").cast("int").as("rank"))
  }

  /** Byte-pair-encoding MERGE TRAINING (Sennrich et al. 2016; the
    * trainer behind every production subword tokenizer — [[bpeTokenCount]]
    * above is only the regex stand-in for APPLYING one), with several
    * merges learned per wave.
    *
    * Distributed shape: train on the (distinct word, frequency) table,
    * not the corpus, so every wave runs at VOCABULARY scale — explode
    * adjacent symbol pairs weighted by frequency, one hash-agg, a
    * metadata-sized head collect, a fold of the pinned pair counts into
    * the head's bounds, and a projection rewriting the pinned spelled
    * words.
    *
    * Determinism: pair counts are exact long sums; the winning pair is
    * a total order (count DESC, sym_a ASC, sym_b ASC); each symbol is
    * stored as ` sym ` (own leading AND trailing space), so the pattern
    * ` a  b ` never straddles token boundaries and one left-to-right
    * `replace` pass IS the greedy BPE merge — Spark's and DuckDB's
    * `replace` agree byte-for-byte (verified on `aaa`/`abab`).
    *
    * Batching: a sequential greedy trainer runs one job wave per RULE,
    * the scale bottleneck of a 32k-vocab tokenizer. A wave here learns
    * several provably NON-INTERACTING rules from one pair count and
    * returns BIT-IDENTICAL output to the sequential greedy (BpeBatchSpec
    * checks it against a sequential reference; q_bpe_merges' oracle
    * unrolls the sequential rounds).
    *
    * Admission — candidates scan in the greedy total order
    * (count DESC, pa, pb); the wave takes the running prefix and STOPS
    * (never skips) at the first candidate that could interact with an
    * already-selected rule r = (a, b):
    *
    *  - symbol overlap: the candidate names a, b, or the merged symbol
    *    "ab" — merging r would change its count or its identity;
    *  - count ≤ B(r) = adjMax(r) + catMax(r), where adjMax is the
    *    largest count among pairs adjacent to r (q.pb = a — destroyed
    *    "x a b" contexts — or q.pa = b, destroyed "a b y") and catMax
    *    the largest count among pairs already naming the symbol "ab".
    *    Every pair the merge of r creates or grows embeds one of those
    *    adjacencies, so its post-merge count is ≤ B(r): a candidate
    *    strictly above B(r) still outranks everything the merge can
    *    produce, which is exactly what sequential greedy would pick
    *    next. Pairs BETWEEN the candidate and r in the order were
    *    either admitted (disjoint) or stopped the wave, so nothing
    *    above the candidate was skipped;
    *  - self pairs (a = a): occurrences overlap ("aaa" counts 2, merges
    *    once), so their token reduction is not their count — one
    *    admits only as a single-rule wave.
    *
    * Within a wave the rules' instance sets are disjoint (non-self
    * pairs cannot overlap themselves, and symbol-disjoint rules cannot
    * touch each other's instances), so one chained replace pass in rank
    * order IS the sequential application, each rule removes exactly
    * pair_count symbols, and the per-rule tokens_after back-fills
    * exactly from one end-of-wave recount: T_i = T_end + Σ_{j>i} c_j.
    *
    * Cost per WAVE: one pair-count pin, one head collect, and one narrow
    * job folding the pinned pair counts into every head rule's adjMax
    * and catMax ([[Pin.fold]], against driver-side maps from the head's
    * symbols, so a pair costs at most 4 lookups and no pair × head join
    * is planned); the end-of-wave recount is observed by the spelling's
    * pin job ([[Pin.withGate]]). Every wave admits a rule, so `rounds`
    * also bounds the waves.
    *
    * @param words (word, freq) — distinct words with corpus frequency
    * @return (rules (merge_rank, sym_a, sym_b, pair_count, tokens_after),
    *         final spelling (word, freq, s)); tokens_after is recounted,
    *         not decremented (`aaa` has pair-count 2 but one merge). */
  def bpeTrainBatchedWithSpellings(words: org.apache.spark.sql.DataFrame,
                                   rounds: Int, headSize: Int = 64):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(headSize >= 1, s"headSize must be >= 1, got $headSize")
    val spark = words.sparkSession
    import spark.implicits._
    val nSyms = size(split(wsTrim(col("s")), " +"))
    val spelled0 = words.select(col("word"), col("freq"),
      regexp_replace(col("word"), "(.)", " $1 ").as("s")).pinned
    val rules = scala.collection.mutable
      .ArrayBuffer[(Int, String, String, Long, Long)]()
    val (spelled, _) = Loop.run("bpe", spelled0, rounds) { spelled =>
      val pairsDf = spelled
        .select(col("freq"), split(wsTrim(col("s")), " +").as("a"))
        .select(col("freq"), col("a"), posexplode(col("a")))
        .filter(col("pos") < size(col("a")) - 1)
        .select(col("freq"), col("col").as("pa"),
          get(col("a"), col("pos") + 1).as("pb"))
        .groupBy(col("pa"), col("pb")).agg(sum(col("freq")).as("c"))
        .pinned // the head scan and the bound fold read it
      val head = pairsDf.orderBy(col("c").desc, col("pa"), col("pb"))
        .limit(headSize).as[(String, String, Long)].collect()
      require(head.nonEmpty,
        s"bpeTrainBatched: corpus exhausted after ${rules.size} of " +
          s"$rounds merges — every word is a single symbol")
      val bound = admissionBounds(pairsDf, head)
      val selected = scala.collection.mutable
        .ArrayBuffer[(String, String, Long)]()
      var stop = false
      for ((pa, pb, c) <- head
           if !stop && rules.size + selected.size < rounds) {
        if (selected.isEmpty) {
          selected += ((pa, pb, c))
          if (pa == pb) stop = true // self pair: single-rule wave
        } else {
          val interacts = pa == pb || selected.exists { case (ra, rb, _) =>
            val syms = Set(ra, rb, ra + rb)
            syms.contains(pa) || syms.contains(pb)
          }
          val outranksNew = selected.forall { case (ra, rb, _) =>
            c > bound((ra, rb)) }
          if (interacts || !outranksNew) stop = true
          else selected += ((pa, pb, c))
        }
      }
      var sCol = col("s")
      for ((pa, pb, _) <- selected)
        sCol = call_function("replace", sCol,
          lit(" " + pa + "  " + pb + " "), lit(" " + pa + pb + " "))
      val (next, g) = Pin.withGate(
        spelled.select(col("word"), col("freq"), sCol.as("s")),
        sum(col("freq") * nSyms.cast("long")))
      val tEnd = g.getLong(0)
      val cs = selected.map(_._3)
      val ts =
        if (selected.size == 1) Seq(tEnd) // covers the self-pair wave
        else selected.indices.map(i => tEnd + cs.drop(i + 1).sum)
      for (((pa, pb, c), t) <- selected.zip(ts))
        rules += ((rules.size + 1, pa, pb, c, t))
      (next, rules.size == rounds)
    }
    val rulesDf = spark.createDataFrame(rules.toSeq)
      .toDF("merge_rank", "sym_a", "sym_b", "pair_count", "tokens_after")
    (rulesDf, spelled)
  }

  /** Each head rule (a, b)'s admission bound B = adjMax + catMax
    * ([[bpeTrainBatchedWithSpellings]]) over the pinned (pa, pb, c) pair
    * counts, an absent max reading 0: one [[Pin.fold]] of the raw pinned
    * rows. The head's symbols are driver-side maps from a symbol to the
    * head rules naming it — as `a` (pb = a is adjacent), as `b`
    * (pa = b), or as the merged `ab` (pa or pb = ab) — so each pair
    * costs at most 4 lookups. */
  private def admissionBounds(pairs: org.apache.spark.sql.DataFrame,
                              head: Array[(String, String, Long)]): Map[(String, String), Long] = {
    def rulesBy(sym: ((String, String, Long)) => String) =
      head.indices.groupBy(i => UTF8String.fromString(sym(head(i))))
        .map { case (k, v) => k -> v.toArray }
    val (byA, byB, byAb) = (rulesBy(_._1), rulesBy(_._2), rulesBy(h => h._1 + h._2))
    val none = Long.MinValue
    def raise(maxes: Array[Long], rules: Option[Array[Int]], c: Long): Unit =
      rules.foreach(_.foreach(i => maxes(i) = math.max(maxes(i), c)))
    val (adj, cat) = Pin.fold(pairs)(
      (Array.fill(head.length)(none), Array.fill(head.length)(none)))({
        case (acc @ (adj, cat), r) =>
          if (!r.isNullAt(2)) {
            val c = r.getLong(2)
            val pa = if (r.isNullAt(0)) null else r.getUTF8String(0)
            val pb = if (r.isNullAt(1)) null else r.getUTF8String(1)
            if (pb != null) { raise(adj, byA.get(pb), c); raise(cat, byAb.get(pb), c) }
            if (pa != null) { raise(adj, byB.get(pa), c); raise(cat, byAb.get(pa), c) }
          }
          acc
      }, { case (acc @ (adj, cat), (adj2, cat2)) =>
        for (i <- adj.indices) {
          adj(i) = math.max(adj(i), adj2(i))
          cat(i) = math.max(cat(i), cat2(i))
        }
        acc
      })
    def orZero(m: Long) = if (m == none) 0L else m
    head.indices.map(i =>
      (head(i)._1, head(i)._2) -> (orZero(adj(i)) + orZero(cat(i)))).toMap
  }

  /** [[bpeTrainBatchedWithSpellings]], rules only. */
  def bpeTrainBatched(words: org.apache.spark.sql.DataFrame,
                      rounds: Int): org.apache.spark.sql.DataFrame =
    bpeTrainBatchedWithSpellings(words, rounds)._1
}
