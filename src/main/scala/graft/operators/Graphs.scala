package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Pin.PinOps

/** Join-based graph analytics over co-occurrence graphs (parity-plus:
  * the reference has no graph surface; a warehouse running on the same
  * star schema does — recommendations, importance, community density).
  *
  * Scale rules, uniformly applied:
  *   - edges come from a self-join keyed on the CO-OCCURRENCE key
  *     (order, session, document), so fan-out is bounded by basket
  *     size, never |items|²;
  *   - every iteration/closure is an equi-join + hash aggregate — no
  *     adjacency list is ever collected or held per-task;
  *   - rank/count state is quantized longs (exact, order-free sums),
  *     so results are bit-stable under any partitioning or retry.
  */
object Graphs {

  /** Undirected co-occurrence pairs (a < b) of `itemCol` values sharing
    * a `keyCol` value, kept when the pair co-occurs ≥ `minCount` times.
    * Pair multiplicity is the product of the two items' in-basket row
    * multiplicities, exactly as the key-self-join this replaces
    * produced (r14 restructure — same DuckDB oracles, no self-join):
    *
    *  - each key's basket is ONE aggregate over the key shuffle: a
    *    SORTED `collect_list` of its items, sliced to the cap (the
    *    q_assoc_rules spelling) — no window, so no sort of the rows and
    *    no window stage before the aggregate;
    *  - pairs explode IN-basket — element i with every later element
    *    of the sorted array (equal values filtered: the self-join's
    *    `__i < __j` was a VALUE comparison), so the quadratic term
    *    never crosses the join machinery: measured at sf10 under
    *    6 GiB executors, q_pagerank's pair stage dropped ~46 GB of
    *    self-join sort/shuffle spill to ~2 GB (r14, when the cap was
    *    still a window sort);
    *  - the explicit repartition on the pair key before the count is
    *    the q_assoc_rules move: pair keys are mostly unique, so a
    *    map-side partial over the raw explode builds a huge hash map
    *    for near-zero reduction — pre-partitioned, the explode
    *    streams to the wire and the post-exchange agg is bounded.
    *
    * `maxBasket` bounds the basket² term the way every other
    * quadratic-risk family here does (minhash bucket cap, RangeJoin
    * maxMatches, fuzzy block cap): each key keeps the item-ordered head
    * of its first `maxBasket` rows, selected BEFORE anything quadratic.
    * On a 100 TB event log one hot session (the organic-sf1 soak's
    * hottest user already holds 2.1% of events) would otherwise square.
    * Null items sort first and count toward the cap, and pair with
    * nothing, so a key with n null rows pairs its `maxBasket − n`
    * smallest non-null items. The truncation is deterministic and
    * oracle-mirrorable (a ROW_NUMBER ≤ maxBasket over the item
    * order, nulls first): ties among equal (key, item) rows are
    * indistinguishable two-column tuples, so either pick yields the
    * same multiset. Order baskets are schema-bounded far below the
    * default, so the TPC-H graph queries are cap-unaffected at every
    * tested SF — the gate exists for open-ended keys (sessions, users,
    * documents).
    *
    * The cap bounds the PAIRS, not the aggregate buffer: a key's
    * `collect_list` buffer holds its whole basket before the slice, as
    * in q_assoc_rules. A hot key therefore costs one buffer of its
    * basket's size (linear), where the basket² explode it would
    * otherwise feed is cut to `maxBasket`².
    *
    * API CHANGE (r10): `maxBasket = 64` became the DEFAULT — before
    * r10 the operator had no cap. Library callers with baskets larger
    * than 64 items now get pairs only from each basket's item-ordered
    * 64-row head; pass a larger `maxBasket` if the tail pairs matter.
    * NOTE (r15): each kept basket explodes O(maxBasket²) pairs from one
    * row — so a very large `maxBasket` (Int.MaxValue, the pre-r10
    * escape hatch) concentrates a hot key's whole basket² in a single
    * row where the old self-join streamed it. If you genuinely need
    * uncapped pairs on open-ended keys, prefer the self-join spelling
    * (pre-r14 history of this file) over a huge cap here; for
    * schema-bounded baskets (orders, carts) any cap ≥ the real max is
    * free. */
  def coOccurrencePairs(df: DataFrame, keyCol: String, itemCol: String,
                        minCount: Long = 2L,
                        maxBasket: Int = 64): DataFrame = {
    require(maxBasket >= 2, s"maxBasket must be >= 2, got $maxBasket")
    // Each item rides in a one-field struct, which is never null, so
    // collect_list keeps null items, and sort_array puts them first: the
    // slice keeps exactly the rows a ROW_NUMBER ≤ maxBasket over the item
    // order keeps. A null item's pairs fail the a =!= b filter below.
    val baskets = df
      .select(col(keyCol).as("__k"), struct(col(itemCol).as("__i")).as("__s"))
      .groupBy(col("__k"))
      .agg(slice(sort_array(collect_list(col("__s"))), 1, maxBasket)
        .getField("__i").as("__items"))
      .select(col("__items"))
    baskets
      .select(col("__items"), posexplode(col("__items")))
      .select(col("col").as("a"),
        explode(slice(col("__items"), col("pos") + lit(2), lit(maxBasket)))
          .as("b"))
      .filter(col("a") =!= col("b"))
      // column-only repartition (r15): the pre-partition-before-count
      // move stays (mostly-unique pair keys make map-side partials
      // useless), but the partition COUNT is now sized by AQE from the
      // measured exploded-pair bytes instead of the old fixed
      // 4×shuffle.partitions constant — fewer empty tasks at small
      // inputs, the same large fan-out at scale (guide §2:
      // scale-adaptive partitioning, not a constant).
      .repartition(col("a"), col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("w")).filter(col("w") >= minCount)
      .select(col("a"), col("b"))
  }

  /** The one PageRank loop behind [[pageRank]] (no gate) and
    * [[pageRankConverged]] (`epsMilli`). Each round ([[prRound]]) is a
    * power-iteration step at damping 0.85 on 1e-9-quantized integer
    * rank mass, pinned to sever the iteration chain. With a gate the
    * pin also carries __delta = |Δprq| per node, and its own job
    * observes Σ__delta and Σprq ([[Pin.withGate]]): one job per round
    * either way. */
  private def prLoop(pairs: DataFrame, maxIters: Int,
                     epsMilli: Option[Long]): (DataFrame, Int) = {
    val gated = epsMilli.isDefined
    val edges = prEdges(pairs)
    val (pr, k) = Loop.run("pagerank", prInit(edges, gated).pinned, maxIters) { pr =>
      val next = prRound(edges, pr, gated)
      epsMilli match {
        case None => (next.pinned, false)
        case Some(eps) =>
          val (pinned, g) =
            Pin.withGate(next, sum(col("__delta")), sum(col("prq")))
          // Empty graph → the gate sums aggregate zero rows to NULL; fail
          // with the actual cause, not an opaque NPE from getLong.
          require(!g.isNullAt(0) && !g.isNullAt(1),
            "pageRankConverged: empty edge set — pairs has no rows")
          (pinned, BigInt(g.getLong(0)) * 1000 < BigInt(eps) * g.getLong(1))
      }
    }
    (pr.select(col("node"), col("prq")), k)
  }

  /** Both directions (src, dst) of every undirected pair, hash-
    * partitioned on `src` and pinned: read by the degree count and by
    * every round's join. One generator over the pairs' one aggregate —
    * a union of the two directions planned that aggregate twice.
    *
    * The pinned frame reports UnknownPartitioning, so the repartition
    * (it fixes the pin's partition count) spares the rounds no
    * exchange: each round joins this scan with the ranks again, and
    * adaptive execution broadcasts it while the edges are small. */
  private[graft] def prEdges(pairs: DataFrame): DataFrame = {
    val n = pairs.sparkSession.sessionState.conf.numShufflePartitions
    pairs
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(n, col("src"))
      .pinned
  }

  /** The initial ranks (node, prq = 1e9, deg[, __delta = 0]) with a
    * round's exact schema. Every column but `node` comes out of an
    * aggregate, as in [[prRound]], so it is nullable in both; a
    * non-null column here would make round 1 generate (and compile)
    * its own classes. */
  private[graft] def prInit(edges: DataFrame, gated: Boolean): DataFrame = {
    val cols = Seq(max(lit(1000000000L)).as("prq"), sum(lit(1L)).as("deg")) ++
      (if (gated) Seq(max(lit(0L)).as("__delta")) else Nil)
    edges.groupBy(col("src").as("node")).agg(cols.head, cols.tail: _*)
  }

  /** One round over pinned ranks `pr`: contribution = prq div deg
    * (exact), inflow sums exact, and the one damping multiply is a
    * single double op. Gated rounds add __delta = |Δprq|.
    *
    * Each joined edge (s, d) yields d's contribution and s's own deg and
    * prq. Edges run both ways and every node is a `src`, so one
    * aggregate per node sums its inflow and picks up its deg and
    * previous prq — no second join against the ranks, whose left join
    * used to shuffle them every round. */
  private[graft] def prRound(edges: DataFrame, pr: DataFrame,
                             gated: Boolean): DataFrame = {
    val none = lit(null).cast("long")
    val next = edges
      .join(pr.select(col("node").as("src"), col("prq"), col("deg")),
        Seq("src"))
      .select(explode(array(
        struct(col("dst").as("node"), expr("prq div deg").as("c"),
          none.as("deg"), none.as("prev")),
        struct(col("src").as("node"), lit(0L).as("c"), col("deg"),
          col("prq").as("prev")))).as("r"))
      .groupBy(col("r.node").as("node"))
      .agg(sum(col("r.c")).as("inflow"), max(col("r.deg")).as("deg"),
        max(col("r.prev")).as("__prev"))
      .select(col("node"), (lit(150000000L) +
        floor(lit(0.85) * col("inflow").cast("double") + 0.5).cast("long"))
        .as("prq"), col("deg"), col("__prev"))
    if (gated) next.select(col("node"), col("prq"), col("deg"),
      abs(col("prq") - col("__prev")).as("__delta"))
    else next.select(col("node"), col("prq"), col("deg"))
  }

  /** PageRank over undirected (a, b) pairs: `iters` fixed join-based
    * power iterations (see [[prRound]] for the quantized arithmetic).
    * Returns (node, prq) — prq/1e9 is the rank. */
  def pageRank(pairs: DataFrame, iters: Int = 3): DataFrame =
    prLoop(pairs, iters, None)._1

  /** PageRank iterated to CONVERGENCE — the loop shape a real training
    * job runs, vs [[pageRank]]'s fixed unroll. After each round the gate
    * compares the relative L1 rank movement (Σ|Δprq| / Σprq, both exact
    * integer sums) against `epsMilli`/1000 and stops early, bounded by
    * `maxIters`. The stop is bit-deterministic: the sums are exact longs
    * under any partitioning and the compare is integer
    * cross-multiplication (BigInt here, HUGEINT in the oracle), so an
    * unrolled replay reaches the identical iteration count — which is
    * what makes a convergence-gated loop oracle-checkable at all. The
    * gate is a 1-row aggregate observed by each iterate's pin job, so
    * this runs as many jobs as [[pageRank]] for the same rounds.
    *
    * Executor loss mid-loop: every iterate is pinned via [[Pin]]. In
    * the default localCheckpoint mode a lost executor loses pinned
    * blocks and the job fails (Spark cannot recompute a truncated
    * lineage) — rerun the query. With `spark.graft.reliableCheckpoint`
    * =true each iterate is a reliable checkpoint: surviving executors
    * re-read it and the loop resumes the SAME iteration sequence, so
    * the gate fires at the same k with the same bits.
    *
    * @return (final ranks (node, prq), iterations run) — `k` is
    *         `maxIters` when the gate never fired.
    */
  def pageRankConverged(pairs: DataFrame, epsMilli: Long,
                        maxIters: Int): (DataFrame, Int) = {
    require(epsMilli > 0 && maxIters > 0, s"bad gate ($epsMilli, $maxIters)")
    prLoop(pairs, maxIters, Some(epsMilli))
  }

  /** Triangle count + wedge count over undirected (a, b) pairs via
    * degree-ordered orientation (each edge oriented from its
    * (degree, id)-smaller endpoint — hubs fan out O(√E) wedges, the
    * Suri–Vassilvitskii MR-triangle trick), wedges closed with one
    * semi-join. Returns 1 row (n_nodes, n_edges, n_wedges,
    * n_triangles). */
  def triangleStats(pairs0: DataFrame): DataFrame = {
    val pairs = pairs0.pinned // degrees + orientation + closing probe
    val deg = pairs.select(col("a").as("node"))
      .union(pairs.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .pinned
    val ordered = pairs
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .pinned // wedge join reads it twice
    val wedges = ordered.select(col("src"), col("dst").as("m"))
      .join(ordered.select(col("src").as("m"), col("dst")), Seq("m"))
      .select(col("src"), col("dst"))
    val undirected = pairs.select(col("a").as("u"), col("b").as("v"))
      .union(pairs.select(col("b").as("u"), col("a").as("v")))
    val tri = wedges.join(undirected,
        col("src") === col("u") && col("dst") === col("v"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    pairs.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))))
      .crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"))
  }
}
