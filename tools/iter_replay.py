#!/usr/bin/env python3
"""Driver-side SEQUENTIAL replay oracle for the iterative family —
q_pagerank / q_pagerank_converged / q_kmeans / q_kmeans_converged —
at scales where the DuckDB unrolled-CTE oracles are infeasible (the
sf10 materialized 10-round unroll grinds like the recursive closure
did; see tools/uf_compare.py for the precedent this follows).

Feasibility rests on the queries' own determinism contracts: every
FP-hazardous reduction is quantized to exact integer sums BEFORE
accumulation (Graphs.prLoop, Similarity.kmeans scaladocs), and the
few genuine double ops (one damping multiply, centroid mean division,
the ordered graft_dot fold) are fixed IEEE op SEQUENCES — so a NumPy
replay that issues the identical op sequence reproduces the results
bit-for-bit, iteration counts included.

 - pairs/edges: computed by DuckDB with the SAME li/pairs CTE as the
   sf0.1 oracle SQL (queries/Analytics.scala q_pagerank oracle) — the
   non-recursive part DuckDB handles fine at sf10.
 - PageRank: prq0 = 1e9; contrib = prq // deg (integer); inflow =
   exact int64 scatter-add; next = 150000000 + floor(0.85*inflow+0.5);
   gate l1*1000 < epsMilli*mass in exact ints.
 - Lloyd's: e = floor(x*1e6+0.5) per dim; dist = (xx - 2*dot(e,ce)) +
   cc with dot as the ascending-index fold (one mul + one add per dim
   — vectorized across rows, looped across dims, the same op order as
   graft_dot); argmin tie-broken to the smallest cent; centroid mean
   = exact-int-sum / n; gate terms floor(|.|*1e3+0.5) as ints.
 - round(x, 6): Spark rounds DoubleType via BigDecimal.valueOf
   (shortest decimal string) HALF_UP — replicated as
   Decimal(repr(x)).quantize(1e-6, ROUND_HALF_UP).

Usage:
  python3 tools/iter_replay.py VERIFY_OUT SF_DIR [--artifact OUT.json]

Compares whichever of the four dumps exist in VERIFY_OUT; with
--artifact merges driver-format entries (same shape as compare.py /
uf_compare.py) into OUT.json.
"""
import json
import os
import sys
from decimal import Decimal, ROUND_HALF_UP

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from uf_compare import frame_eq, read_pq  # noqa: E402


def spark_round6(x):
    """Spark Round(DoubleType, 6): BigDecimal.valueOf(x) HALF_UP."""
    return float(Decimal(repr(float(x)))
                 .quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


# ---------------------------------------------------------------- pagerank

PAIRS_SQL = """
WITH li AS (SELECT l_orderkey, l_partkey
  FROM read_parquet('{li}')
  QUALIFY ROW_NUMBER() OVER (PARTITION BY l_orderkey
    ORDER BY l_partkey) <= 64)
SELECT a.l_partkey AS a, b.l_partkey AS b
FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
  AND a.l_partkey < b.l_partkey
GROUP BY 1, 2 HAVING COUNT(*) >= 2
"""


def co_pairs(sf_dir):
    import duckdb
    li = f"{sf_dir}/lineitem.parquet"
    if os.path.isdir(li):                  # organic fixtures are dirs
        li = f"{li}/*.parquet"
    t = duckdb.sql(PAIRS_SQL.format(li=li)).arrow()
    a = np.asarray(t["a"].to_numpy(), dtype=np.int64)
    b = np.asarray(t["b"].to_numpy(), dtype=np.int64)
    print(f"  pairs: {len(a)} (DuckDB)")
    return a, b


def pr_replay(a, b, iters=None, eps_milli=None, max_iters=None):
    """Returns (nodes, prq, n_iters) after the fixed or gated loop."""
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    src = np.concatenate([inv[:len(a)], inv[len(a):]])
    dst = np.concatenate([inv[len(a):], inv[:len(a)]])
    deg = np.bincount(src, minlength=len(nodes)).astype(np.int64)
    prq = np.full(len(nodes), 1_000_000_000, dtype=np.int64)
    k = 0
    bound = iters if iters is not None else max_iters
    # oracle-of-record guard: a call with neither a fixed iteration
    # count nor a (gate, cap) pair would leave bound=None and fail with
    # an opaque TypeError below — fail loudly at the contract instead
    assert bound is not None, \
        "pr_replay needs iters= (fixed) or max_iters= (with eps_milli gate)"
    while k < bound:
        contrib = prq[src] // deg[src]
        inflow = np.zeros(len(nodes), dtype=np.int64)
        np.add.at(inflow, dst, contrib)
        nxt = (150_000_000 +
               np.floor(0.85 * inflow.astype(np.float64) + 0.5)
               .astype(np.int64))
        l1 = int(np.abs(nxt - prq).sum())
        prq = nxt
        k += 1
        if eps_milli is not None and l1 * 1000 < eps_milli * int(prq.sum()):
            break
    return nodes, prq, k


def pr_top20(nodes, prq):
    order = np.lexsort((nodes, -prq))[:20]
    return [(int(nodes[i]), spark_round6(int(prq[i]) / 1e9)) for i in order]


def triangle_replay(a, b):
    """graft.operators.Graphs.triangleStats replayed exactly: undirected
    degrees, wedges = sum C(d,2), triangles counted on the (deg, id)-
    ordered orientation (out-neighbor intersection per oriented edge ==
    the closed-2-path count the Spark semi-join computes — each
    triangle has exactly one oriented 2-path). DuckDB OOMs on this at
    sf10 (the wedge join materializes; Spark streams it)."""
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = inv[:len(a)], inv[len(a):]
    deg = np.bincount(np.concatenate([ia, ib]),
                      minlength=len(nodes)).astype(np.int64)
    n_nodes, n_edges = len(nodes), len(a)
    n_wedges = int((deg * (deg - 1) // 2).sum())
    da, db = deg[ia], deg[ib]
    a_first = (da < db) | ((da == db) & (nodes[ia] < nodes[ib]))
    src = np.where(a_first, ia, ib)
    dst = np.where(a_first, ib, ia)
    order = np.lexsort((dst, src))
    s, d = src[order], dst[order]
    starts = np.searchsorted(s, np.arange(len(nodes)))
    ends = np.searchsorted(s, np.arange(len(nodes)) + 1)
    # Vectorized oriented-wedge close: |out(u) ∩ out(v)| per oriented
    # edge (u,v) == number of oriented 2-paths u→v→w whose chord (u,w)
    # is also an oriented edge. Materialize every 2-path endpoint w via
    # a ragged gather over out(v), then membership-test the (u,w) keys
    # against the (sorted, unique) oriented-edge keys with one
    # searchsorted — no per-edge Python loop. 2-path volume on the
    # (deg, id)-ordered orientation is exactly what the Spark semi-join
    # streams (bounded at every tested scale); keys are u*|V|+w in
    # int64 (|V|² < 2^63 for any graph NumPy can hold).
    cnt = ends[d] - starts[d]                      # |out(v)| per edge
    total = int(cnt.sum())
    grp_off = np.repeat(np.cumsum(cnt) - cnt, cnt)  # 2-path -> its edge's 0-base
    idx = np.repeat(starts[d], cnt) + (np.arange(total) - grp_off)
    u_rep = np.repeat(s, cnt).astype(np.int64)
    w = d[idx].astype(np.int64)
    nv = np.int64(len(nodes))
    edge_keys = s.astype(np.int64) * nv + d.astype(np.int64)  # lexsorted
    path_keys = u_rep * nv + w
    pos = np.searchsorted(edge_keys, path_keys)
    pos = np.minimum(pos, len(edge_keys) - 1)
    tri = int((edge_keys[pos] == path_keys).sum())
    clustering = spark_round6(3.0 * tri / n_wedges)
    return [(n_nodes, n_edges, n_wedges, tri, clustering)]


# ------------------------------------------------------------------ lloyd

def load_points(sf_dir):
    t = read_pq(f"{sf_dir}/embeddings.parquet")
    ids = np.asarray(t["vec_id"].to_numpy(), dtype=np.int64)
    emb = np.stack(t["embedding"].to_pylist()).astype(np.float64)
    order = np.argsort(ids, kind="stable")
    ids, emb = ids[order], emb[order]
    e = np.floor(emb * 1e6 + 0.5)
    print(f"  points: {len(ids)} x {e.shape[1]} (quantized)")
    return ids, e


def fold_dot(e, c):
    """Ascending-index fold of e[:, d] * c[d] — graft_dot's op order:
    acc = (acc + e_d*c_d) per dim, one IEEE mul + add each."""
    acc = np.zeros(e.shape[0], dtype=np.float64)
    for d in range(e.shape[1]):
        acc = acc + e[:, d] * c[d]
    return acc


def lloyd_assign(e, xx, cents):
    """cents: list of (cent_id, vector) ascending by cent_id. Returns
    per-point index into cents (argmin of (dist, cent))."""
    dists = np.empty((len(cents), e.shape[0]), dtype=np.float64)
    for i, (_, cv) in enumerate(cents):
        cc = 0.0
        for d in range(len(cv)):          # ordered fold for cc too
            cc = cc + cv[d] * cv[d]
        dists[i] = (xx - 2.0 * fold_dot(e, cv)) + cc
    return np.argmin(dists, axis=0)       # first minimum = smallest cent


def lloyd_update(e, assign, cents):
    out = []
    for i, (cid, _) in enumerate(cents):
        m = assign == i
        n = int(m.sum())
        if n == 0:
            continue                       # empty cluster drops (Lloyd)
        s = e[m].sum(axis=0)               # exact: integer-valued doubles
        out.append((cid, s / n))
    return out


def kmeans_result(e, assign, assign_cents, final_cents):
    """lloydResult: n = counts of the last assignment (against the
    pre-update cents), c_sum from the final cents, joined on cent."""
    counts = {}
    for i, (cid, _) in enumerate(assign_cents):
        counts[cid] = int((assign == i).sum())
    rows = []
    for cid, cv in final_cents:
        if cid not in counts or counts[cid] == 0:
            continue
        csum = 0.0
        for d in range(len(cv)):           # left fold ce[0]+ce[1]+...
            csum = csum + cv[d]
        rows.append((cid, counts[cid], spark_round6(csum / 1e6)))
    rows.sort()
    return rows


def kmeans_run(ids, e, k=4, iters=None, eps_milli=None, max_iters=None):
    xx = np.zeros(e.shape[0], dtype=np.float64)
    for d in range(e.shape[1]):
        xx = xx + e[:, d] * e[:, d]
    cents = [(int(ids[i]), e[i].copy()) for i in range(k)]
    assign, assign_cents = None, None
    it = 0
    bound = iters if iters is not None else max_iters
    while it < bound:
        assign_cents = list(cents)
        assign = lloyd_assign(e, xx, cents)
        nxt = lloyd_update(e, assign, cents)
        it += 1
        if eps_milli is not None:
            old = dict((c, v) for c, v in cents)
            l1 = mass = 0
            for cid, cv in nxt:
                if cid not in old:
                    continue
                ov = old[cid]
                for d in range(len(cv)):
                    l1 += int(np.floor(abs(cv[d] - ov[d]) * 1e3 + 0.5))
                    mass += int(np.floor(abs(cv[d]) * 1e3 + 0.5))
            cents = nxt
            if l1 * 1000 < eps_milli * mass:
                break
        else:
            cents = nxt
    return kmeans_result(e, assign, assign_cents, cents), it


# ------------------------------------------------------------------- main

def main():
    args = sys.argv[1:]
    artifact = None
    if "--artifact" in args:
        i = args.index("--artifact")
        artifact = args[i + 1]
        del args[i:i + 2]
    out_dir, sf_dir = args
    results = {}

    want_pr = [q for q in ("q_pagerank", "q_pagerank_converged",
                           "q_triangle_count")
               if os.path.isdir(f"{out_dir}/{q}")]
    if want_pr:
        a, b = co_pairs(sf_dir)
        if "q_triangle_count" in want_pr:
            t = read_pq(f"{out_dir}/q_triangle_count")
            results["q_triangle_count"] = frame_eq(
                "q_triangle_count", t,
                [("n_nodes", "int"), ("n_edges", "int"),
                 ("n_wedges", "int"), ("n_triangles", "int"),
                 ("clustering", "float")], triangle_replay(a, b))
        if "q_pagerank" in want_pr:
            nodes, prq, _ = pr_replay(a, b, iters=3)
            t = read_pq(f"{out_dir}/q_pagerank")
            results["q_pagerank"] = frame_eq(
                "q_pagerank", t,
                [("p_partkey", "int"), ("pagerank", "float")],
                pr_top20(nodes, prq))
        if "q_pagerank_converged" in want_pr:
            nodes, prq, k = pr_replay(a, b, eps_milli=20, max_iters=10)
            print(f"  pagerank gate: n_iters={k}")
            t = read_pq(f"{out_dir}/q_pagerank_converged")
            results["q_pagerank_converged"] = frame_eq(
                "q_pagerank_converged", t,
                [("p_partkey", "int"), ("pagerank", "float"),
                 ("n_iters", "int")],
                [(n, r, k) for n, r in pr_top20(nodes, prq)])

    want_km = [q for q in ("q_kmeans", "q_kmeans_converged")
               if os.path.isdir(f"{out_dir}/{q}")]
    if want_km:
        ids, e = load_points(sf_dir)
        if "q_kmeans" in want_km:
            rows, _ = kmeans_run(ids, e, k=4, iters=2)
            t = read_pq(f"{out_dir}/q_kmeans")
            results["q_kmeans"] = frame_eq(
                "q_kmeans", t,
                [("cent", "int"), ("n", "int"), ("c_sum", "float")], rows)
        if "q_kmeans_converged" in want_km:
            rows, k = kmeans_run(ids, e, k=4, eps_milli=60, max_iters=8)
            print(f"  kmeans gate: n_iters={k}")
            t = read_pq(f"{out_dir}/q_kmeans_converged")
            results["q_kmeans_converged"] = frame_eq(
                "q_kmeans_converged", t,
                [("cent", "int"), ("n", "int"), ("c_sum", "float"),
                 ("n_iters", "int")],
                [(c, n, s, k) for c, n, s in rows])

    for q, en in sorted(results.items()):
        ok = en["rows_match"] and en["schema_match"] and en["hash_match"]
        print(f"{q}: {'OK' if ok else 'FAIL'} "
              f"(rows {en['spark_rows']} vs {en['oracle_rows']})")
    if artifact:
        merged = json.load(open(artifact)) if os.path.exists(artifact) else {}
        merged.update(results)
        json.dump(merged, open(artifact, "w"), indent=1, sort_keys=True)
        print(f"wrote {artifact}")
    bad = [q for q, en in results.items()
           if not (en["rows_match"] and en["schema_match"]
                   and en["hash_match"])]
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
