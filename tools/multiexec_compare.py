#!/usr/bin/env python3
"""Compare the MultiExecWitness outputs (multi-JVM local-cluster run,
reliable checkpointing, one run with an executor kill -9'd mid-
iteration) against the oracle-gated local[4] Verify outputs, row for
row, and write MULTIEXEC_WITNESS.json.

Usage: python3 tools/multiexec_compare.py /tmp/multiexec_out \
           /tmp/verify_out MULTIEXEC_WITNESS.json
"""
import glob, json, sys
import pyarrow.parquet as pq

PAIRS = [
    ("q_pagerank_converged", "q_pagerank_converged"),
    ("q_kmeans_converged", "q_kmeans_converged"),
    ("q_dedup_cluster_star", "q_dedup_cluster_star"),
    ("q_pagerank_converged_fault", "q_pagerank_converged"),
]

def load(d):
    files = glob.glob(f"{d}/*.parquet")
    assert files, f"no parquet under {d}"
    df = pq.read_table(files[0]).to_pandas()
    cols = sorted(df.columns)
    return df[cols].sort_values(cols).reset_index(drop=True)

def main(multi_dir, ref_dir, out):
    art = {}
    for got_name, ref_name in PAIRS:
        got = load(f"{multi_dir}/{got_name}")
        ref = load(f"{ref_dir}/{ref_name}")
        match = got.shape == ref.shape and \
            all((got[c].astype(str).to_numpy() ==
                 ref[c].astype(str).to_numpy()).all() for c in got.columns)
        art[got_name] = {"rows": len(got), "exact_match_vs_local": bool(match)}
        print(f"{got_name}: rows={len(got)} match={match}")
    art["_meta"] = {
        "topology": "local-cluster[2,2,1536] (multi-JVM: separate worker "
                    "+ executor processes)",
        "reliable_checkpoint": True,
        "fault": "one executor JVM kill -9'd while it ran a task of the "
                 "q_pagerank_converged_fault run's 8th or a later job; the "
                 "witness's stdout line 'after the kill' gives the "
                 "ExecutorLostFailure, FetchFailed and resubmitted-stage "
                 "counts",
        "reference": "local[4] Verify outputs (oracle-gated at sf0.01)",
    }
    with open(out, "w") as f:
        json.dump(art, f, indent=1, sort_keys=True)
    print(f"wrote {out}")
    assert all(v["exact_match_vs_local"] for k, v in art.items()
               if not k.startswith("_")), "MISMATCH"

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3])
