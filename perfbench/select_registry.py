#!/usr/bin/env python3
"""One-time selection of the frozen registry lists (run from the repo root).

1. Trace one full-registry pass (every SparkEntry.queries entry, split into
   build / plan / exec) at local[nproc] over a fixture directory:

       python3 perfbench/select_registry.py trace <fixture-dir> <warm-dir>

   writes perfbench/registry/selection_pass.json.

2. Dump the candidates with graft.Verify at the same scale, check the dump
   with tools/check.py, then freeze the lists with the dump's row counts:

       sbt 'runMain graft.Verify <fixture-dir> <dump> q_a,q_b,...'
       python3 tools/check.py <fixture-dir> <dump>
       python3 perfbench/select_registry.py lists <dump>

   writes perfbench/registry/registry_iterative.json.

registry_iterative is ITERATIVE: of the round-based/pinned CANDIDATES, the
three whose build-time jobs outnumber their execution jobs the most
(q_bradley_terry 19:2, q_kcore 22:3, q_pca_top2 37:5 in the selection
pass). The list is this short because every run is a fresh JVM in which
these queries run several times slower than in a long warm one, and the
whole benchmark has to fit its time budget.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

CANDIDATES = ["q_bradley_terry", "q_hits", "q_pagerank", "q_label_prop",
              "q_kcore", "q_textrank", "q_power_iteration", "q_pca_top2",
              "q_bfs_hops", "q_closeness", "q_kmeans_iter", "q_gmm_em",
              "q_dbscan_clusters", "q_abc_xyz", "q_golden_record",
              "q_fk_discovery"]
ITERATIVE = ["q_bradley_terry", "q_kcore", "q_pca_top2"]
REG = os.path.join(run.HERE, "registry")
SELECTION = os.path.join(REG, "selection_pass.json")


def trace(fixtures, warm):
    cp = run.build()
    work = os.path.join(run.WORK, "select")
    os.makedirs(work, exist_ok=True)
    names = run.subprocess.run(
        ["java", "-cp", cp, "perfbench.ListQueries"], capture_output=True,
        text=True, check=True).stdout.split()
    res = run.run_jvm(cp, {
        "kind": "registry", "fixtures": os.path.abspath(fixtures),
        "warm": os.path.abspath(warm), "queries": ",".join(names),
        "passes": 1, "trace": 1, "baseline": 0,
        "cpus": run.cpus(), "setup_reps": 1}, work, run.time.time() + 7200)
    spans = res["spans"]
    queries = {}
    for o in res["ops"]:
        queries[o["name"]] = {"wall_s": o["wall_s"], "rows": o["rows"],
                              "error": o["error"],
                              "plan_s": o["extra"].get("catalyst_s"),
                              "pins_created": o["extra"].get("pins_created")}
    for r in (s for s in spans if s["parent"] == -1):
        for s in spans:
            if s["parent"] == r["id"]:
                q = queries[r["name"]]
                q[s["name"] + "_s"] = s["dur_s"]
                q[s["name"] + "_jobs"] = s["jobs"]
                q[s["name"] + "_task_s"] = s["task_s"]
    os.makedirs(REG, exist_ok=True)
    with open(SELECTION, "w") as f:
        json.dump({"cores": res["cores"], "fixture": os.path.basename(
            os.path.normpath(fixtures)), "queries": queries}, f, indent=1,
            sort_keys=True)


def lists(dump):
    import pyarrow.parquet as pq
    with open(SELECTION) as f:
        sel = json.load(f)
    rows = {q: pq.ParquetDataset(os.path.join(dump, q)).read().num_rows
            for q in sorted(ITERATIVE)}
    with open(os.path.join(REG, "registry_iterative.json"), "w") as f:
        json.dump({"fixture": sel["fixture"], "rows": rows}, f, indent=1,
                  sort_keys=True)


if __name__ == "__main__":
    if sys.argv[1] == "trace":
        trace(sys.argv[2], sys.argv[3])
    elif sys.argv[1] == "lists":
        lists(sys.argv[2])
    else:
        sys.exit(__doc__)
