"""Cross-JVM determinism probe (north-rule invariant: same input ⇒
byte-identical output at any parallelism).

Runs the FULL KG build in two fresh Spark JVMs — local[8] and
local[32] — and compares sha256 over the sorted node and edge rows,
and over the sorted result rows of every registry query that runs a
round loop (LOOP_QUERIES: the plans/iterate.py families).
Stronger than the in-session repartition tests (tests/test_mentions.py,
tests/test_reference_parity.py): a fresh JVM also re-derives broadcast
dictionaries, Arrow batching boundaries, and shuffle partitioning from
scratch, so any hidden order- or environment-dependence shows up here.

Usage: python tools/determinism.py [sf_dir] → one JSON line; exit 1 on
any mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LOOP_QUERIES = (
    "kg_label_propagation", "kg_label_propagation_fixpoint",
    "kg_components", "kg_components_fixpoint",
    "kg_kcore", "kg_kcore_fixpoint",
    "kg_hub_distances", "kg_weighted_distances", "kg_ktruss_fixpoint",
    "kg_pagerank", "kg_pagerank_personalized",
    "doc_dedup_clusters", "emb_dedup_clusters",
    "holdout_connected_split_counts",
)

CHILD = r"""
import hashlib, json, sys
sys.path.insert(0, {repo!r})
from kg_covid_19_spark.session import get_spark
from kg_covid_19_spark.plans.pipeline import build_kg
import __spark_entry__ as entry

cores = {cores}
spark = get_spark(app_name=f"determinism-{{cores}}",
                  master=f"local[{{cores}}]", shuffle_partitions=cores)
nodes, edges = build_kg(spark, {sf_dir!r})

def digest(df):
    h = hashlib.sha256()
    for row in sorted("\x1f".join("" if v is None else str(v) for v in r)
                      for r in df.collect()):
        h.update(row.encode())
        h.update(b"\n")
    return h.hexdigest()

queries = entry.queries()
loops = {{name: digest(queries[name](spark, {sf_dir!r}))
         for name in {loops!r}}}
print(json.dumps({{"cores": cores, "nodes": digest(nodes),
                   "edges": digest(edges), "loops": loops}}))
spark.stop()
"""


def run(cores: int, sf_dir: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", CHILD.format(repo=REPO, cores=cores,
                                            sf_dir=sf_dir,
                                            loops=LOOP_QUERIES)],
        capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    a, b = run(8, sf_dir), run(32, sf_dir)
    differ = [k for k in ("nodes", "edges") if a[k] != b[k]] + [
        name for name in LOOP_QUERIES if a["loops"][name] != b["loops"][name]
    ]
    match = not differ
    print(json.dumps({"sf_dir": sf_dir, "local8": a, "local32": b,
                      "differ": differ, "match": match}))
    sys.exit(0 if match else 1)


if __name__ == "__main__":
    main()
