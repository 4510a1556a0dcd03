"""The benchmark's workloads: what one closed-loop round calls, in order.

Every round starts with ``invalidate_session_caches`` (span
``cache.invalidate``), so each round rebuilds the session artifacts it
reads. The first calls after it are the round's *ready* phase: the shared
artifact every later call reads (the knowledge graph, or the MinHash
candidate chain). The rest is the *serve* phase. Span names are
``<layer>.<function>``, the layer named after the engine module.

Every call fully produces its result: registry calls through a
``write.format("noop")`` sink, the artifact getters and ``write_kgx``
through their own materialization. Never ``count(*)``, which lets
Catalyst prune UDF and explode work.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from typing import Callable

from kg_covid_19_spark.plans.pipeline import get_kg, get_mention_arrays
from kg_covid_19_spark.sources.kgx import read_kgx, write_kgx

#: the 7 reference SPARQL-template analogs, then 5 graph-serving templates:
#: mention and co-occurrence counts, two iterative families (the
#: fixed-round PageRank loop and the connected-components fixpoint) and
#: kg_graph_stats, the cheapest template of the merged layer (it builds
#: get_merged, the document graph fused with the ontology, then counts it).
#: kg_ego_export, kg_hub_distances, kg_triangle_counts and kg_assoc_topk
#: are left out: at sf0.1 they would add ~12 s to a warm round and ~20 s to
#: the cold one, more than the run budget of two workloads can carry.
QUERY_MIX = (
    "kg_category_counts", "kg_protein_nodes", "kg_one_hop", "kg_two_hop",
    "kg_druggable_two_hop", "kg_provided_by_counts", "kg_drug_mentions",
    "kg_mention_counts", "kg_cooccurrence_counts", "kg_pagerank",
    "kg_components", "kg_graph_stats",
)

CURATE_OPS = (
    "doc_minhash_candidates", "doc_neardup_pairs", "doc_simhash_neardup",
    "doc_dup_spans", "emb_cosine_neardup",
)

#: registry name -> layer (engine module) it lives in
LAYER_OF = {
    "kg_openie_triples": "triples",
    "kg_graph_stats": "merged",
    "emb_cosine_neardup": "similarity",
    **{op: "dedup" for op in CURATE_OPS[:4]},
}


def layer_of(registry_name: str) -> str:
    return LAYER_OF.get(registry_name, "queries")


@dataclass(frozen=True)
class Ctx:
    spark: object
    sf_dir: str
    work_dir: str
    registry: dict


@dataclass(frozen=True)
class Call:
    name: str                      # span name, <layer>.<function>
    phase: str                     # "ready" or "serve"
    run: Callable[[Ctx], None]      # fully produces the result
    registry: str | None = None    # oracle-checked registry entry


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def registry_call(name: str, phase: str) -> Call:
    return Call(
        f"{layer_of(name)}.{name}", phase,
        lambda ctx: noop(ctx.registry[name](ctx.spark, ctx.sf_dir)),
        registry=name,
    )


def kgx_dir(ctx: Ctx) -> str:
    return os.path.join(ctx.work_dir, "kgx")


def _write_kgx(ctx: Ctx) -> None:
    nodes, edges = get_kg(ctx.spark, ctx.sf_dir)
    write_kgx(nodes, edges, kgx_dir(ctx))


def kgx_rows(ctx: Ctx) -> tuple[int, int]:
    """Rows written by the last write_kgx, read back through read_kgx."""
    nodes, edges = read_kgx(ctx.spark, kgx_dir(ctx))
    return nodes.count(), edges.count()


GRAPH_READY = (
    Call("pipeline.get_mention_arrays", "ready",
         lambda ctx: get_mention_arrays(ctx.spark, ctx.sf_dir)),
    Call("pipeline.get_kg", "ready", lambda ctx: get_kg(ctx.spark, ctx.sf_dir)),
)


@dataclass(frozen=True)
class Workload:
    name: str
    scale: str                     # base-table directory under perfbench/data
    calls: Callable[[int, int], tuple[Call, ...]]  # (seed, round) -> calls
    builds_graph: bool


def shuffled(names: tuple[str, ...], seed: int, round_no: int) -> list[str]:
    """``names`` in the order the seed gives the round."""
    out = list(names)
    random.Random(f"{seed}/{round_no}").shuffle(out)
    return out


def _graph_calls(seed: int, round_no: int) -> tuple[Call, ...]:
    return GRAPH_READY + (
        Call("sources.write_kgx", "serve", _write_kgx),
        registry_call("kg_openie_triples", "serve"),
        registry_call("kg_linked_mentions_scored", "serve"),
    ) + tuple(registry_call(q, "serve") for q in shuffled(QUERY_MIX, seed, round_no))


def _curate_calls(seed: int, round_no: int) -> tuple[Call, ...]:
    # every serve call reads the candidates the ready call cached
    return (registry_call(CURATE_OPS[0], "ready"),) + tuple(
        registry_call(op, "serve") for op in shuffled(CURATE_OPS[1:], seed, round_no)
    )


WORKLOADS = {
    w.name: w
    for w in (
        # why each workload was chosen: BENCHMARK.json and README.md
        Workload("graph_sf0.1", "sf0.1", _graph_calls, builds_graph=True),
        Workload("curate_sf0.01", "sf0.01", _curate_calls, builds_graph=False),
    )
}


#: (nodes, edges) sorted-row sha256 of the graph each scale's tables build;
#: the sf0.1 pair is the one the repository README lists for the sf0.1 tables.
PINNED_DIGESTS = {
    "sf0.1": (
        "ff77ef1ea1c8443b31cef616a3800b9f119e9cef38cdb62fdbe8786b1715b64d",
        "4a94584599a93e295c0d9422e5d655c6b369b23e59f28d41933fdcfa5da4e92b",
    ),
}

#: row-flow counts (checks.kg_row_flow, checks.curate_row_flow) each
#: workload's tables give, checked in every run and after every traced round
PINNED_FLOW = {
    "graph_sf0.1": {
        "docs": 5000, "docs_with_mentions": 4997, "mention_edges": 40414,
        "cooc_pairs_raw": 152933, "cooc_edges": 55,
    },
    "curate_sf0.01": {"minhash_candidates": 139, "neardup_pairs": 134},
}
