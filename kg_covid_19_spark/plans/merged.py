"""Merged-graph query layer: the merge stage wired end-to-end.

documents source (plans/pipeline.build_kg) + ontology source
(sources/ontology) → merge (operators/merge) → merged nodes/edges/stats,
each with a DuckDB oracle over dictionaries.merged_cte_sql.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dictionaries import merged_cte_sql
from ..operators.merge import graph_stats, merge_edges, merge_nodes, salted_node_fusion
from ..sources.corpus import session_artifact
from ..sources.ontology import ontology_edges, ontology_nodes
from .pipeline import get_kg


@session_artifact
def get_merged(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    doc_nodes, doc_edges = get_kg(spark, sf_dir)
    nodes = merge_nodes([doc_nodes, ontology_nodes(spark)]).persist()
    edges = merge_edges([doc_edges, ontology_edges(spark)]).persist()
    nodes.count()
    edges.count()
    return nodes, edges


def kg_merged_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _ = get_merged(spark, sf_dir)
    return nodes


def kg_merged_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, edges = get_merged(spark, sf_dir)
    return edges


def kg_merged_nodes_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as kg_merged_nodes via the explicit two-phase salted
    fusion (skew path) — the oracle equality IS the correctness proof that
    salting preserves semantics."""
    doc_nodes, _ = get_kg(spark, sf_dir)
    return salted_node_fusion([doc_nodes, ontology_nodes(spark)])


def kg_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, edges = get_merged(spark, sf_dir)
    return graph_stats(nodes, edges)


def kg_namespace_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG QC: node counts per CURIE namespace (prefix before ':') —
    the prefix-coverage readout a KGX validation pass prints
    (reference: kgx validate over merged-kg; SURVEY §2.6 C-family).
    One bounded groupBy (namespaces are the prefix dictionary)."""
    nodes, _ = get_merged(spark, sf_dir)
    return (
        nodes.select(
            F.split(F.col("id"), ":").getItem(0).alias("namespace")
        )
        .groupBy("namespace")
        .agg(F.count("*").alias("n_nodes"))
    )


def kg_dangling_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG QC: referential integrity — edges whose subject or object has
    no node row (the dangling-edge check a KGX validator runs; the
    merge stage should leave zero on its own output, and the count
    being driver-checked keeps that invariant load-bearing). Two
    anti-joins on the node id key, union, dedup on the edge key."""
    nodes, edges = get_merged(spark, sf_dir)
    ids = nodes.select("id")
    missing_s = edges.join(
        ids.withColumnRenamed("id", "subject"), "subject", "left_anti"
    )
    missing_o = edges.join(
        ids.withColumnRenamed("id", "object"), "object", "left_anti"
    )
    return (
        missing_s.select("subject", "predicate", "object")
        .unionByName(missing_o.select("subject", "predicate", "object"))
        .distinct()
    )


@session_artifact
def _ego_undirected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both directions of the merged edge list as distinct (u, v) pairs,
    pinned: it feeds BOTH ego-export hop joins (the walk-adjacency
    lesson: no ReusedExchange across sibling joins, so an unpinned
    frame re-unions and re-distincts the edge list per hop; measured
    ~2x at sf1)."""
    _, edges = get_merged(spark, sf_dir)
    # hash-partition the pinned frame on the hop-join key (r7): the
    # distinct leaves it partitioned on (u, v), so BOTH hop joins
    # re-exchanged the full 2|E| frame; partitioned on u the cached
    # partitioning is reused and only the (smaller) frontier side
    # shuffles (guide §2.4)
    # repartition BEFORE distinct: hashpartitioning(u) satisfies the
    # distinct's clustering requirement on (u, v) (u co-locates every
    # duplicate), so the dedup runs on the same exchange instead of
    # adding a second one
    und = edges.select(
        F.col("subject").alias("u"), F.col("object").alias("v")
    ).unionByName(
        edges.select(
            F.col("object").alias("u"), F.col("subject").alias("v")
        )
    ).repartition(F.col("u")).distinct().persist()
    und.count()
    return und


@session_artifact
def _ego_hop1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(seed, node) hop-1 pairs of every entity seed, pinned: hop-1
    feeds THREE consumers (the hop-2 frontier join, the anti-join, the
    output union); r7 pins it once — same lesson as the undirected
    frame (no ReusedExchange across sibling joins, so an unpinned h1
    re-ran the seed⋈und distinct three times). Bounded: Σ deg(seed)
    pairs, dictionary-scale seeds."""
    nodes, _ = get_merged(spark, sf_dir)
    seeds = F.broadcast(
        nodes.filter(F.col("category") != "biolink:Publication")
        .select(F.col("id").alias("seed"))
        .distinct()
    )
    und = _ego_undirected(spark, sf_dir)
    h1 = (
        seeds.join(und, F.col("seed") == F.col("u"))
        .select("seed", F.col("v").alias("node"))
        .distinct()
        .persist()
    )
    h1.count()
    return h1


def kg_ego_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop ego-net export per ENTITY seed — the neighborhood-sampling
    table a GNN trainer reads instead of the raw edge list: for every
    non-publication node, its hop-1 neighborhood (the publications
    mentioning it + linked entities) and the hop-2 frontier (nodes
    reachable through hop-1, minus hop-1 and the seed), labeled with
    the MINIMUM hop. Seeding on the entity side keeps the export
    bounded: entity seeds are dictionary-scale, hop-1 is the mention
    edge list re-keyed, and hop-2 collapses back to the dictionary —
    publication seeds would explode through hub entities into a
    pairs-of-documents blowup (the shape this design exists to avoid).

    100 TB shape: two frontier equi-joins on the node key + distinct;
    the broadcast seed set prunes the first join; no per-seed loops,
    no collect."""
    und = _ego_undirected(spark, sf_dir)
    h1 = _ego_hop1(spark, sf_dir)
    # r7: the old shape shuffled the hop-2 production TWICE — once for
    # its distinct, once more through the anti-join against h1 — before
    # unioning. MIN-hop over (production ∪ h1) is the same set in ONE
    # keyed aggregation (partial-agg collapses duplicates map-side):
    # a pair in h1 gets min=1 (exactly the h1 rows); a pair reachable
    # only at hop 2 gets min=2 (exactly distinct-production − h1); the
    # seed itself is excluded from hop-2 rows as before. Proven
    # equivalent by the unchanged DuckDB oracle hash.
    h2pre = (
        h1.join(und, F.col("node") == F.col("u"))
        .select("seed", F.col("v").alias("node"), F.lit(2).alias("hop"))
    )
    return (
        h1.select("seed", "node", F.lit(1).alias("hop"))
        .unionByName(h2pre)
        .groupBy("seed", "node")
        .agg(F.min("hop").alias("hop"))
        .filter((F.col("hop") == 1) | (F.col("node") != F.col("seed")))
    )


MERGED_QUERIES = {
    "kg_merged_nodes": kg_merged_nodes,
    "kg_merged_edges": kg_merged_edges,
    "kg_merged_nodes_salted": kg_merged_nodes_salted,
    "kg_graph_stats": kg_graph_stats,
    "kg_namespace_counts": kg_namespace_counts,
    "kg_dangling_edges": kg_dangling_edges,
    "kg_ego_export": kg_ego_export,
}

_CTE = merged_cte_sql()

MERGED_ORACLES = {
    "kg_merged_nodes": f"""
WITH {_CTE}
SELECT id, name, category, provided_by FROM merged_nodes
""",
    "kg_merged_edges": f"""
WITH {_CTE}
SELECT subject, predicate, object, relation, provided_by FROM merged_edges
""",
    "kg_merged_nodes_salted": f"""
WITH {_CTE}
SELECT id, name, category, provided_by FROM merged_nodes
""",
    "kg_namespace_counts": f"""
WITH {_CTE}
SELECT string_split(id, ':')[1] AS namespace, count(*) AS n_nodes
FROM merged_nodes GROUP BY 1
""",
    "kg_dangling_edges": f"""
WITH {_CTE}
SELECT DISTINCT subject, predicate, object FROM (
  SELECT e.subject, e.predicate, e.object FROM merged_edges e
  WHERE e.subject NOT IN (SELECT id FROM merged_nodes)
  UNION ALL
  SELECT e.subject, e.predicate, e.object FROM merged_edges e
  WHERE e.object NOT IN (SELECT id FROM merged_nodes)
)
""",
    "kg_graph_stats": f"""
WITH {_CTE}
SELECT 'node' AS kind, category AS facet, provided_by, count(*) AS n
FROM merged_nodes GROUP BY category, provided_by
UNION ALL
SELECT 'edge' AS kind, predicate AS facet, provided_by, count(*) AS n
FROM merged_edges GROUP BY predicate, provided_by
""",
    "kg_ego_export": f"""
WITH {_CTE},
und AS (
  SELECT DISTINCT u, v FROM (
    SELECT subject AS u, object AS v FROM merged_edges
    UNION ALL
    SELECT object AS u, subject AS v FROM merged_edges
  )
),
seeds AS (
  SELECT DISTINCT id AS seed FROM merged_nodes
  WHERE category <> 'biolink:Publication'
),
h1 AS (
  SELECT DISTINCT s.seed, und.v AS node
  FROM seeds s JOIN und ON s.seed = und.u
),
h2 AS (
  SELECT seed, node FROM (
    SELECT DISTINCT h1.seed, und.v AS node
    FROM h1 JOIN und ON h1.node = und.u
  ) x
  WHERE NOT EXISTS (
    SELECT 1 FROM h1 WHERE h1.seed = x.seed AND h1.node = x.node
  ) AND x.node <> x.seed
)
SELECT seed, node, 1 AS hop FROM h1
UNION ALL
SELECT seed, node, 2 AS hop FROM h2
""",
}
