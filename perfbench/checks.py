"""Output checks, run outside the timed rounds.

* Every registry call's collected result must match its DuckDB
  ``oracle_sql()`` entry: same row count, same column names, same
  order-insensitive value hash (``tools/check_oracle.value_hash``, with the
  oracle fetched through Arrow exactly as that tool does).
* The built graph's sorted-row sha256, computed as ``tools/determinism.py``
  does, must be identical across rounds and equal to the digest pinned for
  the workload's scale.
* The row flow (rows at each layer, read off the cached artifacts) must
  keep its conservation identities and equal the counts pinned for the
  workload.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from tools.check_oracle import value_hash


def result_hash(cols: list[str], rows: list) -> tuple[list[str], int, str]:
    """(column names, row count, value hash) of a collected Spark result."""
    return cols, len(rows), value_hash(cols, [tuple(r) for r in rows])


def graph_digest(df) -> str:
    """sha256 over the sorted, \\x1f-joined rows (tools/determinism.py)."""
    h = hashlib.sha256()
    for row in sorted(
        "\x1f".join("" if v is None else str(v) for v in r) for r in df.collect()
    ):
        h.update(row.encode())
        h.update(b"\n")
    return h.hexdigest()


def kg_row_flow(spark, sf_dir: str) -> tuple[dict, list[str]]:
    """Row counts at each KG pipeline layer, read off the cached artifacts,
    and the conservation identities they violate (empty when they hold)."""
    from pyspark.sql import functions as F

    from kg_covid_19_spark.dictionaries import COOC_PREDICATE, MENTION_PREDICATE
    from kg_covid_19_spark.plans.pipeline import get_kg, get_mention_arrays, pair_expand

    arrays = get_mention_arrays(spark, sf_dir)
    k = F.when(F.col("curies").isNull(), 0).otherwise(F.size("curies"))
    docs, with_m, sum_k, sum_pairs = arrays.agg(
        F.count(F.lit(1)),
        F.sum((k > 0).cast("long")),
        F.sum(k.cast("long")),
        F.sum((k.cast("long") * (k - 1) / 2).cast("long")),
    ).first()
    raw = arrays.select(F.explode(pair_expand(F.col("curies")))).count()
    _, edges = get_kg(spark, sf_dir)
    by_pred = dict(edges.groupBy("predicate").count().collect())
    flow = {
        "docs": docs,
        "docs_with_mentions": with_m or 0,
        "mention_edges": by_pred.get(MENTION_PREDICATE, 0),
        "cooc_pairs_raw": raw,
        "cooc_edges": by_pred.get(COOC_PREDICATE, 0),
    }
    flow["pair_dedup_yield"] = flow["cooc_edges"] / raw if raw else 0.0
    broken = []
    if flow["mention_edges"] != (sum_k or 0):
        broken.append(f"mention_edges {flow['mention_edges']} != sum|curies| {sum_k}")
    if raw != (sum_pairs or 0):
        broken.append(f"cooc_pairs_raw {raw} != sum k(k-1)/2 {sum_pairs}")
    return flow, broken


def curate_row_flow(ctx) -> tuple[dict, list[str]]:
    """Candidate and verified near-duplicate pair counts."""
    cand = ctx.registry["doc_minhash_candidates"](ctx.spark, ctx.sf_dir).count()
    pairs = ctx.registry["doc_neardup_pairs"](ctx.spark, ctx.sf_dir).count()
    return {
        "minhash_candidates": cand,
        "neardup_pairs": pairs,
        "candidate_yield": pairs / cand if cand else 0.0,
    }, []


def check_flow(workload: str, flow: dict) -> list[str]:
    """Differences between a row flow and the counts pinned for ``workload``."""
    from workloads import PINNED_FLOW

    want = PINNED_FLOW[workload]
    got = {k: flow.get(k) for k in want}
    return [] if got == want else [f"row flow {got} != pinned {want}"]


class Oracle:
    """DuckDB over a scale's base tables, one view per table.

    The program reads byte copies of the base tables, so the oracle answers
    for the base tables. Answers are cached on disk under a key made of the
    base tables' bytes and the SQL text, so a changed table or oracle is
    always recomputed; the reference queries cost seconds each in DuckDB.
    """

    def __init__(self, tables_dir: str, cache_dir: str):
        self.tables_dir, self.cache_dir = tables_dir, cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        h = hashlib.sha256()
        self.tables = sorted(f for f in os.listdir(tables_dir) if f.endswith(".parquet"))
        for f in self.tables:
            h.update(f.encode())
            with open(os.path.join(tables_dir, f), "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
        self.tables_key = h.hexdigest()
        self.con = None

    def _connect(self):
        con = duckdb.connect()
        spill = os.path.join(self.cache_dir, "spill")
        os.makedirs(spill, exist_ok=True)
        con.execute(f"SET temp_directory='{spill}'")
        for f in self.tables:
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.tables_dir, f)}')"
            )
        return con

    def result(self, sql: str) -> tuple[list[str], int, str]:
        key = hashlib.sha256(f"{self.tables_key}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.json")
        if os.path.exists(path):
            with open(path, encoding="utf-8") as fh:
                cols, n, digest = json.load(fh)
            return cols, n, digest
        if self.con is None:
            self.con = self._connect()
        res = self.con.execute(sql)
        cols = [d[0] for d in res.description]
        if len(set(cols)) != len(cols):
            raise ValueError(f"duplicate oracle columns {cols}")
        tbl = res.arrow()
        rows = list(zip(*(c.to_pylist() for c in tbl.columns))) if cols else []
        out = (cols, len(rows), value_hash(cols, rows))
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(out, fh)
        os.replace(tmp, path)
        return out

    def close(self) -> None:
        if self.con is not None:
            self.con.close()


def compare(name: str, got: tuple, want: tuple) -> str | None:
    """None when a Spark result matches its oracle, else a one-line reason."""
    (gc, gn, gh), (wc, wn, wh) = got, want
    if sorted(gc) != sorted(wc):
        return f"{name}: columns {gc} != oracle {wc}"
    if gn != wn:
        return f"{name}: {gn} rows != oracle {wn}"
    if gh != wh:
        return f"{name}: value hash {gh} != oracle {wh}"
    return None
