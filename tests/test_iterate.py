"""The round-loop runner (plans/iterate.py) and the loop queries that
run through it: the runner's own contract, the shared co-occurrence
cache surviving the fixpoint queries, and oracle parity at sf0.01 for
the loop queries outside KG_QUERIES."""

from __future__ import annotations

import pathlib

import duckdb
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from conftest import SF_DIR, SF_DIR_MID, TABLES
from kg_covid_19_spark.plans.iterate import iterate, unchanged

PKG = pathlib.Path(__file__).resolve().parents[1] / "kg_covid_19_spark"


def _counter(spark):
    return spark.range(1).select(F.lit(0).alias("x"))


def _step(calls):
    def step(df):
        calls.append(1)
        return df.select((F.col("x") + 1).alias("x"))

    return step


def test_iterate_bounded_runs_exactly_rounds(spark):
    calls = []
    out = iterate(_counter(spark), _step(calls), 3)
    assert len(calls) == 3
    assert out.first()["x"] == 3


def test_iterate_until_stops_at_first_true_round(spark):
    calls, seen = [], []

    def until(prev, new):
        seen.append((prev.first()["x"], new.first()["x"]))
        return new.first()["x"] >= 2

    out = iterate(_counter(spark), _step(calls), 10, until)
    assert len(calls) == 2
    assert seen == [(0, 1), (1, 2)]
    assert out.first()["x"] == 2


def test_iterate_raises_when_rounds_run_out(spark):
    calls = []
    with pytest.raises(RuntimeError, match="did not converge within 4"):
        iterate(_counter(spark), _step(calls), 4, lambda prev, new: False)
    assert len(calls) == 4


def test_unchanged_is_null_safe(spark):
    schema = "id int, d int"
    prev = spark.createDataFrame([(1, None), (2, 5)], schema)
    same = spark.createDataFrame([(1, None), (2, 5)], schema)
    filled = spark.createDataFrame([(1, 0), (2, 5)], schema)
    until = unchanged("id", "d")
    assert until(prev, same)
    assert not until(prev, filled)


def test_did_not_converge_is_raised_in_one_place():
    users = sorted(
        str(p.relative_to(PKG))
        for p in PKG.rglob("*.py")
        if "did not converge" in p.read_text()
    )
    assert users == ["plans/iterate.py"]


@pytest.mark.parametrize(
    "query", ["kg_components_fixpoint", "kg_label_propagation_fixpoint"]
)
def test_fixpoint_query_keeps_shared_cooc_cache(spark, query):
    """The fixpoint queries run over the session-cached co-occurrence
    frame; they must not release it while the memo still serves it."""
    from kg_covid_19_spark.plans import queries
    from kg_covid_19_spark.sources.corpus import invalidate_session_caches

    invalidate_session_caches(spark)
    und = queries._und_cooc(spark, SF_DIR)
    assert und.storageLevel != StorageLevel.NONE
    getattr(queries, query)(spark, SF_DIR).collect()
    assert queries._und_cooc(spark, SF_DIR) is und
    assert und.storageLevel != StorageLevel.NONE


@pytest.fixture(scope="module")
def duck_mid():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR_MID}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "doc_dedup_clusters",
        "emb_dedup_clusters",
        "holdout_connected_split_counts",
    ],
)
def test_loop_query_matches_oracle_at_sf001(spark, duck_mid, name):
    """Loop queries outside KG_QUERIES are near-empty at sf0.001; at
    sf0.01 they have real clusters and a real forest."""
    import __spark_entry__ as entry
    from tools.check_oracle import value_hash

    df = entry.queries()[name](spark, SF_DIR_MID)
    cols = [f.name for f in df.schema.fields]
    rows = [tuple(r) for r in df.collect()]
    tbl = duck_mid.execute(entry.oracle_sql()[name]).arrow()
    ocols = tbl.column_names
    orows = list(zip(*(c.to_pylist() for c in tbl.columns)))
    assert rows
    assert sorted(cols) == sorted(ocols)
    assert len(rows) == len(orows)
    assert value_hash(cols, rows) == value_hash(ocols, orows)
