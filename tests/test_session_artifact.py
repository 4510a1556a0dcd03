"""The session-artifact memo (sources/corpus.session_artifact): one keyed
store for every frame derived from the driver tables, evicted by a
table rewrite, plus the scan-layout probe that routes through it."""

from __future__ import annotations

import os
import pathlib

import pytest

from conftest import SF_DIR
from kg_covid_19_spark.sources import corpus
from kg_covid_19_spark.sources.provider import TableProvider

PKG = pathlib.Path(corpus.__file__).resolve().parents[1]


def _docs(spark, rows, parts=1):
    return spark.createDataFrame(
        [(i, t, "en") for i, t in rows],
        "doc_id long, text string, lang string",
    ).repartition(parts)


def _parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def test_keying_lives_in_one_module():
    """No hand-rolled cache registry is left, and the session key is
    built only by the memo's own module."""
    assert not hasattr(corpus, "register_session_cache")
    users = sorted(
        str(p.relative_to(PKG))
        for p in PKG.rglob("*.py")
        if "table_source_key" in p.read_text()
    )
    assert users == [os.path.join("sources", "corpus.py")]


def test_default_argument_spellings_share_one_entry(spark):
    from kg_covid_19_spark.plans.pipeline import get_kg

    assert (
        get_kg(spark, SF_DIR)
        is get_kg(spark, SF_DIR, None)
        is get_kg(spark, SF_DIR, langs=None)
    )


def test_rewrite_in_session_rebuilds_artifacts(spark, tmp_path):
    """A same-session TableProvider rewrite of ``documents`` evicts the
    artifacts derived from it, the scan layout included, so the next
    read reflects the new rows."""
    from kg_covid_19_spark.operators.dedup import doc_shingle_sizes

    sf_dir = str(tmp_path)
    prov = TableProvider(spark, sf_dir)
    location = prov.location("documents")

    prov.write(_docs(spark, [(2, "a b c d"), (3, "a b c")]), "documents")
    sizes = {r.doc_id: r.n_sh for r in doc_shingle_sizes(spark, sf_dir).collect()}
    assert sizes == {2: 2, 3: 1}
    first_bytes = _parquet_bytes(location)
    assert corpus._scan_layout(spark, sf_dir, "documents")[1] == first_bytes

    prov.write(
        _docs(spark, [(4, "a b c d e f"), (5, "x y z w"), (6, "p q r")],
              parts=3),
        "documents",
    )
    sizes = {r.doc_id: r.n_sh for r in doc_shingle_sizes(spark, sf_dir).collect()}
    assert sizes == {4: 4, 5: 2, 6: 1}
    second_bytes = _parquet_bytes(location)
    assert second_bytes != first_bytes
    assert corpus._scan_layout(spark, sf_dir, "documents")[1] == second_bytes


def test_bigram_stream_is_released_on_invalidation(spark):
    """txt_bigram_lm pins its bigram stream as a session artifact; once
    the artifacts are invalidated nothing it built stays persisted."""
    from pyspark import StorageLevel

    from kg_covid_19_spark.functions.textstats import (
        _bigram_stream,
        txt_bigram_lm,
    )

    def persistent_rdds() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    corpus.invalidate_session_caches(spark)
    before = persistent_rdds()
    txt_bigram_lm(spark, SF_DIR).collect()
    _, stream = _bigram_stream(spark, SF_DIR)
    assert stream.storageLevel != StorageLevel.NONE
    assert persistent_rdds() - before

    corpus.invalidate_session_caches(spark)
    assert stream.storageLevel == StorageLevel.NONE
    assert persistent_rdds() - before == set()


@pytest.mark.parametrize(
    "value, expected",
    [
        ("134217728", 134217728),
        ("134217728b", 134217728),
        ("128m", 128 << 20),
        ("128M", 128 << 20),
        ("128mb", 128 << 20),
        ("128MB", 128 << 20),
        ("1g", 1 << 30),
        ("1G", 1 << 30),
        ("64k", 64 << 10),
    ],
)
def test_parse_bytes_accepts_spark_byte_strings(value, expected):
    assert corpus._parse_bytes(value) == expected


@pytest.mark.parametrize("value", ["", "m", "12x", "1.5g", "-1"])
def test_parse_bytes_rejects_malformed(value):
    with pytest.raises(ValueError):
        corpus._parse_bytes(value)


def test_unknown_size_passes_min_bytes_gate(spark, tmp_path, monkeypatch):
    """When the file size cannot be estimated the layout records no
    byte count, and the min_bytes gate lets the lift through."""
    sf_dir = str(tmp_path)
    TableProvider(spark, sf_dir).write(
        _docs(spark, [(i, f"t {i}") for i in range(8)]), "documents"
    )

    def unparseable(value):
        raise ValueError(value)

    monkeypatch.setattr(corpus, "_parse_bytes", unparseable)
    splits, nbytes = corpus._scan_layout(spark, sf_dir, "documents")
    assert nbytes is None
    target = spark.sparkContext.defaultParallelism
    assert splits < target
    docs = corpus.read_table(spark, sf_dir, "documents")
    lifted = corpus.ensure_min_parallelism(
        spark, sf_dir, docs, min_bytes=1 << 40
    )
    assert lifted.rdd.getNumPartitions() == target
