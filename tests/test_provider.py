"""Table-provider seam (sources/provider.py): the Iceberg-or-Parquet
indirection SURVEY §7.4 names. Both branches are EXERCISED here — the
catalog branch against the built-in spark_catalog (same V2 writeTo /
read.table calls an Iceberg catalog implements; swapping Iceberg in is
a config change), the path branch against partitioned parquet — and
both must show partition pruning in the executed plan."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from kg_covid_19_spark.sources.provider import CATALOG_CONF, TableProvider


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def pages(spark):
    return spark.createDataFrame(
        [(i, f"text {i}", "en" if i % 2 == 0 else "de") for i in range(20)],
        "doc_id long, text string, lang string",
    )


def test_path_provider_roundtrip_and_pruning(spark, tmp_path, pages):
    prov = TableProvider(spark, str(tmp_path))
    assert prov.catalog is None
    prov.write(pages, "pages", partition_by=("lang",))
    got = prov.read("pages")
    assert got.count() == 20
    assert set(got.columns) == {"doc_id", "text", "lang"}
    # the lang filter prunes partitions at the scan
    plan = _plan(got.filter(F.col("lang") == "en"))
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "PartitionFilters: [isnotnull(lang" in scan, scan


def test_catalog_provider_roundtrip_and_pruning(spark, pages):
    spark.sql("DROP TABLE IF EXISTS spark_catalog.default.prov_pages")
    prov = TableProvider(spark, root="/unused", catalog="spark_catalog")
    prov.write(pages, "prov_pages", partition_by=("lang",))
    try:
        got = prov.read("prov_pages")
        assert got.count() == 20
        plan = _plan(got.filter(F.col("lang") == "en"))
        scan = next(
            l for l in plan.splitlines() if "FileScan parquet" in l
        )
        assert "PartitionFilters: [isnotnull(lang" in scan, scan
    finally:
        spark.sql("DROP TABLE IF EXISTS spark_catalog.default.prov_pages")


def test_catalog_resolved_from_session_conf(spark):
    spark.conf.set(CATALOG_CONF, "spark_catalog")
    try:
        prov = TableProvider(spark, root="/unused")
        assert prov.catalog == "spark_catalog"
        assert prov.qualified("t") == "spark_catalog.default.t"
    finally:
        spark.conf.unset(CATALOG_CONF)
    assert TableProvider(spark, root="/unused").catalog is None


def test_read_table_routes_through_provider(spark, tmp_path, pages):
    """corpus.read_table must hit the provider: a session-configured
    catalog redirects the same (sf_dir, name) to the catalog table."""
    from kg_covid_19_spark.sources.corpus import read_table

    spark.sql("DROP TABLE IF EXISTS spark_catalog.default.documents")
    prov = TableProvider(spark, root="/unused", catalog="spark_catalog")
    prov.write(pages, "documents")
    spark.conf.set(CATALOG_CONF, "spark_catalog")
    try:
        got = read_table(spark, str(tmp_path), "documents")
        assert got.count() == 20  # came from the catalog, not tmp_path
    finally:
        spark.conf.unset(CATALOG_CONF)
        spark.sql("DROP TABLE IF EXISTS spark_catalog.default.documents")


def test_catalog_write_failure_preserves_existing_table(spark, pages):
    """A failing write must NOT destroy the previous table: the
    drop+create fallback fires only on the missing-RTAS error, so a
    runtime failure inside the new data propagates while the old
    table stays readable."""
    import pytest as _pytest
    from pyspark.sql.types import LongType

    spark.sql("DROP TABLE IF EXISTS spark_catalog.default.prov_keep")
    prov = TableProvider(spark, root="/unused", catalog="spark_catalog")
    prov.write(pages, "prov_keep")
    assert prov.read("prov_keep").count() == 20

    @F.udf(LongType())
    def boom(x):
        raise RuntimeError("poison row")

    bad = pages.select(boom(F.col("doc_id")).alias("doc_id"))
    try:
        with _pytest.raises(Exception):
            prov.write(bad, "prov_keep")
        # the original table survived the failed overwrite
        assert prov.read("prov_keep").count() == 20
    finally:
        spark.sql("DROP TABLE IF EXISTS spark_catalog.default.prov_keep")


def test_catalog_rewrite_swaps_and_leaves_no_auxiliary_tables(spark, pages):
    """Overwriting an EXISTING catalog table goes through the
    rename-aside swap (old -> __old, staging -> name, drop __old): the
    new data is served afterwards and neither auxiliary table lingers."""
    spark.sql("DROP TABLE IF EXISTS spark_catalog.default.prov_swap")
    prov = TableProvider(spark, root="/unused", catalog="spark_catalog")
    prov.write(pages, "prov_swap", partition_by=("lang",))
    try:
        prov.write(pages.limit(7), "prov_swap", partition_by=("lang",))
        assert prov.read("prov_swap").count() == 7
        existing = {
            t.name for t in spark.catalog.listTables("default")
        }
        assert "prov_swap__staging" not in existing
        assert "prov_swap__old" not in existing
    finally:
        for t in ("prov_swap", "prov_swap__staging", "prov_swap__old"):
            spark.sql(f"DROP TABLE IF EXISTS spark_catalog.default.{t}")


def test_write_invalidates_session_caches(spark, tmp_path, pages):
    """A provider write evicts (and unpersists) this application's
    session artifacts — stale persisted frames must not be served after
    an in-session table rewrite (ADVICE r3)."""
    from kg_covid_19_spark.sources import corpus

    @corpus.session_artifact
    def pinned(spark, sf_dir):
        frame = pages.select("*").persist()
        frame.count()
        return frame

    sf_dir = str(tmp_path)
    frame = pinned(spark, sf_dir)
    assert pinned(spark, sf_dir) is frame  # memoized
    other_app = ("not-this-app", "", sf_dir, "pinned", ())
    corpus._SESSION_ARTIFACTS[other_app] = "kept"
    try:
        prov = TableProvider(spark, sf_dir)
        prov.write(pages, "inval_probe")

        assert frame.storageLevel.useMemory is False  # unpersisted
        # other applications untouched
        assert corpus._SESSION_ARTIFACTS[other_app] == "kept"
        rebuilt = pinned(spark, sf_dir)
        assert rebuilt is not frame  # evicted, so the next call rebuilds
        rebuilt.unpersist()
    finally:
        corpus._SESSION_ARTIFACTS.pop(other_app, None)


def test_catalog_write_recovers_orphaned_old_copy(spark, pages):
    """Crash-window recovery (ADVICE r4): a prior run that died between
    rename-out and rename-in leaves only <name>__old. A retry whose
    staging CTAS FAILS must still leave the previous data readable
    under <name> — the old code dropped __old before the new staging
    succeeded, leaving no copy at all."""
    q = "spark_catalog.default"
    names = ("rec_pages", "rec_pages__old", "rec_pages__staging")
    for t in names:
        spark.sql(f"DROP TABLE IF EXISTS {q}.{t}")
    prov = TableProvider(spark, root="/unused", catalog="spark_catalog")
    try:
        prov.write(pages, "rec_pages")
        # simulate the crash window: live copy renamed aside
        spark.sql(
            f"ALTER TABLE {q}.rec_pages RENAME TO default.rec_pages__old"
        )
        poisoned = spark.range(1).select(F.expr("1 div 0").alias("doc_id"))
        with pytest.raises(Exception):
            prov.write(poisoned, "rec_pages")
        # previous data restored and readable despite the failed CTAS
        assert prov.read("rec_pages").count() == 20
        # and a subsequent good write still swaps cleanly
        prov.write(pages.limit(5), "rec_pages")
        assert prov.read("rec_pages").count() == 5
    finally:
        for t in names:
            spark.sql(f"DROP TABLE IF EXISTS {q}.{t}")
