"""Table providers: the web-page corpus and driver test tables.

Abstracts Iceberg vs Parquet (SURVEY.md §7.4 risk 6): the sandbox has no
Iceberg catalog jars, so path-Parquet is the hermetic fallback; on a real
cluster `read_table` resolves ``iceberg:<catalog.table>`` names to
``spark.read.table`` (partition pruning on lang/warc_ts days comes for free
either way — both sources expose partition columns to Catalyst).
"""

from __future__ import annotations

import functools
import inspect
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def table_source_key(spark: SparkSession, sf_dir: str) -> tuple:
    """Key prefix of every session artifact (see session_artifact):
    (applicationId, RESOLVED SOURCE, sf_dir). The source component
    matters because read_table's resolution depends on the mutable
    session conf ``spark.kg.catalog`` — a key that ignored it would
    serve frames built from the wrong source after a mid-session
    catalog toggle (as tests/test_provider.py performs)."""
    try:
        catalog = spark.conf.get("spark.kg.catalog", "") or ""
    except Exception:
        catalog = ""
    return (spark.sparkContext.applicationId, catalog, sf_dir)


#: every session artifact, keyed (applicationId, catalog, sf_dir, builder,
#: args). TableProvider.write calls invalidate_session_caches after every
#: successful write so a table REWRITE in the same session evicts the
#: now-stale persisted frames instead of serving them for the application
#: lifetime.
_SESSION_ARTIFACTS: dict[tuple, object] = {}


def session_artifact(fn):
    """Memoize a builder ``fn(spark, sf_dir, *args)`` once per
    (application, resolved source, sf_dir, builder, args) — the one
    materialization point for artifacts derived from the driver tables
    (merged graph, mention arrays, shingles, LSH candidates, iteration
    results). The builder decides how its result is materialized
    (persist, storage level, eager count, localCheckpoint, coalesce);
    the memo only keys, stores and evicts it. Arguments are bound
    against the builder's signature with defaults applied, so
    ``get_kg(s, d)``, ``get_kg(s, d, None)`` and
    ``get_kg(s, d, langs=None)`` hit one entry; they must be hashable.

    TIMING CAVEAT: a second in-process call is a cache hit (~0 s).
    bench.py times each query exactly once per fresh process, so its
    numbers are true build timings; any harness that loops the suite
    in one application must call invalidate_session_caches between
    iterations or use fresh processes (as tools/scaling.py does), or
    its timings of memoized queries measure a dict lookup."""
    sig = inspect.signature(fn)
    name = f"{fn.__module__}.{fn.__qualname__}"

    @functools.wraps(fn)
    def memo(spark: SparkSession, sf_dir: str, *args, **kwargs):
        bound = sig.bind(spark, sf_dir, *args, **kwargs)
        bound.apply_defaults()
        key = (
            *table_source_key(spark, sf_dir),
            name,
            tuple(bound.arguments.values())[2:],
        )
        if key not in _SESSION_ARTIFACTS:
            _SESSION_ARTIFACTS[key] = fn(spark, sf_dir, *args, **kwargs)
        return _SESSION_ARTIFACTS[key]

    return memo


def _unpersist_value(val) -> None:
    if isinstance(val, DataFrame):
        try:
            val.unpersist(False)
        except Exception:
            pass
    elif isinstance(val, tuple):
        for v in val:
            _unpersist_value(v)


def invalidate_session_caches(spark: SparkSession) -> int:
    """Evict (and unpersist) every session artifact belonging to this
    application. Called by TableProvider.write; conservative (all
    sources, all sf_dirs for the app) because a catalog-mode write
    changes what any read_table resolution may return and writes are
    rare relative to reads. Returns the number of evicted entries."""
    app = spark.sparkContext.applicationId
    stale = [key for key in _SESSION_ARTIFACTS if key[0] == app]
    for key in stale:
        _unpersist_value(_SESSION_ARTIFACTS.pop(key))
    return len(stale)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a driver table through the provider seam (sources/provider):
    an explicit ``iceberg:<catalog.table>`` name or a session-configured
    catalog (``spark.kg.catalog``) routes through ``spark.read.table``;
    otherwise path-Parquet under ``sf_dir``."""
    if name.startswith("iceberg:"):
        return spark.read.table(name.split(":", 1)[1])
    from .provider import TableProvider

    return TableProvider(spark, sf_dir).read(name)


_BYTE_UNITS = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
               "t": 1 << 40, "p": 1 << 50}


def _parse_bytes(value: str) -> int:
    """A Spark byte-string conf value in bytes: ``134217728``, ``128m``,
    ``128MB``, ``1g`` (case-insensitive; a bare number is bytes)."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]?)b?\s*", value, re.IGNORECASE)
    if m is None:
        raise ValueError(f"not a byte string: {value!r}")
    return int(m[1]) * _BYTE_UNITS[m[2].lower()]


@session_artifact
def _scan_layout(spark: SparkSession, sf_dir: str,
                 table: str) -> tuple[int, int | None]:
    """(estimated scan splits, total file bytes) for ``table``; bytes is
    None when the size is unknown.

    r7: splits are estimated from file sizes with the scan-packing
    formula (maxPartitionBytes + openCostInBytes per file, guide §6)
    instead of a .rdd conversion — the conversion costs ~1 s of driver
    time and it landed inside the timed KG build. Falls back to the
    exact probe for non-path sources."""
    path = f"{sf_dir}/{table}.parquet"
    try:
        sizes = [
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ] if os.path.isdir(path) else [os.path.getsize(path)]
        max_bytes = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
        open_cost = 4 * 1024 * 1024
        total = sum(s + open_cost for s in sizes)
        return (max(1, -(-total // max_bytes)), sum(sizes))
    except (OSError, ValueError):
        return (spark.read.parquet(path).rdd.getNumPartitions(), None)


def ensure_min_parallelism(spark: SparkSession, sf_dir: str,
                           df: DataFrame, min_bytes: int = 0,
                           table: str = "documents") -> DataFrame:
    """web_pages' min-parallelism policy, shared: when the ``table`` scan
    has fewer splits than the default parallelism, round-robin the frame
    up to it so downstream Arrow kernels / expression chains use every
    core instead of serializing onto one or two scan tasks (guide §2.6 /
    §6: the small-file single-row-group trap). At 100 TB the scan has
    thousands of splits and this is a no-op; the repartition only fires
    for under-split inputs, where the shuffled bytes are by construction
    small. Deterministic: sort-before-repartition (on by default) makes
    the round-robin assignment retry-stable, and every consumer is
    row-order insensitive.

    ``min_bytes``: input-size gate (guide §2 "derive from input size").
    Callers whose downstream per-byte work is moderate set it so the
    exchange only fires when there is enough data to amortize it —
    measured on media_grid_neardup: the lift is −1.8 s at a 0.6 MB input
    and +6..10 s of win at 12 MB. Heavy-per-byte kernels (shingling)
    keep the default 0 (always lift when under-split). An input of
    unknown size passes the gate."""
    splits, nbytes = _scan_layout(spark, sf_dir, table)
    target = spark.sparkContext.defaultParallelism
    if splits < target and (nbytes is None or nbytes >= min_bytes):
        return df.repartition(target)
    return df


def web_pages(spark: SparkSession, sf_dir: str,
              langs: tuple[str, ...] | None = None) -> DataFrame:
    """The engine's input table per BASELINE.json input_hint:
    (url, warc_ts, html, text, lang) — derived deterministically from the
    driver's documents table (doc_id → url; text pre-extracted; html null).

    The lang filter is applied here so Catalyst pushes it into the scan
    (on a partitioned Iceberg table this is partition pruning).

    Min-parallelism policy: a scan with fewer splits than cores serializes
    the whole narrow UDF chain onto a handful of tasks (the classic
    small-file / single-row-group trap). If the scan is under-split we
    repartition up to the default parallelism — a one-off shuffle of the
    raw rows. At 100 TB the Iceberg scan has thousands of splits and this
    is a no-op; it only fires for toy inputs and late small partitions.
    """
    docs = read_table(spark, sf_dir, "documents")
    if langs:
        docs = docs.filter(F.col("lang").isin(list(langs)))
    docs = ensure_min_parallelism(spark, sf_dir, docs)
    return docs.select(
        F.concat(F.lit("https://example.org/doc/"), F.col("doc_id").cast("string"))
        .alias("url"),
        F.to_timestamp(F.lit("2020-03-01 00:00:00")).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
    )
