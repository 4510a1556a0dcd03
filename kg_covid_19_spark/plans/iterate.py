"""The one runner for every round loop in the engine (graph analytics,
dedup clusters, holdout forest BFS), plus the hash-min components
kernel four of those loops share. Imports only pyspark, so the
operator modules can use it without an import cycle."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Until = Callable[[DataFrame, DataFrame], bool]


def iterate(
    init: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    until: Until | None = None,
) -> DataFrame:
    """Run ``step`` over ``init`` round by round and return the last
    state.

    With ``until=None`` exactly ``rounds`` steps run (the bounded
    queries, whose oracles unroll the same number of rounds). With an
    ``until(prev, new)`` predicate the loop stops after the first round
    for which it is true, and raises if ``rounds`` run out first: the
    fixpoint oracles are unrolled to the same cap (or compute the true
    fixpoint), so a non-converged result would diverge from them
    silently.

    Materialization: ``init`` and every step result go through eager
    ``localCheckpoint``, which computes the frame AND cuts its plan to
    a leaf. ``persist`` is not enough: a persisted frame still nests
    the previous round's analyzed plan, so round k's Catalyst analysis
    re-nests every earlier round. In the bounded loops that grew the
    per-round wall (the doc cluster rounds went 2.6 s → 4.8 s → 12.2 s
    at sf0.01); in a loop of unknown depth the nest grows until
    Catalyst itself runs out of memory (seen on an 11-round path
    graph).

    Durability trade-off: checkpointed blocks live on the executor that
    computed them and are not replicated. That is safe on one host, but
    under dynamic allocation or executor loss a released executor takes
    its blocks with it and the query fails instead of recomputing; a
    cluster deployment would use reliable ``checkpoint()`` to a DFS
    directory here instead."""
    cur = init.localCheckpoint(eager=True)
    for _ in range(rounds):
        new = step(cur).localCheckpoint(eager=True)
        if until is not None and until(cur, new):
            return new
        cur = new
    if until is None:
        return cur
    raise RuntimeError(
        f"fixpoint iteration did not converge within {rounds} rounds — "
        f"raise the round cap (and the oracle unroll with it)"
    )


def unchanged(key: str, col: str) -> Until:
    """``until`` predicate: no row's ``col`` differs between two rounds
    joined on ``key`` (null-safe, so a NULL → value change counts) —
    one copartitioned join + count per round, the standard
    distributed-fixpoint termination test."""

    def until(prev: DataFrame, new: DataFrame) -> bool:
        old = prev.select(key, F.col(col).alias("_old"))
        return (
            new.join(old, key)
            .filter(~F.col(col).eqNullSafe(F.col("_old")))
            .count()
            == 0
        )

    return until


def own_labels(und: DataFrame) -> DataFrame:
    """(id, lbl) round-0 labeling of a (subject, object) edge frame:
    every node labelled with its own id."""
    return (
        und.select(F.col("subject").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
    )


def hash_min_labels(
    und: DataFrame, rounds: int, until: Until | None = None
) -> DataFrame:
    """(subject, object) undirected-edge frame → (id, lbl), where lbl
    is the minimum node id within ``rounds`` hops (or, with
    ``until=unchanged("id", "lbl")``, the minimum id of the connected
    component). Each round is one join + one min groupBy; min over ids
    is order-free, so the labeling is exact at any parallelism. The
    caller keeps ``und`` cached: it is joined every round."""

    def step(lbl: DataFrame) -> DataFrame:
        nbr = und.join(lbl, und.object == lbl.id).select(
            und.subject.alias("id"), "lbl"
        )
        return lbl.unionByName(nbr).groupBy("id").agg(
            F.min("lbl").alias("lbl")
        )

    return iterate(own_labels(und), step, rounds, until)
