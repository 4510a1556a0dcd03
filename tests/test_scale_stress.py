"""Dictionary-scale stress: the two dictionary-driven kernels at
realistic (10³-10⁴ surface) dictionary sizes — the regime the r2
verdict flagged as the difference between a toy and a production
entity-linking/mention plan. Not a benchmark (no timing assertions);
these pin that the PLAN SHAPE survives the scale-up: the blocked
fuzzy join stays a hash join with bounded candidates, and the
Aho-Corasick mention automaton builds and runs over thousands of
patterns."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from conftest import SF_DIR


def _synthetic_dict(n: int) -> list[tuple[str, str]]:
    """n deterministic (term, curie) surfaces, word-like, length 4-12."""
    out = []
    for i in range(n):
        h = f"{i:05d}"
        term = ("term" + h)[: 4 + (i % 9)]
        out.append((term, f"SYN:{h}"))
    return out


def test_blocked_linking_scales_to_synthetic_dictionary(spark):
    from kg_covid_19_spark.plans.queries import (
        LINK_MAX_DIST,
        linked_mentions_scored,
    )

    gaz = spark.createDataFrame(
        _synthetic_dict(5000), "term string, curie string"
    )
    df = linked_mentions_scored(spark, SF_DIR, gaz)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # still the blocked equi-join — a 5k dictionary must NOT degrade
    # the plan to a nested loop
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    rows = df.collect()
    # argmin output: one row per linked token, distances within bound
    assert len(rows) == len({r["token"] for r in rows})
    assert all(r["distance"] <= LINK_MAX_DIST for r in rows)


def test_mention_automaton_scales_to_synthetic_gazetteer(spark):
    from kg_covid_19_spark.operators.mentions import make_curie_udf

    entries = [
        (t, c, t, "biolink:NamedThing") for t, c in _synthetic_dict(10_000)
    ]
    # plant a surface that occurs in the synthetic corpus so the sweep
    # provably matches something
    entries.append(("spark", "SYN:PLANT0", "spark", "biolink:NamedThing"))
    # distinct cache_key: the worker-side matcher cache is keyed, and
    # reusing "default-curies" would poison the canonical gazetteer's
    # cached automaton for every later query in this session
    udf = make_curie_udf(entries=entries, cache_key="stress-10k")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
    got = (
        docs.select(F.explode_outer(udf(F.col("text"))).alias("curie"))
        .groupBy("curie")
        .count()
        .collect()
    )
    curies = {r["curie"] for r in got}
    assert "SYN:PLANT0" in curies  # the planted surface matched
    # every emitted curie comes from the supplied dictionary
    assert all(c is None or re.match(r"SYN:\d|SYN:PLANT", c) for c in curies)


def test_triangle_orientations_agree_on_planted_hub(spark):
    """The bench's skew-slice comparison is only meaningful if both
    orientations compute the SAME result: on the planted hub+ring graph
    (the bench slice's exact shape, smaller) degree-ordered and
    id-ordered enumeration must emit identical per-node triangle
    counts — here hub 0 closes a triangle with every ring edge."""
    from kg_covid_19_spark.plans.queries import triangle_counts_frame

    d = 60
    hub = spark.range(1, d + 1).select(
        F.lit(0).cast("long").alias("subject"), F.col("id").alias("object")
    )
    ring = spark.range(1, d).select(
        F.col("id").alias("subject"), (F.col("id") + 1).alias("object")
    )
    e = hub.unionAll(ring)
    deg = (
        e.select(F.col("subject").alias("id"))
        .unionAll(e.select(F.col("object").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    a = sorted(
        tuple(r)
        for r in triangle_counts_frame(e, deg, degree_ordered=True).collect()
    )
    b = sorted(
        tuple(r)
        for r in triangle_counts_frame(e, deg, degree_ordered=False).collect()
    )
    assert a == b
    counts = dict(a)
    assert counts[0] == d - 1          # hub participates in every triangle
    assert counts[1] == counts[d] == 1  # ring endpoints: one each
    assert all(counts[i] == 2 for i in range(2, d))


def test_blocked_linking_equals_nested_loop_reference(spark):
    """The bench's dictionary-slice twin plans must agree: the SymSpell
    blocked equi-join (production) and a broadcast nested-loop
    levenshtein scan over the SAME (vocab, dictionary) inputs produce
    the identical argmin links — the losslessness of ≤2-deletion
    blocking, asserted end-to-end rather than per-pair."""
    from kg_covid_19_spark.plans.queries import (
        LINK_MAX_DIST,
        score_linked_tokens,
    )

    toks = spark.createDataFrame(
        [("spike",), ("spikes",), ("ace",), ("acer",), ("unrelatedzz",)],
        "token string",
    )
    gaz = spark.createDataFrame(
        [("spike", "X:1"), ("ace2", "X:2"), ("other", "X:3")],
        "term string, curie string",
    )
    blocked = sorted(
        tuple(r) for r in score_linked_tokens(toks, gaz).collect()
    )
    nested = sorted(
        tuple(r)
        for r in (
            toks.join(
                F.broadcast(gaz),
                F.levenshtein(F.col("token"), F.col("term"))
                <= LINK_MAX_DIST,
            )
            .groupBy("token")
            .agg(
                F.min(
                    F.struct(
                        F.levenshtein(F.col("token"), F.col("term")).alias(
                            "distance"
                        ),
                        "curie",
                    )
                ).alias("b")
            )
            .select("token", "b.curie", "b.distance")
            .collect()
        )
    )
    assert blocked == nested
    assert ("spike", "X:1", 0) in blocked


def test_components_fixpoint_converges_past_bounded_rounds(spark):
    """On a path graph whose diameter (11) exceeds kg_components' fixed
    CC_ROUNDS (3), the convergence loop must still collapse every node
    to the global min label — and stop on its own (changed == 0), not
    at the safety cap."""
    from kg_covid_19_spark.plans.queries import (
        CC_ROUNDS,
        components_fixpoint_frame,
    )

    n = 12
    assert n - 1 > CC_ROUNDS
    path_edges = spark.range(n - 1).select(
        F.concat(F.lit("v"), F.format_string("%02d", F.col("id")))
        .alias("subject"),
        F.concat(F.lit("v"), F.format_string("%02d", F.col("id") + 1))
        .alias("object"),
    )
    und = path_edges.unionAll(
        path_edges.select(
            F.col("object").alias("subject"), F.col("subject").alias("object")
        )
    )
    got = {
        r["id"]: r["component"]
        for r in components_fixpoint_frame(und).collect()
    }
    assert got == {f"v{i:02d}": "v00" for i in range(n)}


def test_kcore_fixpoint_peels_past_bounded_rounds(spark):
    """A 10-path peels one node from each end per round at k=2 — full
    dissolution needs 5 rounds, past kg_kcore's fixed KCORE_ROUNDS (3).
    The fixpoint twin must dissolve it completely, and must converge on
    its own (no RuntimeError) well inside the oracle unroll."""
    from kg_covid_19_spark.plans.queries import (
        KCORE_ROUNDS,
        kcore_fixpoint_frame,
    )

    n = 10
    assert (n - 1) // 2 + 1 > KCORE_ROUNDS
    path = spark.range(n - 1).select(
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("subject"),
        F.concat(F.lit("p"), (F.col("id") + 1).cast("string")).alias("object"),
    )
    und = path.unionAll(
        path.select(
            F.col("object").alias("subject"), F.col("subject").alias("object")
        )
    )
    assert kcore_fixpoint_frame(und, 2).count() == 0  # fully dissolved
    # and a triangle (true 2-core) survives with degree 2 everywhere
    tri = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "subject string, object string"
    )
    und_tri = tri.unionAll(
        tri.select(
            F.col("object").alias("subject"), F.col("subject").alias("object")
        )
    )
    got = {r["id"]: r["deg"] for r in kcore_fixpoint_frame(und_tri, 2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}


def test_label_propagation_finds_barbell_communities(spark):
    """Two 5-cliques bridged by a single edge: deterministic LP must
    label each clique with its own minimum id (count-DESC/label-ASC
    tie-break) — the community structure the oracle parity alone
    doesn't demonstrate."""
    from kg_covid_19_spark.plans.queries import label_propagation_frame

    def clique(prefix, n):
        return [
            (f"{prefix}{i}", f"{prefix}{j}")
            for i in range(n) for j in range(n) if i < j
        ]

    edges = clique("a", 5) + clique("b", 5) + [("a0", "b0")]
    e = spark.createDataFrame(edges, "subject string, object string")
    und = e.unionAll(
        e.select(F.col("object").alias("subject"),
                 F.col("subject").alias("object"))
    )
    got = {
        r["id"]: r["community"]
        for r in label_propagation_frame(und, 3).collect()
    }
    assert {got[f"a{i}"] for i in range(5)} == {"a0"}
    assert {got[f"b{i}"] for i in range(5)} == {"b0"}


def test_components_fixpoint_raises_at_cap(spark, monkeypatch):
    """Cap exhaustion must RAISE, never return a partial labeling
    (ADVICE r4): the oracle computes the true transitive-closure
    fixpoint, so a silently non-converged result would diverge. Same
    discipline kcore_fixpoint_frame already had."""
    import pytest

    from kg_covid_19_spark.plans import queries

    monkeypatch.setattr(queries, "CC_FIXPOINT_MAX_ROUNDS", 2)
    n = 8  # diameter 7 > 2-round cap
    path_edges = spark.range(n - 1).select(
        F.concat(F.lit("w"), F.format_string("%02d", F.col("id")))
        .alias("subject"),
        F.concat(F.lit("w"), F.format_string("%02d", F.col("id") + 1))
        .alias("object"),
    )
    und = path_edges.unionAll(
        path_edges.select(
            F.col("object").alias("subject"),
            F.col("subject").alias("object"),
        )
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        queries.components_fixpoint_frame(und)


def test_range_join_floor_buckets_handle_negative_timestamps(spark):
    """Pre-1970 (negative-µs) timestamps: banding must stay FLOOR-based
    so every qualifying pair still meets on an equi key (ADVICE r4 —
    SQL `div` truncates toward zero, shifting negative buckets up one
    and dropping pairs). Reference = the direct inequality join."""
    from kg_covid_19_spark.streaming.events import (
        RANGE_WIN_US,
        range_join_counts_frame,
    )

    W = RANGE_WIN_US
    c = spark.createDataFrame(
        [("c1", "u", -1), ("c2", "u", -W), ("c3", "u", 5),
         ("c4", "u", -2 * W + 7)],
        "click_id string, user_id string, c_us long",
    )
    v = spark.createDataFrame(
        [("u", -3), ("u", -W - 1), ("u", -W), ("u", 2), ("u", -2 * W)],
        "user_id string, v_us long",
    )
    got = {r["click_id"]: r["n_views_10m"]
           for r in range_join_counts_frame(c, v).collect()}
    ref = {
        r["click_id"]: r["n"]
        for r in c.join(v, "user_id")
        .filter((F.col("c_us") > F.col("v_us"))
                & (F.col("c_us") - F.col("v_us") <= W))
        .groupBy("click_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == {k: ref.get(k, 0) for k in got}
    assert got["c1"] == 3  # the negative-side pairs are really exercised


def test_label_propagation_fixpoint_communities_and_convergence(spark):
    """Monotone-LP fixpoint: (a) keeps barbell community structure like
    the bounded twin; (b) converges on its own on a pendant-pair graph
    where PLAIN semi-sync LP 2-cycles forever (the oscillation the
    monotone guard designs out); (c) collapses a long path to hash-min
    CC (the degree-<=2 degeneration the docstring states)."""
    from kg_covid_19_spark.plans.queries import (
        label_propagation_fixpoint_frame,
    )

    def und_of(edges):
        e = spark.createDataFrame(edges, "subject string, object string")
        return e.unionAll(
            e.select(F.col("object").alias("subject"),
                     F.col("subject").alias("object"))
        )

    def clique(prefix, n):
        return [
            (f"{prefix}{i}", f"{prefix}{j}")
            for i in range(n) for j in range(n) if i < j
        ]

    # (a) barbell: two 5-cliques + bridge
    got = {
        r["id"]: r["community"]
        for r in label_propagation_fixpoint_frame(
            und_of(clique("a", 5) + clique("b", 5) + [("a0", "b0")])
        ).collect()
    }
    assert {got[f"a{i}"] for i in range(5)} == {"a0"}
    # monotone rule lets the bridge endpoint keep the lower community's
    # label; the rest of the b-clique must still agree on one community
    assert {got[f"b{i}"] for i in range(1, 5)} == {"b0"}

    # (b) pendant pair: plain LP swaps u<->v forever; monotone converges
    got = {
        r["id"]: r["community"]
        for r in label_propagation_fixpoint_frame(
            und_of([("u", "v")])
        ).collect()
    }
    assert got == {"u": "u", "v": "u"}

    # (c) 9-path -> single community at the min label
    path = [(f"p{i}", f"p{i+1}") for i in range(8)]
    got = {
        r["id"]: r["community"]
        for r in label_propagation_fixpoint_frame(und_of(path)).collect()
    }
    assert set(got.values()) == {"p0"}


def test_label_propagation_fixpoint_raises_at_cap(spark, monkeypatch):
    """Cap exhaustion raises (kcore discipline) instead of silently
    returning a non-fixpoint labeling the over-unrolled oracle would
    diverge from."""
    import pytest

    from kg_covid_19_spark.plans import queries

    monkeypatch.setattr(queries, "LP_FIXPOINT_UNROLL", 1)
    path = [(f"q{i}", f"q{i+1}") for i in range(6)]
    e = spark.createDataFrame(path, "subject string, object string")
    und = e.unionAll(
        e.select(F.col("object").alias("subject"),
                 F.col("subject").alias("object"))
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        queries.label_propagation_fixpoint_frame(und)


def test_jaccard_minhash_estimates_track_exact(spark):
    """The neighbor-set minhash sketch must genuinely estimate the
    exact Jaccard (not merely hash-match its own construction): on the
    pairs both queries emit, mean |est − exact| stays within the
    8-component sampling error, every high-similarity pair is found by
    the band join, and estimates never stray past 3 components."""
    from kg_covid_19_spark.plans.queries import (
        kg_jaccard_link_scores,
        kg_jaccard_minhash_est,
    )

    est = {
        (r["x"], r["y"]): r["jaccard_est_ppm"]
        for r in kg_jaccard_minhash_est(spark, SF_DIR).collect()
    }
    exact = {
        (r["x"], r["y"]): r["jaccard_ppm"]
        for r in kg_jaccard_link_scores(spark, SF_DIR).collect()
    }
    both = set(est) & set(exact)
    assert len(both) >= 20  # non-vacuous overlap at sf0.01
    errs = [abs(est[p] - exact[p]) for p in both]
    assert sum(errs) / len(errs) <= 200_000   # ~1.6 components mean
    assert max(errs) <= 375_000               # ≤3 components anywhere
    # recall of truly similar pairs: an exact-J ≥ 0.5 pair misses a
    # 2-row band with prob (1−J²)⁴ ≈ 0.32 at the boundary, so demand
    # ≥0.9 over the set (deterministic on this fixed corpus — md5
    # makes every "random" outcome reproducible), not perfection
    hi = {p for p, j in exact.items() if j >= 500_000}
    assert hi
    recall = len(hi & set(est)) / len(hi)
    assert recall >= 0.9, (recall, hi - set(est))


def test_personalized_pagerank_confines_restart_to_seeds(spark):
    """PPR invariants vs the uniform twin on the same graph: identical
    node set, every seed keeps at least its restart mass, total mass
    strictly below uniform PageRank's (restart only happens on seeds),
    and at least one non-seed node exists with mass from propagation
    alone."""
    from kg_covid_19_spark.plans.queries import (
        PPR_SEED_PREFIXES,
        PR_BASE_PPM,
        kg_pagerank,
        kg_pagerank_personalized,
    )

    pr = {r["id"]: r["rank_ppm"] for r in kg_pagerank(spark, SF_DIR).collect()}
    ppr = {
        r["id"]: r["ppr_ppm"]
        for r in kg_pagerank_personalized(spark, SF_DIR).collect()
    }
    assert set(pr) == set(ppr)
    seeds = {i for i in ppr if i.startswith(PPR_SEED_PREFIXES)}
    assert seeds and seeds != set(ppr)
    assert all(ppr[i] >= PR_BASE_PPM for i in seeds)
    assert sum(ppr.values()) < sum(pr.values())
    assert any(ppr[i] > 0 for i in set(ppr) - seeds)


def test_clustering_coefficient_consistent_with_parts(spark):
    """gcc_ppm must equal the integer formula over its own published
    ingredients (triangle participations and the wedge sum from the
    degree histogram) and sit in (0, 1e6] on the cooc graph."""
    from kg_covid_19_spark.plans.queries import (
        kg_clustering_coefficient,
        kg_degree_histogram,
        kg_triangle_counts,
    )

    row = kg_clustering_coefficient(spark, SF_DIR).collect()[0]
    t3 = sum(
        r["n_triangles"] for r in kg_triangle_counts(spark, SF_DIR).collect()
    )
    wedges = sum(
        r["n_entities"] * (r["degree"] * (r["degree"] - 1) // 2)
        for r in kg_degree_histogram(spark, SF_DIR).collect()
    )
    assert row["triangle_participations"] == t3
    assert row["n_wedges"] == wedges
    assert row["gcc_ppm"] == t3 * 1_000_000 // wedges
    assert 0 < row["gcc_ppm"] <= 1_000_000


def _id_ordered_edges(spark, pairs):
    return spark.createDataFrame(
        sorted({(min(a, b), max(a, b)) for a, b in pairs}),
        "subject string, object string",
    )


def test_edge_support_planted_bowtie(spark):
    """Bowtie (two triangles sharing edge b-c) plus a pendant edge:
    the shared edge carries support 2, each wing edge 1, and the
    pendant surfaces with support 0 instead of vanishing — the
    0-support rows are the denoising signal kg_edge_support exists
    for."""
    from kg_covid_19_spark.plans.queries import _edge_support_frame

    e = _id_ordered_edges(
        spark,
        [("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d"),
         ("c", "e")],
    )
    got = {(r["x"], r["y"]): r["support"] for r in _edge_support_frame(e).collect()}
    assert got == {
        ("a", "b"): 1, ("a", "c"): 1, ("b", "c"): 2,
        ("b", "d"): 1, ("c", "d"): 1, ("c", "e"): 0,
    }


def test_ktruss_strip_unravels_and_k4_survives(spark):
    """4-truss (support ≥ 2): a triangle strip's outer edges sit in one
    triangle each, so peeling cascades until nothing is left — while a
    K4, where every edge closes exactly two triangles, survives intact.
    This is the structure-vs-noise separation the truss adds over the
    k-core (the strip IS a 2-core: degree alone never peels it)."""
    from kg_covid_19_spark.plans.queries import ktruss_fixpoint_frame

    strip = _id_ordered_edges(
        spark,
        [("v0", "v1"), ("v0", "v2"), ("v1", "v2"), ("v1", "v3"),
         ("v2", "v3"), ("v2", "v4"), ("v3", "v4"), ("v3", "v5"),
         ("v4", "v5")],
    )
    assert ktruss_fixpoint_frame(strip, 4).count() == 0
    k4 = _id_ordered_edges(
        spark,
        [(a, b) for a in "abcd" for b in "abcd" if a < b],
    )
    got = {(r["x"], r["y"]): r["support"]
           for r in ktruss_fixpoint_frame(k4, 4).collect()}
    assert got == {(a, b): 2 for a in "abcd" for b in "abcd" if a < b}


def test_ktruss_raises_past_unroll(spark, monkeypatch):
    """Cap exhaustion must RAISE, never return a partial peel — the
    oracle computes the true fixpoint via its full unroll, so a
    silently non-converged Spark result would diverge (same contract
    as kcore_fixpoint / components_fixpoint)."""
    import pytest

    from kg_covid_19_spark.plans import queries

    monkeypatch.setattr(queries, "KTRUSS_FIXPOINT_UNROLL", 1)
    strip = _id_ordered_edges(
        spark,
        [("v0", "v1"), ("v0", "v2"), ("v1", "v2"), ("v1", "v3"),
         ("v2", "v3"), ("v2", "v4"), ("v3", "v4"), ("v3", "v5"),
         ("v4", "v5")],
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        queries.ktruss_fixpoint_frame(strip, 4)


def test_kcore_fixpoint_raises_past_unroll(spark, monkeypatch):
    """Cap exhaustion must RAISE, never return a partial peel: a 10-path
    peels one node from each end per round, so it needs 5 rounds and a
    2-round cap cannot finish it."""
    import pytest

    from kg_covid_19_spark.plans import queries

    monkeypatch.setattr(queries, "KCORE_FIXPOINT_UNROLL", 2)
    path = spark.range(9).select(
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("subject"),
        F.concat(F.lit("p"), (F.col("id") + 1).cast("string")).alias("object"),
    )
    und = path.unionAll(
        path.select(
            F.col("object").alias("subject"), F.col("subject").alias("object")
        )
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        queries.kcore_fixpoint_frame(und, 2)
