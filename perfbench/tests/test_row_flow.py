"""Row-flow counters and their conservation identities on a real build."""

from __future__ import annotations

import pytest

from checks import check_flow, kg_row_flow
from inputs import make_inputs


@pytest.fixture(scope="module")
def spark():
    from kg_covid_19_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    return make_inputs("sf0.01", str(tmp_path_factory.mktemp("inputs")))


def test_identities_hold_and_match_python(spark, sf_dir):
    from kg_covid_19_spark.plans.pipeline import get_mention_arrays

    flow, broken = kg_row_flow(spark, sf_dir)
    assert broken == []
    ks = [len(r.curies or []) for r in get_mention_arrays(spark, sf_dir).collect()]
    assert flow["docs"] == len(ks) == 500
    assert flow["docs_with_mentions"] == sum(k > 0 for k in ks)
    assert flow["mention_edges"] == sum(ks)
    assert flow["cooc_pairs_raw"] == sum(k * (k - 1) // 2 for k in ks)
    assert 0 < flow["cooc_edges"] <= flow["cooc_pairs_raw"]
    assert flow["pair_dedup_yield"] == flow["cooc_edges"] / flow["cooc_pairs_raw"]
    assert kg_row_flow(spark, sf_dir) == (flow, [])


def test_lost_mention_edge_breaks_identity(spark, sf_dir, monkeypatch):
    import kg_covid_19_spark.plans.pipeline as pipeline
    from kg_covid_19_spark.dictionaries import MENTION_PREDICATE

    real_get_kg = pipeline.get_kg

    def lossy_get_kg(spark, sf_dir, langs=None):
        nodes, edges = real_get_kg(spark, sf_dir, langs)
        one = edges.filter(edges.predicate == MENTION_PREDICATE).limit(1)
        return nodes, edges.exceptAll(one)

    monkeypatch.setattr(pipeline, "get_kg", lossy_get_kg)
    _, broken = kg_row_flow(spark, sf_dir)
    assert len(broken) == 1 and broken[0].startswith("mention_edges")


def test_flow_checked_against_pinned_counts():
    from workloads import PINNED_FLOW

    pinned = PINNED_FLOW["curate_sf0.01"]
    assert check_flow("curate_sf0.01", dict(pinned, candidate_yield=0.5)) == []
    off = dict(pinned, neardup_pairs=pinned["neardup_pairs"] + 1)
    assert len(check_flow("curate_sf0.01", off)) == 1
