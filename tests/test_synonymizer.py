"""Golden tests for the synonymizer query family over the hand-built
mini fixture (FIXTURES.md B2) — expected values computed by hand from the
reference semantics (node_synonymizer.py, cited per method)."""

from __future__ import annotations

import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark import StorageLevel  # noqa: E402

from drugbankner_spark import caching  # noqa: E402
from drugbankner_spark.fixtures import mini_synonymizer_frames  # noqa: E402
from drugbankner_spark.operators.synonymizer import Synonymizer  # noqa: E402
from drugbankner_spark.plans import explain as X  # noqa: E402


@pytest.fixture(scope="module")
def syn(spark):
    nodes, clusters, edges = mini_synonymizer_frames(spark)
    return Synonymizer(nodes, clusters, edges)


def _inputs(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], ["entity"])


def _by_entity(rows):
    return {r["entity"]: r for r in rows}


def test_canonical_from_curies(spark, syn):
    df = _inputs(spark, ["chebi:100", "Drugbank:200", "MESH:999", "CHEBI:101"])
    out = _by_entity(syn.canonical_from_curies(df, "entity").collect())
    # prefix-case-insensitive hit → cluster preferred fields, biolink-prefixed
    assert out["chebi:100"]["preferred_curie"] == "CHEBI:100"
    assert out["chebi:100"]["preferred_name"] == "Aspirin"
    assert out["chebi:100"]["preferred_category"] == "biolink:Drug"
    assert out["Drugbank:200"]["preferred_curie"] == "CHEBI:100"
    assert out["CHEBI:101"]["preferred_name"] == "Aspirin(tm)"
    # miss → explicit NULLs (None-for-miss contract)
    assert out["MESH:999"]["preferred_curie"] is None


def test_canonical_from_names_mode_vote(spark, syn):
    df = _inputs(spark, ["Aspirin", "A S P I R I N!!", "TIEBREAK", "nope"])
    out = _by_entity(syn.canonical_from_names(df, "entity").collect())
    # 'aspirin' appears 2× in cluster CHEBI:100, 1× in CHEBI:101 → mode wins
    assert out["Aspirin"]["preferred_curie"] == "CHEBI:100"
    # punctuation/whitespace variants simplify to the same key
    assert out["A S P I R I N!!"]["preferred_curie"] == "CHEBI:100"
    # 1-1 tie → pinned to smallest cluster_id (documented divergence from
    # the reference's dict-order max)
    assert out["TIEBREAK"]["preferred_curie"] == "KEGG.DRUG:700"
    assert out["nope"]["preferred_curie"] is None


FALLBACK_INPUTS = ["CHEBI:101", "Ecotrin", "head ache", "zzz"]


def test_canonical_lookup_fallback(spark, syn):
    _assert_fallback_golden(
        syn.canonical_lookup(_inputs(spark, FALLBACK_INPUTS), "entity")
    )


def _assert_fallback_golden(lookup):
    out = _by_entity(lookup.collect())
    assert out["CHEBI:101"]["matched_via"] == "curie"
    assert out["Ecotrin"]["matched_via"] == "name"
    assert out["Ecotrin"]["preferred_curie"] == "CHEBI:101"
    assert out["head ache"]["preferred_curie"] == "MONDO:500"
    assert out["zzz"]["preferred_curie"] is None
    assert out["zzz"]["matched_via"] is None


def test_canonical_from_suffix(spark, syn):
    df = _inputs(spark, ["42", "100", "zzz", "CHEBI:101"])
    rows = syn.canonical_from_suffix(df, "entity").collect()
    hits = {(r["entity"], r["preferred_curie"]) for r in rows}
    # suffix valid under two prefixes → both clusters surface
    assert ("42", "CHEBI:42") in hits and ("42", "DRUGBANK:42") in hits
    assert ("100", "CHEBI:100") in hits
    # colon-bearing input routed down the plain CURIE path
    assert ("CHEBI:101", "CHEBI:101") in hits
    assert not any(e == "zzz" for e, _ in hits)


def test_equivalent_nodes(spark, syn):
    df = _inputs(spark, ["chebi:100", "Aspirin", "miss"])
    out = _by_entity(syn.equivalent_nodes(df, "entity").collect())
    assert out["chebi:100"]["equivalent_ids"] == ["CHEBI:100", "drugbank:200", "MESH:300"]
    assert out["Aspirin"]["equivalent_ids"] == ["CHEBI:100", "drugbank:200", "MESH:300"]
    assert out["miss"]["equivalent_ids"] is None


def test_cluster_category_counts(syn):
    rows = syn.cluster_category_counts().collect()
    got = {(r["cluster_id"], r["category"]): r["cnt"] for r in rows}
    assert got[("CHEBI:100", "biolink:Drug")] == 2          # CHEBI:100 + MESH:300
    assert got[("CHEBI:100", "biolink:SmallMolecule")] == 1  # drugbank:200
    assert got[("MONDO:500", "biolink:Disease")] == 1
    assert got[("MONDO:500", "biolink:PhenotypicFeature")] == 1


def test_normalizer_nodes(spark, syn):
    df = _inputs(spark, ["Aspirin"])
    rows = syn.normalizer_nodes(df, "entity").collect()
    by_id = {r["equivalent_id"]: r for r in rows}
    assert set(by_id) == {"CHEBI:100", "drugbank:200", "MESH:300"}
    # in_sri keys off category_sri IS NOT NULL (node_synonymizer.py:249-254)
    assert by_id["CHEBI:100"]["in_sri"] is True
    assert by_id["drugbank:200"]["in_sri"] is False
    assert by_id["drugbank:200"]["in_kg2pre"] is True
    assert by_id["MESH:300"]["in_kg2pre"] is False
    assert all(r["cluster_preferred_name"] == "Aspirin" for r in rows)
    assert by_id["drugbank:200"]["category"] == "biolink:SmallMolecule"


def test_cluster_table(spark, syn):
    want = spark.createDataFrame([("CHEBI:100",)], ["cluster_id"])
    nodes_out, edges_out = syn.cluster_table(want)
    assert {r["id"] for r in nodes_out.collect()} == {
        "CHEBI:100", "drugbank:200", "MESH:300"
    }
    assert {r["subject"] for r in edges_out.collect()} == {"CHEBI:100"}
    assert edges_out.count() == 2


def test_known_prefixes(syn):
    got = {r["prefix"] for r in syn.known_prefixes().collect()}
    assert got == {"CHEBI", "drugbank", "MESH", "RXNORM", "MONDO", "umls",
                   "KEGG.DRUG", "DRUGBANK"}


def test_known_prefix_list_memoized(spark):
    # VERDICT r02 wrong #1: the default suffix path must scan the nodes
    # dim ONCE per instance, not once per call. Proven by poisoning the
    # cache: a second lookup must consult the cached list, not re-derive
    # the live inventory.
    from drugbankner_spark.fixtures import mini_synonymizer_frames
    from drugbankner_spark.operators.synonymizer import Synonymizer

    nodes, clusters, edges = mini_synonymizer_frames(spark)
    syn = Synonymizer(nodes, clusters, edges)
    first = syn.known_prefix_list()
    assert "DRUGBANK" in first and syn._prefix_cache == first

    syn._prefix_cache = ["CHEBI"]  # poison: only CHEBI fan-out possible
    df = spark.createDataFrame([("42",)], ["entity"])
    hits = {r["preferred_curie"]
            for r in syn.canonical_from_suffix(df, "entity").collect()}
    assert hits == {"CHEBI:42"}  # DRUGBANK:42 not probed → cache was used


def test_fuzzy_canonical_from_names_typos(spark, syn):
    # typo'd names within 2 edits resolve to the modal cluster; exact
    # names come back at distance 0; garbage produces NO row (documented
    # divergence from the exact lookups' NULL rows)
    df = _inputs(spark, ["asprin", "Aspirin", "xyzzyqq"])
    rows = syn.fuzzy_canonical_from_names(df, "entity").collect()
    by_entity = {}
    for r in rows:
        by_entity.setdefault(r["entity"], []).append(r)
    best = {e: min(v, key=lambda r: (r["distance"], r["preferred_curie"]))
            for e, v in by_entity.items()}
    assert best["asprin"]["preferred_curie"] == "CHEBI:100"
    assert best["asprin"]["distance"] == 1
    assert best["Aspirin"]["preferred_curie"] == "CHEBI:100"
    assert best["Aspirin"]["distance"] == 0
    assert "xyzzyqq" not in by_entity


def _fresh_syn(spark, **kw):
    return Synonymizer(*mini_synonymizer_frames(spark), **kw)


def test_warm_lookup_runs_at_most_three_jobs(spark):
    # The probes are resolved once per instance: after one lookup has
    # filled their caches, a lookup is the two probe broadcasts plus the
    # query's own job. Re-deriving the mode vote and the clusters join
    # per call ran 8-9 jobs.
    syn = _fresh_syn(spark)
    _assert_fallback_golden(
        syn.canonical_lookup(_inputs(spark, FALLBACK_INPUTS), "entity")
    )
    sc = spark.sparkContext
    group = "test_warm_lookup_runs_at_most_three_jobs"
    sc.setJobGroup(group, group)
    try:
        syn.canonical_lookup(_inputs(spark, FALLBACK_INPUTS), "entity").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 3, jobs
    syn.unpersist()


def test_unpersist_releases_probes_and_lookups_still_answer(spark):
    syn = _fresh_syn(spark)
    df = _inputs(spark, FALLBACK_INPUTS)
    _assert_fallback_golden(syn.canonical_lookup(df, "entity"))
    probes = list(syn._probes.values())
    assert len(probes) == 2
    assert all(p.storageLevel != StorageLevel.NONE for p in probes)
    # not in the shared registry: the scoped releases operators run after
    # their own actions must not drop a live instance's probes
    caching.release_shared_caches()
    assert all(p.storageLevel != StorageLevel.NONE for p in probes)

    syn.unpersist()
    assert all(p.storageLevel == StorageLevel.NONE for p in probes)
    _assert_fallback_golden(syn.canonical_lookup(df, "entity"))
    syn.unpersist()


def _rows(df):
    return sorted(map(repr, df.collect()))


def test_shuffled_dims_answer_like_broadcast_dims(spark, syn):
    shuffled = _fresh_syn(spark, broadcast_dims=False)
    df = _inputs(spark, FALLBACK_INPUTS + ["chebi:100", "Aspirin", "TIEBREAK"])
    for method in ("canonical_lookup", "canonical_from_names",
                   "equivalent_nodes"):
        assert _rows(getattr(shuffled, method)(df, "entity")) == \
            _rows(getattr(syn, method)(df, "entity")), method

    # after the probes are cached their size is known and tiny; the
    # hint still keeps both probe joins shuffled
    lookup = shuffled.canonical_lookup(df, "entity")
    lookup.collect()
    plan = _without_cached_plans(X.plan_string(lookup, "simple"))
    assert "BroadcastHashJoin" not in plan, plan
    assert plan.count("ShuffledHashJoin") == 4, plan  # final + initial plan
    shuffled.unpersist()


def _without_cached_plans(plan: str) -> str:
    """The plan text minus the subtrees printed under each
    ``InMemoryRelation`` (the plans that built a cache, not this query's
    operators): drop every line indented deeper than that node."""
    out, cut = [], None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :|"))
        if cut is not None and depth > cut:
            continue
        cut = depth if "InMemoryRelation" in line else None
        out.append(line)
    return "\n".join(out)


def test_concurrent_first_lookups_build_each_probe_once(spark):
    # a server's first lookups can arrive together: each probe must be
    # built (and persisted) by exactly one of them
    syn = _fresh_syn(spark)
    kinds = ["curie", "name"] * 8
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(len(kinds)) as pool:
            futures = [pool.submit(syn._probe, k) for k in kinds]
            got = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(old)
    for kind in ("curie", "name"):
        assert len({id(p) for k, p in zip(kinds, got) if k == kind}) == 1
    assert syn._probes == {"curie": got[0], "name": got[1]}
    syn.unpersist()
