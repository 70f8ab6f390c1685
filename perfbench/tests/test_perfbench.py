"""The benchmark's own tests: seeded generation is reproducible, and the
pure-Python reference resolver agrees with the mini-synonymizer golden
answers.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
from collections import Counter

import pytest

from perfbench import gen
from perfbench.reference import Resolver, simplify_name

FILES = ("drugbank.xml", "nodes.parquet", "clusters.parquet")


def _inputs(tmp_path, seed, name):
    return gen.make_etl_inputs(seed, str(tmp_path / name), 30, 300)


def test_generator_byte_identical_for_same_seed(tmp_path):
    a = _inputs(tmp_path, 7, "a")
    b = _inputs(tmp_path, 7, "b")
    for f in FILES:
        assert filecmp.cmp(tmp_path / "a" / f, tmp_path / "b" / f,
                           shallow=False), f
    ra = gen.make_requests(7, a.dims, 5, 50)
    rb = gen.make_requests(7, b.dims, 5, 50)
    assert json.dumps(ra) == json.dumps(rb)
    assert a.anchored == b.anchored


def test_generator_differs_across_seeds(tmp_path):
    _inputs(tmp_path, 7, "a")
    _inputs(tmp_path, 8, "b")
    assert not filecmp.cmp(tmp_path / "a" / FILES[0],
                           tmp_path / "b" / FILES[0], shallow=False)


def test_planted_truth_matches_files(tmp_path):
    inp = _inputs(tmp_path, 3, "a")
    xml = (tmp_path / "a" / "drugbank.xml").read_text()
    assert xml.count("<drug ") == 30
    node_ids = {n[1] for n in inp.dims.nodes}
    for d in inp.drugs:
        assert (f"DRUGBANK:{d.dbid}" in node_ids) == d.anchored
    # every planted name key equals the synonymizer's simplification
    assert all(n[3] == simplify_name(n[2]) for n in inp.dims.nodes)


def test_alias_table_follows_weights():
    import random

    table = gen.AliasTable([1.0, 3.0, 6.0])
    rng = random.Random(0)
    counts = Counter(table.draw(rng) for _ in range(30000))
    for i, share in enumerate((0.1, 0.3, 0.6)):
        assert abs(counts[i] / 30000 - share) < 0.02


# -- references vs the mini-synonymizer golden answers ----------------------

fixtures = pytest.importorskip("drugbankner_spark.fixtures")


def _resolver():
    return Resolver(fixtures.NODE_ROWS, fixtures.CLUSTER_ROWS)


def test_resolver_golden_answers():
    res = _resolver()
    assert res.curie("chebi:100") == [("CHEBI:100", "Aspirin", "biolink:Drug")]
    assert res.curie("Drugbank:200")[0][0] == "CHEBI:100"
    assert res.curie("CHEBI:101")[0][1] == "Aspirin(tm)"
    assert res.curie("MESH:999") == []
    assert res.name("Aspirin")[0] == "CHEBI:100"          # mode vote 2:1
    assert res.name("A S P I R I N!!")[0] == "CHEBI:100"  # simplified key
    assert res.name("TIEBREAK")[0] == "KEGG.DRUG:700"     # tie → min id
    assert res.name("nope") is None
    assert res.lookup("Ecotrin") == [
        ("Ecotrin", "CHEBI:101", "Aspirin(tm)", "biolink:SmallMolecule",
         "name")]
    assert res.lookup("zzz") == [("zzz", None, None, None, None)]


def _oracle(name):
    duckdb = pytest.importorskip("duckdb")
    entry = pytest.importorskip("__spark_entry__")
    return duckdb.sql(entry.oracle_sql()[name]).fetchall()


@pytest.mark.parametrize("query", ["syn_canonical_curie", "syn_canonical_name"])
def test_resolver_agrees_with_syn_oracles(query):
    res = _resolver()
    probe = res.curie if query.endswith("curie") else (
        lambda e: [h] if (h := res.name(e)) else [])
    for entity, *want in _oracle(query):
        got = probe(entity)
        assert (got[0] if got else (None, None, None)) == tuple(want), entity
