"""In-engine TF-IDF char-3gram entity linker goldens (round 7, X1 gap
closure — VERDICT r06 next #5).

Hand-computed sklearn-convention TF-IDF numbers on a tiny alias set,
char_wb gram semantics, the contract-preserving detected-frame wiring,
and the EP1 composition where linking is relational instead of
lexicon-smuggled. The cross-engine hash oracles live in
__spark_entry__ (x1_tfidf_linker / ep1_tfidf_mechanistic_nodes).
"""

from __future__ import annotations

import math
import re

from pyspark.sql import functions as F

from drugbankner_spark.operators.linker import (
    char_wb_gram_counts,
    link_by_tfidf,
)


def test_char_wb_gram_semantics(spark):
    # sklearn char_wb: lowercase, per-token space padding, grams never
    # cross word boundaries; a 1-char token yields its padded self.
    df = spark.createDataFrame([("Ab cd", 1), ("x", 2)], ["t", "i"])
    got = {
        (r["_id"], r["gram"]): r["tf"]
        for r in char_wb_gram_counts(df, "t", "i", n=3).collect()
    }
    assert got == {
        (1, " ab"): 1, (1, "ab "): 1,         # token 'ab' padded ' ab '
        (1, " cd"): 1, (1, "cd "): 1,
        (2, " x "): 1,                         # 1-char token
    }


def test_tfidf_numbers_match_hand_computation(spark):
    # Two aliases 'ab' and 'ac': each vectorizes over its two padded
    # 3-grams, which do NOT overlap — the exact-match mention scores
    # 1.0 and the other concept emits nothing.
    aliases = spark.createDataFrame(
        [("C1", "ab"), ("C2", "ac")], ["id", "name"]
    )
    mentions = spark.createDataFrame([("ab",)], ["m"])
    rows = {
        (r["mention"], r["alias_id"]): r
        for r in link_by_tfidf(
            mentions, "m", aliases, "name", "id", threshold=0.0, k=5
        ).collect()
    }
    # alias 'ab' vector over grams (' ab', 'ab '): both tf=1; the
    # identical mention scores cosine 1.0 exactly
    assert rows[("ab", "C1")]["score"] == 1.0
    assert rows[("ab", "C1")]["rank"] == 1
    # char_wb 3-grams of ' ab ' are {' ab', 'ab '} and of ' ac ' are
    # {' ac', 'ac '}: NO shared gram -> 'ac' scores 0 and is absent
    # (2-char tokens never share char_wb 3-grams unless equal)
    assert ("ab", "C2") not in rows


def test_tfidf_shared_gram_cosine(spark):
    # 3-token aliases DO share grams: 'the cat' vs 'the dog' share the
    # grams of token 'the' — hand-check the cosine.
    aliases = spark.createDataFrame(
        [("C1", "the cat"), ("C2", "the dog")], ["id", "name"]
    )
    mentions = spark.createDataFrame([("the cat",)], ["m"])
    rows = {
        r["alias_id"]: r["score"]
        for r in link_by_tfidf(
            mentions, "m", aliases, "name", "id", threshold=0.0, k=5
        ).collect()
    }
    assert rows["C1"] == 1.0
    # shared grams: ' th','the','he ' (idf=1 each, df=2, N=2);
    # distinct grams: 3 each with idf=ln(3/2)+1
    r = math.log(3.0 / 2.0) + 1.0
    norm_sq = 3 * 1.0 + 3 * r * r
    expected = round(3.0 / norm_sq, 6)
    assert rows["C2"] == expected


def test_threshold_and_k_and_tie_order(spark):
    # Equal-scoring concepts rank by alias_id ascending; k truncates;
    # threshold drops the weak candidate entirely.
    aliases = spark.createDataFrame(
        [("C2", "aspirin"), ("C1", "aspirin"), ("C9", "asp")],
        ["id", "name"],
    )
    mentions = spark.createDataFrame([("aspirin",)], ["m"])
    got = [
        (r["alias_id"], r["score"], r["rank"])
        for r in link_by_tfidf(
            mentions, "m", aliases, "name", "id", threshold=0.7, k=2
        ).orderBy("rank").collect()
    ]
    assert [g[0] for g in got] == ["C1", "C2"]      # tie -> id asc
    assert all(g[1] == 1.0 for g in got)
    assert [g[2] for g in got] == [1, 2]


def test_fuzzy_links_a_lexicon_cannot_make(spark):
    # The point of the linker: typos and spacing variants resolve with
    # NO enumeration of surface forms.
    aliases = spark.createDataFrame(
        [("MONDO:500", "Headache"), ("UMLS:600", "head ache"),
         ("CHEBI:100", "Aspirin")],
        ["id", "name"],
    )
    mentions = spark.createDataFrame(
        [("asprin",), ("head  ache",), ("completely unrelated",)], ["m"]
    )
    rows = {
        r["mention"]: r["alias_id"]
        for r in link_by_tfidf(
            mentions, "m", aliases, "name", "id", threshold=0.6, k=1
        ).collect()
    }
    assert rows["asprin"] == "CHEBI:100"
    assert rows["head  ache"] == "UMLS:600"
    assert "completely unrelated" not in rows


def test_link_entities_tfidf_preserves_detected_contract(spark):
    # Rows with kb ids pass through; unlinked mentions gain kb ids only
    # from the arithmetic; no-candidate mentions keep NULL (the J7
    # name-fallback path); entity-less sentinel rows pass through.
    from drugbankner_spark.operators.ner import link_entities_tfidf

    detected = spark.createDataFrame(
        [("D1", "s1", "aspirn", None),          # typo -> linkable
         ("D1", "s1", "gibberishzz", None),     # no candidate
         ("D1", "s2", "fever", "UMLS:999"),     # already linked
         ("D1", "s3", None, None)],             # no-entity sentinel
        ["kg2_id", "sentence", "entity_text", "kb_id"],
    )
    aliases = spark.createDataFrame(
        [("CHEBI:100", "Aspirin")], ["id", "name"]
    )
    got = {
        (r["entity_text"], r["kb_id"])
        for r in link_entities_tfidf(
            detected, aliases, threshold=0.6, k=1
        ).collect()
    }
    assert got == {
        ("aspirn", "CHEBI:100"),
        ("gibberishzz", None),
        ("fever", "UMLS:999"),
        (None, None),
    }


def test_ep1_tfidf_links_without_lexicon_kb_ids(spark):
    # EP1 end-to-end with spotting-only stubs: every kb link in the
    # output came from TF-IDF arithmetic, and the longest-surface merge
    # still upgrades ('treats headache' beats 'headache' for the
    # MONDO:500 slot).
    import __spark_entry__ as E

    rows = {
        (r["kg2_id"], r["curie"]): r
        for r in E.all_queries()["ep1_tfidf_mechanistic_nodes"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    node = rows[("CHEBI:100", "MONDO:500")]
    assert node["name"] == "treats headache"
    assert node["category"] == "biolink:Disease"


def test_linker_plan_has_no_cartesian(spark):
    # The mention x alias product must be the gram equi-join, never a
    # cartesian; the only cross join is the 1-row N-broadcast.
    import __spark_entry__ as E

    df = E.all_queries()["x1_tfidf_linker"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_max_df_prunes_stop_grams_but_keeps_exact_match(spark):
    # A gram in every alias (here the grams of the shared token 'the')
    # is a posting-join hot key and carries minimum idf; max_df prunes
    # it, norms re-computed in the pruned space keep exact matches at
    # cosine 1.0.
    aliases = spark.createDataFrame(
        [("C1", "the cat"), ("C2", "the dog"), ("C3", "the owl")],
        ["id", "name"],
    )
    mentions = spark.createDataFrame([("the cat",)], ["m"])
    rows = {
        r["alias_id"]: r["score"]
        for r in link_by_tfidf(
            mentions, "m", aliases, "name", "id",
            threshold=0.0, k=5, max_df_ratio=0.9,
        ).collect()
    }
    assert rows["C1"] == 1.0          # exact match survives pruning
    # the shared-token grams are GONE: no cross-candidate similarity
    assert "C2" not in rows and "C3" not in rows
    # without pruning, the shared grams leak similarity
    rows_full = {
        r["alias_id"]: r["score"]
        for r in link_by_tfidf(
            mentions, "m", aliases, "name", "id", threshold=0.0, k=5
        ).collect()
    }
    assert rows_full["C2"] > 0.0


def test_alias_index_probe_equals_inline_fit(spark, tmp_path):
    # Round 9: the persisted-index serving path must return EXACTLY the
    # inline linker's rows — same fit parameters, same scores, same
    # ranks — across thresholds and k (the shared _link_tail contract).
    from drugbankner_spark.operators.linker import (
        link_by_tfidf,
        link_with_alias_index,
        save_alias_index,
    )

    aliases = spark.createDataFrame(
        [("aspirin", 1), ("acetylsalicylic acid", 2), ("ecotrin", 3),
         ("headache", 4), ("tension headache", 5), ("fever", 6)],
        ["alias", "alias_id"],
    )
    mentions = spark.createDataFrame(
        [("aspirin",), ("asprin",), ("tension headaches",),
         ("high fever",), ("zzz",)],
        ["mention"],
    )
    path = str(tmp_path / "alias_idx")
    save_alias_index(aliases, "alias", "alias_id", path)
    for thr, k in [(0.3, 1), (0.1, 3)]:
        inline = sorted(
            tuple(r) for r in link_by_tfidf(
                mentions, "mention", aliases, "alias", "alias_id",
                threshold=thr, k=k,
            ).collect()
        )
        probe = sorted(
            tuple(r) for r in link_with_alias_index(
                spark, path, mentions, "mention", threshold=thr, k=k,
            ).collect()
        )
        assert probe == inline and probe


def test_alias_index_probe_prunes_partitions(spark, tmp_path):
    # the probe's postings scan must carry a gram_bucket partition
    # filter — the layout exists so small mention batches read a
    # handful of the 64 partitions, not the whole ontology index
    from drugbankner_spark.operators.linker import (
        link_with_alias_index,
        save_alias_index,
    )

    aliases = spark.createDataFrame(
        [(f"alias number {i}", i) for i in range(50)],
        ["alias", "alias_id"],
    )
    path = str(tmp_path / "alias_idx")
    save_alias_index(aliases, "alias", "alias_id", path)
    mentions = spark.createDataFrame([("alias number 7",)], ["mention"])
    out = link_with_alias_index(
        spark, path, mentions, "mention", threshold=0.3, k=1
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "gram_bucket" in plan
    assert out.count() >= 1


def test_alias_index_probe_validates_fit_params(spark, tmp_path):
    # ADVICE r09: a probe whose n / n_buckets differ from the fit used
    # to hash grams into buckets would silently prune every posting —
    # the persisted meta parquet must make that a loud error, and an
    # unparameterized probe must auto-load the fit values.
    import pytest

    from drugbankner_spark.operators.linker import (
        link_with_alias_index,
        save_alias_index,
    )

    aliases = spark.createDataFrame(
        [("aspirin", 1), ("ecotrin", 3)], ["alias", "alias_id"]
    )
    mentions = spark.createDataFrame([("aspirin",)], ["mention"])
    path = str(tmp_path / "alias_idx")
    save_alias_index(aliases, "alias", "alias_id", path, n=4,
                     n_buckets=16)
    # auto-load: no n/n_buckets passed, fit values recovered from meta
    out = link_with_alias_index(
        spark, path, mentions, "mention", threshold=0.3, k=1
    ).collect()
    assert [r["alias_id"] for r in out] == [1]
    # explicit matching values still fine
    assert link_with_alias_index(
        spark, path, mentions, "mention", threshold=0.3, k=1,
        n=4, n_buckets=16,
    ).count() == 1
    with pytest.raises(ValueError, match="was fit with n=4"):
        link_with_alias_index(
            spark, path, mentions, "mention", n=3
        )
    with pytest.raises(ValueError, match="n_buckets=16"):
        link_with_alias_index(
            spark, path, mentions, "mention", n_buckets=64
        )


def test_champion_probe_exact_even_at_champion_c_1(spark, tmp_path):
    # VERDICT r10 next #1: the champion-list probe must be EXACT at
    # every champion_c — candidates get an exact rerank, and the
    # per-mention certificate routes any mention the cap could have
    # hurt through the full posting join. champion_c=1 is the
    # adversarial setting: almost every candidate list is truncated,
    # so correctness rests entirely on the certificate + fallback.
    from drugbankner_spark.operators.linker import (
        link_by_tfidf,
        link_with_alias_index,
        save_alias_index,
    )

    aliases = spark.createDataFrame(
        [("aspirin", 1), ("acetylsalicylic acid", 2), ("ecotrin", 3),
         ("aspirin tablet", 4), ("aspirin gel", 5), ("asp", 6),
         ("headache", 7), ("tension headache", 8), ("fever", 9),
         ("hay fever", 10), ("yellow fever", 11)],
        ["alias", "alias_id"],
    )
    mentions = spark.createDataFrame(
        [("aspirin",), ("asprin",), ("aspirin tablets",),
         ("tension headaches",), ("high fever",), ("hay fevers",),
         ("zzz",)],
        ["mention"],
    )
    for c in (1, 2, 1000):
        path = str(tmp_path / f"idx_c{c}")
        save_alias_index(
            aliases, "alias", "alias_id", path, champion_c=c
        )
        for thr, k in [(0.05, 3), (0.3, 1), (0.7, 2)]:
            inline = sorted(
                tuple(r) for r in link_by_tfidf(
                    mentions, "mention", aliases, "alias", "alias_id",
                    threshold=thr, k=k,
                ).collect()
            )
            # (use_champions=True forces the champion path — the tiny
            # fixture sits under the round-12 n_aliases auto-gate)
            for prune, champs in ((True, True), (True, None),
                                  (False, None)):
                probe = sorted(
                    tuple(r) for r in link_with_alias_index(
                        spark, path, mentions, "mention",
                        threshold=thr, k=k, prune_buckets=prune,
                        use_champions=champs,
                    ).collect()
                )
                assert probe == inline and probe, (c, thr, k, prune,
                                                   champs)


def test_auto_champion_w_cut_quantile_math(spark):
    # Round 13 (VERDICT r12 next #1): the impact threshold sizes
    # itself from the per-alias gram-count distribution — w_cut =
    # rms_factor / sqrt(p95 gram count), the RMS component of a unit
    # alias vector at that length (factor 1.0 keeps a posting exactly
    # when its gram is an above-average component of the alias).
    from drugbankner_spark.operators.linker import _auto_champion_w_cut

    # 19 aliases with 4 grams, 1 with 25 -> p95 spans the tail
    rows = []
    for a in range(19):
        for g in range(4):
            rows.append((f"g{a}_{g}", f"a{a}", 0.5))
    for g in range(25):
        rows.append((f"long_{g}", "a_long", 0.2))
    postings = spark.createDataFrame(
        rows, "gram string, alias string, w double"
    )
    got = _auto_champion_w_cut(
        postings, rms_factor=0.5, gram_quantile=0.5,
        w_min=0.0, w_max=10.0,
    )
    assert abs(got - 0.5 / 2.0) < 1e-9  # median gram count 4
    # clamping binds on both sides
    assert _auto_champion_w_cut(
        postings, rms_factor=0.5, gram_quantile=0.5,
        w_min=0.3, w_max=10.0,
    ) == 0.3
    assert _auto_champion_w_cut(
        postings, rms_factor=0.5, gram_quantile=0.5,
        w_min=0.0, w_max=0.1,
    ) == 0.1
    # empty ontology falls back to the max (everything is champion)
    empty = postings.filter(F.lit(False))
    assert _auto_champion_w_cut(empty, w_min=0.02, w_max=0.2) == 0.2


def test_wcut_factor_two_regime_by_alias_count(spark, tmp_path,
                                               monkeypatch):
    # Round 14 (VERDICT r13 next #2): the fit auto-picks the RMS
    # factor by its OWN alias count — the mid-scale factor (0.9,
    # certifies 1.0 at 35.6k aliases) below the boundary, the
    # large-scale factor (1.0, measured ~30% faster at 357k with
    # certification already 1.0) at/above it. Pinned by fitting the
    # SAME ontology on both sides of a monkeypatched boundary and
    # reading the persisted w_cut back from the meta.
    from drugbankner_spark.operators import linker as L

    # long single-token aliases → q = len+1 = 16 grams, so BOTH
    # factors land strictly inside the [w_min, w_max] clamp
    aliases = spark.createDataFrame(
        [(f"aliasnumber{i:04d}", i) for i in range(8)],
        ["alias", "alias_id"],
    )
    paths = {}
    for tag, boundary in (("mid", 100), ("large", 4)):
        monkeypatch.setattr(L, "ALIAS_WCUT_LARGE_MIN_ALIASES", boundary)
        p = str(tmp_path / f"idx_{tag}")
        L.save_alias_index(aliases, "alias", "alias_id", p)
        paths[tag] = spark.read.parquet(p + "/meta").collect()[0]
    w_mid = paths["mid"]["champion_w_cut"]
    w_large = paths["large"]["champion_w_cut"]
    assert w_mid is not None and w_large is not None
    # same ontology, same q — the w_cut ratio IS the factor ratio
    # (both inside the clamp for this fixture's gram counts)
    assert abs(w_mid / w_large
               - L.ALIAS_WCUT_RMS_FACTOR / L.ALIAS_WCUT_RMS_FACTOR_LARGE
               ) < 1e-9


def test_weight_policy_champions_exact_and_meta(spark, tmp_path):
    # champion_c='auto' (the default) builds WEIGHT-thresholded
    # champion lists; the probe must stay bit-identical to the inline
    # linker at EVERY w_cut — including an adversarial cut that
    # truncates almost everything (certificate + fallback carry the
    # whole answer) and one that truncates nothing. Meta records the
    # policy (champion_c=-1) and the chosen w_cut.
    import pytest

    from drugbankner_spark.operators.linker import (
        link_by_tfidf,
        link_with_alias_index,
        save_alias_index,
    )

    aliases = spark.createDataFrame(
        [("aspirin", 1), ("acetylsalicylic acid", 2), ("ecotrin", 3),
         ("aspirin tablet", 4), ("aspirin gel", 5), ("asp", 6),
         ("headache", 7), ("tension headache", 8), ("fever", 9),
         ("hay fever", 10), ("yellow fever", 11)],
        ["alias", "alias_id"],
    )
    mentions = spark.createDataFrame(
        [("aspirin",), ("asprin",), ("aspirin tablets",),
         ("tension headaches",), ("high fever",), ("zzz",)],
        ["mention"],
    )
    path = str(tmp_path / "auto_idx")
    save_alias_index(aliases, "alias", "alias_id", path)
    meta = spark.read.parquet(path + "/meta").collect()[0]
    from drugbankner_spark.operators.linker import (
        ALIAS_WCUT_MAX,
        ALIAS_WCUT_MIN,
    )

    assert meta["champion_c"] == -1
    assert meta["champion_w_cut"] is not None
    assert ALIAS_WCUT_MIN <= meta["champion_w_cut"] <= ALIAS_WCUT_MAX
    for w_cut in (None, 0.9, 1e-6):
        p = path if w_cut is None else str(tmp_path / f"wc_{w_cut}")
        if w_cut is not None:
            save_alias_index(aliases, "alias", "alias_id", p,
                             champion_w_cut=w_cut)
        for thr, k in [(0.05, 3), (0.3, 1), (0.7, 2)]:
            want = sorted(tuple(r) for r in link_by_tfidf(
                mentions, "mention", aliases, "alias", "alias_id",
                threshold=thr, k=k,
            ).collect())
            got = sorted(tuple(r) for r in link_with_alias_index(
                spark, p, mentions, "mention", threshold=thr, k=k,
                use_champions=True,
            ).collect())
            assert got == want and got, (w_cut, thr, k)
    # the analytic guarantee: at w_cut tiny nothing is excluded, so
    # every mention certifies (n_risky 0)
    stats: dict = {}
    link_with_alias_index(
        spark, str(tmp_path / "wc_1e-06"), mentions, "mention",
        threshold=0.3, k=1, use_champions=True, probe_stats=stats,
    ).collect()
    assert stats["n_risky"] == 0 and stats["certified_fraction"] == 1.0
    # invalid combos raise
    with pytest.raises(ValueError, match="champion_c"):
        save_alias_index(aliases, "alias", "alias_id",
                         str(tmp_path / "bad"), champion_c="big")
    with pytest.raises(ValueError, match="champion_w_cut"):
        save_alias_index(aliases, "alias", "alias_id",
                         str(tmp_path / "bad2"), champion_c=64,
                         champion_w_cut=0.1)


def test_weight_policy_bulk_gate_and_pinned_exchanges(
    spark, tmp_path, monkeypatch
):
    # Round 13: (a) weight-policy indexes serve champions on the BULK
    # shape too (prune_buckets=False) once n_aliases clears the
    # crossover — the legacy rank policy keeps the serving-only gate;
    # (b) the probe tail's exchanges are PINNED (REPARTITION_BY_NUM):
    # AQE's compressed-byte coalescing collapsed the broadcast-join
    # explosion into one task (25-minute straggler at sf10), and a
    # pinned exchange is exempt.
    from drugbankner_spark.operators import linker as L

    aliases = spark.createDataFrame(
        [("aspirin", 1), ("ecotrin", 3), ("fever", 9), ("headache", 7)],
        ["alias", "alias_id"],
    )
    mentions = spark.createDataFrame(
        [("aspirin",), ("fever",)], ["mention"]
    )
    wpath = str(tmp_path / "w_idx")
    L.save_alias_index(aliases, "alias", "alias_id", wpath)
    rpath = str(tmp_path / "r_idx")
    L.save_alias_index(aliases, "alias", "alias_id", rpath,
                       champion_c=64)
    monkeypatch.setattr(L, "CHAMPION_AUTO_MIN_ALIASES", 1)
    monkeypatch.setattr(L, "LINKER_PIN_MIN_ALIASES", 1)
    # weight policy: champions auto-ON even with prune_buckets=False
    stats_w: dict = {}
    out_w = L.link_with_alias_index(
        spark, wpath, mentions, "mention", threshold=0.3, k=1,
        prune_buckets=False, probe_stats=stats_w,
    )
    rows_w = sorted(tuple(r) for r in out_w.collect())
    assert stats_w["used_champions"] is True
    # legacy rank policy: bulk shape keeps champions OFF
    stats_r: dict = {}
    rows_r = sorted(tuple(r) for r in L.link_with_alias_index(
        spark, rpath, mentions, "mention", threshold=0.3, k=1,
        prune_buckets=False, probe_stats=stats_r,
    ).collect())
    assert stats_r["used_champions"] is False
    assert rows_w == rows_r and rows_w
    # pinned exchanges in the tail, gated by ESTIMATED PRODUCT ROWS
    # (round 14 — the r13 posting-count gate taxed mid-scale data
    # where AQE's coalesced plan was strictly better): with the
    # product gate forced open the gram-side and mention-side
    # repartitions survive as REPARTITION_BY_NUM (not elided, not
    # AQE-coalescible); at the default gate this tiny fixture's
    # estimate keeps the coalesced plan.
    monkeypatch.setattr(L, "LINKER_PIN_MIN_PRODUCT_ROWS", 1)
    out_w2 = L.link_with_alias_index(
        spark, wpath, mentions, "mention", threshold=0.3, k=1,
        prune_buckets=False,
    )
    plan = out_w2._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan  # rerank pin: estimate-sized
    assert sorted(tuple(r) for r in out_w2.collect()) == rows_w
    flat_small = L.link_with_alias_index(
        spark, wpath, mentions, "mention", threshold=0.3, k=1,
        prune_buckets=False, use_champions=False,
    )._jdf.queryExecution().executedPlan().toString()
    # estimate job is skipped entirely below LINKER_PIN_MIN_POSTINGS
    assert "REPARTITION_BY_NUM" not in flat_small
    monkeypatch.setattr(L, "LINKER_PIN_MIN_POSTINGS", 1)
    flat_pinned = L.link_with_alias_index(
        spark, wpath, mentions, "mention", threshold=0.3, k=1,
        prune_buckets=False, use_champions=False,
    )._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in flat_pinned
    # a fired pin is always FULL width (spark.sql.shuffle.partitions)
    full = int(spark.conf.get("spark.sql.shuffle.partitions"))
    widths = {
        int(w) for w in re.findall(
            r"hashpartitioning\([^()]*, (\d+)\), REPARTITION_BY_NUM",
            flat_pinned,
        )
    }
    assert widths == {full} and full >= 2
    # the estimate itself gates: a sky-high product threshold keeps
    # the coalesced plan even above the posting floor
    monkeypatch.setattr(L, "LINKER_PIN_MIN_PRODUCT_ROWS", 10**15)
    flat_est_gated = L.link_with_alias_index(
        spark, wpath, mentions, "mention", threshold=0.3, k=1,
        prune_buckets=False, use_champions=False,
    )._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" not in flat_est_gated


def test_pin_estimate_from_published_df_dim(spark, tmp_path,
                                            monkeypatch):
    # VERDICT r14 next #1: the pin gate's product estimate prices its
    # posting side from the (gram, df) dim the fit publishes with
    # /idf — same number as the legacy posting-table aggregation
    # (df == posting-list length by construction), no posting agg per
    # batch plan, restart-stable.
    from drugbankner_spark.operators import linker as L

    aliases = spark.createDataFrame(
        [("aspirin", 1), ("ecotrin", 3), ("fever", 9), ("aspirin jr", 4)],
        ["alias", "alias_id"],
    )
    mentions = spark.createDataFrame(
        [("aspirin",), ("fever",)], ["mention"]
    )
    path = str(tmp_path / "df_idx")
    L.save_alias_index(aliases, "alias", "alias_id", path)

    # the published /idf carries df == per-gram posting-list length
    idf_disk = spark.read.parquet(path + "/idf")
    assert "df" in idf_disk.columns
    post_disk = spark.read.parquet(path + "/postings")
    mism = (
        idf_disk.select("gram", "df")
        .join(
            post_disk.groupBy("gram").agg(
                F.count(F.lit(1)).alias("_pcnt")
            ),
            "gram", "full",
        )
        .filter(
            F.col("df").isNull() | F.col("_pcnt").isNull()
            | (F.col("df") != F.col("_pcnt"))
        )
        .count()
    )
    assert mism == 0

    def pinned(index_path: str) -> bool:
        plan = L.link_with_alias_index(
            spark, index_path, mentions, "mention", threshold=0.3, k=1,
            prune_buckets=False, use_champions=False,
        )._jdf.queryExecution().executedPlan().toString()
        return "REPARTITION_BY_NUM" in plan

    # default floors on a tiny fixture: below the posting floor the
    # gate returns 0 without touching either side
    assert L._pin_width(mentions, None, L.LINKER_PIN_MIN_POSTINGS - 1) == 0
    assert not pinned(path)

    # the exact product count Σ_gram (mention rows × posting rows),
    # computed here from the mention grams and the on-disk postings
    mcnt = (
        L.char_wb_gram_counts(mentions.distinct(), "mention", "mention")
        .groupBy("gram").agg(F.count(F.lit(1)).alias("_mcnt"))
    )
    pcnt = post_disk.groupBy("gram").agg(F.count(F.lit(1)).alias("_pcnt"))
    sigma = (
        mcnt.join(pcnt, "gram")
        .agg(F.sum(F.col("_mcnt") * F.col("_pcnt")))
        .first()[0]
    )
    assert sigma > 0
    n_post = post_disk.count()
    gram_df = idf_disk.select("gram", F.col("df").alias("_pcnt"))
    full = int(spark.conf.get("spark.sql.shuffle.partitions"))
    monkeypatch.setattr(L, "LINKER_PIN_MIN_POSTINGS", 1)

    # the published df dim prices the posting side alone (postings is
    # never read), the legacy agg prices it from the posting table, and
    # both land on exactly Σ: the gate fires at Σ and holds at Σ + 1
    for postings, dim in ((None, gram_df), (post_disk, None)):
        for gate, want in ((sigma, full), (sigma + 1, 0)):
            L._PIN_EST_CACHE.clear()
            monkeypatch.setattr(L, "LINKER_PIN_MIN_PRODUCT_ROWS", gate)
            assert L._pin_width(mentions, postings, n_post, mcnt, dim) \
                == want, (dim is not None, gate)

    # legacy-index fallback (no df column): the probe prices the same
    # estimate via the on-the-fly posting agg, so the gate flips at
    # the same Σ on both indexes
    legacy = str(tmp_path / "legacy_df_idx")
    L.save_alias_index(aliases, "alias", "alias_id", legacy)
    import shutil

    # strip the df column to simulate a pre-r15 index
    idf_legacy = spark.read.parquet(legacy + "/idf").select(
        "gram", "idf", "gram_bucket"
    ).toPandas()
    shutil.rmtree(legacy + "/idf")
    spark.createDataFrame(idf_legacy).write.partitionBy(
        "gram_bucket"
    ).parquet(legacy + "/idf")
    L._ALIAS_META_CACHE.clear()
    # record which posting side each probe hands the gate
    from_df_dim = []
    real_pin_width = L._pin_width

    def spy(mvec, postings, n_post, gram_counts=None, gram_df=None):
        from_df_dim.append(gram_df is not None)
        return real_pin_width(mvec, postings, n_post, gram_counts, gram_df)

    monkeypatch.setattr(L, "_pin_width", spy)
    for index_path in (path, legacy):
        for gate, want in ((sigma, True), (sigma + 1, False)):
            L._PIN_EST_CACHE.clear()
            monkeypatch.setattr(L, "LINKER_PIN_MIN_PRODUCT_ROWS", gate)
            assert pinned(index_path) is want, (index_path, gate)
    assert from_df_dim == [True, True, False, False]


def test_champion_probe_opt_out_and_missing_layout(spark, tmp_path):
    # champion_c=None saves the legacy layout (postings/idf only);
    # the probe auto-detects and serves the full-join path, while an
    # explicit use_champions=True on such an index raises loudly.
    import pytest

    from drugbankner_spark.operators.linker import (
        link_with_alias_index,
        save_alias_index,
    )

    aliases = spark.createDataFrame(
        [("aspirin", 1), ("ecotrin", 3)], ["alias", "alias_id"]
    )
    mentions = spark.createDataFrame([("aspirin",)], ["mention"])
    path = str(tmp_path / "legacy_idx")
    save_alias_index(aliases, "alias", "alias_id", path,
                     champion_c=None)
    out = link_with_alias_index(
        spark, path, mentions, "mention", threshold=0.3, k=1
    ).collect()
    assert [r["alias_id"] for r in out] == [1]
    with pytest.raises(ValueError, match="without champion"):
        link_with_alias_index(
            spark, path, mentions, "mention", use_champions=True
        ).collect()
    # use_champions=False on a champion-carrying index also works
    path2 = str(tmp_path / "champ_idx")
    save_alias_index(aliases, "alias", "alias_id", path2,
                     champion_c=8)
    out2 = link_with_alias_index(
        spark, path2, mentions, "mention", threshold=0.3, k=1,
        use_champions=False,
    ).collect()
    assert [r["alias_id"] for r in out2] == [1]


def test_champion_probe_stats_and_zero_risky_fast_path(spark, tmp_path):
    # Round 12 (VERDICT r11 next #1a): probe_stats reports the
    # certified fraction, and a fully-certified batch returns the
    # champion result WITHOUT the full-posting fallback branch in the
    # executed plan (the eager n_risky==0 short-circuit) — still
    # bit-identical to the inline linker.
    from drugbankner_spark.operators.linker import (
        link_by_tfidf,
        link_with_alias_index,
        save_alias_index,
    )

    aliases = spark.createDataFrame(
        [("aspirin", 1), ("acetylsalicylic acid", 2), ("ecotrin", 3),
         ("headache", 7), ("fever", 9)],
        ["alias", "alias_id"],
    )
    mentions = spark.createDataFrame(
        [("aspirin",), ("fever",), ("headache",)], ["mention"]
    )
    path = str(tmp_path / "stats_idx")
    # champion_c large enough that every gram's postings are ALL
    # champions -> every cutoff is 0 -> every mention certifies
    save_alias_index(aliases, "alias", "alias_id", path,
                     champion_c=1000)
    stats: dict = {}
    out = link_with_alias_index(
        spark, path, mentions, "mention", threshold=0.3, k=1,
        use_champions=True, probe_stats=stats,
    )
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(tuple(r) for r in link_by_tfidf(
        mentions, "mention", aliases, "alias", "alias_id",
        threshold=0.3, k=1,
    ).collect())
    assert got == want and got
    assert stats["used_champions"] is True
    assert stats["n_mentions"] == 3
    assert stats["n_risky"] == 0
    assert stats["certified_fraction"] == 1.0
    # zero-risky plan: no Union (fallback branch never scheduled)
    assert "Union" not in out._jdf.queryExecution().executedPlan() \
        .toString()
    # adversarial c=1: stats still report, result still exact
    path1 = str(tmp_path / "stats_idx_c1")
    save_alias_index(aliases, "alias", "alias_id", path1, champion_c=1)
    stats1: dict = {}
    out1 = sorted(tuple(r) for r in link_with_alias_index(
        spark, path1, mentions, "mention", threshold=0.3, k=1,
        use_champions=True, probe_stats=stats1,
    ).collect())
    assert out1 == want
    assert stats1["n_risky"] + round(
        stats1["certified_fraction"] * stats1["n_mentions"]
    ) == stats1["n_mentions"]
    # flat path stats: used_champions False, fraction None
    stats_flat: dict = {}
    link_with_alias_index(
        spark, path, mentions, "mention", threshold=0.3, k=1,
        use_champions=False, probe_stats=stats_flat,
    ).collect()
    assert stats_flat["used_champions"] is False
    assert stats_flat["certified_fraction"] is None
