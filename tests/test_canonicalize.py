"""L1/L2/L5 canonicalization scale guards: block-cap accounting, the
bound-pruned pair scorer (never drops a pair that reaches τ), and the
capped alias-map broadcast (north rule: hot alias dictionary broadcast,
cold tail shuffled)."""

from __future__ import annotations

from dataclasses import replace

import pytest
from hypothesis import given, settings, strategies as st

from graphrag_rs_spark import reference_logic as rl
from graphrag_rs_spark.config import DEFAULT_CONFIG
from graphrag_rs_spark.stages import canonicalize, chunking, extraction


@pytest.fixture()
def hot_token_entities(spark):
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    return spark.createDataFrame(
        [(f"E{i}", f"inc {w}", "ORGANIZATION", 0.9)
         for i, w in enumerate(words)],
        "entity_id string, name string, entity_type string, "
        "confidence double")


def test_dropped_blocks_counted_not_silent(monkeypatch, hot_token_entities):
    monkeypatch.setattr(canonicalize, "MAX_BLOCK_SIZE", 5)
    dropped = {r["block_key"]: r["n_entities"]
               for r in canonicalize.dropped_block_stats(
                   hot_token_entities).collect()}
    # the hot token itself and its soundex bucket both exceed the cap
    assert dropped.get("inc") == 7
    assert all(n == 7 for n in dropped.values())
    assert len(dropped) >= 2


def test_oversized_blocks_excluded_from_pairs(monkeypatch,
                                              hot_token_entities):
    monkeypatch.setattr(canonicalize, "MAX_BLOCK_SIZE", 5)
    # pairs sharing ONLY the dropped "inc"-derived keys vanish; epsilon/eta
    # also share the small "ince" prefix block and legitimately survive
    got = {(r["id1"], r["id2"]) for r in
           canonicalize.candidate_pairs(hot_token_entities).collect()}
    assert got == {("E4", "E6")}
    # with the cap lifted the same entities DO pair up
    monkeypatch.setattr(canonicalize, "MAX_BLOCK_SIZE", 1000)
    assert canonicalize.candidate_pairs(hot_token_entities).count() == 21


# raw names as extraction could emit them: non-ASCII letters, punctuation,
# repeated spaces, empty and 1-3-character names, and typo variants of a
# shared surname (the near-duplicates blocking pairs up)
_CHARS = "abcxyzAZ09 éÉßøİıﬁΩ.-'&  "
_any_name = st.text(alphabet=_CHARS, max_size=12)
_short_name = st.text(alphabet=_CHARS, max_size=3)


@st.composite
def _surname_variant(draw):
    name = list(draw(st.sampled_from(
        ["Whitley", "Vandelay", "O'Neil", "Müller", "van der Berg"])))
    for _ in range(draw(st.integers(0, 3))):
        i = draw(st.integers(0, len(name)))
        op = draw(st.sampled_from(["ins", "del", "sub", "swap"]))
        c = draw(st.sampled_from(_CHARS))
        if op == "ins":
            name.insert(i, c)
        elif i < len(name) and op == "del":
            del name[i]
        elif i < len(name) and op == "sub":
            name[i] = c
        elif i + 1 < len(name):
            name[i], name[i + 1] = name[i + 1], name[i]
    first = draw(st.sampled_from(["", "Walter ", "walter  ", "W. ", "Anna-"]))
    return first + "".join(name)


_name = st.one_of(_any_name, _short_name, _surname_variant())


@pytest.mark.parametrize("use_phonetic", [False, True])
@pytest.mark.parametrize("max_edit_distance", [0, 1, 2, 3])
@settings(max_examples=300, deadline=None)
@given(pairs=st.lists(st.tuples(_name, _name), min_size=1, max_size=8))
def test_similarity_bound_is_upper_bound(pairs, max_edit_distance,
                                         use_phonetic):
    bound = canonicalize.SimilarityBound(use_phonetic, max_edit_distance) \
        .upper_bound([a for a, _ in pairs], [b for _, b in pairs])
    for (a, b), ub in zip(pairs, bound):
        exact = rl.compute_similarity(a, b, use_phonetic=use_phonetic,
                                      max_edit_distance=max_edit_distance)
        assert ub >= exact - 1e-12, (a, b, ub, exact)


@pytest.fixture(scope="module")
def tiny_entities(tiny_transcripts):
    docs = chunking.assemble_documents(tiny_transcripts)
    chunks = chunking.chunk_documents(docs)
    ents = extraction.entities_table(extraction.chunk_entities_from_bundles(
        extraction.extract_chunk_bundles(chunks)))
    return ents.cache()


@pytest.mark.parametrize("which", ["tiny_entities", "hot_token_entities"])
def test_score_pairs_equals_brute_force(request, which):
    """score_pairs returns exactly the candidate pairs a row-by-row
    compute_similarity keeps at τ, with the same sim values."""
    pairs = canonicalize.candidate_pairs(request.getfixturevalue(which))
    rows = pairs.collect()
    for tau in (0.85, 0.7):
        for use_phonetic in (False, True):
            cfg = replace(DEFAULT_CONFIG, link_min_similarity=tau,
                          link_use_phonetic=use_phonetic)
            want = set()
            for r in rows:
                sim = rl.compute_similarity(
                    r["name1"], r["name2"], use_phonetic=use_phonetic,
                    max_edit_distance=cfg.link_max_edit_distance)
                if sim >= tau:
                    want.add((r["id1"], r["id2"], sim))
            got = {tuple(r) for r in
                   canonicalize.score_pairs(pairs, cfg).collect()}
            assert got == want, (which, tau, use_phonetic)
            if which == "tiny_entities":
                assert 0 < len(want) < len(rows)


@pytest.fixture()
def rewrite_inputs(spark):
    tm = spark.createDataFrame(
        [("c1", "E1", "KNOWS", "E2"),
         ("c1", "E3", "KNOWS", "E4"),
         ("c2", "E5", "KNOWS", "E6"),
         ("c2", "E1", "KNOWS", "E6"),
         ("c3", "E2", "KNOWS", "E5")],
        "chunk_id string, subj string, pred string, obj string")
    cmap = spark.createDataFrame(
        [("E1", "E0"), ("E2", "E0"), ("E3", "E0"),
         ("E5", "E4"), ("E6", "E6"), ("E4", "E4")],
        "entity_id string, canonical_id string")
    counts = spark.createDataFrame(
        [("E1", 10), ("E2", 8), ("E3", 1), ("E5", 2)],
        "entity_id string, mention_count long")
    return tm, cmap, counts


def test_alias_broadcast_cap_preserves_semantics(rewrite_inputs):
    tm, cmap, counts = rewrite_inputs
    full = sorted(map(tuple, canonicalize.rewrite_triple_mentions(
        tm, cmap, DEFAULT_CONFIG).collect()))
    split = sorted(map(tuple, canonicalize.rewrite_triple_mentions(
        tm, cmap, replace(DEFAULT_CONFIG, alias_broadcast_hot_k=2),
        mention_counts=counts).collect()))
    assert split == full
    # and without caller-provided counts (derived from the mentions)
    derived = sorted(map(tuple, canonicalize.rewrite_triple_mentions(
        tm, cmap, replace(DEFAULT_CONFIG, alias_broadcast_hot_k=2))
        .collect()))
    assert derived == full


def test_alias_broadcast_cap_plan_shape(spark, rewrite_inputs):
    """Above the cap only the hot top-K is broadcast-HINTED; the cold
    tail joins unhinted (AQE's call at runtime).  Assert on the initial
    physical plan with auto-broadcast off, PLANS.md style."""
    tm, cmap, counts = rewrite_inputs
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = canonicalize.rewrite_triple_mentions(
            tm, cmap, replace(DEFAULT_CONFIG, alias_broadcast_hot_k=2),
            mention_counts=counts)
        plan = out._jdf.queryExecution().sparkPlan().toString()
        assert plan.count("BroadcastHashJoin") == 2      # hot subj + obj
        assert "SortMergeJoin" in plan                   # cold tail shuffles
        # small map under the cap: both joins broadcast as before
        full = canonicalize.rewrite_triple_mentions(tm, cmap, DEFAULT_CONFIG)
        plan_full = full._jdf.queryExecution().sparkPlan().toString()
        assert plan_full.count("BroadcastHashJoin") == 2
        assert "SortMergeJoin" not in plan_full
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
