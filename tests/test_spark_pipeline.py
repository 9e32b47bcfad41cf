"""Spark-vs-oracle parity: the north-rule correctness gates.

  - triple P/R ≥ 0.95 (target: exact equality) on distinct (subj, pred, obj)
  - per-turn text equality under stable turn ordering
  - entity/mention table parity
  - determinism across runs and partitioning layouts
"""

import pytest
from pyspark.sql import functions as F

from graphrag_rs_spark.config import DEFAULT_CONFIG
from graphrag_rs_spark.stages import chunking, extraction
from graphrag_rs_spark.stages.pipeline import run_pipeline


@pytest.fixture(scope="module")
def result(spark, tiny_transcripts):
    return run_pipeline(spark, tiny_transcripts)


def test_turn_equality_invariant(tiny_transcripts, result):
    row = chunking.verify_turn_equality(
        tiny_transcripts, result.chunks).collect()[0]
    assert row["mismatched_turns"] == 0
    assert row["covered_turns"] == row["turns"]


def test_chunks_match_oracle(result, tiny_oracle):
    got = {(r["chunk_id"], r["content"], r["start_offset"], r["end_offset"])
           for r in result.chunks.collect()}
    want = {(c["chunk_id"], c["content"], c["start_offset"], c["end_offset"])
            for c in tiny_oracle.chunks}
    assert got == want


def test_entities_match_oracle(result, tiny_oracle):
    got = {(r["entity_id"], r["name"], r["entity_type"],
            round(r["confidence"], 6), r["mention_count"])
           for r in result.entities.collect()}
    want = {(e["entity_id"], e["name"], e["entity_type"],
             round(e["confidence"], 6), e["mention_count"])
            for e in tiny_oracle.entities}
    assert got == want


def test_mentions_match_oracle(result, tiny_oracle):
    got = {(r["entity_id"], r["chunk_id"], r["start_offset"], r["end_offset"])
           for r in result.mentions.collect()}
    want = {(m["entity_id"], m["chunk_id"], m["start_offset"], m["end_offset"])
            for m in tiny_oracle.mentions}
    assert got == want


def test_raw_triples_match_oracle(result, tiny_oracle):
    got = {(r["subj"], r["pred"], r["obj"]) for r in result.triples.collect()}
    want = tiny_oracle.triple_set(canonical=False)
    assert got == want


def test_canonical_map_matches_oracle(result, tiny_oracle):
    got = {r["entity_id"]: r["canonical_id"]
           for r in result.canonical_map.collect()
           if r["entity_id"] != r["canonical_id"]}
    assert got == tiny_oracle.canonical_map


def test_triple_precision_recall(result, tiny_oracle):
    got = {(r["subj"], r["pred"], r["obj"])
           for r in result.canonical_triples.collect()}
    want = tiny_oracle.triple_set(canonical=True)
    tp = len(got & want)
    precision = tp / max(len(got), 1)
    recall = tp / max(len(want), 1)
    assert precision >= 0.95, f"precision {precision}"
    assert recall >= 0.95, f"recall {recall}"
    # we target exact equality, not just the gate
    assert got == want


def test_context_chunks_match_oracle(result, tiny_oracle):
    """Full context parity: decode the dictionary-encoded context keys
    back to chunk-id strings and compare lists with the oracle."""
    from graphrag_rs_spark.stages.triples import decode_context
    decoded = decode_context(result.canonical_triples, result.chunks)
    got = {(r["subj"], r["pred"], r["obj"]): list(r["context_chunks"])
           for r in decoded.collect()}
    want = {(t["subj"], t["pred"], t["obj"]): sorted(t["context_chunks"])
            for t in tiny_oracle.canonical_triples}
    assert got == want


def test_communities_match_oracle(result, tiny_oracle):
    got = {(r["entity_id"], r["community"])
           for r in result.communities.collect()}
    want = {(c["entity_id"], c["community"]) for c in tiny_oracle.communities}
    assert got == want


def test_partitioning_invariance(spark, tiny_transcripts, result):
    """Same triples regardless of input partitioning (shuffle safety)."""
    shuffled = tiny_transcripts.repartition(13)
    res2 = run_pipeline(spark, shuffled)
    a = {(r["subj"], r["pred"], r["obj"])
         for r in result.canonical_triples.collect()}
    b = {(r["subj"], r["pred"], r["obj"])
         for r in res2.canonical_triples.collect()}
    assert a == b


def test_extraction_salting_equivalence(spark, result, tiny_oracle):
    """Round-robin repartition before the extraction UDF must not change
    the result (chunk is the unit of parallelism)."""
    ce = extraction.extract_chunk_entities(
        result.chunks, DEFAULT_CONFIG, num_partitions=17)
    # compare on mention-bearing pairs: entities whose literal name never
    # occurs in the chunk (cross-sentence word joins) have no mentions and
    # no row in the oracle's mention table — faithful reference behavior
    got = {(r["chunk_id"], r["entity_id"]) for r in ce.collect()
           if r["mention_starts"]}
    want = {(m["chunk_id"], m["entity_id"]) for m in tiny_oracle.mentions}
    assert got == want


def test_entity_name_allow_exclude_filters(result):
    """E6: include/exclude regex over names prunes extractor output."""
    from dataclasses import replace
    base = extraction.extract_chunk_entities(result.chunks, DEFAULT_CONFIG)
    names = [r["name"] for r in base.select("name").distinct().collect()]
    victim = sorted(names)[0]
    cfg_ex = replace(DEFAULT_CONFIG,
                     exclude_name_patterns=(f"^{victim}$",))
    ex = extraction.extract_chunk_entities(result.chunks, cfg_ex)
    left = {r["name"] for r in ex.select("name").distinct().collect()}
    assert victim not in left
    assert left == set(names) - {victim}
    cfg_in = replace(DEFAULT_CONFIG, include_name_pattern=f"^{victim}$")
    only = {r["name"] for r in extraction.extract_chunk_entities(
        result.chunks, cfg_in).select("name").distinct().collect()}
    assert only == {victim}


def test_no_entity_below_confidence_threshold(result):
    n = result.entities.filter(
        F.col("confidence") < DEFAULT_CONFIG.min_confidence).count()
    assert n == 0


def test_bundle_pair_emission_is_shuffle_free(result):
    """The triple path (extract_chunk_bundles → emit_triple_mentions_
    from_bundles) must reach pairs with ZERO Exchange: one MapInPandas
    for extraction, then pure codegen generators.  This is the stage's
    load-bearing claim — a self-join on chunk_id would pay two
    sort-merge exchanges plus a join to bring the context flags back."""
    from graphrag_rs_spark.stages import triples as tmod
    bundles = extraction.extract_chunk_bundles(result.chunks, DEFAULT_CONFIG)
    pairs = tmod.emit_triple_mentions_from_bundles(bundles)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    # tree text prints downstream operators ABOVE the first MapInPandas
    # (the extractor; the chunker upstream is a second Arrow pass):
    # everything between pair emission and extraction must be
    # exchange-free, reached via two chained posexplode generators
    downstream = plan.split("MapInPandas")[0]
    assert "Exchange" not in downstream
    assert downstream.count("Generate posexplode") == 2
    assert "BatchEvalPython" not in plan       # no row-at-a-time Python


def test_raw_triple_contexts_match_oracle(result, tiny_oracle):
    """Per-chunk pair emission against the independent oracle: every
    raw triple's decoded context chunks equal the oracle's, and the flat
    mention stream holds exactly one row per (triple, context chunk)."""
    from graphrag_rs_spark.stages.triples import decode_context
    decoded = decode_context(result.triples, result.chunks)
    got = {(r["subj"], r["pred"], r["obj"]): list(r["context_chunks"])
           for r in decoded.collect()}
    want = {(t["subj"], t["pred"], t["obj"]): sorted(t["context_chunks"])
            for t in tiny_oracle.triples}
    assert got == want and got
    assert result.triple_mentions.count() == sum(
        len(t["context_chunks"]) for t in tiny_oracle.triples)


def test_fold_over_raw_rewrite_equals_fold_over_distinct(result):
    """collect_set subsumes the flat-form distinct: folding the raw
    alias-applied stream yields byte-identical canonical triples."""
    from graphrag_rs_spark.stages import canonicalize
    from graphrag_rs_spark.stages import triples as tmod
    raw = canonicalize.rewrite_triple_mentions(
        result.triple_mentions, result.canonical_map, DEFAULT_CONFIG)
    deduped = raw.distinct()
    a = sorted(map(tuple, tmod.triples_with_context(raw,
               DEFAULT_CONFIG).collect()))
    b = sorted(map(tuple, tmod.triples_with_context(deduped,
               DEFAULT_CONFIG).collect()))
    assert a == b and len(a) > 0
