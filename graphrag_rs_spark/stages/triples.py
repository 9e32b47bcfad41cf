"""Stage 3 — (subj, pred, obj) triple emission (R1-R5).

Pure DataFrame work, no Python in the hot path:

  R1 co-occurrence pairs — map-side expansion of each chunk's entity
     array (extraction.extract_chunk_bundles) into position pairs i<j; the
     array is in (first_offset, entity_id) order.  The reference pairs i<j
     in extraction order (entity/mod.rs:830-843), which is
     Rust-HashMap-nondeterministic — we pin the order (SURVEY.md §7).
  R2 predicate typing   — the rule table (entity/mod.rs:851-889) compiled
     to a when()-chain over per-chunk contains() flags that ride in the
     bundle row, so the full chunk text never reaches the pair stage.
  R3 confidence/context — literals (lib.rs:561-568).
  R4 dedup              — groupBy(subj, pred, obj) + collect_set(context).
  R5 endpoint validation— both endpoints come from the chunk's own
     entity array, so every pair endpoint exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphrag_rs_spark.config import PipelineConfig, DEFAULT_CONFIG

# keyword → flag column; see infer_relationship_type (entity/mod.rs:851-889)
_CONTEXT_KEYWORDS = {
    "kw_works_for": "works for",
    "kw_employed_by": "employed by",
    "kw_founded": "founded",
    "kw_ceo": "CEO",
    "kw_born_in": "born in",
    "kw_from": "from",
    "kw_lives_in": "lives in",
    "kw_based_in": "based in",
    "kw_headquartered": "headquartered",
    "kw_married": "married",
    "kw_spouse": "spouse",
    "kw_colleague": "colleague",
    "kw_partner": "partner",
}


def context_flag_columns() -> dict[str, F.Column]:
    """Per-chunk boolean flags for the predicate rule table (JVM contains)
    as named Column expressions over a `content` column — every bundle
    row carries them (`extraction.extract_chunk_bundles`), so the pair
    stage never joins the chunk text back."""
    return {name: F.col("content").contains(kw)
            for name, kw in _CONTEXT_KEYWORDS.items()}


def _pred_expr() -> F.Column:
    """infer_relationship_type as a when()-chain over (t1, t2, kw_* flags)."""
    t1, t2 = F.col("t1"), F.col("t2")
    c = lambda n: F.col(n)  # noqa: E731

    person_org = ((t1 == "PERSON") & (t2 == "ORGANIZATION")) | \
                 ((t1 == "ORGANIZATION") & (t2 == "PERSON"))
    person_loc = ((t1 == "PERSON") & (t2 == "LOCATION")) | \
                 ((t1 == "LOCATION") & (t2 == "PERSON"))
    org_loc = ((t1 == "ORGANIZATION") & (t2 == "LOCATION")) | \
              ((t1 == "LOCATION") & (t2 == "ORGANIZATION"))
    person_person = (t1 == "PERSON") & (t2 == "PERSON")

    return (
        F.when(person_org,
               F.when(c("kw_works_for") | c("kw_employed_by"), "WORKS_FOR")
                .when(c("kw_founded") | c("kw_ceo"), "LEADS")
                .otherwise("ASSOCIATED_WITH"))
        .when(person_loc,
              F.when(c("kw_born_in") | c("kw_from"), "BORN_IN")
               .when(c("kw_lives_in") | c("kw_based_in"), "LOCATED_IN")
               .otherwise("ASSOCIATED_WITH"))
        .when(org_loc,
              F.when(c("kw_headquartered") | c("kw_based_in"),
                     "HEADQUARTERED_IN")
               .otherwise("LOCATED_IN"))
        .when(person_person,
              F.when(c("kw_married") | c("kw_spouse"), "MARRIED_TO")
               .when(c("kw_colleague") | c("kw_partner"), "COLLEAGUE_OF")
               .otherwise("KNOWS"))
        .otherwise("RELATED_TO")
    )


def emit_triple_mentions_from_bundles(bundles: DataFrame) -> DataFrame:
    """→ FLAT (chunk_id, subj, pred, obj): one row per co-occurrence, from
    per-chunk entity-array bundles (extraction.extract_chunk_bundles),
    with zero shuffles.

    The flat form stays in whole-stage codegen end-to-end (generators +
    column expressions, no object aggregation); context arrays are
    folded ONCE at materialization (`triples_with_context`) — collect_set
    per triple is the single most expensive aggregate in the pipeline,
    so it must not run once before and once after canonicalization.

    The bundle array is already in the deterministic (first_offset,
    entity_id) order, so ordered pairs are just position pairs i<j —
    expanded map-side as two chained posexplode generators over a
    SLIMMED (id, type, offset) copy of the array (higher-order lambdas
    are interpreted in Spark and would drag the full structs incl.
    mention arrays through O(k²) copies — measured 31s vs 1.3s for this
    codegen form at 33M pairs/253k chunks), then filtered to STRICT key
    ordering (pairs with identical (first_offset, entity_id) are
    dropped).  Per-chunk pair emission is checked against the oracle's
    context chunks in tests/test_spark_pipeline.py.
    """
    # pair only entities with ≥1 verbatim mention in the chunk — the
    # reference filters its pair loop to entities mentioned in the
    # chunk (lib.rs:545-556), so reconstructed names that never occur
    # verbatim (zero mentions) are extracted but never paired
    slim = F.expr(
        "transform(filter(ents, e -> size(e.mention_starts) > 0), "
        "e -> struct(e.entity_id as id, "
        "e.entity_type as t, e.first_offset as o))")
    flags = list(_CONTEXT_KEYWORDS)
    d = bundles.where(F.size("ents") >= 2) \
        .select("chunk_id", *flags, slim.alias("slim")) \
        .where(F.size("slim") >= 2)
    p1 = d.select("chunk_id", *flags, "slim",
                  F.posexplode("slim").alias("i", "a"))
    p2 = (
        p1.select("chunk_id", *flags, "i", "a",
                  F.posexplode("slim").alias("j", "b"))
        .where(F.col("i") < F.col("j"))
        .where(
            (F.col("a.o") < F.col("b.o"))
            | ((F.col("a.o") == F.col("b.o"))
               & (F.col("a.id") < F.col("b.id")))
        )
        .select("chunk_id",
                F.col("a.id").alias("subj"),
                F.col("a.t").alias("t1"),
                F.col("b.id").alias("obj"),
                F.col("b.t").alias("t2"),
                *flags)
    )
    return p2.select("chunk_id", "subj", _pred_expr().alias("pred"), "obj")


def triples_with_context(
    triple_mentions: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Fold the flat form → (subj, pred, obj, confidence, n_context,
    context_keys: array<bigint>).

    R4 dedup + R3 confidence; runs once per materialized triple table.
    Two load-bearing choices measured at 16.7M mentions / 1.4M triples:

    1. Repartition on the group key FIRST.  Otherwise every map task's
       partial ObjectHashAggregate accumulates sets for up to the full
       group cardinality — aggregate memory ∝ groups × concurrent tasks,
       and 32-thread runs GC-collapse (3× slower than 8-thread).
    2. Context entries are 64-bit chunk KEYS (xxhash64 of chunk_id), not
       the id strings.  String sets allocated ~20× more garbage; the
       long-key agg runs in ~4s steady-state vs 20-120s (GC-bound) for
       strings.  `decode_context` restores string ids by joining the
       chunks table — the normalized/dictionary-encoded layout every
       columnar store uses.  chunk_key collisions: ~n²/2⁶⁴, negligible
       below ~10¹⁰ chunks per graph.
    """
    folded = (
        triple_mentions
        .select("subj", "pred", "obj",
                F.xxhash64("chunk_id").alias("chunk_key"))
        .repartition(cfg.shuffle_partitions, "subj", "pred", "obj")
        .groupBy("subj", "pred", "obj")
        .agg(F.sort_array(F.collect_set("chunk_key")).alias("context_keys"))
    )
    return folded.select(
        "subj", "pred", "obj",
        F.lit(float(cfg.relationship_confidence)).alias("confidence"),
        F.size("context_keys").alias("n_context"),
        "context_keys",
    )


def decode_context(triples: DataFrame, chunks: DataFrame) -> DataFrame:
    """Replace context_keys with context_chunks: array<string> (sorted) —
    the reference's Vec<ChunkId> export shape (core/mod.rs:557-733).

    Explode + join against the chunks dictionary; intended for exports
    and tests, not the hot path.
    """
    dictionary = chunks.select(
        F.xxhash64("chunk_id").alias("chunk_key"), "chunk_id").distinct()
    exploded = triples.select(
        "subj", "pred", "obj", "confidence",
        F.explode("context_keys").alias("chunk_key"))
    return (
        exploded.join(dictionary, "chunk_key")
        .groupBy("subj", "pred", "obj")
        .agg(
            F.first("confidence").alias("confidence"),
            F.sort_array(F.collect_set("chunk_id")).alias("context_chunks"),
        )
    )
