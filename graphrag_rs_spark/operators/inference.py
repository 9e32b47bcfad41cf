"""Implicit relationship inference — reference
graphrag-core/src/inference.rs:83-413 (InferenceEngine).

The reference loops per target entity: collect the chunks containing the
target, score every co-occurring entity per chunk
(`calculate_evidence_score`: base 0.2 + word-proximity bucket +
friendship-pattern bonuses + negative-pattern penalties, ×0.8 when a
family word is present, clamped to [0,1]), sum per co-entity, normalize
by the target's chunk count, threshold at `min_confidence`, sort by
confidence and truncate to `max_candidates`.

Spark-first shape: ALL targets are scored in one job.  The target list
is tiny → broadcast; (target, chunk) pairs are joined back against the
chunk-entity table on chunk_id (co-partitioned equi-join) and against
the chunk text once.  The entire evidence score is ONE whole-stage-
codegen column expression (instr/substr/contains + higher-order array
ops for the proximity scan) — no Python on the hot path, so the scan
cost is O(pairs × text length) JVM-side and the only shuffles are the
chunk_id join and the final (target, other) aggregation.

Divergences (documented): scores are f64 (reference: f32); the
reference's sort is unstable on ties — we determinize with
(confidence desc, other_id asc); confidence is rounded to 6 dp before
the threshold/sort so both engines of the correctness gate agree at
boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# inference.rs:175-200 — order matters (scores accumulate in array order).
FRIENDSHIP_PATTERNS: list[tuple[str, float]] = [
    ("best friend", 0.8), ("close friend", 0.7), ("good friend", 0.6),
    ("friend", 0.4), ("friends", 0.4), ("friendship", 0.5),
    ("played together", 0.6), ("went together", 0.5), ("talked with", 0.4),
    ("helped each other", 0.7), ("shared", 0.3), ("together", 0.3),
    ("trusted", 0.6), ("loyal", 0.5), ("bond", 0.5), ("close", 0.4),
    ("cared for", 0.6), ("looked after", 0.5), ("protected", 0.6),
    ("adventure", 0.4), ("explore", 0.3), ("journey", 0.3),
    ("companion", 0.6), ("partner", 0.5), ("ally", 0.5),
]

# inference.rs:225-243
NEGATIVE_PATTERNS: list[tuple[str, float]] = [
    ("enemy", -0.8), ("enemies", -0.8), ("rival", -0.6), ("rivals", -0.6),
    ("fought", -0.5), ("fight", -0.4), ("battle", -0.4), ("conflict", -0.5),
    ("angry at", -0.6), ("hate", -0.7), ("hated", -0.7), ("despise", -0.6),
    ("betrayed", -0.8), ("betrayal", -0.7), ("argued", -0.3),
    ("quarrel", -0.4), ("against", -0.2), ("opposed", -0.4),
    ("disagree", -0.2),
]

# inference.rs:257
FAMILY_PATTERNS = ["brother", "sister", "cousin", "aunt", "uncle", "family"]


def _near_sql(pat: str) -> str:
    """inference.rs:371-390 entities_near_pattern — both names inside the
    ±100-char window around the FIRST pattern occurrence.  Pure
    instr/substr arithmetic, valid in both Spark SQL and DuckDB."""
    ln = len(pat)
    start = f"greatest(instr(content, '{pat}') - 101, 0)"
    width = (f"least(instr(content, '{pat}') - 1 + {ln} + 100, "
             f"length(content)) - {start}")
    ctx = f"substr(content, {start} + 1, {width})"
    return f"(contains({ctx}, na) and contains({ctx}, nb))"


def chunk_features_sql() -> str:
    """Per-CHUNK pattern features as one array<struct> column over
    `content`: for each of the 44 patterns, found flag, the ±100-char
    context window around its first occurrence, and the weight/near/far
    multipliers.  These depend only on the chunk, so computing them
    once per chunk (instead of once per (chunk, target, other) pair —
    ~10× the rows) removes ~90% of the string scanning; the pair-level
    fold (evidence_fold_sql) only runs contains(ctx, name) checks."""
    entries = []
    for plist, mn, mf in ((FRIENDSHIP_PATTERNS, 0.5, 0.3),
                          (NEGATIVE_PATTERNS, 1.2, 0.8)):
        for p, w in plist:
            ln = len(p)
            start = f"greatest(instr(content, '{p}') - 101, 0)"
            width = (f"least(instr(content, '{p}') - 1 + {ln} + 100, "
                     f"length(content)) - {start}")
            entries.append(
                f"named_struct('f', instr(content, '{p}') > 0, "
                f"'c', substr(content, {start} + 1, {width}), "
                f"'w', {w}e0, 'mn', {mn}e0, 'mf', {mf}e0)")
    return "array(" + ", ".join(entries) + ")"


FAMILY_FACTOR_SQL = (
    "case when "
    + " or ".join(f"instr(content, '{p}') > 0" for p in FAMILY_PATTERNS)
    + " then 0.8e0 else 1.0e0 end")


def evidence_fold_sql() -> str:
    """Spark-side evidence score as ONE `aggregate()` fold over the
    per-chunk `feats` array (chunk_features_sql) with the per-chunk
    `fam` factor.  The written-out 44-pattern CASE chain
    (evidence_score_sql, used by the DuckDB oracle) exceeds janino's
    64KB generated-method limit and drops the projection out of
    whole-stage codegen; folding keeps the lambda body small — one
    pattern's term.  The fold is seeded with `0.2e0 + prox` so the
    float-addition association is exactly the reference's sequential
    `score += term` order (inference.rs:163-255), bit-matching the
    oracle's unrolled chain."""
    term = ("case when q.f then q.w * "
            "(case when contains(q.c, na) and contains(q.c, nb) "
            "then q.mn else q.mf end) else 0.0e0 end")
    return (f"least(greatest("
            f"aggregate(feats, 0.2e0 + prox, "
            f"(acc, q) -> acc + ({term})) * fam, 0.0e0), 1.0e0)")


def evidence_score_sql() -> str:
    """The per-(chunk, target, other) evidence score as one SQL
    expression over columns `content` (lowercased chunk text), `na`,
    `nb` (lowercased entity names) and `prox` (proximity bucket,
    precomputed because the position-list primitives differ between
    Spark and DuckDB).  Used by the DuckDB correctness oracle; the
    Spark side folds the same terms in the same order
    (evidence_fold_sql) to stay inside codegen limits.
    Float literals use e0-notation to force DOUBLE in both engines
    (plain decimals would make DuckDB do exact DECIMAL arithmetic and
    diverge from Spark's f64)."""
    terms = ["0.2e0", "prox"]
    for pat, w in FRIENDSHIP_PATTERNS:
        terms.append(
            f"(case when instr(content, '{pat}') > 0 then {w}e0 * "
            f"(case when {_near_sql(pat)} then 0.5e0 else 0.3e0 end) "
            f"else 0.0e0 end)")
    for pat, w in NEGATIVE_PATTERNS:
        terms.append(
            f"(case when instr(content, '{pat}') > 0 then {w}e0 * "
            f"(case when {_near_sql(pat)} then 1.2e0 else 0.8e0 end) "
            f"else 0.0e0 end)")
    fam = " or ".join(f"instr(content, '{p}') > 0" for p in FAMILY_PATTERNS)
    base = " + ".join(terms)
    return (f"least(greatest(({base}) * "
            f"(case when {fam} then 0.8e0 else 1.0e0 end), 0.0e0), 1.0e0)")


# inference.rs:348-355 — min word distance → proximity bucket.
PROX_BUCKET_SQL = ("case when mind <= 2 then 0.4e0 "
                   "when mind <= 5 then 0.3e0 "
                   "when mind <= 10 then 0.2e0 "
                   "when mind <= 20 then 0.1e0 else 0.05e0 end")


def entity_name_sql(id_col: str) -> str:
    """inference.rs:285-295 extract_entity_name — text after the first
    '_', underscores to spaces, lowercased (whole id lowered when no
    '_').  Engine-neutral."""
    return (f"(case when instr({id_col}, '_') > 0 then "
            f"lower(replace(substr({id_col}, instr({id_col}, '_') + 1), "
            f"'_', ' ')) else lower({id_col}) end)")


def infer_relationships(
    chunks: DataFrame,
    chunk_entities: DataFrame,
    targets: list[str],
    relation_type: str = "FRIENDS",
    min_confidence: float = 0.3,
    max_candidates: int = 10,
) -> DataFrame:
    """→ (target_id, other_id, relation_type, confidence,
    evidence_count) — inference.rs:83-136 for every target at once.

    `chunks`: (chunk_id, content); `chunk_entities`: (chunk_id,
    entity_id) — one row per entity per chunk.  `targets` is a small
    in-memory id list (the reference's per-query target), broadcast
    against the entity table; the corpus-sized sides only meet in
    chunk_id equi-joins.  The reference's `co_occurrence_threshold`
    config field is never read by infer_relationships (inference.rs:44)
    and is omitted here.
    """
    spark = chunks.sparkSession
    tdf = spark.createDataFrame([(t,) for t in targets], "target_id string")

    # distinct: the reference's chunk.entities is a Vec (core/mod.rs:219),
    # but entity/mod.rs extract_from_chunk fills it after its per-chunk
    # deduplicate_entities call (keyed (name, type)), so it holds each
    # entity once — duplicate (chunk_id, entity_id) rows would inflate
    # both the evidence sums and the n_chunks denominator
    ce = chunk_entities.select("chunk_id", "entity_id").distinct()
    # chunks containing a target: tiny (|targets| × their chunk count)
    tc = ce.join(F.broadcast(tdf),
                 ce.entity_id == tdf.target_id).select("target_id",
                                                       "chunk_id")
    # evidence_count = the target's TOTAL chunk count (inference.rs:126),
    # independent of the co-entity.
    nt = tc.groupBy("target_id").agg(F.count("*").alias("n_chunks"))

    pairs = tc.join(ce, "chunk_id") \
        .filter(F.col("entity_id") != F.col("target_id")) \
        .withColumnRenamed("entity_id", "other_id")

    # per-chunk precompute: lowered text, pattern feature array, family
    # factor — computed once per chunk, reused by every pair on it
    chunk_feats = (chunks
                   .select("chunk_id",
                           F.lower("content").alias("content"))
                   .withColumn("feats", F.expr(chunk_features_sql()))
                   .withColumn("fam", F.expr(FAMILY_FACTOR_SQL)))
    scored = (
        pairs.join(chunk_feats, "chunk_id")
        .withColumn("na", F.expr(entity_name_sql("target_id")))
        .withColumn("nb", F.expr(entity_name_sql("other_id")))
        # proximity (inference.rs:316-356): word positions whose word
        # CONTAINS the name, min |i-j| over the cross product.  Names
        # with spaces never match a single token — reference quirk kept.
        .withColumn("ws", F.expr(
            "filter(split(content, '\\\\s+'), x -> x <> '')"))
        .withColumn("pa", F.expr(
            "filter(transform(ws, (w, i) -> "
            "if(contains(w, na), i, -1)), p -> p >= 0)"))
        .withColumn("pb", F.expr(
            "filter(transform(ws, (w, i) -> "
            "if(contains(w, nb), i, -1)), p -> p >= 0)"))
        .withColumn("mind", F.expr(
            "array_min(flatten(transform(pa, x -> "
            "transform(pb, y -> abs(x - y)))))"))
        .withColumn("prox", F.expr(
            f"case when size(pa) = 0 or size(pb) = 0 then 0.0e0 "
            f"else {PROX_BUCKET_SQL} end"))
        .withColumn("score", F.expr(evidence_fold_sql()))
    )

    out = (
        scored.groupBy("target_id", "other_id")
        .agg(F.sum("score").alias("s"))
        .join(F.broadcast(nt), "target_id")
        .withColumn("confidence", F.round(
            F.least(F.col("s") / F.col("n_chunks"), F.lit(1.0)), 6))
        .filter(F.col("confidence") >= min_confidence)
        .withColumn("rn", F.expr(
            "row_number() over (partition by target_id "
            "order by confidence desc, other_id asc)"))
        .filter(F.col("rn") <= max_candidates)
        .select("target_id", "other_id",
                F.lit(relation_type).alias("relation_type"),
                "confidence",
                F.col("n_chunks").cast("bigint").alias("evidence_count"))
    )
    return out
