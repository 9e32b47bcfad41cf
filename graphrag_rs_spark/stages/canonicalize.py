"""Stage 4 — entity canonicalization (L1/L2/L5).

Distributed re-expression of the reference's O(n²) greedy in-memory
clustering (string_similarity_linker.rs:68-127):

  1. blocking        — candidate pairs only within (entity_type, block-key)
                       buckets: name tokens, token soundex, and normalized
                       prefixes.  Avoids the quadratic cross-join; any pair
                       sharing no token, no token-soundex, and no prefix is
                       assumed below τ (documented approximation; the
                       synthetic + reference probe pairs all share a token).
  2. pair scoring    — compute_similarity (max of levenshtein / jaro-winkler
                       / jaccard, rs:130-168) in an Arrow-batched pandas
                       UDF, filter then verify: a numpy upper bound over
                       per-name features (`SimilarityBound`) drops every
                       pair that cannot reach τ, and the exact reference
                       score runs only on the rest.  Only edges (sim ≥ τ)
                       leave the stage.
  3. closure         — the similarity edges → small-star/large-star
                       connected components (algos.cc).  CC is the
                       order-independent closure of the reference's greedy
                       seed clustering at the same threshold (SURVEY.md §7).
  4. canonical pick  — max_by(entity_id, struct(confidence, entity_id)) per
                       component (rs:106-117 + deterministic tie-break).
  5. rewrite (L5)    — triples re-pointed through a BROADCAST alias map
                       (the north rule's hot-alias-dictionary broadcast);
                       the pipeline folds the raw rewritten stream (R4)
                       and derives the distinct flat form from it
                       (stages/pipeline.py).

Scale: block sizes are capped (quadratic pair growth inside one block is
the skew risk); oversized blocks are dropped and counted, never silently.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from graphrag_rs_spark.config import PipelineConfig, DEFAULT_CONFIG
from graphrag_rs_spark import reference_logic as rl
from graphrag_rs_spark.algos.cc import connected_components

MAX_BLOCK_SIZE = 1000  # pairs-per-block cap: 1000 → ≤ ~500k pairs per block


def _normalized_name_col() -> F.Column:
    """JVM-side equivalent of reference_logic.normalize_string (ASCII path):
    lowercase, strip non-alphanumeric/space, collapse whitespace."""
    n = F.lower(F.col("name"))
    n = F.regexp_replace(n, r"[^\p{L}\p{N} ]", "")
    n = F.trim(F.regexp_replace(n, r"\s+", " "))
    return n


def _blocked_keys(entities: DataFrame) -> DataFrame:
    """(entity_id, name, entity_type, norm, block_key, _bn) — one row per
    (entity, blocking key), `_bn` = the (entity_type, block_key) block
    size via a window count (one shuffle, reused by the self-join)."""
    base = entities.select(
        "entity_id", "name", "entity_type", "confidence",
        _normalized_name_col().alias("norm"),
    )
    tokens = F.split(F.col("norm"), " ")
    keyed = base.select(
        "entity_id", "name", "entity_type", "norm",
        F.explode(
            F.array_distinct(F.flatten(F.array(
                tokens,                                        # shared token
                F.transform(tokens, lambda t: F.soundex(t)),   # phonetic token
                F.array(F.substring(F.regexp_replace(F.col("norm"), " ", ""),
                                    1, 4)),                    # norm prefix
                F.array(F.substring(F.regexp_replace(F.col("norm"), " ", ""),
                                    2, 4)),                    # off-by-one prefix
            )))
        ).alias("block_key"),
    ).filter(F.length("block_key") > 0)

    from pyspark.sql import Window
    block_n = F.count(F.lit(1)).over(
        Window.partitionBy("entity_type", "block_key"))
    return keyed.withColumn("_bn", block_n)


def shared_blocked_keys(entities: DataFrame) -> DataFrame:
    """A lazily-checkpointed `_blocked_keys` frame for callers that
    consume blocking twice (candidate_pairs + dropped_block_stats in
    run_pipeline): the explode + window-count shuffle materializes once
    on first use instead of once per consumer."""
    return _blocked_keys(entities).localCheckpoint(eager=False)


def dropped_block_stats(entities: DataFrame,
                        keyed: DataFrame | None = None) -> DataFrame:
    """→ one row per OVERSIZED blocking bucket (entity_type, block_key,
    n_entities) that `candidate_pairs` excludes from merging — the
    "counted, never silently" half of the block-size cap.  A hot token
    (e.g. "inc" across every org) exempts all pairs sharing ONLY that key
    from merging; pipelines surface these counts in the checkpoint
    lineage so the exemption is observable run-to-run."""
    return (
        (_blocked_keys(entities) if keyed is None else keyed)
        .filter(F.col("_bn") > MAX_BLOCK_SIZE)
        .groupBy("entity_type", "block_key")
        .agg(F.count(F.lit(1)).alias("n_entities"))
    )


def candidate_pairs(entities: DataFrame,
                    keyed: DataFrame | None = None) -> DataFrame:
    """Blocked candidate (entity_id1 < entity_id2) pairs with names/types."""
    # cap pathological blocks (e.g. token "inc" across every org); the
    # dropped buckets are observable via `dropped_block_stats`
    keyed = (_blocked_keys(entities) if keyed is None else keyed) \
        .filter(F.col("_bn") <= MAX_BLOCK_SIZE).drop("_bn")

    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.entity_type") == F.col("b.entity_type"))
            & (F.col("a.entity_id") < F.col("b.entity_id")),
        )
        .select(
            F.col("a.entity_id").alias("id1"),
            F.col("b.entity_id").alias("id2"),
            F.col("a.name").alias("name1"),
            F.col("b.name").alias("name2"),
            F.col("a.norm").alias("norm1"),
            F.col("b.norm").alias("norm2"),
        )
        .distinct()
    )
    return pairs


# Per-name feature row layout for SimilarityBound: normalized length,
# interned codes of the normalized string / token set / soundex, token
# count, the first 4 code points (-1 past the end), then character counts
# over a-z0-9 and space plus ONE bucket for everything else.  Pooling the
# rest keeps Σ min(count1, count2) an upper bound on matchable characters.
_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "
_SLOT = {c: i for i, c in enumerate(_ALPHABET)}
_LEN, _NORM, _TOKSET, _SOUNDEX, _NTOK, _PREFIX = 0, 1, 2, 3, 4, 5
_COUNTS = _PREFIX + 4
_WIDTH = _COUNTS + len(_ALPHABET) + 1
_BOUND_EPS = 1e-9   # the bound and the exact score sum in different orders


class SimilarityBound:
    """Vectorized upper bound on `rl.compute_similarity(n1, n2,
    use_phonetic=…, max_edit_distance=…)` (same_type pairs) over arrays of
    raw names.  Features are computed once per distinct name and memoized
    across calls, so one instance serves a whole mapInPandas partition.

    With m = Σ min(count1, count2) over the character buckets, an upper
    bound on the characters any alignment can match:
      - jaro ≤ (m/l1 + m/l2 + 1)/3 (0 when m = 0), and Jaro-Winkler is
        monotone in jaro for the actual common prefix p ≤ 4;
      - edit distance d ≥ max(|l1 − l2|, max(l1, l2) − m), and
        levenshtein_similarity is 0 once that exceeds max_edit_distance;
      - Jaccard is 1 on equal token sets, else at most (a−1)/(a+1) for
        equal set sizes a and min/max for unequal ones;
      - the phonetic term is exact (0.9 on equal soundex codes).
    Equal normalized names bound at exactly 1.0 (their score); a pair
    with an empty normalized name bounds at +inf (always scored exactly).
    """

    def __init__(self, use_phonetic: bool = False, max_edit_distance: int = 2):
        self.use_phonetic = use_phonetic
        self.max_edit_distance = max_edit_distance
        self._memo: dict[str, list[int]] = {}
        self._codes: tuple[dict, dict, dict] = ({}, {}, {})

    def _features(self, name: str) -> list[int]:
        norm = rl.normalize_string(name)
        tokens = frozenset(norm.split())
        sx = rl.soundex(norm) if self.use_phonetic else ""
        norms, toksets, soundexes = self._codes
        counts = [0] * (_WIDTH - _COUNTS)
        for c in norm:
            counts[_SLOT.get(c, len(_ALPHABET))] += 1
        prefix = [ord(c) for c in norm[:4]] + [-1] * (4 - len(norm[:4]))
        return [len(norm), norms.setdefault(norm, len(norms)),
                toksets.setdefault(tokens, len(toksets)),
                soundexes.setdefault(sx, len(soundexes)),
                len(tokens), *prefix, *counts]

    def _gather(self, names: np.ndarray) -> np.ndarray:
        """Feature rows for `names`, computing each new name once."""
        codes, uniques = pd.factorize(names)
        memo = self._memo
        for name in uniques:
            if name not in memo:
                memo[name] = self._features(name)
        table = np.array([memo[name] for name in uniques], np.int64)
        return table.reshape(len(uniques), _WIDTH)[codes]

    def upper_bound(self, names1, names2) -> np.ndarray:
        n = len(names1)
        f = self._gather(np.concatenate([np.asarray(names1, object),
                                         np.asarray(names2, object)]))
        a, b = f[:n], f[n:]
        l1, l2 = a[:, _LEN], b[:, _LEN]
        m = np.minimum(a[:, _COUNTS:], b[:, _COUNTS:]).sum(axis=1)
        longest = np.maximum(l1, l2)
        with np.errstate(divide="ignore", invalid="ignore"):
            jaro = np.where(m > 0, (m / l1 + m / l2 + 1.0) / 3.0, 0.0)
            p = np.cumprod((a[:, _PREFIX:_COUNTS] == b[:, _PREFIX:_COUNTS])
                           & (a[:, _PREFIX:_COUNTS] >= 0), axis=1).sum(axis=1)
            bound = jaro + p * 0.1 * (1.0 - jaro)
            d = np.maximum(np.abs(l1 - l2), longest - m)
            bound = np.maximum(bound, np.where(
                d <= self.max_edit_distance, 1.0 - d / longest, 0.0))
            t1, t2 = a[:, _NTOK], b[:, _NTOK]
            jaccard = np.where(
                a[:, _TOKSET] == b[:, _TOKSET], 1.0,
                np.where(t1 == t2, (t1 - 1) / (t1 + 1),
                         np.minimum(t1, t2) / np.maximum(t1, t2)))
        bound = np.maximum(bound, jaccard)
        if self.use_phonetic:
            bound = np.maximum(
                bound, np.where(a[:, _SOUNDEX] == b[:, _SOUNDEX], 0.9, 0.0))
        bound = np.where(a[:, _NORM] == b[:, _NORM], 1.0, bound)
        return np.where((l1 == 0) | (l2 == 0), np.inf, bound)


def score_pairs(pairs: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """→ (id1, id2, sim) for exactly the candidate pairs whose
    compute_similarity reaches `cfg.link_min_similarity`, with the exact
    reference `sim`; pairs below τ are not returned.

    One Arrow-batched pass over the pairs: `SimilarityBound` prunes each
    batch in numpy (name features memoized per partition), and only the
    pairs whose bound reaches τ run the per-pair reference score.
    """
    use_phonetic = cfg.link_use_phonetic
    max_ed = cfg.link_max_edit_distance
    tau = float(cfg.link_min_similarity)

    def sim_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bound = SimilarityBound(use_phonetic, max_ed)   # one memo per partition
        for pdf in batches:
            pdf = pdf[bound.upper_bound(pdf["name1"], pdf["name2"])
                      >= tau - _BOUND_EPS]
            sim = np.array([
                rl.compute_similarity(n1, n2, same_type=True,
                                      use_phonetic=use_phonetic,
                                      max_edit_distance=max_ed)
                for n1, n2 in zip(pdf["name1"], pdf["name2"])
            ], dtype=np.float64)
            out = pdf.assign(sim=sim)[sim >= tau]
            if len(out):
                yield out[["id1", "id2", "sim"]]

    return pairs.select("id1", "id2", "name1", "name2").mapInPandas(
        sim_batches, schema="id1 string, id2 string, sim double")


def canonical_map(
    entities: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    extra_edges: DataFrame | None = None,
    keyed: DataFrame | None = None,
) -> DataFrame:
    """→ (entity_id, canonical_id) for EVERY entity (identity rows included).

    `extra_edges` (src, dst) unions additional merge evidence into the
    closure — e.g. L4 semantic pairs from
    `stages/semantic_links.semantic_merge_pairs`; CC makes the combined
    relation's transitive closure order-independent.  `keyed` optionally
    shares a `shared_blocked_keys` frame with `dropped_block_stats`.
    """
    pairs = candidate_pairs(entities, keyed=keyed)
    edges = score_pairs(pairs, cfg).select(
        F.col("id1").alias("src"), F.col("id2").alias("dst"))
    if extra_edges is not None:
        edges = edges.union(extra_edges.select("src", "dst"))
    return canonical_from_edges(entities, edges, cfg)


def canonical_from_edges(
    entities: DataFrame,
    edges: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Steps 3-4 of canonicalization over caller-supplied merge evidence:
    CC closure of `edges` (src, dst) + per-component canonical pick
    (max confidence, entity_id as the deterministic tie-break,
    string_similarity_linker.rs:106-117).  → (entity_id, canonical_id)
    for EVERY entity, identity rows included.

    Split out of `canonical_map` so alternative pair scorers (pure-SQL
    similarity rules, L4 semantic evidence, precomputed link tables) can
    reuse the exact closure + pick semantics.
    """
    comps = connected_components(
        edges, nodes=entities.select(F.col("entity_id").alias("node")),
        max_iterations=cfg.cc_max_iterations,
    )
    members = comps.join(
        entities.select(F.col("entity_id").alias("node"), "confidence"),
        "node",
    )
    canonicals = members.groupBy("component").agg(
        F.max_by("node", F.struct("confidence", "node")).alias("canonical_id"))
    return (
        comps.join(canonicals, "component")
        .select(F.col("node").alias("entity_id"), "canonical_id")
    )


def _apply_alias(df: DataFrame, alias_map: DataFrame, col: str) -> DataFrame:
    """Left-join `alias_map` (entity_id, canonical_id) onto `df.col`,
    re-pointing matched values in place."""
    return (
        df.join(alias_map.withColumnRenamed("entity_id", col)
                .withColumnRenamed("canonical_id", f"_{col}_canon"),
                col, "left")
        .withColumn(col, F.coalesce(f"_{col}_canon", col))
        .drop(f"_{col}_canon")
    )


def rewrite_triple_mentions(triple_mentions: DataFrame,
                            canonical: DataFrame,
                            cfg: PipelineConfig = DEFAULT_CONFIG,
                            mention_counts: DataFrame | None = None
                            ) -> DataFrame:
    """L5 on the FLAT form: re-point (chunk_id, subj, pred, obj) endpoints
    through the alias map.  Rows that collapse onto the same canonical
    triple are kept: the context fold's `collect_set` ignores them, and
    callers needing the distinct flat form apply `.distinct()`.

    The broadcast is CAPPED (the north rule's "hot alias dictionary"):
    when the non-identity alias map fits in `cfg.alias_broadcast_hot_k`
    rows (probed with a bounded limit-count, same pattern as algos/cc),
    the whole map broadcasts — one hash lookup per endpoint, no shuffle
    of the mention stream.  Above the cap, the top-K aliases by
    `mention_counts` (entity_id, mention_count; identity fallback 0)
    broadcast and the cold tail goes through an UNHINTED join — AQE picks
    sort-merge or broadcast from the tail's runtime size, so a 10⁸-row
    alias map can no longer OOM the driver.  Endpoints live in exactly
    one of hot/cold, so hot-then-cold application equals one-map
    application row-for-row.

    Identity rows may be omitted from `canonical`.  Stays codegen-only —
    no object aggregation here (see triples.triples_with_context).
    """
    aliases = canonical.filter(
        F.col("entity_id") != F.col("canonical_id")) \
        .select("entity_id", "canonical_id")
    hot_k = int(cfg.alias_broadcast_hot_k)
    n_probe = aliases.limit(hot_k + 1).count()
    if n_probe <= hot_k:
        hot, cold = F.broadcast(aliases), None
    else:
        if mention_counts is None:
            mention_counts = (
                triple_mentions
                .select(F.explode(F.array("subj", "obj")).alias("entity_id"))
                .groupBy("entity_id").agg(F.count("*").alias("mention_count"))
            )
        ranked = (
            aliases.join(
                mention_counts.select("entity_id", "mention_count"),
                "entity_id", "left")
            .select("entity_id", "canonical_id",
                    F.coalesce("mention_count", F.lit(0)).alias("_mc"))
        )
        hot_rows = ranked.orderBy(F.col("_mc").desc(), "entity_id") \
            .limit(hot_k).select("entity_id", "canonical_id")
        hot = F.broadcast(hot_rows)
        cold = aliases.join(hot_rows.select("entity_id"),
                            "entity_id", "left_anti")

    out = _apply_alias(_apply_alias(triple_mentions, hot, "subj"),
                       hot, "obj")
    if cold is not None:
        out = _apply_alias(_apply_alias(out, cold, "subj"), cold, "obj")
    return out.select("chunk_id", "subj", "pred", "obj")
