"""Stage 2 — pattern entity/mention extraction (E1-E7) as one Arrow UDF.

One mapInPandas pass over chunks emits one row per chunk with its
entities (mention lists nested) as an array; `chunk_entities_from_bundles`
explodes it to one row per (chunk, entity), from which `entities_table` /
`mentions_table` derive the normalized tables with plain aggregations:

  per-chunk dedup (E4)  — already done inside the extractor
  per-graph dedup (E5)  — groupBy(entity_id).agg(max(confidence), ...)
  mentions (E2)         — explode(mentions)

Extraction cost is proportional to chunk text size, and chunks are
near-uniform (chunk_size bound), so a round-robin repartition before the
UDF flattens any conversation-length skew left over from assembly —
this is the "salted partitions" treatment of the north rule: the unit of
parallelism is the chunk, never the conversation.

Reference: entity/mod.rs:97-187 (extract_from_chunk) per chunk, driven by
lib.rs:514-523; confidence rules entity/mod.rs:731-769.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from graphrag_rs_spark.config import PipelineConfig, DEFAULT_CONFIG
from graphrag_rs_spark import reference_logic as rl
from graphrag_rs_spark.stages.triples import context_flag_columns


def extract_chunk_entities(
    chunks: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    num_partitions: int | None = None,
) -> DataFrame:
    """chunks → one row per (chunk_id, entity), deterministic order fields:
    the bundle extraction, exploded.

    `first_offset` (min mention start) carries the deterministic pair
    ordering downstream (SURVEY.md §7 risk 3).
    """
    return chunk_entities_from_bundles(
        extract_chunk_bundles(chunks, cfg, num_partitions))


ENTITY_STRUCT = (
    "entity_id: string, name: string, entity_type: string, "
    "confidence: double, mention_starts: array<long>, "
    "mention_ends: array<long>, first_offset: long"
)


def extract_chunk_bundles(
    chunks: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    num_partitions: int | None = None,
) -> DataFrame:
    """chunks → ONE row per chunk: (chunk_id, doc_id, ents: array<struct>,
    kw_* predicate context flags).

    The per-chunk array keeps extract_from_chunk's deterministic
    (first_offset, entity_id) order, which makes downstream pair
    emission a map-side array expansion instead of a self-join — the
    bundle form exists so the triple stage needs NO shuffle at all
    (triples.emit_triple_mentions_from_bundles).  The 13 boolean flags
    of `triples.context_flag_columns()` are always present: computed
    JVM-side from the chunk row, they ride through the Arrow batch
    untouched, avoiding a join to get them back beside the pairs.

    E6 allow/exclude filters apply to the ARRAY here (order-preserving
    F.filter), so every consumer — entity/mention tables and pairs —
    sees the same filtered view.
    """
    entity_types = tuple(cfg.entity_types)
    min_confidence = cfg.min_confidence
    flag_cols = context_flag_columns()
    flags = list(flag_cols)     # names only: the UDF closure is pickled
    schema = (f"chunk_id string, doc_id string, "
              f"ents array<struct<{ENTITY_STRUCT}>>, "
              + ", ".join(f"{n} boolean" for n in flags))
    src = chunks.select("chunk_id", "doc_id", "content",
                        *[c.alias(n) for n, c in flag_cols.items()])
    if num_partitions:
        src = src.repartition(num_partitions)

    def bundle_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ents_col = [
                [
                    {
                        "entity_id": e.entity_id,
                        "name": e.name,
                        "entity_type": e.entity_type,
                        "confidence": e.confidence,
                        "mention_starts": [m.start for m in e.mentions],
                        "mention_ends": [m.end for m in e.mentions],
                        "first_offset": min(
                            (m.start for m in e.mentions), default=1 << 60),
                    }
                    for e in rl.extract_from_chunk(content, entity_types,
                                                   min_confidence)
                ]
                for content in pdf["content"]
            ]
            out = pdf[["chunk_id", "doc_id", *flags]].copy()
            out["ents"] = ents_col
            yield out[["chunk_id", "doc_id", "ents", *flags]]

    out = src.mapInPandas(bundle_batches, schema=schema)
    # E6 allow/exclude name filters on the array (JVM, order-preserving)
    ents = F.col("ents")
    if cfg.include_name_pattern:
        ents = F.filter(ents,
                        lambda e: e["name"].rlike(cfg.include_name_pattern))
    for pat in cfg.exclude_name_patterns:
        ents = F.filter(ents, lambda e: ~e["name"].rlike(pat))
    if cfg.include_name_pattern or cfg.exclude_name_patterns:
        out = out.withColumn("ents", ents)
    return out


def chunk_entities_from_bundles(bundles: DataFrame) -> DataFrame:
    """Bundle rows → the exploded chunk_entities table, one row per
    (chunk, entity) — a pure map-side explode, no shuffle."""
    e = bundles.select("chunk_id", "doc_id", F.explode("ents").alias("e"))
    return e.select(
        "chunk_id", "doc_id", "e.entity_id", "e.name", "e.entity_type",
        "e.confidence", "e.mention_starts", "e.mention_ends",
        "e.first_offset")


def entities_table(chunk_entities: DataFrame) -> DataFrame:
    """Graph-level entity dedup (E5, graph/mod.rs:243-265): merge by
    entity_id, keep max confidence, count mentions."""
    return (
        chunk_entities
        .groupBy("entity_id")
        .agg(
            F.max_by("name", F.struct("confidence", "name")).alias("name"),
            F.first("entity_type").alias("entity_type"),
            F.max("confidence").alias("confidence"),
            F.sum(F.size("mention_starts")).alias("mention_count"),
        )
    )


def mentions_table(chunk_entities: DataFrame) -> DataFrame:
    """Normalized mentions (E2): entity_id, chunk_id, offsets, confidence."""
    m = chunk_entities.select(
        "entity_id", "chunk_id", "confidence",
        F.explode(F.arrays_zip(
            F.col("mention_starts").alias("start"),
            F.col("mention_ends").alias("end"),
        )).alias("m"))
    return m.select(
        "entity_id", "chunk_id",
        F.col("m.start").alias("start_offset"),
        F.col("m.end").alias("end_offset"),
        "confidence",
    )
