"""Checkpoint / resume (I1-I3): kill-after-stage-k → rerun → identical
outputs; lineage table carries per-partition rows + checksums."""

import os
from dataclasses import fields

import pytest
from pyspark.sql import functions as F

from graphrag_rs_spark.config import DEFAULT_CONFIG
from graphrag_rs_spark.stages.checkpoint import CheckpointManager
from graphrag_rs_spark.stages.pipeline import (
    PipelineResult, run_pipeline, run_pipeline_checkpointed)


def _triples(res):
    return {(r["subj"], r["pred"], r["obj"])
            for r in res.canonical_triples.collect()}


def _table_sums(res):
    """(rows, bit_xor of row hashes) of each of the 13 result tables."""
    out = {}
    for f in fields(PipelineResult):
        df = getattr(res, f.name)
        h = F.expr("bit_xor(xxhash64("
                   + ", ".join(f"`{c}`" for c in df.columns) + "))")
        r = df.agg(F.count(F.lit(1)), F.coalesce(h, F.lit(0))).collect()[0]
        out[f.name] = (r[0], r[1])
    return out


def test_checkpointed_run_and_resume(spark, tiny_transcripts, tiny_oracle, tmp_path):
    wd = str(tmp_path / "wd")
    res1 = run_pipeline_checkpointed(
        spark, tiny_transcripts, workdir=wd, run_id="r1")
    t1 = _triples(res1)
    assert t1 == tiny_oracle.triple_set(canonical=True)

    # all stages committed, per-partition lineage present
    ck = spark.read.parquet(os.path.join(wd, "_checkpoints"))
    stages = {r["stage"] for r in ck.filter(
        (F.col("partition_id") == -1) & (F.col("status") == "committed")
    ).collect()}
    assert {"documents", "chunks", "chunk_entities", "entities", "mentions",
            "triples", "canonical_map", "canonical_triples",
            "canonical_entities", "communities"} <= stages
    per_part = ck.filter(F.col("partition_id") >= 0)
    assert per_part.count() > 0
    # summary rows equal the sum of their partition rows
    sums = (per_part.groupBy("stage").agg(F.sum("rows").alias("s"))
            .join(ck.filter(F.col("partition_id") == -1)
                  .select("stage", F.col("rows").alias("total")), "stage"))
    assert sums.filter(F.col("s") != F.col("total")).count() == 0

    # both runners execute the one stage list: identical tables
    assert _table_sums(res1) == _table_sums(
        run_pipeline(spark, tiny_transcripts))


def test_resume_after_partial_failure(spark, tiny_transcripts, tiny_oracle, tmp_path):
    """Simulate a kill: run only the first 3 stages, then resume the full
    pipeline — completed stages are loaded, not recomputed, and the final
    triples match the oracle."""
    wd = str(tmp_path / "wd2")
    from graphrag_rs_spark.stages import chunking, extraction

    ck = CheckpointManager(spark, wd, "r1")
    documents = ck.run_stage(
        "documents", lambda: chunking.assemble_documents(tiny_transcripts))
    chunks = ck.run_stage(
        "chunks", lambda: chunking.chunk_documents(documents, DEFAULT_CONFIG, 8))
    ck.run_stage(
        "chunk_entities",
        lambda: extraction.extract_chunk_entities(chunks, DEFAULT_CONFIG))
    # "killed" here — now a fresh driver resumes the whole pipeline
    sentinel = os.path.getmtime(os.path.join(wd, "chunks"))
    res = run_pipeline_checkpointed(
        spark, tiny_transcripts, workdir=wd, run_id="r1", resume=True)
    assert _triples(res) == tiny_oracle.triple_set(canonical=True)
    # completed stage was not rewritten
    assert os.path.getmtime(os.path.join(wd, "chunks")) == sentinel


def test_no_resume_recomputes(spark, tiny_transcripts, tmp_path):
    wd = str(tmp_path / "wd3")
    res1 = run_pipeline_checkpointed(
        spark, tiny_transcripts, workdir=wd, run_id="r1")
    t1 = _triples(res1)
    res2 = run_pipeline_checkpointed(
        spark, tiny_transcripts, workdir=wd, run_id="r2", resume=False)
    assert _triples(res2) == t1


def test_stale_run_does_not_adopt_other_runs_overwrite(spark, tmp_path):
    """ADVICE r3: run A commits a stage; run B overwrites the shared
    stage dir.  Resuming run A must NOT pass completed() and silently
    load B's data — the latest event for the stage belongs to B."""
    from graphrag_rs_spark.stages.checkpoint import CheckpointManager
    wd = str(tmp_path / "wd")
    a = CheckpointManager(spark, wd, "runA")
    a.run_stage("s", lambda: spark.range(5).toDF("v"))
    assert a.completed("s")
    b = CheckpointManager(spark, wd, "runB")
    assert not b.completed("s")          # B never adopts A's output
    b.run_stage("s", lambda: spark.range(9).toDF("v"))
    assert b.completed("s")
    # the reverse direction (the ADVICE finding): A's marker is stale
    assert not a.completed("s")
    out = a.run_stage("s", lambda: spark.range(5).toDF("v"))
    assert out.count() == 5              # A recomputed its own data
    assert a.completed("s") and not b.completed("s")


def test_crashed_foreign_overwrite_invalidates(spark, tmp_path):
    """A foreign run that died AFTER starting its overwrite but BEFORE
    committing still invalidates the stale committed marker (the -2
    intent row is the latest event)."""
    from graphrag_rs_spark.stages.checkpoint import CheckpointManager
    import time
    wd = str(tmp_path / "wd")
    a = CheckpointManager(spark, wd, "runA")
    a.run_stage("s", lambda: spark.range(5).toDF("v"))
    b = CheckpointManager(spark, wd, "runB")
    b._append([("runB", "s", -2, 0, 0, "writing", time.time())])
    assert not a.completed("s")


def test_seq_orders_events_without_wall_clock(spark, tmp_path):
    """ADVICE r4: resume eligibility is decided by the monotonic per-
    append seq, not wall-clock ts — equal or even INVERTED timestamps
    (clock skew between drivers) must not change the outcome."""
    from graphrag_rs_spark.stages.checkpoint import CheckpointManager
    wd = str(tmp_path / "wd")
    a = CheckpointManager(spark, wd, "runA")
    a.run_stage("s", lambda: spark.range(5).toDF("v"))
    ck = spark.read.parquet(os.path.join(wd, "_checkpoints"))
    seqs = [r["seq"] for r in ck.orderBy("seq").collect()]
    # one intent append then one commit append: strictly increasing
    assert seqs == sorted(seqs) and len(set(seqs)) == 2
    # foreign intent with a SKEWED (older) clock still invalidates:
    # seq, not ts, decides
    b = CheckpointManager(spark, wd, "runB")
    b._append([("runB", "s", -2, 0, 0, "writing", 1.0)])  # ts in 1970
    assert not a.completed("s")
    # A recommits (any ts) → A eligible again, B never was
    a.run_stage("s", lambda: spark.range(5).toDF("v"), resume=False)
    assert a.completed("s") and not b.completed("s")
