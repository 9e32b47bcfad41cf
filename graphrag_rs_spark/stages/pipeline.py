"""The end-to-end indexing pipeline (reference lib.rs:382-591 flow).

    transcripts → documents → chunks → chunk_bundles → chunk_entities
               → entities/mentions → triple_mentions → triples
               → canonical_map (+ its dropped blocking buckets)
               → canonical triple mentions/triples → canonical_entities
               → communities

The flow is declared ONCE, as `STAGES`: the 14 named stages in execution
order.  Each stage's thunk builds its output from a `_Run` (the inputs
plus every earlier stage's output) and calls its stage function through
the module attribute at call time, so a wrapper installed on the module
sees every call.  Two runners execute the same list:

  run_pipeline              — in memory; each output gets its stage's
                              fixed policy:
                                LAZY       the DataFrame as built;
                                           consumers recompute its plan
                                PERSIST    .persist(): cached on first
                                           action, for outputs read by
                                           several consumers
                                CHECKPOINT .localCheckpoint(eager=True):
                                           computed now, lineage cut
  run_pipeline_checkpointed — every output materialized to parquet with
                              per-partition lineage
                              (CheckpointManager.run_stage) and re-read;
                              resumable (I1-I3).  Policies do not apply.

Two intermediates are shared by two stages each and are not stages
themselves: the blocking keys (dropped blocks + canonical map) and the
alias-rewritten triple stream (canonical triple mentions + canonical
triples).  Each is built on first use inside a thunk, so a fully resumed
checkpointed run builds neither — the rewrite's alias-cap probe is a
Spark job.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, fields
from functools import cached_property, partial

from pyspark.sql import DataFrame, SparkSession

from graphrag_rs_spark.config import PipelineConfig, DEFAULT_CONFIG
from graphrag_rs_spark.stages import chunking, extraction, triples as triples_mod
from graphrag_rs_spark.stages import canonicalize, materialize
from graphrag_rs_spark.stages.checkpoint import CheckpointManager


@dataclass
class PipelineResult:
    documents: DataFrame
    chunks: DataFrame
    chunk_entities: DataFrame
    entities: DataFrame
    mentions: DataFrame
    triple_mentions: DataFrame          # flat (chunk_id, subj, pred, obj)
    triples: DataFrame                  # + confidence, context_chunks
    canonical_map: DataFrame
    canonical_triple_mentions: DataFrame
    canonical_triples: DataFrame
    canonical_entities: DataFrame
    communities: DataFrame
    # oversized blocking buckets excluded from canonicalization — lazy in
    # run_pipeline (consume to count), materialized + lineage-counted as
    # its own stage in run_pipeline_checkpointed
    dropped_blocks: DataFrame | None = None


class _Run:
    """One pipeline call: its inputs, each finished stage's output as an
    attribute named after the stage, and the shared intermediates."""

    def __init__(self, transcripts: DataFrame, cfg: PipelineConfig,
                 num_partitions: int):
        self.transcripts = transcripts
        self.cfg = cfg
        self.n = num_partitions

    @cached_property
    def blocked_keys(self) -> DataFrame:
        # one blocking pass for dropped_block_stats and canonical_map
        # (lazy checkpoint: materializes on first use, both reuse it)
        return canonicalize.shared_blocked_keys(self.entities)

    @cached_property
    def rewritten(self) -> DataFrame:
        # The 10⁷-row raw stream is never materialized: recomputing it
        # from the persisted bundles (map-side expansion + broadcast
        # join, ~8s at 2.16M turns) is far cheaper than serializing it
        # (51.6s localCheckpoint at the same size).  One call feeds both
        # canonical stages: its alias-cap probe is a Spark job.
        return canonicalize.rewrite_triple_mentions(
            self.triple_mentions, self.canonical_map, self.cfg,
            mention_counts=self.entities)


LAZY, PERSIST, CHECKPOINT = "lazy", "persist", "checkpoint"

_APPLY_POLICY = {
    LAZY: lambda df: df,
    PERSIST: lambda df: df.persist(),
    CHECKPOINT: lambda df: df.localCheckpoint(eager=True),
}


@dataclass(frozen=True)
class Stage:
    name: str
    policy: str                             # in-memory runner only
    build: Callable[[_Run], DataFrame]


STAGES = (
    Stage("documents", LAZY,
          lambda r: chunking.assemble_documents(r.transcripts)),
    # chunks feed two consumers (bundle extraction, stats)
    Stage("chunks", PERSIST,
          lambda r: chunking.chunk_documents(r.documents, r.cfg, r.n)),
    # ONE extraction pass emits per-chunk entity ARRAYS with the
    # predicate context flags riding through the Arrow batch, so pair
    # emission is a map-side array expansion (no self-join, no flags
    # join — zero shuffles in the triple stage)
    Stage("chunk_bundles", PERSIST,
          lambda r: extraction.extract_chunk_bundles(
              r.chunks, r.cfg, r.n)),
    Stage("chunk_entities", LAZY,
          lambda r: extraction.chunk_entities_from_bundles(r.chunk_bundles)),
    Stage("entities", PERSIST,
          lambda r: extraction.entities_table(r.chunk_entities)),
    Stage("mentions", LAZY,
          lambda r: extraction.mentions_table(r.chunk_entities)),
    # flat (chunk_id, subj, pred, obj), NOT persisted: caching 10⁷+ wide
    # rows costs more than its downstream recomputes from the persisted
    # bundles combined (measured)
    Stage("triple_mentions", LAZY,
          lambda r: triples_mod.emit_triple_mentions_from_bundles(
              r.chunk_bundles)),
    Stage("triples", LAZY,
          lambda r: triples_mod.triples_with_context(
              r.triple_mentions, r.cfg)),
    # "counted, never silently": oversized blocking buckets excluded
    # from merging, beside the map itself
    Stage("canonical_map_dropped_blocks", LAZY,
          lambda r: canonicalize.dropped_block_stats(
              r.entities, keyed=r.blocked_keys)),
    Stage("canonical_map", PERSIST,
          lambda r: canonicalize.canonical_map(
              r.entities, r.cfg, keyed=r.blocked_keys)),
    # the flat form's contract is distinct rows.  Repartition on (a
    # subset of) the dedup key BEFORE distinct: without it every map
    # task's partial aggregate holds a hash map over the full row
    # stream, and aggregate memory ∝ rows × concurrent tasks — measured
    # 72s at 16 threads vs 15s at 4 on 16.7M rows (GC collapse).
    # Co-partitioned, each task holds only its own groups.
    Stage("canonical_triple_mentions", LAZY,
          lambda r: r.rewritten
          .repartition(r.cfg.shuffle_partitions, "subj", "obj")
          .distinct()),
    # fold the RAW rewrite: collect_set subsumes the distinct, so this
    # is ONE shuffle of the flat stream, not two.  The fold — distinct
    # (subj, pred, obj), orders of magnitude smaller than the stream — is
    # the materialized artifact every downstream consumer reads.
    Stage("canonical_triples", CHECKPOINT,
          lambda r: triples_mod.triples_with_context(r.rewritten, r.cfg)),
    Stage("canonical_entities", LAZY,
          lambda r: materialize.canonical_entities(
              r.entities, r.canonical_map)),
    # CC over the folded edge set: identical components (edge
    # multiplicity is irrelevant to connectivity), tiny input instead of
    # the flat stream
    Stage("communities", LAZY,
          lambda r: materialize.communities(
              r.canonical_entities, r.canonical_triples,
              max_iterations=r.cfg.cc_max_iterations)),
)


def _result(r: _Run) -> PipelineResult:
    """Every stage output but chunk_bundles; the dropped-blocks stage
    fills `dropped_blocks`."""
    out = {f.name: getattr(r, f.name) for f in fields(PipelineResult)
           if f.name != "dropped_blocks"}
    return PipelineResult(**out,
                          dropped_blocks=r.canonical_map_dropped_blocks)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    num_partitions: int | None = None,
) -> PipelineResult:
    r = _Run(transcripts, cfg, num_partitions or cfg.shuffle_partitions)
    for s in STAGES:
        setattr(r, s.name, _APPLY_POLICY[s.policy](s.build(r)))
    return _result(r)


def run_pipeline_checkpointed(
    spark: SparkSession,
    transcripts: DataFrame,
    workdir: str,
    run_id: str = "run0",
    cfg: PipelineConfig = DEFAULT_CONFIG,
    resume: bool = True,
    num_partitions: int | None = None,
) -> PipelineResult:
    """Stage-materialized, resumable variant: kill it after any stage and a
    rerun with resume=True skips committed stages byte-identically."""
    ck = CheckpointManager(spark, workdir, run_id)
    r = _Run(transcripts, cfg, num_partitions or cfg.shuffle_partitions)
    for s in STAGES:
        setattr(r, s.name, ck.run_stage(s.name, partial(s.build, r), resume))
    return _result(r)
