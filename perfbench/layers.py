"""Per-layer tracing from outside the program.

Each layer is a call (or calls) into a module's public functions.  The
traced pass runs the program's own pipeline with those functions wrapped:
each runs inside ``setJobGroup(<layer>)`` and has its output persisted and
forced, so its work lands in its own wall time, and the group's Spark
stage data is read from the status store (``sc._jsc.sc().statusStore()``,
available with the UI disabled).
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from contextlib import ExitStack, contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession, functions as F

from graphrag_rs_spark.config import PipelineConfig
from graphrag_rs_spark.stages import canonicalize, chunking, extraction
from graphrag_rs_spark.stages import materialize, pipeline, triples as triples_mod
from graphrag_rs_spark.stages.checkpoint import CheckpointManager

MB = 1024.0 * 1024.0

# the 14 stages of run_pipeline_checkpointed, in execution order
CHECKPOINT_STAGES = (
    "documents", "chunks", "chunk_bundles", "chunk_entities", "entities",
    "mentions", "triple_mentions", "triples", "canonical_map_dropped_blocks",
    "canonical_map", "canonical_triple_mentions", "canonical_triples",
    "canonical_entities", "communities")

# reported by the product-path trace (bulk_index only; 0 elsewhere)
CHECKPOINT_METRICS = tuple(f"checkpoint.stage_s.{s}" for s in CHECKPOINT_STAGES) + (
    "checkpoint.fresh_s", "checkpoint.resume_s", "checkpoint.turns_per_s",
    "checkpoint.jobs_per_stage", "checkpoint.completed_s",
    "checkpoint.completed_calls", "checkpoint.event_files",
    "checkpoint.written_mb", "checkpoint.unattributed_s",
    "checkpoint.failed_tasks")


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def force_leaves(res) -> None:
    """Force every leaf output the way the kernel benchmark always has: the
    three independent DAG leaves as concurrent actions."""
    with ThreadPoolExecutor(max_workers=3) as ex:
        list(ex.map(noop, [res.canonical_triples, res.communities,
                           res.mentions]))


class Tracer:
    """Wall time per layer plus the Spark jobs each layer ran.  Layers
    nest (canonicalize.pick encloses block, score and cc); `top_s` sums
    the walls of outermost layers only."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.walls: dict[str, float] = defaultdict(float)
        self.top_s = 0.0
        self._groups: list[str] = []

    def _set_group(self, name: str | None) -> None:
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(name, name)

    @contextmanager
    def layer(self, name: str):
        outermost = not self._groups
        self._groups.append(name)
        self._set_group(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self.walls[name] += wall
            if outermost:
                self.top_s += wall
            self._groups.pop()
            self._set_group(self._groups[-1] if self._groups else None)

    def stats(self, group: str) -> dict[str, float]:
        """Task time, shuffle and spill of the stages the group's jobs ran."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = {"jobs": 0, "task_s": 0.0, "shuffle_write_mb": 0.0,
               "spill_mb": 0.0, "failed_tasks": 0}
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                s = store.lastStageAttempt(sid)
            except Py4JJavaError:      # stage skipped: its output was reused
                continue
            out["task_s"] += s.executorRunTime() / 1000.0
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            out["spill_mb"] += (s.memoryBytesSpilled()
                                + s.diskBytesSpilled()) / MB
            out["failed_tasks"] += s.numFailedTasks()
        return out


@contextmanager
def _patched(module, name: str, wrapper):
    original = getattr(module, name)
    setattr(module, name, wrapper(original))
    try:
        yield
    finally:
        setattr(module, name, original)


def traced_kernel(spark: SparkSession, transcripts: DataFrame,
                  cfg: PipelineConfig, n: int
                  ) -> tuple[dict[str, float], pipeline.PipelineResult]:
    """stages.pipeline.run_pipeline itself, with the module functions it
    calls wrapped from here: each layer's calls run inside its own job
    group, and each output a layer hands on is persisted and forced there,
    so the layer's work lands in its own wall time.  The rewritten triple
    stream stays lazy, as in the pipeline; its fold is forced instead.
    → (per-layer metrics, the pipeline's result with its leaves forced)."""
    tr = Tracer(spark)
    called: set[str] = set()
    forced: dict[str, tuple[DataFrame, int]] = {}   # function → output, rows
    rewritten: list[DataFrame] = []

    def timed(layer: str):
        def wrap(fn):
            def call(*args, **kwargs):
                called.add(fn.__name__)
                with tr.layer(layer):
                    return fn(*args, **kwargs)
            return call
        return wrap

    def forcing(layer: str):
        def wrap(fn):
            def call(*args, **kwargs):
                called.add(fn.__name__)
                with tr.layer(layer):
                    df = fn(*args, **kwargs).persist()
                    forced[fn.__name__] = (df, df.count())
                return df
            return call
        return wrap

    def rewrite(fn):
        def call(*args, **kwargs):
            called.add(fn.__name__)
            with tr.layer("rewrite"):
                df = fn(*args, **kwargs)
            rewritten.append(df)
            return df
        return call

    def fold(fn):
        # run_pipeline also builds its lazy raw-triples view with this
        # function; only the fold of the rewritten stream is the rewrite
        # layer's output (and is recorded as called when forced)
        forced_fold = forcing("rewrite")(fn)

        def call(triples, *args, **kwargs):
            if any(triples is df for df in rewritten):
                return forced_fold(triples, *args, **kwargs)
            return fn(triples, *args, **kwargs)
        return call

    wrappers = (
        (chunking, "assemble_documents", timed("chunking")),
        (chunking, "chunk_documents", forcing("chunking")),
        (extraction, "extract_chunk_bundles", forcing("extraction")),
        (extraction, "chunk_entities_from_bundles", timed("extraction")),
        (extraction, "entities_table", forcing("extraction")),
        (extraction, "mentions_table", forcing("extraction")),
        (triples_mod, "emit_triple_mentions_from_bundles", forcing("triples")),
        # shared_blocked_keys is a lazy checkpoint that candidate_pairs
        # materializes: both are the block layer
        (canonicalize, "shared_blocked_keys", timed("canonicalize.block")),
        (canonicalize, "canonical_map", forcing("canonicalize.pick")),
        (canonicalize, "candidate_pairs", forcing("canonicalize.block")),
        (canonicalize, "score_pairs", forcing("canonicalize.score")),
        (canonicalize, "connected_components", forcing("cc")),
        (canonicalize, "rewrite_triple_mentions", rewrite),
        (triples_mod, "triples_with_context", fold),
        (materialize, "canonical_entities", forcing("materialize")),
        (materialize, "communities", forcing("materialize")),
    )
    with ExitStack() as stack:
        for module, name, wrapper in wrappers:
            stack.enter_context(_patched(module, name, wrapper))
        t0 = time.perf_counter()
        res = pipeline.run_pipeline(spark, transcripts, cfg, num_partitions=n)
        force_leaves(res)
        total = time.perf_counter() - t0
    # every wrapped function ran (the fold: on the rewritten stream)
    missing = {name for _, name, _ in wrappers} - called
    if missing:
        raise RuntimeError(f"run_pipeline no longer calls {sorted(missing)}; "
                           "the benchmark's layer split needs updating")

    # counters below are read from the forced outputs, after the clock;
    # run_pipeline leaves dropped_block_stats lazy and never forces it
    counts = {name: rows for name, (_, rows) in forced.items()}
    chunk_entities = res.chunk_entities.count()
    dropped = res.dropped_blocks.collect()
    n_pairs = counts["candidate_pairs"]
    n_edges = forced["score_pairs"][0].filter(
        F.col("sim") >= F.lit(float(cfg.link_min_similarity))).count()
    distinct_name_pairs = forced["candidate_pairs"][0] \
        .select("name1", "name2").distinct().count()
    sizes = res.canonical_map.groupBy("canonical_id").count() \
        .agg(F.count("*").alias("c"), F.max("count").alias("m")).collect()[0]
    n_comms = res.communities.select("community").distinct().count()

    st = {g: tr.stats(g) for g in tr.walls}
    block_s = tr.walls["canonicalize.block"]
    m = {
        "chunking.wall_s": tr.walls["chunking"],
        "chunking.task_s": st["chunking"]["task_s"],
        "chunking.chunks": counts["chunk_documents"],
        "chunking.shuffle_write_mb": st["chunking"]["shuffle_write_mb"],
        "chunking.spill_mb": st["chunking"]["spill_mb"],
        "extraction.wall_s": tr.walls["extraction"],
        "extraction.task_s": st["extraction"]["task_s"],
        "extraction.entities": counts["entities_table"],
        "extraction.mentions": counts["mentions_table"],
        "extraction.entities_per_chunk":
            chunk_entities / max(counts["chunk_documents"], 1),
        "triples.wall_s": tr.walls["triples"],
        "triples.triple_mentions": counts["emit_triple_mentions_from_bundles"],
        "triples.pairs_per_chunk": counts["emit_triple_mentions_from_bundles"]
            / max(counts["chunk_documents"], 1),
        "canonicalize.block_s": block_s,
        "canonicalize.candidate_pairs": n_pairs,
        "canonicalize.dropped_buckets": len(dropped),
        "canonicalize.dropped_entities": sum(r["n_entities"] for r in dropped),
        "canonicalize.block_shuffle_mb":
            st["canonicalize.block"]["shuffle_write_mb"],
        "canonicalize.score_s": tr.walls["canonicalize.score"],
        "canonicalize.score_task_s": st["canonicalize.score"]["task_s"],
        "canonicalize.distinct_name_pairs": distinct_name_pairs,
        "canonicalize.edges": n_edges,
        "canonicalize.edge_yield": n_edges / max(n_pairs, 1),
        "cc.wall_s": tr.walls["cc"],
        "cc.jobs": st["cc"]["jobs"],
        "canonicalize.map_s": tr.walls["canonicalize.pick"],
        "canonicalize.canonicals": sizes["c"],
        "canonicalize.merge_ratio": counts["entities_table"] / max(sizes["c"], 1),
        "canonicalize.max_component": sizes["m"],
        "rewrite.wall_s": tr.walls["rewrite"],
        "rewrite.shuffle_mb": st["rewrite"]["shuffle_write_mb"],
        "rewrite.canonical_triples": counts["triples_with_context"],
        "materialize.wall_s": tr.walls["materialize"],
        "materialize.communities": n_comms,
        "spark.failed_tasks": sum(s["failed_tasks"] for s in st.values()),
        "trace.total_s": total,
        "trace.unattributed_s": total - tr.top_s,
        "trace.canon_share": (block_s + tr.walls["canonicalize.score"]
                              + tr.walls["cc"]) / total,
    }
    return m, res


def _dir_stats(path: str) -> tuple[int, int]:
    """→ (parquet files, bytes) under `path`."""
    files = size = 0
    for d, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, name))
    return files, size


def table_sums(res) -> dict[str, tuple[int, int]]:
    """(rows, bit_xor of row hashes) of every table a checkpointed result
    holds, keyed by checkpoint stage -- the lineage table's own checksum."""
    tables = {
        "documents": res.documents, "chunks": res.chunks,
        "chunk_entities": res.chunk_entities, "entities": res.entities,
        "mentions": res.mentions, "triple_mentions": res.triple_mentions,
        "triples": res.triples,
        "canonical_map_dropped_blocks": res.dropped_blocks,
        "canonical_map": res.canonical_map,
        "canonical_triple_mentions": res.canonical_triple_mentions,
        "canonical_triples": res.canonical_triples,
        "canonical_entities": res.canonical_entities,
        "communities": res.communities}
    out = {}
    for stage, df in tables.items():
        h = F.expr("bit_xor(xxhash64("
                   + ", ".join(f"`{c}`" for c in df.columns) + "))")
        r = df.agg(F.count(F.lit(1)), F.coalesce(h, F.lit(0))).collect()[0]
        out[stage] = (int(r[0]), int(r[1]))
    return out


def committed_lineage(spark: SparkSession, workdir: str, stages
                      ) -> dict[str, tuple[int, int]]:
    """The (rows, checksum) summary each stage committed to the checkpoint
    table (its partition_id -1 rows)."""
    rows = spark.read.parquet(os.path.join(workdir, "_checkpoints")) \
        .filter("partition_id = -1 and status = 'committed'") \
        .select("stage", "rows", "checksum").collect()
    return {r["stage"]: (int(r["rows"]), int(r["checksum"])) for r in rows
            if r["stage"] in stages}


def traced_checkpointed(spark: SparkSession, transcripts: DataFrame,
                        cfg: PipelineConfig, n: int, workdir: str
                        ) -> tuple[dict[str, float], list[str]]:
    """run_pipeline_checkpointed into a fresh workdir, then the same call
    with resume=True, with CheckpointManager's run_stage / completed / load
    wrapped from here.  → (per-layer metrics, problems found).  The resumed
    tables must match what the fresh pass committed, and the resume must
    commit nothing new."""
    tr = Tracer(spark)
    mode = ["fresh"]
    timers: dict[str, float] = defaultdict(float)
    calls: dict[str, int] = defaultdict(int)

    def run_stage(fn):
        def call(self, stage, df_fn, resume=True):
            with tr.layer(f"{mode[0]}.{stage}"):
                return fn(self, stage, df_fn, resume)
        return call

    def completed(fn):
        def call(self, stage):
            t0 = time.perf_counter()
            try:
                return fn(self, stage)
            finally:
                timers[mode[0]] += time.perf_counter() - t0
                calls[mode[0]] += 1
        return call

    ckpt = os.path.join(workdir, "_checkpoints")
    walls, results, events = {}, {}, {}
    with _patched(CheckpointManager, "run_stage", run_stage), \
            _patched(CheckpointManager, "completed", completed):
        for mode[0], resume in (("fresh", False), ("resume", True)):
            t0 = time.perf_counter()
            results[mode[0]] = pipeline.run_pipeline_checkpointed(
                spark, transcripts, workdir, run_id="bench", cfg=cfg,
                resume=resume, num_partitions=n)
            walls[mode[0]] = time.perf_counter() - t0
            events[mode[0]] = _dir_stats(ckpt)
            if mode[0] == "fresh":
                written = _dir_stats(workdir)[1] - events["fresh"][1]

    problems = []
    if events["resume"] != events["fresh"]:
        problems.append("the resume pass committed new checkpoint events")
    lineage = committed_lineage(spark, workdir, CHECKPOINT_STAGES)
    resumed = table_sums(results["resume"])
    if resumed != {s: lineage.get(s) for s in resumed}:
        problems.append(f"resumed tables {resumed} differ from the "
                        f"committed lineage {lineage}")

    stages = [tr.stats(f"fresh.{s}") for s in CHECKPOINT_STAGES]
    m = {f"checkpoint.stage_s.{s}": tr.walls[f"fresh.{s}"]
         for s in CHECKPOINT_STAGES}
    m.update({
        "checkpoint.fresh_s": walls["fresh"],
        "checkpoint.resume_s": walls["resume"],
        "checkpoint.jobs_per_stage":
            sum(s["jobs"] for s in stages) / len(CHECKPOINT_STAGES),
        "checkpoint.completed_s": timers["resume"],
        "checkpoint.completed_calls": calls["resume"],
        "checkpoint.event_files": events["fresh"][0],
        "checkpoint.written_mb": written / MB,
        "checkpoint.unattributed_s": walls["fresh"] - sum(
            tr.walls[f"fresh.{s}"] for s in CHECKPOINT_STAGES),
        "checkpoint.failed_tasks": sum(s["failed_tasks"] for s in stages),
    })
    return m, problems
