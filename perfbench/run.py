"""Indexing benchmark for graphrag_rs_spark.

    python3 perfbench/run.py --workload link_heavy --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One process runs one workload on
``local[N]`` with ``shuffle_partitions=N``, N = the CPUs this process may
use.  The inputs derive from ``--seed``; the oracle's answers for them are
computed once and cached under ``.perfbench_cache/`` (never timed).

Workloads (closed loop: one pipeline call at a time from one process; each
timed pass is stages.pipeline.run_pipeline with its three leaf outputs
forced, after one untimed warm-up pass):
  bulk_index  datagen transcripts: the work is chunking, the extraction
              UDF, pair emission and rewrite+fold; few distinct names
  link_heavy  a wide, typo-rich person vocabulary with one blocking bucket
              over canonicalize.MAX_BLOCK_SIZE: the canonicalization layers
              (block, score, CC) do most of the work

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` also makes one
traced pass, layer by layer, and prints the per-layer metrics; on
bulk_index it then runs run_pipeline_checkpointed fresh and resumed (the
product path) with the checkpoint layer traced.  Layers a workload does not
run report 0.
Human-readable lines go to stderr; the last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")   # inputs + oracle answers

# timed kernel passes per run, at least; a third would not fit the time a
# full measurement of ~50 runs may take
MIN_PASSES = 2
# the warm-up passes read 1 in WARM_SHARE conversations: a cold pass costs
# ~16-18 s on either workload whether it reads an eighth or all of them.
# A second one costs bulk_index ~5 s and takes the driver's query planning
# further through JIT compilation, so its timed passes start warmer
WARM_SHARE = 8
WARM_PASSES = {"bulk_index": 2, "link_heavy": 1}
SETUP_REPS = 3        # input loads per run; setup_s uses their median
DRIVER_MEM = "2g"     # fixed heap: comparable RSS across hosts and runs
STOP_TIMEOUT_S = 60   # for the JVM and Python workers to exit at the end

E2E_UNITS = {
    "setup_s": "s", "index_s": "s", "turns_per_s": "turns/s",
    "peak_rss_mb": "MB", "triple_p": "ratio", "triple_r": "ratio",
    "canon_triple_p": "ratio", "canon_triple_r": "ratio",
    "canon_map_agree": "ratio",
}

SCORES = ("triple_p", "triple_r", "canon_triple_p", "canon_triple_r",
          "canon_map_agree")

# domain counters that must repeat exactly across runs of one seed
COUNTED_LAYER_METRICS = (
    "extraction.entities", "extraction.mentions", "canonicalize.candidate_pairs",
    "canonicalize.edges", "canonicalize.canonicals", "canonicalize.max_component",
    "canonicalize.dropped_entities", "triples.triple_mentions",
    "rewrite.canonical_triples", "materialize.communities",
    "checkpoint.event_files", "checkpoint.jobs_per_stage")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def layer_unit(name: str) -> str:
    if name.endswith("turns_per_s"):
        return "turns/s"
    if name.endswith("_s") or name.startswith("checkpoint.stage_s."):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_yield", "_share", "_per_chunk",
                      "_per_stage")):
        return "ratio"
    return "count"


def stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM and the Python workers under it
    have exited.  pyspark itself leaves the JVM running until it sees EOF
    on its stdin, after this process is gone."""
    from pyspark import SparkContext
    from rss import descendants, wait_exit
    gateway = SparkContext._gateway
    spark.stop()
    if getattr(gateway, "proc", None) is None:    # not launched from here
        return
    pids = descendants(os.getpid())
    gateway.shutdown()
    gateway.proc.stdin.close()          # the JVM exits on EOF
    try:
        gateway.proc.wait(timeout=STOP_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    for pid in wait_exit(pids, STOP_TIMEOUT_S):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait_exit(pids, 5)


class Bench:
    def __init__(self, args: argparse.Namespace, tmp: str):
        from graphrag_rs_spark.config import PipelineConfig
        import inputs

        self.args = args
        self.tmp = tmp
        self.n = len(os.sched_getaffinity(0))
        self.cfg = PipelineConfig(shuffle_partitions=self.n)
        t0 = time.perf_counter()
        self.exp = inputs.prepare(args.workload, args.seed, CACHE_DIR)
        log(f"inputs: {self.exp.turns} turns, prepared in "
            f"{time.perf_counter() - t0:.1f}s (not timed)")
        self.spark = None
        self.transcripts = None
        self.attempted = self.failed = 0
        self.flags: list[str] = []
        self.scores: list[dict[str, float]] = []
        self.counts: dict[str, float] | None = None

    # -- setup ------------------------------------------------------------
    def start(self) -> float:
        from graphrag_rs_spark.session import get_spark
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{self.n}]",
                               cfg=self.cfg)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def load(self) -> float:
        """Collect the driver heap, so no pass pays for an earlier one's
        garbage, then read and cache the input (re-done after every
        clearCache)."""
        if self.transcripts is not None:
            self.transcripts.unpersist()
        self.spark._jvm.System.gc()
        t0 = time.perf_counter()
        self.transcripts = self.spark.read.parquet(self.exp.parquet) \
            .repartition(self.n).cache()
        rows = self.transcripts.count()
        if rows != self.exp.turns:
            raise RuntimeError(f"read {rows} turns, generated {self.exp.turns}")
        return time.perf_counter() - t0

    def setup(self) -> float:
        session_s = self.start()
        loads = [self.load() for _ in range(SETUP_REPS)]
        log(f"session {session_s:.2f}s, loads {[round(x, 2) for x in loads]}")
        return session_s + statistics.median(loads)

    # -- correctness --------------------------------------------------------
    def check(self, raw, canon, canonical_map) -> bool:
        """Score one pass against the oracle; counts must repeat exactly."""
        import gate
        obs_raw, obs_canon, cmap = gate.observe(raw, canon, canonical_map)
        s = gate.score(self.exp, obs_raw, obs_canon, cmap)
        counts = gate.domain_counts(obs_canon, cmap)
        self.scores.append(s)
        ok = gate.passes(s)
        if not ok:
            self.flags.append(f"gate below floor: {s}")
        if self.counts is None:
            self.counts = counts
        elif counts != self.counts:
            self.flags.append(f"counts differ between passes: {counts} "
                              f"vs {self.counts}")
            ok = False
        return ok

    def attempt(self, fn) -> bool:
        self.attempted += 1
        try:
            ok = fn()
        except Exception:                # a failed pass is counted, not fatal
            log(f"pass failed:\n{traceback.format_exc()}")
            ok = False
        if not ok:
            self.failed += 1
        return ok

    # -- workloads ------------------------------------------------------------
    def kernel_pass(self) -> tuple[float, bool]:
        from graphrag_rs_spark.stages.pipeline import run_pipeline
        from layers import force_leaves
        t0 = time.perf_counter()
        res = run_pipeline(self.spark, self.transcripts, self.cfg,
                           num_partitions=self.n)
        force_leaves(res)
        wall = time.perf_counter() - t0
        ok = self.check(res.triples, res.canonical_triples, res.canonical_map)
        self.spark.catalog.clearCache()
        self.load()
        return wall, ok

    def warm_up(self) -> float:
        """Untimed passes over a share of the conversations, to warm up
        the JIT, codegen and the Python workers."""
        from pyspark.sql import functions as F
        from graphrag_rs_spark.stages.pipeline import run_pipeline
        from layers import force_leaves
        t0 = time.perf_counter()
        part = self.spark.read.parquet(self.exp.parquet) \
            .filter(F.crc32("conv_id") % WARM_SHARE == 0) \
            .repartition(self.n).cache()
        part.count()
        for _ in range(WARM_PASSES[self.args.workload]):
            force_leaves(run_pipeline(self.spark, part, self.cfg,
                                      num_partitions=self.n))
        self.spark.catalog.clearCache()
        self.load()
        return time.perf_counter() - t0

    def measure(self, seconds: float, min_passes: int) -> dict[str, float]:
        """Set up, warm up, then timed passes until their walls add up to
        `seconds` (`min_passes` at least; the untimed scoring and reload
        between passes does not count).  → setup_s and the median
        index_s."""
        setup_s = self.setup()
        warm = self.warm_up()
        log(f"warm-up pass {warm:.2f}s")
        walls: list[float] = []

        def one() -> bool:
            wall, ok = self.kernel_pass()
            walls.append(wall)
            log(f"pass {len(walls)}: {wall:.3f}s ok={ok}")
            return ok

        while self.attempted < min_passes or sum(walls) < seconds:
            self.attempt(one)
            if len(walls) < self.attempted:     # the pass raised: stop
                break
        if not walls:
            raise RuntimeError("no timed pass completed")
        return {"setup_s": setup_s + warm, "index_s": statistics.median(walls)}

    def traced(self, index_s: float) -> dict[str, float]:
        import layers
        m, res = layers.traced_kernel(self.spark, self.transcripts, self.cfg,
                                      self.n)
        m["trace.overhead_s"] = m["trace.total_s"] - index_s
        # the traced result is scored like a timed pass
        self.attempt(lambda: self.check(res.triples, res.canonical_triples,
                                        res.canonical_map))
        self.spark.catalog.clearCache()
        if self.args.workload == "bulk_index":
            self.load()
            ck, problems = layers.traced_checkpointed(
                self.spark, self.transcripts, self.cfg, self.n,
                os.path.join(self.tmp, "workdir"))
            ck["checkpoint.turns_per_s"] = self.exp.turns / ck["checkpoint.fresh_s"]
            m.update(ck)
            self.flags.extend(problems)
        else:
            m.update({k: 0.0 for k in layers.CHECKPOINT_METRICS})
        return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "graphrag_rs_spark")):
        log(f"no graphrag_rs_spark package under {ROOT}; run from a checkout")
        return 2
    # the package under test is the checkout's, for the driver and for
    # Spark's Python workers alike
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    import inputs
    if args.workload not in inputs.WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {inputs.WORKLOADS}")
        return 2

    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{os.getpid()}-",
                           dir=os.path.join(ROOT, ".perfbench_tmp"))
    # Spark's scratch space (it prefers SPARK_LOCAL_DIRS over its conf),
    # Python's and the JVM's temp files all stay in the per-process dir
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if o)
    from rss import PeakRss
    bench = None
    try:
        bench = Bench(args, tmp)
        with PeakRss() as rss:
            # a traced run prints no end-to-end metric: its one timed pass
            # only anchors trace.overhead_s, and keeps the run, which also
            # makes the checkpointed passes, well inside its time limit
            e2e = bench.measure(0 if args.trace else args.seconds,
                                1 if args.trace else MIN_PASSES)
            layer_metrics = bench.traced(e2e["index_s"]) if args.trace else {}
        e2e["turns_per_s"] = bench.exp.turns / e2e["index_s"]
        e2e["peak_rss_mb"] = rss.peak_mb
        for k in SCORES:
            e2e[k] = min(s[k] for s in bench.scores)
        record = {**bench.counts, **{k: e2e[k] for k in SCORES},
                  **{k: layer_metrics[k] for k in COUNTED_LAYER_METRICS
                     if k in layer_metrics}}
        drift = inputs.check_recorded(bench.exp.record_path,
                                      f"trace{args.trace}", record)
        if drift:
            bench.flags.append(f"differs from this seed's recorded run: {drift}")
    finally:
        if bench is not None and bench.spark is not None:
            stop_spark(bench.spark)
        shutil.rmtree(tmp, ignore_errors=True)

    for f in bench.flags:
        log(f"FLAG {f}")
    shown = {**e2e, "failed_frac": bench.failed / bench.attempted}
    for k, v in sorted(shown.items()):
        log(f"{k:40s} {v:14.4f} {E2E_UNITS.get(k, 'ratio')}")
    for k, v in sorted(layer_metrics.items()):
        log(f"{k:40s} {v:14.4f} {layer_unit(k)}")

    metrics = layer_metrics if args.trace else e2e
    print(json.dumps({
        "correct": bench.failed == 0 and not bench.flags,
        "attempted": bench.attempted, "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": E2E_UNITS.get(k) or layer_unit(k)}
                    for k, v in sorted(metrics.items())},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
