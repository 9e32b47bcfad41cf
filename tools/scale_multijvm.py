"""Process-level (multi-JVM) scaling: 1 executor-JVM vs 4 executor-JVMs.

The north rule's two-cluster-size criterion cannot be run on a real
cluster in this sandbox, and `local-cluster[...]` is blocked (executor
JVMs cannot register over local TCP — BENCH.md round-2 note).  What the
sandbox DOES allow is the cluster's actual process shape: independent
spark-submit JVMs, each its own driver+executor with its own heap, GC,
and Python worker pool, sharing only the filesystem — i.e. executors
minus the cluster manager.  This script measures executor-count scaling
in that shape, deliberately removing the shared-JVM GC/memory-bus
conflation that single-process local[N] thread scaling suffers from
(BENCH.md "Two findings" section):

  leg A (N = 1 executor):  1 × spark-submit local[4] over its own
                            shard (seed 46)
  leg B (4N = 4 executors): 4 × concurrent spark-submit local[4],
                            each over its own statistically identical,
                            disjoint shard (seeds 42-45 — separate
                            files, none read by leg A, so no page-cache
                            sharing flatters leg B)

Every JVM runs the identical full indexing pipeline on an identical
workload, so per-executor efficiency is simply

  eff = wall_solo / max(wall_i over the 4 concurrent JVMs)

and combined 4-executor throughput is (4 · turns_per_shard) / max(wall).
This is the honest analogue of "add 3 executors to a 1-executor
cluster": if eff ≥ 0.8, quadrupling executors keeps ≥0.8 of the
per-executor throughput, which is precisely the ≥0.8 N→4N scaling gate.
A pure-CPU spin calibration brackets each leg (same methodology as the
BENCH.md host-ceiling runs) so burstable-host drift is visible.

    python tools/scale_multijvm.py            # default 250k convs/shard
    SPARK_GRAFT_SCALE_CONVS=100000 python tools/scale_multijvm.py

Two runner modes, because they answer different questions:

  (default)  spark-submit job.py — the full CHECKPOINTED product
             surface.  Its per-stage parquet materialization +
             lineage barriers carry a large input-independent fixed
             latency, which parallelizes trivially across JVMs and
             therefore FLATTERS the efficiency number; reported with
             that caveat.
  --inprocess  each JVM runs the non-checkpointed run_pipeline (the
             same kernel tools/scaling_run.py measures) over a
             conv-hash quarter of the 8.57M-turn dataset — compute
             dominates wall, so per-executor efficiency measures the
             actual engine, not the orchestration.  This is the
             authoritative number.  The four quarters ARE the corpus,
             so there is no spare shard: leg A reads quarter 0, and
             leg B's first JVM may then find that file page-cache-warm
             (the other three read cold).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

THREADS_PER_JVM = int(os.environ.get("SPARK_GRAFT_SCALE_THREADS", "4"))
N_JVMS = int(os.environ.get("SPARK_GRAFT_SCALE_JVMS", "4"))
CONVS = int(os.environ.get("SPARK_GRAFT_SCALE_CONVS", "250000"))
DRIVER_MEM = os.environ.get("SPARK_GRAFT_SCALE_MEM", "16g")


def _spin() -> float:
    """Fixed-work pure-CPU spin; returns wall seconds for the fixed work
    (higher = less host capacity delivered right now)."""
    t0 = time.time()
    x = 0
    for _ in range(12_000_000):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
    return round(time.time() - t0, 3)


def _shards() -> tuple[str, list[str]]:
    """(solo shard, quad shards): N_JVMS + 1 disjoint generated files,
    the last one read only by the solo leg, so no quad-leg JVM reads a
    file the solo leg left page-cache-warm."""
    from graphrag_rs_spark.datagen import ensure_transcripts
    paths = [ensure_transcripts(CONVS, max_turns=120, seed=42 + q)
             for q in range(N_JVMS + 1)]
    return paths[N_JVMS], paths[:N_JVMS]


def _quarter_shards() -> tuple[str, list[str]]:
    """(solo shard, quad shards) from disjoint conv-hash quarters of ONE
    2M-conv dataset — real shards of a single corpus (what a 4-executor
    cluster would scan-split); the solo leg reuses quarter 0."""
    import duckdb
    from graphrag_rs_spark.datagen import ensure_transcripts
    src = ensure_transcripts(2_000_000, max_turns=120, seed=42)
    paths = []
    con = duckdb.connect()
    for q in range(N_JVMS):
        p = os.path.join(REPO, f"data/transcripts_2m_quarter{q}.parquet")
        if not os.path.exists(p):
            con.sql(f"copy (select * from read_parquet('{src}') "
                    f"where hash(conv_id) % {N_JVMS} = {q}) "
                    f"to '{p}' (format parquet)")
        paths.append(p)
    return paths[0], paths


def _child_inprocess(shard: str) -> None:
    """One JVM's leg: non-checkpointed run_pipeline over a shard (the
    scaling_run.py kernel); prints a JSON line with wall + turns."""
    import time as _t
    from graphrag_rs_spark.session import get_spark
    from graphrag_rs_spark.config import PipelineConfig
    from graphrag_rs_spark.stages.pipeline import run_pipeline

    spark = get_spark("scale_child", master=f"local[{THREADS_PER_JVM}]",
                      cfg=PipelineConfig(
                          shuffle_partitions=THREADS_PER_JVM))
    spark.sparkContext.setLogLevel("ERROR")
    transcripts = spark.read.parquet(shard) \
        .repartition(THREADS_PER_JVM).cache()
    n_turns = transcripts.count()
    t0 = _t.time()
    res = run_pipeline(spark, transcripts)
    from concurrent.futures import ThreadPoolExecutor

    def noop(df):
        df.write.format("noop").mode("overwrite").save()
    with ThreadPoolExecutor(max_workers=3) as ex:
        list(ex.map(noop, [res.canonical_triples, res.communities,
                           res.mentions]))
    wall = round(_t.time() - t0, 2)
    print(json.dumps({"turns": n_turns, "pipeline_sec": wall}),
          flush=True)
    spark.stop()


def _submit_inprocess(shard: str, tag: str) -> dict:
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM}
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", shard],
        cwd=REPO, env=env, text=True,
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    wall = round(time.time() - t0, 2)
    line = [ln for ln in proc.stdout.strip().splitlines()
            if ln.startswith("{")][-1]
    out = json.loads(line)
    return {"tag": tag, "wall": wall, "turns": out["turns"],
            "pipeline_sec": out["pipeline_sec"]}


def _submit(shard: str, tag: str) -> dict:
    wd = f"/tmp/scale_mj_{tag}"
    subprocess.run(["rm", "-rf", wd], check=True)
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM}
    t0 = time.time()
    proc = subprocess.run(
        ["spark-submit", "--master", f"local[{THREADS_PER_JVM}]",
         "--py-files", os.path.join(REPO, "dist/graphrag_rs_spark.zip"),
         os.path.join(REPO, "job.py"),
         "--input", shard, "--workdir", wd, "--run-id", tag,
         "--master", f"local[{THREADS_PER_JVM}]"],
        cwd=REPO, env=env, text=True,
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    wall = round(time.time() - t0, 2)
    line = [ln for ln in proc.stdout.strip().splitlines()
            if ln.startswith("{")][-1]
    out = json.loads(line)
    assert out["status"] == "ok", out
    return {"tag": tag, "wall": wall, "turns": out["turns"],
            "pipeline_sec": out["elapsed_sec"]}


def main() -> None:
    if "--child" in sys.argv:
        _child_inprocess(sys.argv[sys.argv.index("--child") + 1])
        return
    inproc = "--inprocess" in sys.argv
    if inproc:
        solo_shard, shards = _quarter_shards()
        runner = _submit_inprocess
    else:
        solo_shard, shards = _shards()
        runner = _submit
    result: dict = {"threads_per_jvm": THREADS_PER_JVM, "n_jvms": N_JVMS,
                    "mode": "inprocess" if inproc else "spark-submit",
                    "convs_per_shard": CONVS, "driver_mem": DRIVER_MEM}

    result["cal_before_solo"] = _spin()
    solo = runner(solo_shard, "solo")
    result["cal_after_solo"] = _spin()
    result["solo"] = solo
    result["solo_turns_per_sec"] = round(solo["turns"] / solo["wall"], 1)

    result["cal_before_quad"] = _spin()
    t0 = time.time()
    with ThreadPoolExecutor(max_workers=N_JVMS) as ex:
        quad = list(ex.map(lambda i: runner(shards[i], f"q{i}"),
                           range(N_JVMS)))
    quad_wall = round(time.time() - t0, 2)
    result["cal_after_quad"] = _spin()
    result["quad"] = quad
    total_turns = sum(r["turns"] for r in quad)
    slowest = max(r["wall"] for r in quad)
    result["quad_wall"] = quad_wall
    result["quad_turns_per_sec"] = round(total_turns / quad_wall, 1)
    # per-executor efficiency: identical work, solo vs 4-wide
    result["eff_per_executor"] = round(solo["wall"] / slowest, 3)
    # throughput form: 4-executor combined vs 4 × solo
    result["eff_throughput"] = round(
        result["quad_turns_per_sec"]
        / (N_JVMS * result["solo_turns_per_sec"]), 3)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
