"""Self-test of the benchmark on tiny inputs.

    python3 -m pytest perfbench -q

Starts a local Spark session per test that needs one; the bulk_index
trace runs the checkpointed product path once, so the whole file takes a
few minutes.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gate    # noqa: E402
import inputs  # noqa: E402
import run     # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _prepared(raw, canon, canonical_of) -> inputs.Prepared:
    return inputs.Prepared(parquet="", turns=1, raw_triples=set(raw),
                           canonical_triples=set(canon),
                           canonical_of=dict(canonical_of), record_path="")


def test_gate_flags_a_dropped_triple():
    raw = {("a", "KNOWS", "b"), ("a", "KNOWS", "c"), ("b", "WORKS_AT", "d")}
    canon = {("a", "KNOWS", "b"), ("b", "WORKS_AT", "d")}
    cmap = {"a": "a", "b": "b", "c": "b", "d": "d"}
    exp = _prepared(raw, canon, cmap)
    assert gate.passes(gate.score(exp, raw, canon, cmap))
    short_raw = gate.score(exp, raw - {("a", "KNOWS", "c")}, canon, cmap)
    assert short_raw["triple_r"] < 1.0
    short_canon = gate.score(exp, raw, canon - {("b", "WORKS_AT", "d")}, cmap)
    assert short_canon["canon_triple_r"] < 1.0
    extra = gate.score(exp, raw | {("x", "KNOWS", "y")}, canon, cmap)
    assert extra["triple_p"] < 1.0
    moved = gate.score(exp, raw, canon, {**cmap, "c": "c"})
    assert moved["canon_map_agree"] == 0.75
    for s in (short_raw, short_canon, extra, moved):
        assert not gate.passes(s)


def test_recorded_values_must_repeat(tmp_path):
    path = str(tmp_path / "recorded.json")
    assert inputs.check_recorded(path, "trace0", {"entities": 5}) == []
    assert inputs.check_recorded(path, "trace0", {"entities": 5}) == []
    assert inputs.check_recorded(path, "trace0", {"entities": 6}) == ["entities"]


def test_cached_answers_follow_the_sources(tmp_path, monkeypatch):
    source = tmp_path / "logic.py"
    source.write_text("threshold = 1\n")
    monkeypatch.setattr(inputs, "INPUT_SOURCES", (str(source),))
    monkeypatch.setattr(inputs, "BULK_TURNS", 30)
    cache = str(tmp_path / "cache")
    first = inputs.prepare("bulk_index", 1, cache)
    assert inputs.prepare("bulk_index", 1, cache).parquet == first.parquet
    source.write_text("threshold = 2\n")
    again = inputs.prepare("bulk_index", 1, cache)
    assert again.parquet != first.parquet
    assert again.canonical_triples == first.canonical_triples


def test_link_heavy_generator_is_deterministic_per_seed():
    rows = inputs.link_heavy_rows(3)
    assert rows == inputs.link_heavy_rows(3)
    assert rows != inputs.link_heavy_rows(4)
    assert inputs.generate("bulk_index", 3) == inputs.generate("bulk_index", 3)
    assert len(inputs.generate("bulk_index", 3)) == inputs.BULK_TURNS


@pytest.fixture
def spark(monkeypatch):
    from graphrag_rs_spark.config import PipelineConfig
    from graphrag_rs_spark.session import get_spark
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([ROOT, HERE]))
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", run.DRIVER_MEM)
    s = get_spark("perfbench-test", master="local[2]",
                  cfg=PipelineConfig(shuffle_partitions=2))
    yield s
    run.stop_spark(s)


def test_link_heavy_has_a_bucket_over_the_block_cap(spark):
    from graphrag_rs_spark.config import PipelineConfig
    from graphrag_rs_spark.stages import canonicalize, chunking, extraction
    cfg = PipelineConfig(shuffle_partitions=2)
    rows = inputs.link_heavy_rows(5)
    chunks = chunking.chunk_documents(
        chunking.assemble_documents(spark.createDataFrame(rows)), cfg, 2)
    entities = extraction.entities_table(
        extraction.chunk_entities_from_bundles(
            extraction.extract_chunk_bundles(chunks, cfg, 2)))
    over = canonicalize.dropped_block_stats(entities).collect()
    assert over and max(r["n_entities"] for r in over) \
        > canonicalize.MAX_BLOCK_SIZE


@pytest.fixture
def tiny(monkeypatch, tmp_path):
    """Tiny inputs and a private cache, for end-to-end runs of run.main
    (which sets these variables for its own JVM)."""
    monkeypatch.setattr(run, "CACHE_DIR", str(tmp_path / "cache"))
    monkeypatch.setattr(inputs, "BULK_TURNS", 60)
    monkeypatch.setattr(inputs, "LINK_FIRST_BASES", 12)
    for k in ("PYTHONPATH", "TMPDIR", "SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS",
              "SPARK_GRAFT_DRIVER_MEM"):
        monkeypatch.setenv(k, os.environ.get(k, ""))


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_prints_with_its_unit(tiny, capsys, workload, trace):
    assert run.main(["--workload", workload, "--seed", "7",
                     "--seconds", "1", "--trace", str(trace)]) == 0
    out, err = capsys.readouterr()
    result = json.loads(out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == \
        {m["name"]: m["unit"] for m in spec}
    # the human-readable lines carry every end-to-end metric, failed_frac too
    for m in SPEC["end_to_end"] + [{"name": "failed_frac", "unit": "ratio"}]:
        assert any(line.split()[1:2] == [m["name"]]
                   and line.split()[-1] == m["unit"]
                   for line in err.splitlines()
                   if line.startswith("[perfbench]")), m["name"]
