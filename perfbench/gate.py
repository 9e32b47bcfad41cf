"""Correctness gate: engine outputs scored against the cached oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame

from inputs import Prepared

# Lowest acceptable value of every score.  On the commit that introduced
# the benchmark the engine matches the oracle exactly on both workloads and
# every seed tried, so any pass that scores lower counts as failed.
FLOOR = 1.0


def _pr(observed: set, expected: set) -> tuple[float, float]:
    hit = len(observed & expected)
    p = hit / len(observed) if observed else float(not expected)
    r = hit / len(expected) if expected else 1.0
    return p, r


def score(exp: Prepared, raw: set, canon: set,
          canonical_of: dict[str, str]) -> dict[str, float]:
    """Precision/recall of distinct (subj, pred, obj) triples, raw and
    canonical, and the share of oracle entities mapped to the oracle's
    canonical id (an entity the engine lacks counts as a disagreement)."""
    tp, tr = _pr(raw, exp.raw_triples)
    cp, cr = _pr(canon, exp.canonical_triples)
    agree = sum(canonical_of.get(e) == c for e, c in exp.canonical_of.items())
    return {"triple_p": tp, "triple_r": tr,
            "canon_triple_p": cp, "canon_triple_r": cr,
            "canon_map_agree": agree / len(exp.canonical_of)
            if exp.canonical_of else 1.0}


def passes(scores: dict[str, float]) -> bool:
    return all(v >= FLOOR for v in scores.values())


def triple_set(df: DataFrame) -> set[tuple[str, str, str]]:
    return {(r[0], r[1], r[2])
            for r in df.select("subj", "pred", "obj").distinct().collect()}


def observe(raw: DataFrame, canon: DataFrame, canonical_map: DataFrame
            ) -> tuple[set, set, dict[str, str]]:
    """Collect what the gate scores from an engine result."""
    cmap = {r[0]: r[1] for r in
            canonical_map.select("entity_id", "canonical_id").collect()}
    return triple_set(raw), triple_set(canon), cmap


def domain_counts(canon: set, canonical_of: dict[str, str]) -> dict[str, int]:
    """Counts that must repeat exactly across runs of one seed."""
    sizes: dict[str, int] = {}
    for c in canonical_of.values():
        sizes[c] = sizes.get(c, 0) + 1
    return {"entities": len(canonical_of), "canonicals": len(sizes),
            "max_component": max(sizes.values(), default=0),
            "canonical_triples": len(canon)}
