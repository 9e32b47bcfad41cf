"""Seeded inputs for the indexing benchmark, and their cached oracle answers.

Every workload's transcripts derive from ``--seed`` alone.  The expected
outputs come from ``graphrag_rs_spark.oracle.run_oracle_pipeline`` run once
per (workload, seed) on the same rows and cached as JSON beside the input,
so neither generation nor the oracle is ever inside a timed region.  The
cache is keyed by a hash of the sources that decide both, so changing the
generator, the oracle or its linking logic regenerates it.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import pickle
import random
from dataclasses import dataclass

from graphrag_rs_spark import datagen

# bulk_index input: datagen transcripts.  Entity names saturate at about a
# thousand, so canonicalization costs a near-constant 2.5-5 s and the rest
# of a pass grows with the turns.  The size is capped by the run budget,
# not chosen for the layer split: in traced passes (4 vCPUs) block + score
# + cc were 0.33 of the pass at 800 turns, 0.37 at 4,000 and 0.33 at
# 30,000, and every extra 1,000 turns costs a run ~0.8 s (the passes,
# the oracle, scoring): at 30,000 turns the ~50 runs of a full measurement
# would take ~10 minutes longer and overrun the 57 they may take.  The
# rows are cut at a fixed turn count, and conversations at 12 turns:
# datagen's turns per conversation are heavy-tailed, and at its default
# cap of 120 a few long conversations decided the distinct triples
# (coefficient of variation 0.09 across seeds, against 0.03 here) and with
# them a pass's wall time
BULK_TURNS, BULK_MAX_TURNS = 800, 12

# link_heavy vocabulary (fixed, see link_heavy_vocabulary).  Every person
# is "<First> <Last>" where the last names all share one soundex code: each
# is a token bucket under canonicalize.MAX_BLOCK_SIZE (hundreds of
# thousands of candidate pairs to block and score), while the shared
# soundex bucket holds every person and so exceeds the cap and is dropped.
LINK_LAST_NAMES = ("Lee", "Law", "Loy", "Lay")  # soundex L000 for all four
LINK_FIRST_BASES = 136                       # x2 typo forms x4 last names
LINK_PLACES = 40                             # "University of <Place>" orgs
LINK_TURNS = 2000                            # every person is used by then

_ONSETS = ("b", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p", "r", "s",
           "t", "v", "w", "z", "br", "cl", "dr", "gr", "st", "tr", "sh")
_VOWELS = ("a", "e", "i", "o", "u", "ai", "ea", "io", "ou")
_CODAS = ("", "", "n", "r", "l", "s", "th", "m", "nd")


def _word(rng: random.Random, syllables: int) -> str:
    w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS)
                for _ in range(syllables)) + rng.choice(_CODAS)
    return w.capitalize()


def _typo(rng: random.Random, name: str) -> str:
    """One fixed misspelling: drop, double or swap an interior letter."""
    i = rng.randrange(1, len(name) - 1)
    kind = rng.randrange(3)
    if kind == 0:
        return name[:i] + name[i + 1:]
    if kind == 1:
        return name[:i] + name[i] + name[i:]
    return name[:i] + name[i + 1] + name[i] + name[i + 2:]


def _distinct_words(rng: random.Random, n: int, syllables: tuple[int, int],
                    taken: set[str]) -> list[str]:
    out: list[str] = []
    while len(out) < n:
        w = _word(rng, rng.randint(*syllables))
        lw = w.lower()
        if len(w) >= 4 and lw not in taken:
            taken.add(lw)
            out.append(w)
    return out


def link_heavy_vocabulary() -> tuple[list[str], list[str]]:
    """→ (person names, university places).  Fixed: every seed links the
    same names, each with the same typo variant; the seed only decides
    the transcripts they appear in."""
    rng = random.Random("link_heavy/vocabulary")
    taken = {w.lower() for w in datagen.FIRST_NAMES + datagen.LAST_NAMES}
    bases = _distinct_words(rng, LINK_FIRST_BASES, (1, 1), taken)
    firsts: list[str] = []
    for b in bases:
        firsts.append(b)
        t = _typo(rng, b)
        if t.lower() not in taken and len(t) >= 3:
            taken.add(t.lower())
            firsts.append(t)
    persons = [f"{f} {last}" for f in firsts for last in LINK_LAST_NAMES]
    places = _distinct_words(rng, LINK_PLACES, (2, 3), taken)
    return persons, places


def link_heavy_rows(seed: int) -> list[dict]:
    """LINK_TURNS turns in datagen's schema and sentence templates over the
    wide link_heavy vocabulary.  Persons are drawn from a shuffle of the
    whole vocabulary until it runs out, so every name appears at least
    once; after that, at random."""
    persons, places = link_heavy_vocabulary()
    rng = random.Random(f"link_heavy/rows/{seed}")
    queue = list(persons)
    rng.shuffle(queue)

    def person() -> str:
        return queue.pop() if queue else rng.choice(persons)

    def org() -> str:
        return f"{rng.choice(datagen.ORG_STEMS)} {rng.choice(datagen.ORG_SUFFIXES)}"

    def sentence() -> str:
        roll = rng.random()
        loc = rng.choice(datagen.LOCATIONS)
        if roll < 0.20:
            return f"{person()} works for {org()} in {loc}."
        if roll < 0.32:
            return (f"{rng.choice(datagen.TITLES)} {person()} is a professor "
                    f"at the University of {rng.choice(places)}.")
        if roll < 0.40:
            return f"{org()} is headquartered in {loc}."
        if roll < 0.52:
            return f"{person()} was born in {loc}."
        if roll < 0.62:
            return f"{person()} founded {org()}."
        if roll < 0.74:
            return f"{person()} married {person()}."
        if roll < 0.88:
            return f"{person()} is a colleague of {person()}."
        return f"{person()} lives in {loc}."

    def filler() -> str:
        return " ".join(rng.choice(datagen.FILLER)
                        for _ in range(rng.randint(6, 18))) + "."

    # user turns carry one template sentence, assistant turns lowercase
    # filler: no capitalized word ever ends one sentence right before a
    # name starts the next, so the extractor cannot glue "<Place> <First>"
    # into spurious persons that would inflate the vocabulary
    base_ts = dt.datetime(2025, 1, 1)
    rows: list[dict] = []
    c = 0
    while len(rows) < LINK_TURNS:
        for t in range(2 * rng.randint(1, 4)):
            user = t % 2 == 0
            rows.append({
                "conv_id": f"conv_{c:06d}", "turn_idx": t,
                "role": "user" if user else "assistant",
                "text": sentence() if user else filler(),
                "tool": "" if user else rng.choice(datagen.TOOLS),
                "ts": base_ts + dt.timedelta(minutes=c * 30, seconds=t * 7),
            })
        c += 1
    if queue:
        raise RuntimeError(f"{len(queue)} persons unused; raise LINK_TURNS")
    return rows[:LINK_TURNS]


WORKLOADS = ("bulk_index", "link_heavy")


def generate(workload: str, seed: int) -> list[dict]:
    if workload == "link_heavy":
        return link_heavy_rows(seed)
    if workload == "bulk_index":
        # every conversation has at least one turn: BULK_TURNS of them suffice
        rows = datagen.generate_rows(BULK_TURNS, seed=seed,
                                     max_turns=BULK_MAX_TURNS)
        return rows[:BULK_TURNS]
    raise ValueError(f"unknown workload {workload!r}")


@dataclass
class Prepared:
    """One (workload, seed) input on disk plus the oracle's answers."""
    parquet: str
    turns: int
    raw_triples: set[tuple[str, str, str]]
    canonical_triples: set[tuple[str, str, str]]
    canonical_of: dict[str, str]          # every oracle entity → canonical
    record_path: str                      # recorded values of earlier runs


def _write_atomic(path: str, data: str | bytes) -> None:
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb" if isinstance(data, bytes) else "w") as fh:
        fh.write(data)
    os.replace(tmp, path)


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "graphrag_rs_spark")
# the sources that decide the generated rows and the oracle's answers
INPUT_SOURCES = tuple(os.path.join(PACKAGE, f) for f in (
    "config.py", "datagen.py", "oracle.py", "reference_logic.py")) \
    + (os.path.abspath(__file__),)


def source_stamp(paths) -> str:
    """A short hash of the files' contents, in the order given."""
    h = hashlib.sha256()
    for path in paths:
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def code_files() -> list[str]:
    """Every Python source of the package and of the benchmark."""
    return sorted(os.path.join(d, f)
                  for top in (PACKAGE, HERE)
                  for d, _, names in os.walk(top)
                  for f in names if f.endswith(".py"))


def run_oracle(rows: list[dict], memo_path: str):
    """oracle.run_oracle_pipeline with reference_logic.compute_similarity
    memoized in `memo_path`.  The oracle scores every pair of names
    (~690k on link_heavy, ~30 us each: ~21 s per seed, ~8 s on
    bulk_index); the function is pure and both vocabularies repeat across
    seeds, so later seeds reuse the scores of earlier ones and get the
    identical answer in ~2.5 s.  Every run of a measurement uses a new
    seed, so without the memo its ~50 runs (~51 minutes) would take ~9
    minutes longer and no longer fit the 57 they may take.  The memo's
    file name carries the hash of the oracle's sources, so a change to the
    scoring starts a new one."""
    from graphrag_rs_spark import reference_logic as rl
    from graphrag_rs_spark.oracle import run_oracle_pipeline

    # keyword arguments → (name1, name2, same_type) → similarity
    memo: dict[tuple, dict[tuple, float]] = {}
    if os.path.exists(memo_path):
        with open(memo_path, "rb") as fh:   # written by this function only
            memo = pickle.load(fh)
    known = sum(map(len, memo.values()))
    compute = rl.compute_similarity

    def memoized(name1, name2, same_type=True, **kwargs):
        scores = memo.setdefault(tuple(sorted(kwargs.items())), {})
        sim = scores.get((name1, name2, same_type))
        if sim is None:
            sim = scores[(name1, name2, same_type)] = compute(
                name1, name2, same_type, **kwargs)
        return sim

    rl.compute_similarity = memoized
    try:
        result = run_oracle_pipeline(rows)
    finally:
        rl.compute_similarity = compute
    if sum(map(len, memo.values())) > known:
        _write_atomic(memo_path,
                      pickle.dumps(memo, protocol=pickle.HIGHEST_PROTOCOL))
    return result


def prepare(workload: str, seed: int, cache_dir: str) -> Prepared:
    """Generate the rows and run the oracle once per (workload, seed) and
    version of the sources that decide them; later calls read both back
    from `cache_dir`.  Counts recorded for the exact-repeat check are kept
    per version of the whole code base."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    stamp = source_stamp(INPUT_SOURCES)
    d = os.path.join(cache_dir, f"{workload}_s{seed}_{stamp}")
    os.makedirs(d, exist_ok=True)
    parquet = os.path.join(d, "transcripts.parquet")
    expected = os.path.join(d, "oracle.json")
    if not (os.path.exists(parquet) and os.path.exists(expected)):
        rows = generate(workload, seed)
        cols = {f.name: [r[f.name] for r in rows] for f in datagen.arrow_schema()}
        tmp = f"{parquet}.tmp.{os.getpid()}"
        pq.write_table(pa.Table.from_pydict(cols, schema=datagen.arrow_schema()),
                       tmp)
        os.replace(tmp, parquet)
        o = run_oracle(rows, os.path.join(cache_dir,
                                          f"similarity_{stamp}.pickle"))
        _write_atomic(expected, json.dumps({
            "turns": len(rows),
            "raw_triples": sorted(o.triple_set(canonical=False)),
            "canonical_triples": sorted(o.triple_set()),
            "canonical_of": {e["entity_id"]:
                             o.canonical_map.get(e["entity_id"], e["entity_id"])
                             for e in o.entities},
        }))
    with open(expected) as fh:
        e = json.load(fh)
    return Prepared(
        parquet=parquet, turns=e["turns"],
        raw_triples={tuple(t) for t in e["raw_triples"]},
        canonical_triples={tuple(t) for t in e["canonical_triples"]},
        canonical_of=e["canonical_of"],
        record_path=os.path.join(
            d, f"recorded_{source_stamp(code_files())}.json"),
    )


def check_recorded(record_path: str, key: str,
                   values: dict[str, float]) -> list[str]:
    """Exact-repeat check: the first run of a (workload, seed, key) records
    `values`; every later run must reproduce them exactly.  → the names
    that differ (empty on the first run)."""
    recorded: dict[str, dict[str, float]] = {}
    if os.path.exists(record_path):
        with open(record_path) as fh:
            recorded = json.load(fh)
    if key not in recorded:
        recorded[key] = values
        _write_atomic(record_path, json.dumps(recorded, sort_keys=True))
        return []
    old = recorded[key]
    return sorted(k for k in set(old) | set(values)
                  if old.get(k) != values.get(k))
