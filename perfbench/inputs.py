"""Seeded input generation for the benchmark workloads.

Everything here is pure Python + pyarrow and runs before the Spark
session starts, so no generation cost reaches a timed region. The same
seed always yields byte-identical inputs.

The ``documents`` corpus reproduces the shape of the engine's
``documents`` fixture (the table the Reddit-shaped views in
``plans.views`` are derived from): a 30-word vocabulary, 10-100 words
per doc, ``source = 'src' || doc_id % 20``, ``n_chars = len(text)``,
5% near-copies (an earlier doc's text + `` dup``) and a few exact copies.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
NEAR_COPY_SHARE = 0.05
EXACT_COPY_SHARE = 0.002

# terms that occur in no generated document: requests must also cover the
# no-hit path of every matcher
MISSING_TERMS = ("zebra", "quasar", "nebula")
TIME_FILTERS = ("all", "day", "week", "month", "year")

# audience session mix
REPEAT_SHARE = 0.25  # share of session steps that replay an earlier step exactly


def _doc_row(rng: random.Random, doc_id: int, text: str) -> tuple:
    lang = rng.choices(LANGS, LANG_WEIGHTS)[0]
    return doc_id, text, lang, f"src{doc_id % N_SOURCES}", len(text)


def _table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows))
    return pa.table(
        {
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
            "n_chars": pa.array(cols[4], pa.int64()),
        }
    )


def documents(seed: int, n_docs: int) -> pa.Table:
    """Fixture-shaped ``documents`` table of ``n_docs`` rows."""
    rng = random.Random(f"documents:{seed}")
    texts: list[str] = []
    rows = []
    for doc_id in range(n_docs):
        u = rng.random()
        if texts and u < NEAR_COPY_SHARE:
            text = rng.choice(texts) + " dup"
        elif texts and u < NEAR_COPY_SHARE + EXACT_COPY_SHARE:
            text = rng.choice(texts)
        else:
            text = " ".join(rng.choices(VOCAB, k=rng.randint(10, 100)))
        texts.append(text)
        rows.append(_doc_row(rng, doc_id, text))
    return _table(rows)


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


@dataclass(frozen=True)
class Step:
    """One analyst session step: a ``discover_communities`` request, then a
    ``scan_signals`` request over the top ``n_communities`` communities it
    returned (``fallback`` when it returned none)."""

    discover: dict = field(hash=False)
    scan: dict = field(hash=False)
    n_communities: int
    fallback: tuple[str, ...]
    repeat_of: int | None = None  # index of the step this one replays


def _terms(rng: random.Random, k: int, extra: tuple[str, ...] = ()) -> list[str]:
    """k distinct terms: vocabulary words, two-word phrases and no-hit words."""
    out: list[str] = []
    while len(out) < k:
        u = rng.random()
        if u < 0.55:
            t = rng.choice(VOCAB + list(extra))
        elif u < 0.85:
            t = f"{rng.choice(VOCAB)} {rng.choice(VOCAB)}"
        else:
            t = rng.choice(MISSING_TERMS)
        if t not in out:
            out.append(t)
    return out


def _step(rng: random.Random) -> Step:
    names = [f"src{s}" for s in rng.sample(range(N_SOURCES), 6)]
    discover = {
        # a community name among the terms exercises the direct-search leg
        "queries": _terms(rng, rng.randint(1, 3), extra=tuple(names[:2])),
        "comment_limit": rng.choice((10, 20)),
        "search_time_filter": rng.choice(TIME_FILTERS),
    }
    scan = {
        "keywords": _terms(rng, rng.randint(1, 4), extra=("dup",)),
        "post_limit": rng.choice((25, 50)),
        "comment_limit": rng.choice((50, 100)),
        "time_filter": rng.choice(TIME_FILTERS),
    }
    fallback = tuple(("r/" if rng.random() < 0.3 else "") + n for n in names[2:])
    return Step(discover, scan, rng.randint(2, 6), fallback)


def audience_session(seed: int, n: int, stream: str = "measured") -> list[Step]:
    """Seeded closed-loop session of ``n`` steps.

    Each step is fresh or, with probability REPEAT_SHARE, an exact replay
    of a uniformly chosen earlier step (an analyst re-running a search).
    ``stream`` separates the warm-up steps from the measured ones.
    """
    rng = random.Random(f"session:{stream}:{seed}")
    out: list[Step] = []
    for i in range(n):
        if out and rng.random() < REPEAT_SHARE:
            j = rng.randrange(i)
            src = out[j]
            out.append(Step(src.discover, src.scan, src.n_communities, src.fallback, j))
        else:
            out.append(_step(rng))
    return out
