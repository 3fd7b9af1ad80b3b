"""The benchmark's workloads and its seeded inputs.

A workload is a fixed pool of operations plus the fixture directory
they read. The seed fixes two things only: the order of the pool in
each pass of the closed loop, and the text corpus the MapReduce apps
read. Pool membership never depends on the seed, and the timed phase
runs a fixed number of whole passes, so every run of a workload times
the same multiset of operations.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np


# A pool entry with this prefix is a reference app run through
# ``my_mapreduce_spark.__main__.run`` over the generated corpus; any
# other entry is a registry query name.
MR = "mr:"


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str                      # fixture scale of its queries, e.g. "0.1"
    pool: tuple[str, ...]
    # Nominal seconds of one timed pass on a quiet 4-core host. It only
    # turns ``--seconds`` into a whole number of passes; the count never
    # depends on how fast the host happens to be, so every run of a
    # workload times the same ops at the same point of warm-up.
    pass_s: float
    # the untimed streaming warm-up run during set-up, if any
    stream_warmup: str | None = None
    # untimed passes between verification and the timed phase. multi_job
    # needs one: over ten runs its CPU per op spread (IQR / median) 0.19
    # without it and 0.10-0.14 with it; short_queries 0.07-0.13 either way.
    warm_passes: int = 0

    @property
    def mapreduce(self) -> bool:
        return any(e.startswith(MR) for e in self.pool)

    def timed_passes(self, seconds: float) -> int:
        # at least three, so each entry's median op has a middle
        return max(3, round(seconds / self.pass_s))


WORKLOADS = {w.name: w for w in (
    # Sub-second queries: fixed per-query cost (plan building, table
    # loads, Catalyst, job launch, cache release) is most of the wall.
    Workload("short_queries", "0.1", (
        "q1_pricing_summary", "q6_revenue_change", "q_window_rank_topn",
        "q_string_funcs", "wc_word_count", "indexer_inverted_index",
        "early_exit_file_count", "concat_agg",
    ), pass_s=3.5),
    # Ops that are each several driver-sequenced jobs: a fixpoint with
    # an eager checkpoint per round, a stateful stream run in
    # micro-batches, and the paper's own MapReduce model (Python map,
    # collect_list shuffle, Python reduce, mr-out text sink). Queries
    # run at sf0.01, where per-job and per-round cost is the story.
    Workload("multi_job", "0.01", (
        "q_pagerank", "q_streaming_sessionize", MR + "wc",
    ), pass_s=7.0, stream_warmup="q_streaming_hourly", warm_passes=1),
)}

# the untimed batch warm-up op run during set-up
WARMUP = "q1_pricing_summary"


def passes(pool: tuple[str, ...], seed: int, n: int):
    """``n`` passes over ``pool``, each in a seeded order."""
    rng = random.Random(seed)
    for _ in range(n):
        order = list(pool)
        rng.shuffle(order)
        yield order


# --- the MapReduce apps' corpus ---------------------------------------------

_LETTERS = "abcdefghijklmnopqrstuvwxyz" * 4 + "éüñøßçåæ"


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(2, 11))
        words.add("".join(rng.choice(list(_LETTERS), n)))
    out = sorted(words)
    rng.shuffle(out)
    return out


def write_corpus(out_dir: str, seed: int, files: int = 8,
                 kb: tuple[int, int] = (30, 90),
                 vocab: int = 6000) -> list[str]:
    """Write ``files`` text files shaped like the reference's
    ``pg-*.txt`` inputs: words drawn from one Zipfian vocabulary
    (exponent 1.1), mixed case, punctuation, digits and non-ASCII
    letters, sizes drawn from ``kb``. Returns the paths, sorted."""
    rng = np.random.default_rng(seed)
    words = _vocabulary(rng, vocab)
    ranks = np.arange(1, vocab + 1, dtype=float)
    p = ranks ** -1.1
    p /= p.sum()
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(files):
        target = int(rng.integers(kb[0], kb[1] + 1)) * 1024
        n_words = target // 6
        idx = rng.choice(vocab, size=n_words, p=p)
        toks = [words[j] for j in idx]
        caps = rng.random(n_words) < 0.08
        punct = rng.choice(["", "", "", "", ",", ".", ";", "!", " 1897",
                            "'s", " --"], size=n_words)
        lines, line = [], []
        for t, c, q in zip(toks, caps, punct):
            line.append((t.capitalize() if c else t) + q)
            if len(line) >= 12:
                lines.append(" ".join(line))
                line = []
        lines.append(" ".join(line))
        path = os.path.join(out_dir, f"pg-{i}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        paths.append(path)
    return paths
