"""Property tests for the ppjoin prefix-filter MATH of
``queries/dedup.py`` (``_df_sets`` and the filters built on it).
Symmetric path (exact_jaccard_pairs, so q_dedup_prefix_filter,
q_dedup_funnel and q_dedup_funnel_stages): under a global
(df, token) ordering with integer prefix length
``n - ceil(3n/5) + 1`` and the two-sided length filter, EVERY pair
with Jaccard >= 3/5 must share a token inside both prefixes.
Asymmetric path (``_probe_pairs``, so q_dedup_overlap_coeff and
q_dedup_containment): the smaller set's prefix must meet the larger
set, and the one-sided bitmap bound must keep the pair.

The DuckDB oracle proves the Spark implementation on fixture data;
this pins the pigeonhole argument itself on adversarial inputs —
df ties, singleton sets, near-threshold pairs — that fixtures may
never produce. Pure Python (no Spark), so hypothesis can hammer it.
"""

from __future__ import annotations

from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

_T_NUM, _T_DEN = 3, 5  # threshold 3/5, the registered operating point


def _prefix(tokens: frozenset, df: Counter,
            num: int = _T_NUM, den: int = _T_DEN) -> set:
    """First n - ceil(num*n/den) + 1 tokens under the global
    (df, token) order — the exact integer formula the Spark side uses:
    ceil(num*n/den) = (num*n + den - 1) DIV den."""
    n = len(tokens)
    k = n - (num * n + den - 1) // den + 1
    return set(sorted(tokens, key=lambda t: (df[t], t))[:k])


def _colliding_bits(docs: list, seed: int):
    """A seeded bucket hash over the corpus vocabulary with deliberate
    collisions (modulus drawn down to 4, so distinct tokens share
    buckets routinely, which only LOOSENS the bitmap bound); returns
    the set -> occupied-buckets function."""
    import random

    rng = random.Random(seed)
    mod = rng.choice([4, 16, 256])
    bucket = {t: rng.randrange(mod)
              for t in {t for s in docs for t in s}}
    return lambda s: frozenset(bucket[t] for t in s)


@st.composite
def _corpora(draw):
    n_docs = draw(st.integers(2, 8))
    vocab = draw(st.integers(3, 12))
    docs = []
    for _ in range(n_docs):
        s = draw(st.frozensets(st.integers(0, vocab - 1),
                               min_size=1, max_size=vocab))
        docs.append(s)
    return docs


@settings(max_examples=300, deadline=None)
@given(_corpora())
def test_prefix_filter_is_lossless_at_threshold(docs):
    df = Counter(t for s in docs for t in s)
    prefixes = [_prefix(s, df) for s in docs]
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = docs[i], docs[j]
            inter = len(a & b)
            union = len(a | b)
            if inter * _T_DEN < union * _T_NUM:
                continue  # below threshold: no claim
            # qualifying pair => the two-sided length filter keeps it
            assert _T_DEN * len(a) >= _T_NUM * len(b)
            assert _T_DEN * len(b) >= _T_NUM * len(a)
            # ...and the prefixes share at least one token
            assert prefixes[i] & prefixes[j], (
                f"lossy prefix: docs={a, b} prefixes="
                f"{prefixes[i], prefixes[j]} J={inter}/{union}")


@settings(max_examples=300, deadline=None)
@given(_corpora())
def test_weighted_suffix_bound_is_lossless(docs):
    """The weighted generalization (BASELINE.md round-6 negative
    result kept the exact join for cost, but the BOUND itself must
    hold): with any global order and per-doc prefix = minimal head
    whose suffix weight < t*w(doc) (include while 2*cum_before <=
    wt at t=1/2), every pair with weighted Jaccard >= 1/2 shares a
    token in both prefixes."""
    df = Counter(t for s in docs for t in s)
    # integer idf-ish weights >= 1, global per token (rarer = heavier)
    n_docs = len(docs)
    w = {t: (n_docs - df[t]) * 10 + 1 for t in df}
    order = sorted(w, key=lambda t: (-w[t], t))  # heavy first
    rank = {t: i for i, t in enumerate(order)}

    def wprefix(s):
        toks = sorted(s, key=lambda t: rank[t])
        wt = sum(w[t] for t in s)
        out, cum = set(), 0
        for t in toks:
            if 2 * cum <= wt:
                out.add(t)
            cum += w[t]
        return out

    prefixes = [wprefix(s) for s in docs]
    for i in range(n_docs):
        for j in range(i + 1, n_docs):
            a, b = docs[i], docs[j]
            iw = sum(w[t] for t in a & b)
            uw = sum(w[t] for t in a | b)
            if 2 * iw < uw:
                continue
            assert prefixes[i] & prefixes[j], (
                f"lossy weighted prefix: docs={a, b} "
                f"J_w={iw}/{uw}")


@settings(max_examples=300, deadline=None)
@given(_corpora(), st.integers(0, 2**31 - 1))
def test_suffix_bitmap_bound_is_lossless(docs, seed):
    """The round-8 ppjoin SUFFIX filter's Hamming bound
    (dedup._suffix_bitmap_cols): with ANY hash into 256 buckets,
    overlap <= n_a - popcount(bits_a & ~bits_b) and symmetrically
    for b — so pruning pairs whose bound cannot reach the 3/5
    threshold (8*bound >= 3*(na+nb)) never drops a qualifying pair.
    Hammered on adversarial inputs including forced bucket
    collisions (a seeded hash over a <= 12-token vocab collides
    constantly at small moduli, which only LOOSENS the bound)."""
    bits = _colliding_bits(docs, seed)
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = docs[i], docs[j]
            ba, bb = bits(a), bits(b)
            inter = len(a & b)
            union = len(a | b)
            bound = min(len(a) - len(ba - bb), len(b) - len(bb - ba))
            assert inter <= bound, (
                f"unsound bound: docs={a, b} inter={inter} "
                f"bound={bound}")
            # and the pruning inequality keeps every qualifying pair
            if inter * _T_DEN >= union * _T_NUM:
                assert 8 * bound >= 3 * (len(a) + len(b)), (
                    f"qualifying pair pruned: {a, b}")


@settings(max_examples=400, deadline=None)
@given(_corpora(), st.sampled_from([(4, 5), (1, 1), (3, 5)]),
       st.integers(0, 2**31 - 1))
def test_asymmetric_probe_filter_is_lossless(docs, threshold, seed):
    """The ASYMMETRIC path (dedup._probe_pairs; q_dedup_overlap_coeff
    at t = 4/5, q_dedup_containment at t = 1): for every ordered pair
    with n_s <= n_b and den*|S∩B| >= num*n_s, the smaller doc's
    prefix of n_s - ceil(num*n_s/den) + 1 tokens meets B, and the
    one-sided bitmap bound den*(n_s - popcount(bits_s & ~bits_b)) >=
    num*n_s keeps the pair under a colliding bucket hash."""
    num, den = threshold
    df = Counter(t for s in docs for t in s)
    bits = _colliding_bits(docs, seed)
    for i, s in enumerate(docs):
        prefix = _prefix(s, df, num, den)
        for j, b in enumerate(docs):
            if i == j or len(s) > len(b):
                continue
            if den * len(s & b) < num * len(s):
                continue  # below threshold: no claim
            assert prefix & b, (
                f"lossy probe prefix at {num}/{den}: S={s} B={b} "
                f"prefix={prefix}")
            assert den * (len(s) - len(bits(s) - bits(b))) >= num * len(s), (
                f"qualifying pair pruned by the suffix bound at "
                f"{num}/{den}: S={s} B={b}")
