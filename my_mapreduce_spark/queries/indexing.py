"""Positional indexing, phrase search, chunking, and BPE-style pair
statistics over ``documents`` (SURVEY.md §2D north-star depth).

These extend the reference's inverted index (mrapps/indexer.go:21-40
emits term -> doc list) to the structures a real retrieval / LLM-data
stack builds:

- ``q_positional_index``: postings with in-document positions (the
  index a phrase/proximity search engine needs, vs the doc-only
  postings of the reference's indexer);
- ``q_phrase_search``: exact-phrase matching by position-adjacency
  self-joins over those postings;
- ``q_doc_chunking``: overlapping token-window chunks (the context-
  window chunking step of an embedding/RAG ingest pipeline);
- ``q_bpe_pair_counts``: the first iteration of BPE tokenizer
  training — corpus-weighted adjacent-symbol pair counts.

All four are fully DuckDB-oracle-checked.

Scale shape (100 TB): every operator is one corpus scan into token
arrays, then array-local work (transform/filter on the array) before
any explode, so exploded row counts are bounded by what the operator
actually needs (matched terms, chunk starts, distinct words). The
only shuffles are keyed aggregations (term / pair / doc) and the
phrase join, which is an equi-join on (doc_id, pos) — co-partitioned
by doc, never a cross join. Top-k outputs use sort+limit
(TakeOrderedAndProject: per-partition partial top-k), not a global
single-partition window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from my_mapreduce_spark.functions.text import tokens
from my_mapreduce_spark.io import load_table
from my_mapreduce_spark.registry import register, register_audit_plan

_TOP_TERMS = 20          # positional-index term budget
_PHRASE = ("small", "query", "line")
_CHUNK = 64              # chunk size in tokens
_STRIDE = 48             # chunk stride (CHUNK - STRIDE = 16 token overlap)
_TOP_PAIRS = 30          # BPE pair budget

# Shared token-array CTE: lowercase alnum tokens, 1-based positions
# via a numbers relation (DuckDB 1.0 has no lateral generate_series).
_TOKS_CTE = """
    toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS w
        FROM documents),
    nums AS (SELECT unnest(generate_series(
                 1, (SELECT MAX(len(w)) FROM toks))) AS i),
    pos AS (SELECT doc_id, w[i] AS term, CAST(i AS BIGINT) AS p
            FROM toks JOIN nums ON nums.i <= len(toks.w))
"""


def _positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term, p) token-position relation, 1-based positions."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        tokens(F.lower("text")).alias("w"))
    return toks.select(
        "doc_id", F.posexplode("w").alias("p0", "term")
    ).select("doc_id", "term", (F.col("p0") + 1).cast("long").alias("p"))


@register(
    "q_positional_index",
    oracle=f"""
    WITH {_TOKS_CTE},
    totals AS (
        SELECT term, SUM(1) AS total_tf FROM pos GROUP BY term),
    top_terms AS (
        SELECT term FROM totals
        ORDER BY total_tf DESC, term LIMIT {_TOP_TERMS}),
    postings AS (
        SELECT pos.term, pos.doc_id,
               COUNT(*) AS tf,
               list_aggregate(list_sort(list(pos.p)), 'string_agg', ',')
                   AS positions
        FROM pos JOIN top_terms USING (term)
        GROUP BY pos.term, pos.doc_id)
    SELECT term, doc_id, tf, positions FROM postings
    """,
    tags=("indexing", "text", "retrieval"),
)
def q_positional_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional posting lists for the 20 highest-frequency terms:
    (term, doc_id, tf, sorted comma-joined positions) — the index structure
    phrase and proximity search need, extending the reference's
    doc-only inverted index (mrapps/indexer.go:37-40).

    One corpus scan feeds posexplode; the term budget is selected by
    a sort+limit over term totals (map-side-combined agg, then
    TakeOrderedAndProject) and broadcast back, so the big posting agg
    only shuffles rows for the 20 surviving terms. Positions
    aggregate with collect_list + sort_array per (term, doc) — the
    per-cell list is bounded by per-doc term frequency, not corpus
    size.
    """
    pos = _positions(spark, sf_dir)
    top = (pos.groupBy("term").agg(F.count("*").alias("total_tf"))
           .orderBy(F.col("total_tf").desc(), "term").limit(_TOP_TERMS)
           .select("term"))
    return (pos.join(F.broadcast(top), "term")
            .groupBy("term", "doc_id")
            .agg(F.count("*").alias("tf"),
                 F.array_join(F.sort_array(F.collect_list("p")), ",")
                 .alias("positions")))


@register(
    "q_phrase_search",
    oracle=f"""
    WITH {_TOKS_CTE},
    t1 AS (SELECT doc_id, p FROM pos WHERE term = '{_PHRASE[0]}'),
    t2 AS (SELECT doc_id, p FROM pos WHERE term = '{_PHRASE[1]}'),
    t3 AS (SELECT doc_id, p FROM pos WHERE term = '{_PHRASE[2]}'),
    hits AS (
        SELECT t1.doc_id, t1.p AS start_pos
        FROM t1
        JOIN t2 ON t2.doc_id = t1.doc_id AND t2.p = t1.p + 1
        JOIN t3 ON t3.doc_id = t1.doc_id AND t3.p = t1.p + 2)
    SELECT doc_id, COUNT(*) AS n_matches, MIN(start_pos) AS first_pos
    FROM hits GROUP BY doc_id
    """,
    tags=("indexing", "text", "retrieval"),
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search for "small query line" by position-adjacency joins:
    a doc matches where the three terms occur at consecutive
    positions. Returns (doc_id, n_matches, first_pos).

    Each term's postings are filtered BEFORE the join (the filter
    reaches the scan), so the join inputs are O(tf(term)) rows, and
    both joins are equi-joins on (doc_id, position±k) — hash joins
    co-keyed by doc_id, no theta/cross shape anywhere. This is the
    standard positional-index phrase plan: cost scales with the
    rarest term's postings, not the corpus.
    """
    pos = _positions(spark, sf_dir)
    t1 = pos.where(F.col("term") == _PHRASE[0]).select("doc_id", F.col("p").alias("p1"))
    t2 = pos.where(F.col("term") == _PHRASE[1]).select(
        F.col("doc_id").alias("d2"), F.col("p").alias("p2"))
    t3 = pos.where(F.col("term") == _PHRASE[2]).select(
        F.col("doc_id").alias("d3"), F.col("p").alias("p3"))
    hits = (t1
            .join(t2, (F.col("d2") == F.col("doc_id"))
                  & (F.col("p2") == F.col("p1") + 1))
            .join(t3, (F.col("d3") == F.col("doc_id"))
                  & (F.col("p3") == F.col("p1") + 2)))
    return (hits.groupBy("doc_id")
            .agg(F.count("*").alias("n_matches"),
                 F.min("p1").alias("first_pos")))


@register(
    "q_doc_chunking",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS w
        FROM documents),
    nums AS (SELECT unnest(generate_series(
                 1, (SELECT MAX(len(w)) FROM toks))) AS i),
    starts AS (
        SELECT doc_id, w, CAST(i AS BIGINT) AS start_tok
        FROM toks JOIN nums
          ON nums.i <= len(toks.w) AND (nums.i - 1) % {_STRIDE} = 0)
    SELECT doc_id,
           CAST((start_tok - 1) / {_STRIDE} AS BIGINT) AS chunk_id,
           start_tok,
           CAST(least(start_tok + {_CHUNK} - 1, len(w)) AS BIGINT) AS end_tok,
           CAST(least(start_tok + {_CHUNK} - 1, len(w)) - start_tok + 1
                AS BIGINT) AS n_tok,
           w[CAST(start_tok AS INT)] AS first_tok
    FROM starts
    """,
    tags=("indexing", "chunking", "text"),
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token chunks, stride
    48): each doc yields ceil(n_tokens/48) chunks with 1-based
    token bounds — the context-window splitting step every
    embedding/RAG ingest pipeline runs before vectorizing.

    The chunk starts are generated ARRAY-LOCALLY with
    sequence(1, n, 48) and exploded — O(chunks) rows, not
    O(tokens); no join, no shuffle at all (the output is a pure
    per-row flatMap of the corpus scan, embarrassingly parallel at
    any scale). Chunk text itself is a substring of the token array
    (first_tok returned as the witness column).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        tokens(F.lower("text")).alias("w")).where(F.size("w") >= 1)
    # (the size guard: sequence(1, 0, 48) THROWS on zero-token docs)
    n = F.size("w")
    starts = toks.select(
        "doc_id", "w",
        F.explode(F.sequence(F.lit(1), n, F.lit(_STRIDE))).alias("start0")
    ).select("doc_id", "w", F.col("start0").cast("long").alias("start_tok"))
    end = F.least(F.col("start_tok") + _CHUNK - 1, F.size("w").cast("long"))
    return starts.select(
        "doc_id",
        ((F.col("start_tok") - 1) / _STRIDE).cast("long").alias("chunk_id"),
        "start_tok",
        end.alias("end_tok"),
        (end - F.col("start_tok") + 1).alias("n_tok"),
        F.element_at("w", F.col("start_tok").cast("int")).alias("first_tok"))


@register(
    "q_bpe_pair_counts",
    oracle=f"""
    WITH toks AS (
        SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS w
        FROM documents),
    words AS (
        SELECT term, COUNT(*) AS freq
        FROM (SELECT unnest(w) AS term FROM toks)
        GROUP BY term),
    long_words AS (SELECT * FROM words WHERE len(term) >= 2),
    nums AS (SELECT unnest(generate_series(
                 1, (SELECT MAX(len(term)) FROM long_words) - 1)) AS i),
    pairs AS (
        SELECT substr(term, CAST(i AS INT), 2) AS pair, freq
        FROM long_words JOIN nums ON nums.i <= len(term) - 1),
    counted AS (
        SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
        FROM pairs GROUP BY pair)
    SELECT pair, pair_count,
           ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS rnk
    FROM counted ORDER BY pair_count DESC, pair LIMIT {_TOP_PAIRS}
    """,
    tags=("indexing", "tokenizer", "bpe"),
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE training iteration: corpus-weighted adjacent
    character-pair counts, top 30 — the merge-candidate table a
    byte-pair-encoding tokenizer trainer maintains (each subsequent
    iteration merges the argmax pair and recounts).

    The corpus collapses to its word-frequency table FIRST (one
    token explode + hash agg with map-side combine), so the pair
    generation runs over |vocabulary| rows, not |corpus tokens| —
    the same trick real BPE trainers use. Pairs are generated
    array-locally (transform over sequence(1, len-1)), exploded
    O(len) per DISTINCT word, and hash-aggregated; the final top-30
    is sort+limit, with the rank window running on 30 rows only.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (docs.select(
        F.explode(tokens(F.lower("text"))).alias("term"))
        .groupBy("term").agg(F.count("*").alias("freq"))
        .where(F.length("term") >= 2))
    pairs = words.select(
        F.explode(F.expr(
            "transform(sequence(1, length(term) - 1),"
            " i -> substring(term, i, 2))")).alias("pair"),
        "freq")
    counted = pairs.groupBy("pair").agg(F.sum("freq").alias("pair_count"))
    w = Window.orderBy(F.col("pair_count").desc(), "pair")
    return (counted.orderBy(F.col("pair_count").desc(), "pair")
            .limit(_TOP_PAIRS)
            .withColumn("rnk", F.row_number().over(w)))


_SKIP_WINDOW = 2      # context window (forward offsets 1..2)
_TOP_COOC = 40


@register(
    "q_skipgram_cooc",
    oracle=f"""
    WITH {_TOKS_CTE},
    pairs AS (
        SELECT p1.term AS center, p2.term AS context,
               1.0 / (p2.p - p1.p) AS wgt
        FROM pos p1
        JOIN pos p2 ON p2.doc_id = p1.doc_id
                   AND p2.p - p1.p BETWEEN 1 AND {_SKIP_WINDOW}),
    counted AS (
        SELECT center, context,
               COUNT(*) AS n_cooc,
               SUM(wgt) AS wgt_sum
        FROM pairs GROUP BY center, context),
    ranked AS (
        SELECT center, context, n_cooc, wgt_sum,
               ROW_NUMBER() OVER (ORDER BY wgt_sum DESC, center, context)
                   AS rnk
        FROM counted)
    SELECT center, context, n_cooc, ROUND(wgt_sum, 6) AS weight, rnk
    FROM ranked WHERE rnk <= {_TOP_COOC}
    """,
    tags=("indexing", "text", "embedding-prep"),
)
def q_skipgram_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-weighted skip-gram co-occurrence counts (forward
    window 2, weight 1/distance) — the (center, context) count
    matrix word2vec/GloVe-style embedding training consumes; also
    the collocation upgrade of q_bigram_pmi's adjacent-only pairs.

    Pairs are generated ARRAY-LOCALLY (nested transform over the
    token array: for each position, its next 2 tokens), so the
    corpus scan emits O(tokens x 2) rows with NO join — the
    positional self-join in the oracle is the semantic spec, not
    the plan. One hash agg with map-side combine, then top-40 via
    sort+limit; the rank window runs on 40 rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        tokens(F.lower("text")).alias("w")).where(F.size("w") >= 2)
    pairs = toks.select(F.explode(F.expr(f"""
        flatten(transform(sequence(1, size(w) - 1), i ->
            transform(sequence(i + 1, least(i + {_SKIP_WINDOW}, size(w))),
                      j -> struct(element_at(w, i) AS center,
                                  element_at(w, j) AS context,
                                  double(1) / (j - i) AS wgt))))
        """)).alias("pr")).select("pr.center", "pr.context", "pr.wgt")
    counted = (pairs.groupBy("center", "context")
               .agg(F.count("*").alias("n_cooc"),
                    F.sum("wgt").alias("wgt_sum")))
    w = Window.orderBy(F.col("wgt_sum").desc(), "center", "context")
    return (counted
            .orderBy(F.col("wgt_sum").desc(), "center", "context")
            .limit(_TOP_COOC)
            .withColumn("rnk", F.row_number().over(w))
            .select("center", "context", "n_cooc",
                    F.round("wgt_sum", 6).alias("weight"), "rnk"))


_UDTF_CHUNK = 25  # non-overlapping span width (tokens)


@register(
    "q_udtf_chunk_spans",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
                           x -> x <> '') AS w
        FROM documents),
    c AS (
        SELECT doc_id, w,
               UNNEST(generate_series(
                   0, CAST(ceil(len(w) / {_UDTF_CHUNK}.0) AS INT) - 1))
                   AS chunk_seq
        FROM t WHERE len(w) > 0)
    SELECT doc_id, CAST(chunk_seq AS INT) AS chunk_seq,
           CAST(LEAST({_UDTF_CHUNK}, len(w) - chunk_seq * {_UDTF_CHUNK})
                AS INT) AS n_toks,
           w[chunk_seq * {_UDTF_CHUNK} + 1] AS first_tok,
           w[LEAST(len(w), chunk_seq * {_UDTF_CHUNK} + {_UDTF_CHUNK})]
               AS last_tok
    FROM c
    """,
    tags=("udtf", "chunking", "text"),
)
def q_udtf_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc chunk spans via a PYTHON UDTF in a SQL LATERAL join.

    The table-function extension point: a ``@udtf`` class whose
    ``eval`` yields one row per chunk, invoked per document with
    ``LATERAL`` correlation — the idiomatic Spark 4 surface for
    operators that map one row to a variable number of rows with
    imperative logic. Arrow-batched (``useArrow``); the tokenizer is
    byte-identical to the engine's JVM split so the DuckDB oracle is
    a full value check.

    Production note: for THIS op the pure-JVM explode
    (q_doc_chunking, indexing.py:187) is the faster path; the UDTF
    exists for the long tail of row-generators Spark has no builtin
    for (parsers, decoders, span extractors). Cost is one Python
    worker pass, no shuffle — chunk generation stays array-local
    per input partition.
    """
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType=("chunk_seq int, n_toks int, "
                      "first_tok string, last_tok string"),
          useArrow=True)
    class ChunkSpans:
        def eval(self, text: str):
            toks = [t for t in re.split(r"[^a-z0-9]+", text or "") if t]
            for seq in range(0, (len(toks) + _UDTF_CHUNK - 1) // _UDTF_CHUNK):
                lo = seq * _UDTF_CHUNK
                hi = min(len(toks), lo + _UDTF_CHUNK)
                yield seq, hi - lo, toks[lo], toks[hi - 1]

    spark.udtf.register("mmr_chunk_spans", ChunkSpans)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "mmr_udtf_docs")
    return spark.sql("""
        SELECT d.doc_id, c.chunk_seq, c.n_toks, c.first_tok, c.last_tok
        FROM mmr_udtf_docs d, LATERAL mmr_chunk_spans(d.text) c
    """)


_BPE_ITERS = 3


def _bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial BPE state: the distinct-word frequency table with each
    term split to its symbol array — shared by the training loop and
    its first-round audit plan (no drift)."""
    docs = load_table(spark, sf_dir, "documents")
    return (docs.select(
        F.explode(tokens(F.lower("text"))).alias("term"))
        .groupBy("term").agg(F.count("*").alias("freq"))
        .where(F.length("term") >= 2)
        .select(F.expr("filter(split(term, ''), x -> x <> '')").alias("syms"),
                "freq"))


_BPE_PAIRS_EXPR = ("transform(sequence(1, size(syms) - 1), "
                   "i -> struct(syms[i - 1] AS l, syms[i] AS r))")


@register(
    "q_bpe_train_merges",
    oracle=None,  # iterative argmax+merge is not reasonably ANSI-SQL-
                  # expressible; tests/test_indexing.py golden-checks the
                  # full 3-iteration trace against a pure-Python BPE
    tags=("bpe", "tokenizer", "iterative", "text"),
)
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 full BPE training iterations (count → argmax merge →
    re-segment), the loop q_bpe_pair_counts is one step of.

    Engine shape per iteration: adjacent-pair counts over the
    DISTINCT-word frequency table (vocabulary-bounded, map-side
    combined), a 1-row argmax collect (O(1) driver traffic, same
    contract as pagerank's changed-count), then the merge applied to
    every word IN PLACE with an ``aggregate`` fold that walks each
    symbol array left-to-right with a just-merged flag — the exact
    non-overlapping semantics real BPE uses ('aaa' + (a,a) → [aa, a])
    — array-local, no shuffle. State between iterations is the
    re-segmented vocabulary (persisted; unpersisted on exit).
    """
    vocab = _bpe_vocab(spark, sf_dir).persist()
    out_rows = []
    to_unpersist = [vocab]
    try:
        for it in range(1, _BPE_ITERS + 1):
            pairs = vocab.select(
                F.explode(F.expr(_BPE_PAIRS_EXPR)).alias("p"), "freq")
            best = (pairs.groupBy("p.l", "p.r")
                    .agg(F.sum("freq").alias("pair_count"))
                    .orderBy(F.col("pair_count").desc(), "l", "r")
                    .limit(1).collect())
            if not best:
                break
            left, right, cnt = best[0]["l"], best[0]["r"], \
                best[0]["pair_count"]
            out_rows.append((it, left, right, left + right, int(cnt)))
            lq, rq = left.replace("'", "\\'"), right.replace("'", "\\'")
            merge = F.expr(f"""
                aggregate(syms,
                    named_struct('arr', CAST(array() AS array<string>),
                                 'jm', false),
                    (acc, x) -> IF(size(acc.arr) > 0 AND NOT acc.jm
                                   AND element_at(acc.arr, -1) = '{lq}'
                                   AND x = '{rq}',
                        named_struct(
                            'arr', concat(
                                slice(acc.arr, 1, size(acc.arr) - 1),
                                array('{lq}{rq}')),
                            'jm', true),
                        named_struct('arr', concat(acc.arr, array(x)),
                                     'jm', false)),
                    acc -> acc.arr)""")
            vocab = vocab.select(merge.alias("syms"), "freq").persist()
            to_unpersist.append(vocab)
        return spark.createDataFrame(
            out_rows,
            "iter int, left string, right string, merged string, "
            "pair_count long")
    finally:
        for df in to_unpersist:
            df.unpersist()


@register_audit_plan(
    "q_bpe_train_merges",
    note="iteration 1's pair-count + argmax plan over the initial "
         "symbol vocabulary (_bpe_vocab, shared with the loop — no "
         "drift) — the loop's only shuffling per-round plan; the "
         "in-place merge step is an array-local projection with no "
         "exchange, and later rounds run this same plan over the "
         "re-segmented (never larger) vocabulary.")
def _q_bpe_train_round1(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = _bpe_vocab(spark, sf_dir)
    pairs = vocab.select(F.explode(F.expr(_BPE_PAIRS_EXPR)).alias("p"),
                         "freq")
    return (pairs.groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "l", "r").limit(1))


# Pinned merge table for the ENCODE side of BPE. The first three
# entries are exactly what q_bpe_train_merges learns on this corpus
# (er, in, ow at sf0.01); the rest extend the vocabulary with common
# English merges, including one second-level merge (er+s) so encoding
# exercises multi-character symbols. Order matters: merges apply
# sequentially, like a released tokenizer's merges.txt.
_BPE_MERGES = [("e", "r"), ("i", "n"), ("o", "w"), ("t", "h"),
               ("a", "n"), ("o", "n"), ("r", "e"), ("er", "s")]
_BPE_TOP = 20


def _bpe_chain_sql(word_expr: str = "word") -> str:
    """DuckDB expression: the spaced symbol string for a word after
    the pinned merge chain (shared by encode and fertility)."""
    s = f"' ' || regexp_replace({word_expr}, '(.)', '\\1 ', 'g')"
    for left, right in _BPE_MERGES:
        s = f"replace({s}, ' {left} {right} ', ' {left}{right} ')"
    return s


def _bpe_chain_col(word_col) -> "F.Column":
    """Spark twin of :func:`_bpe_chain_sql` — identical replace
    order, identical single-pass scan semantics."""
    s = F.concat(F.lit(" "), F.regexp_replace(word_col, "(.)", "$1 "))
    for left, right in _BPE_MERGES:
        s = F.replace(s, F.lit(f" {left} {right} "),
                      F.lit(f" {left}{right} "))
    return s


def _bpe_encode_oracle() -> str:
    s = _bpe_chain_sql()
    return f"""
    WITH words AS (
        SELECT UNNEST(list_filter(
            regexp_split_to_array(lower(text), '[^a-z0-9]+'),
            x -> x <> '')) AS word
        FROM documents),
    toks AS (
        SELECT UNNEST(list_filter(string_split(trim({s}), ' '),
                                  x -> x <> '')) AS token
        FROM words),
    counts AS (
        SELECT token, COUNT(*) AS n FROM toks GROUP BY token),
    ranked AS (
        SELECT token, n,
               ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rnk
        FROM counts)
    SELECT token, n, rnk FROM ranked WHERE rnk <= {_BPE_TOP}
    """


@register(
    "q_bpe_encode",
    oracle=_bpe_encode_oracle(),
    tags=("bpe", "tokenizer", "text", "encode"),
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE side of the BPE pair: apply a pinned 8-entry merge
    table (headed by exactly the merges q_bpe_train_merges learns on
    this corpus) to every word and report the top-20 resulting
    subword tokens — the vocabulary histogram a tokenizer rollout
    would be validated against.

    Each word becomes a space-separated symbol string and the merge
    table applies as a fixed chain of plain (non-regex) replaces —
    single-pass, left-to-right, non-overlapping, which is exactly
    the same scan semantics in the JVM's UTF8String.replace and in
    DuckDB, so the oracle is a full value match. (For runs of the
    same symbol this greedy single pass can merge one fewer pair
    than the trainer's fold — 'aaa' -> [aa, a] either way, but
    'aaaa' -> [aa, a, a] vs [aa, aa]; a released merges.txt applied
    by replace is deterministic, which is the property that matters
    for reproducible corpus tokenization.)

    Engine shape: everything up to the final count is array-local
    per word — explode, scalar replace chain, split — with ONE
    token-keyed hash aggregate (map-side combined) and a top-k. At
    100 TB the replace chain runs where the text lives; nothing
    shuffles except (token, partial-count) pairs, and the merge
    table ships as part of the plan (it is a model artifact, not
    data).

    Reference parity: the reference tokenizes with
    unicode.IsLetter splits only (mrapps/wc.go:14-18); subword
    encoding is north-star §2D tokenizer depth.
    """
    docs = load_table(spark, sf_dir, "documents").select("text")
    words = docs.select(
        F.explode(tokens(F.lower("text"))).alias("word"))
    s = _bpe_chain_col(F.col("word"))
    toks = words.select(
        F.explode(F.filter(F.split(F.trim(s), " "),
                           lambda x: x != "")).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.col("n").desc(), "token").limit(_BPE_TOP)
    w = Window.orderBy(F.col("n").desc(), "token")
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint"))


@register(
    "q_tokenizer_fertility",
    oracle=f"""
    WITH words AS (
        SELECT lang, UNNEST(list_filter(
            regexp_split_to_array(lower(text), '[^a-z0-9]+'),
            x -> x <> '')) AS word
        FROM documents),
    t AS (
        SELECT lang,
               CAST(len(list_filter(
                   string_split(trim({_bpe_chain_sql()}), ' '),
                   x -> x <> '')) AS BIGINT) AS ntok,
               CAST(length(word) AS BIGINT) AS nch
        FROM words)
    SELECT lang,
           COUNT(*) AS n_words,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           CAST(SUM(nch) AS BIGINT) AS n_chars,
           ROUND(CAST(SUM(ntok) AS DOUBLE) / COUNT(*), 6) AS fertility,
           ROUND(CAST(SUM(nch) AS DOUBLE) / SUM(ntok), 6)
               AS chars_per_token
    FROM t GROUP BY lang
    """,
    tags=("bpe", "tokenizer", "text", "eval"),
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY report per language: subword tokens per
    word and characters per token under the pinned BPE merge table —
    the standard cross-lingual tokenizer-quality metric (a language
    whose fertility is 2× another's pays 2× the sequence length for
    the same text, which is the first thing a multilingual data
    pipeline audits before fixing a tokenizer).

    Reuses q_bpe_encode's merge chain verbatim (one shared helper on
    each engine); per-word token counts are array-local ``size`` —
    the words never materialize as token rows at all, so this is
    strictly cheaper than the encode query: one scan, per-row scalar
    work, one hash aggregate to O(languages) rows. Counts are exact
    integers; the two ratios divide aggregated bigints, identical on
    both engines before ROUND.

    Reference parity: none (wc counts whitespace words only,
    mrapps/wc.go:14-18); north-star §2D tokenizer-eval depth.
    """
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    words = docs.select(
        "lang",
        F.explode(tokens(F.lower("text"))).alias("word"))
    t = words.select(
        "lang",
        F.size(F.filter(F.split(F.trim(_bpe_chain_col(F.col("word"))), " "),
                        lambda x: x != "")).cast("bigint").alias("ntok"),
        F.length("word").cast("bigint").alias("nch"))
    return (t.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum("ntok").alias("n_tokens"),
                 F.sum("nch").alias("n_chars"),
                 F.round(F.sum("ntok").cast("double")
                         / F.count(F.lit(1)), 6).alias("fertility"),
                 F.round(F.sum("nch").cast("double")
                         / F.sum("ntok"), 6).alias("chars_per_token")))


_GAP_TOP = 15


@register(
    "q_posting_gap_bits",
    oracle=f"""
    WITH p AS (
        SELECT DISTINCT token, doc_id FROM (
            SELECT doc_id, UNNEST(list_filter(
                regexp_split_to_array(text, '[^a-z0-9]+'),
                x -> x <> '')) AS token
            FROM documents)),
    g AS (
        SELECT token, doc_id,
               COALESCE(doc_id - LAG(doc_id) OVER (
                   PARTITION BY token ORDER BY doc_id),
                   doc_id + 1) AS gap
        FROM p),
    per AS (
        SELECT token,
               CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(length(bin(gap))) AS BIGINT) AS delta_bits,
               CAST(64 * COUNT(*) AS BIGINT) AS fixed_bits
        FROM g GROUP BY token)
    SELECT token, df, delta_bits, fixed_bits,
           fixed_bits - delta_bits AS bits_saved,
           ROUND(1.0 - CAST(delta_bits AS DOUBLE) / fixed_bits, 6)
               AS compression,
           ROW_NUMBER() OVER (
               ORDER BY fixed_bits - delta_bits DESC, token) AS rnk
    FROM per
    QUALIFY rnk <= {_GAP_TOP}
    """,
    tags=("indexing", "compression", "posting-list"),
)
def q_posting_gap_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list delta-gap compression accounting: for every
    term's doc_id-sorted posting list, the d-gaps (first gap from a
    -1 sentinel, so gap = doc_id + 1), the MINIMAL binary width of
    each gap (``length(bin(gap))`` — identical on both engines, no
    log2 float seam), and the per-term ledger against 64-bit fixed
    encoding: delta bits, fixed bits, bits saved, compression
    ratio. Top-15 terms by absolute bits saved — which is exactly
    the stopword head, because dense posting lists have gap ~1 and
    compress ~64x: the quantitative argument for why every real
    inverted index (and the positional index in this repo's
    production story) delta-encodes.

    Engine shape: explode -> distinct (token, doc_id) postings ->
    ONE token-partitioned LAG window (the shuffle the index build
    already pays — postings arrive grouped by term) -> token hash
    aggregate -> TakeOrderedAndProject top-15. Gap arithmetic and
    bit widths are exact integers end to end; the single float
    division happens after aggregation. At 100 TB the cost is the
    index-build shuffle and nothing else.

    Reference parity: extends B2 indexer (mrapps/indexer.go:14-30
    stores raw document lists, no encoding); north-star §2D
    indexing depth.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    p = (docs.select("doc_id", F.explode(tokens()).alias("token"))
         .distinct())
    w = Window.partitionBy("token").orderBy("doc_id")
    g = p.select(
        "token",
        F.coalesce(F.col("doc_id") - F.lag("doc_id").over(w),
                   F.col("doc_id") + 1).alias("gap"))
    per = (g.groupBy("token")
           .agg(F.count(F.lit(1)).alias("df"),
                F.sum(F.length(F.bin("gap"))).alias("delta_bits"))
           .withColumn("fixed_bits", 64 * F.col("df"))
           .withColumn("bits_saved",
                       F.col("fixed_bits") - F.col("delta_bits"))
           .withColumn("compression",
                       F.round(F.lit(1.0)
                               - F.col("delta_bits").cast("double")
                               / F.col("fixed_bits"), 6)))
    w_rank = Window.orderBy(F.col("bits_saved").desc(), "token")
    return (per.select("token", "df", "delta_bits", "fixed_bits",
                       "bits_saved", "compression")
            .orderBy(F.col("bits_saved").desc(), "token").limit(_GAP_TOP)
            .withColumn("rnk", F.row_number().over(w_rank).cast("bigint")))


# md5-derived 60-bit integer of a doc id — the per-posting unit of
# the XOR checksum (15 hex chars => always positive in a BIGINT).
_CK_SQL = ("CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) "
           "AS BIGINT)")


@register(
    "q_index_delta_merge",
    oracle=f"""
    WITH p AS (
        SELECT DISTINCT token, doc_id FROM (
            SELECT doc_id, UNNEST(list_filter(
                regexp_split_to_array(text, '[^a-z0-9]+'),
                x -> x <> '')) AS token
            FROM documents)),
    base AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS df_base
        FROM p WHERE doc_id % 10 < 8 GROUP BY token),
    delta AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS df_delta
        FROM p WHERE doc_id % 10 >= 8 GROUP BY token),
    full_ AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
               bit_xor({_CK_SQL}) AS postings_ck
        FROM p GROUP BY token)
    SELECT f.token,
           COALESCE(b.df_base, 0) AS df_base,
           COALESCE(d.df_delta, 0) AS df_delta,
           f.df, f.postings_ck
    FROM full_ f
    LEFT JOIN base b ON b.token = f.token
    LEFT JOIN delta d ON d.token = f.token
    """,
    tags=("indexing", "incremental", "ivm"),
)
def q_index_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental inverted-index maintenance, checked against a
    full rebuild: the corpus is split into a BASE segment (doc_id
    mod 10 < 8) and a DELTA of newly arrived docs (mod >= 8); each
    side builds per-term mergeable partials — document frequency
    plus an order-insensitive XOR checksum of md5-hashed posting
    ids — and the merged index is the full-outer join of the two
    partial relations with df added and checksums XORed (identity
    0). The ORACLE is the from-scratch rebuild over the whole
    corpus: value-identical df and checksum per term proves the
    merge lossless without ever materializing a posting list as a
    row value.

    This is the incremental-view-maintenance shape that actually
    scales: when the delta arrives, ONLY delta documents are
    scanned and only terms present in the delta do any work — the
    base partials are carried over untouched, which is the entire
    point at 100 TB where re-signing the historical corpus per
    ingest batch is the cost being designed away
    (q_dedup_incremental plays the same game for signatures; this
    is the index-side twin). XOR is commutative/associative with
    no overflow, so checksum partials merge in any order and any
    grouping — segment, shard, or executor — and a production
    segmented index would keep exactly these two numbers per term
    as its integrity state.

    Engine shape: one explode -> distinct postings relation, two
    disjoint-filter aggregates (one scan each; partition-prunable
    on a real lake where base/delta are separate files), one
    token-keyed full-outer join of O(vocab) rows. Reference
    parity: extends B2 indexer (mrapps/indexer.go:14-30 rebuilds
    from scratch every run — precisely what this avoids).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    p = (docs.select("doc_id", F.explode(tokens()).alias("token"))
         .distinct())
    ck = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                             1, 15), 16, 10).cast("bigint"))
    parts = (p.withColumn("is_delta", (F.col("doc_id") % 10 >= 8))
             .groupBy("token", "is_delta")
             .agg(F.count(F.lit(1)).alias("df"),
                  F.bit_xor(ck).alias("ck")))
    base = (parts.where(~F.col("is_delta"))
            .select("token", F.col("df").alias("df_base"),
                    F.col("ck").alias("ck_base")))
    delta = (parts.where(F.col("is_delta"))
             .select("token", F.col("df").alias("df_delta"),
                     F.col("ck").alias("ck_delta")))
    return (base.join(delta, "token", "full")
            .select("token",
                    F.coalesce("df_base", F.lit(0)).alias("df_base"),
                    F.coalesce("df_delta", F.lit(0)).alias("df_delta"),
                    (F.coalesce("df_base", F.lit(0))
                     + F.coalesce("df_delta", F.lit(0))).alias("df"),
                    (F.coalesce("ck_base", F.lit(0))
                     .bitwiseXOR(F.coalesce("ck_delta", F.lit(0))))
                    .alias("postings_ck")))


_FH_DIM = 64


@register(
    "q_feature_hashing",
    oracle=f"""
    WITH t AS (
        SELECT d.source, u.x AS token
        FROM documents d,
        UNNEST(list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
                           x -> x <> '')) AS u(x)),
    b AS (
        SELECT source,
               CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT)
                   % {_FH_DIM} AS bucket,
               token
        FROM t)
    SELECT source, bucket,
           CAST(COUNT(*) AS BIGINT) AS total_tf,
           CAST(COUNT(DISTINCT token) AS BIGINT) AS n_distinct_tokens
    FROM b GROUP BY 1, 2
    """,
    tags=("text", "vectorizer", "feature-hashing"),
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorizer (HashingTF, Weinberger et al. 2009)
    at corpus granularity: every token maps to one of 64 fixed
    buckets via the md5-prefix hash (the engine-portable uniform
    hash used by the whole sketch family), giving each source a
    64-dimensional hashed bag-of-words signature — total term
    frequency and distinct-token (collision) count per bucket. The
    hashing trick is how production pipelines vectorize unbounded
    vocabularies with ZERO vocabulary state: no dictionary build,
    no OOV path, memory fixed at the bucket count.

    Scale shape: explode -> one (source, bucket)-keyed hash agg
    with map-side partials; output is sources x 64 rows regardless
    of corpus size, and no vocabulary relation ever exists (vs
    q_tfidf_top_terms, which carries one deliberately). All counts
    exact integers. Reference parity: extends wc's token counting
    (mrapps/wc.go:23) to fixed-dimension feature space; north-star
    §2D text depth.
    """
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    t = docs.select("source", F.explode(tokens()).alias("token"))
    bucket = (F.conv(F.substring(F.md5("token"), 1, 8), 16, 10)
              .cast("bigint") % _FH_DIM)
    return (t.withColumn("bucket", bucket)
            .groupBy("source", "bucket")
            .agg(F.count(F.lit(1)).alias("total_tf"),
                 F.countDistinct("token").alias("n_distinct_tokens")))


_AC_MAX_PREFIX = 3
_AC_TOP = 3
_AC_MIN_FREQ = 5


@register(
    "q_autocomplete_prefix_index",
    oracle=f"""
    WITH t AS (
        SELECT list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
                           x -> x <> '') AS w
        FROM documents),
    v AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
        FROM t, UNNEST(w) AS u(tok)
        GROUP BY tok
        HAVING COUNT(*) >= {_AC_MIN_FREQ}),
    p AS (
        SELECT substr(tok, 1, n) AS prefix, tok, freq
        FROM v, UNNEST(range(1, {_AC_MAX_PREFIX} + 1)) AS r(n)
        WHERE len(tok) >= n),
    ranked AS (
        SELECT prefix, tok, freq,
               ROW_NUMBER() OVER (PARTITION BY prefix
                                  ORDER BY freq DESC, tok) AS rnk
        FROM p)
    SELECT prefix, rnk, tok AS completion, freq
    FROM ranked WHERE rnk <= {_AC_TOP}
    """,
    tags=("index", "autocomplete", "text", "topk"),
)
def q_autocomplete_prefix_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocomplete index build: for every 1..3-character prefix,
    the top-3 completions by corpus frequency (ties broken
    alphabetically) over the min-count-5 vocabulary — the batch
    artifact behind every search-box type-ahead (the online side is
    a point lookup on prefix). The materialized-trie-level
    formulation: rather than a trie structure, the index IS the
    (prefix -> ranked completions) relation, which is what serving
    systems actually store.

    Scale shape: the corpus collapses to the min-count VOCABULARY
    first (combiner-reduced token counts + HAVING floor — the
    q_vocab_rank_scalable contract), so everything downstream is
    vocabulary-sized: prefixes are generated ARRAY-FREE as 3
    substrings per token, and the top-k window partitions BY PREFIX
    (per-partition state = one prefix's candidate list, bounded by
    the vocabulary, never the corpus). At 100 TB: one corpus scan +
    two vocabulary-sized shuffles. Reference parity: the indexer
    plugin (mrapps/indexer.go) maps tokens to posting lists;
    this maps prefixes to ranked completions — same shape, ranked
    and truncated. North-star §2D retrieval depth.
    """
    docs = load_table(spark, sf_dir, "documents")
    v = (docs.select(F.explode(tokens()).alias("tok"))
         .groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
         .where(F.col("freq") >= _AC_MIN_FREQ))
    p = (v.select("tok", "freq",
                  F.explode(F.sequence(
                      F.lit(1),
                      F.least(F.lit(_AC_MAX_PREFIX), F.length("tok"))))
                  .alias("n"))
         .select(F.expr("substr(tok, 1, n)").alias("prefix"),
                 "tok", "freq"))
    w = Window.partitionBy("prefix").orderBy(F.col("freq").desc(), "tok")
    return (p.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= _AC_TOP)
            .select("prefix", "rnk", F.col("tok").alias("completion"),
                    "freq"))


_NTS_MIN = 5         # bigram count floor
_NTS_TOP = 3         # suggestions per context token


@register(
    "q_next_token_suggest",
    oracle=f"""
    WITH t AS (
        SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS w
        FROM documents),
    b AS (
        SELECT w[CAST(i AS INT)] AS w1, w[CAST(i AS INT) + 1] AS w2
        FROM t, UNNEST(range(1, len(w))) AS u(i)
        WHERE len(w) >= 2),
    c AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
        FROM b GROUP BY 1, 2 HAVING COUNT(*) >= {_NTS_MIN}),
    r AS (
        SELECT w1, w2, n,
               ROW_NUMBER() OVER (PARTITION BY w1
                                  ORDER BY n DESC, w2) AS rnk
        FROM c)
    SELECT w1, w2, n, rnk FROM r WHERE rnk <= {_NTS_TOP}
    """,
    tags=("index", "ngram", "language-model", "suggest"),
)
def q_next_token_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-token suggestion table: for every context token, the
    top-3 following tokens by bigram count (floor 5) — the
    bigram-LM argmax surface that powers type-ahead / query
    completion, and the NEXT-token complement to
    q_autocomplete_prefix_index (which completes the CURRENT
    token). All counts integer, ranking (n desc, w2) deterministic.

    Scale shape: bigram generation is array-local (the shingles
    expression, no positional self-join); ONE map-side-combined
    count shuffle keyed by (w1, w2); the HAVING floor cuts the tail
    before the rank window, which partitions by w1 over a
    vocabulary-bounded relation (≤ |vocab| keys, each with few
    qualifying successors). At 100 TB the cost is the token scan +
    one bigram-keyed exchange — the same cost class as
    q_top_bigrams, producing the complete suggestion index instead
    of a top-10.
    """
    from my_mapreduce_spark.functions.text import shingles

    docs = load_table(spark, sf_dir, "documents")
    withw = (docs.select(tokens().alias("w"))
             .where(F.size("w") >= 2))
    c = (withw.select(F.explode(shingles(F.col("w"), n=2)).alias("bg"))
         .select(F.split("bg", " ")[0].alias("w1"),
                 F.split("bg", " ")[1].alias("w2"))
         .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
         .where(F.col("n") >= _NTS_MIN))
    w = Window.partitionBy("w1").orderBy(F.col("n").desc(), "w2")
    return (c.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= _NTS_TOP)
            .select("w1", "w2", "n", "rnk"))
