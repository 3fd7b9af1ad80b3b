"""The fixture corpus is ASCII, production crawls are not: this pins
that the engine's tokenizer contract (lower + split on [^a-z0-9]+)
behaves IDENTICALLY in Spark (Java regex) and DuckDB (RE2) on
non-ASCII input — accents, CJK, emoji, NBSP, control chars — so
every oracle that embeds the SQL twin of tokens() stays bit-exact
when unicode documents arrive. The pure-ASCII character class is
deliberate: any non-ASCII codepoint is a separator on BOTH engines,
with no locale-dependent casefolding in the match path."""

from __future__ import annotations

import pyspark.sql.functions as F

SAMPLES = [
    "héllo wörld",            # latin accents split out identically
    "日本語 テスト abc",        # CJK is all-separator on both engines
    "emoji 🙂 test",           # astral-plane codepoint
    "mixed ÀÉÎ 123ß",         # uppercase accents + sharp s
    "a\xa0b",                 # NBSP
    "tab\tx\r\ny",            # control whitespace
    "ÅÉÎ",                    # nothing survives -> empty array
    "",                       # empty string
]


def test_tokenizer_unicode_parity(spark, duck):
    df = spark.createDataFrame([(s,) for s in SAMPLES], "text string")
    got = [r.toks for r in df.select(
        F.filter(F.split(F.lower("text"), r"[^a-z0-9]+"),
                 lambda x: x != "").alias("toks")).collect()]
    for s, g in zip(SAMPLES, got):
        want = duck.sql(
            "SELECT list_filter(regexp_split_to_array(lower(?), "
            "'[^a-z0-9]+'), x -> x <> '')", params=[s]).fetchone()[0]
        assert g == want, f"{s!r}: spark={g} duck={want}"


def test_substring_length_unicode_parity(spark, duck):
    """The trigram family's primitives — length() and substring(_, i,
    3) — must count CHARACTERS (not bytes) identically on both
    engines for multibyte text, or q_lang_id_trigram's oracle would
    silently diverge on non-ASCII documents."""
    df = spark.createDataFrame([(s,) for s in SAMPLES if s], "text string")
    rows = df.select(
        "text", F.length("text").alias("n"),
        F.expr("IF(length(text) >= 3, transform(sequence(1, "
               "length(text) - 2), i -> substring(lower(text), i, 3)), "
               "CAST(array() AS array<string>))").alias("tris")).collect()
    for r in rows:
        n = duck.sql("SELECT length(?)", params=[r.text]).fetchone()[0]
        assert n == r.n, f"{r.text!r}: length spark={r.n} duck={n}"
        tris = duck.sql(
            "SELECT COALESCE(list(substr(lower(?), CAST(i AS INT), 3) "
            "ORDER BY i), []) FROM UNNEST(range(1, length(?) - 1)) t(i)",
            params=[r.text, r.text]).fetchone()[0]
        assert list(r.tris) == list(tris), \
            f"{r.text!r}: spark={r.tris} duck={tris}"
