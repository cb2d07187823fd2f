"""Pandas UDFs run through Spark equal the pure-Python text core they wrap."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ecc_spark import text as X
from ecc_spark.udfs import clean_match_udf, clean_text_udf, phrase_match_udf

_LONG = "This sentence is long enough to survive the quality filter. "

ROWS = [
    # NULL text: no clean text, no matches
    (0, None, ["Paris"]),
    # NULL patterns / empty patterns: clean text, no matches
    (1, _LONG + "Paris is the capital of France and it is big.", None),
    (2, _LONG + "Paris is the capital of France and it is big.", []),
    # every paragraph under 40 characters: empty clean text
    (3, "Paris is nice.\nShort line here.\nAnother one.", ["Paris"]),
    # overlapping and nested patterns, repeated occurrences
    (
        4,
        "New York City is larger than New York State by most measures.\n"
        + _LONG + "York City and City Hall are both in New York City.",
        ["New York", "New York City", "York City", "City", "City Hall", "New York State"],
    ),
    # same pattern set as row 4 (shares the batch's matcher cache)
    (5, "Unrelated text that mentions New York City once, and York.", [
        "New York", "New York City", "York City", "City", "City Hall", "New York State",
    ]),
    # non-ASCII text and patterns; offsets are code-point offsets
    (
        6,
        "Zürich liegt näher an São Paulo als man denkt, sagt Ærøskøbing.\n"
        "Москва и Санкт-Петербург — крупнейшие города России.\n"
        "Tokyo (東京) is a much bigger city than Zürich 🙂 by any measure.",
        ["Zürich", "São Paulo", "Ærøskøbing", "Москва", "Санкт-Петербург", "東京"],
    ),
    # patterns that never occur, and a pattern with no tokens
    (7, _LONG + "Nothing to find in this one at all, really.", ["Berlin", "  "]),
]

SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("page_text", T.StringType(), True),
        T.StructField("patterns", T.ArrayType(T.StringType()), True),
    ]
)


def _ref(text, patterns):
    """text.clean_up_text then text.phrase_match, in pure Python."""
    if text is None:
        return None, []
    clean = X.clean_up_text(text)
    if not patterns:
        return clean, []
    return clean, [(m.start_char, m.end_char, m.mention) for m in X.phrase_match(clean, list(patterns))]


def _spans(arr):
    return [(m.start_char, m.end_char, m.mention) for m in arr]


def test_clean_match_udf_equals_python_core(spark):
    df = spark.createDataFrame(ROWS, SCHEMA).repartition(2)
    got = (
        df.withColumn("cm", clean_match_udf("page_text", "patterns"))
        .withColumn("chained", phrase_match_udf(F.col("cm.clean_text"), "patterns"))
        .withColumn("clean_only", clean_text_udf("page_text"))
        .orderBy("id")
        .collect()
    )
    assert [r.id for r in got] == [r[0] for r in ROWS]
    for r, (_, text, pats) in zip(got, ROWS):
        clean, spans = _ref(text, pats)
        assert r.cm.clean_text == clean, r.id
        assert _spans(r.cm.match_arr) == spans, r.id
        # the standalone OPS-30/31 UDFs agree with the fused one
        assert r.clean_only == clean, r.id
        assert _spans(r.chained) == spans, r.id

    by_id = {r.id: r for r in got}
    assert by_id[3].cm.clean_text == ""
    nested = {s[2] for s in _spans(by_id[4].cm.match_arr)}
    assert {"New York", "New York City", "York City", "City", "City Hall"} <= nested
    assert {"Zürich", "São Paulo", "Москва", "Санкт-Петербург", "東京"} <= {
        s[2] for s in _spans(by_id[6].cm.match_arr)
    }
