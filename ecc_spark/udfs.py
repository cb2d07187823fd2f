"""Vectorized pandas UDF surface (SURVEY.md §2.10).

Everything the reference did per-row in Python (spaCy, wikitextparser —
cmd/build_matches_db.py:237-320, cmd/build_contexts_db.py:239-354) lives
here as Arrow-batched pandas UDFs over ecc_spark.text — the only Python
that runs on executors. No per-row Python UDFs anywhere in the engine
(BASELINE.json input_hint).

Batch-level optimization mirroring the reference's per-page matcher build
(cmd/build_matches_db.py:273-274): the phrase-match UDFs build ONE
automaton per distinct pattern set within an Arrow batch, not per row —
patterns arrive as an array column, and rows of the same page/entity
share the object via a key-cache.

Each phase runs ONE fused UDF per plan: clean_match_udf (OPS-30+31) in
build_matches and crop_mask_udf (OPS-32/33/34) in build_contexts. Every
pandas UDF node in a plan is one more Arrow round trip and one more
Python worker per task, and each worker pays a fixed start-up cost per
task whatever its row count. clean_text_udf and phrase_match_udf stay
as the standalone OPS-30/31 operators.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ecc_spark import text as X

SPAN_ARR = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType(), False),
            T.StructField("text", T.StringType(), True),
            T.StructField("media_ref", T.StringType(), True),
            T.StructField("offset", T.IntegerType(), False),
        ]
    )
)

MATCH_ARR = T.ArrayType(
    T.StructType(
        [
            T.StructField("start_char", T.IntegerType(), False),
            T.StructField("end_char", T.IntegerType(), False),
            T.StructField("mention", T.StringType(), False),
        ]
    )
)


def _matcher_cache():
    cache: dict[tuple[str, ...], dict] = {}

    def get(patterns) -> dict:
        key = tuple(patterns)
        m = cache.get(key)
        if m is None:
            m = X.build_matcher(list(patterns))
            cache[key] = m
        return m

    return get


@F.pandas_udf(T.StringType())
def clean_text_udf(page_text: pd.Series) -> pd.Series:
    """OPS-30: sentence-quality cleanup (reference cmd/build_matches_db.py:323-359)."""
    return page_text.map(lambda t: X.clean_up_text(t) if t is not None else None)


def _match_row(get, t, pats) -> list[dict]:
    """One page's OPS-31 match structs (MATCH_ARR element order)."""
    if t is None or pats is None or len(pats) == 0:
        return []
    return [
        {"start_char": m.start_char, "end_char": m.end_char, "mention": m.mention}
        for m in X.phrase_match(t, get(pats))
    ]


@F.pandas_udf(MATCH_ARR)
def phrase_match_udf(txt: pd.Series, patterns: pd.Series) -> pd.Series:
    """OPS-31: all token-exact pattern occurrences with char spans
    (reference cmd/build_matches_db.py:269-297)."""
    get = _matcher_cache()
    return pd.Series([_match_row(get, t, p) for t, p in zip(txt, patterns)])


CLEAN_MATCH = T.StructType(
    [
        T.StructField("clean_text", T.StringType(), True),
        T.StructField("match_arr", MATCH_ARR, True),
    ]
)


@F.pandas_udf(CLEAN_MATCH)
def clean_match_udf(page_text: pd.Series, patterns: pd.Series) -> pd.DataFrame:
    """OPS-30 + OPS-31 fused: clean each page, then phrase-match the
    clean text, in ONE Arrow round trip. Chaining clean_text_udf into
    phrase_match_udf stacked two ArrowEvalPython nodes — two Python
    workers per task, and clean_text shipped out of Python and straight
    back in. Same per-row results as that chain."""
    get = _matcher_cache()
    clean = [X.clean_up_text(t) if t is not None else None for t in page_text]
    return pd.DataFrame(
        {
            "clean_text": clean,
            "match_arr": [_match_row(get, c, p) for c, p in zip(clean, patterns)],
        }
    )


CROP_MASK = T.StructType(
    [
        T.StructField("context", T.StringType(), True),
        T.StructField("masked_context", T.StringType(), True),
    ]
)


@F.pandas_udf(CROP_MASK)
def crop_mask_udf(context: pd.Series, patterns: pd.Series, mode: pd.Series) -> pd.DataFrame:
    """OPS-32/33/34 fused: crop (token or sentence mode) + maximal-span
    masking in ONE Arrow round trip — the separate crop→filter→mask
    chain shipped every context string across the Python boundary twice
    (measured ~30% of phase-2 wall). masked_context is null when the
    crop emptied the row or no span survived (ref :296-298, :337-338);
    masked notnull ⟹ context notnull, so callers filter once."""
    get = _matcher_cache()
    ctxs: list[str | None] = []
    masked: list[str | None] = []
    for c, pats, m in zip(context, patterns, mode):
        if c is None:
            ctxs.append(None)
            masked.append(None)
            continue
        pl = [] if pats is None else list(pats)
        if m == "sentences":
            cc = X.crop_context_sentences(c, get(pl)) or None
        else:
            cc = X.crop_context_tokens(c) or None
        ctxs.append(cc)
        masked.append(None if cc is None else X.mask_context(cc, get(pl)))
    return pd.DataFrame({"context": ctxs, "masked_context": masked})


# optimizer fence, not a semantics claim: the function IS deterministic,
# but CollapseProject otherwise inlines the struct-returning UDF into
# BOTH the masked-notnull filter and the field-extraction projection —
# two full evaluations per row (verified in the physical plan). Marking
# it nondeterministic pins one ArrowEvalPython node whose result both
# consumers share.
crop_mask_udf = crop_mask_udf.asNondeterministic()
