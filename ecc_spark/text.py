"""Deterministic tokenizer / sentencizer / phrase matcher.

The reference delegates tokenization, sentence segmentation and
multi-pattern phrase matching to spaCy (``en_core_web_lg``), which is a
700 MB model and a reproducibility hazard (SURVEY.md §7.3 risks 1-2).
This module is the engine's replacement: small, pure-Python, rule-based,
and — critically — used by BOTH the vectorized pandas UDFs (ecc_spark.udfs)
and the golden-fixture generator (tests), so span parity is by
construction.

Semantics mirrored from the reference (behavior, not code):
- tokenize: word = maximal run of alphanumerics (plus ``'`` and ``#``
  inside a word); any other non-space char is a single-char token.
  (#' kept word-internal so masked text re-tokenizes to the masked span.)
- sentencize: a sentence ends at ``. ! ?`` (possibly repeated, possibly
  followed by closing quotes/brackets) when followed by whitespace or
  end-of-text; newline always ends a sentence.
- phrase_match: exact, case-sensitive token-sequence match of each
  pattern (reference PhraseMatcher default ORTH attr,
  cmd/build_matches_db.py:273-274); returns ALL occurrences of ALL
  patterns, overlapping included, ordered by (start, end).
"""

from __future__ import annotations

from typing import NamedTuple


class Token(NamedTuple):
    text: str
    start: int  # char offset, inclusive
    end: int    # char offset, exclusive


class Sentence(NamedTuple):
    text: str
    start: int
    end: int


_WORD_CHARS = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_'#")


def _is_word_char(ch: str) -> bool:
    return ch in _WORD_CHARS or ch.isalnum()


def tokenize(text: str) -> list[Token]:
    """Word / single-punct tokens with char spans; whitespace skipped."""
    tokens: list[Token] = []
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch.isspace():
            i += 1
            continue
        if _is_word_char(ch):
            j = i + 1
            while j < n and _is_word_char(text[j]):
                j += 1
            tokens.append(Token(text[i:j], i, j))
            i = j
        else:
            tokens.append(Token(ch, i, i + 1))
            i += 1
    return tokens


_SENT_END = {".", "!", "?"}
_SENT_TRAIL = {'"', "'", ")", "]", "»", "”", "’"}


def sentencize(text: str) -> list[Sentence]:
    """Split into sentences; newline is always a boundary."""
    sents: list[Sentence] = []
    n = len(text)
    start = 0
    i = 0
    while i < n:
        ch = text[i]
        if ch == "\n":
            if text[start:i].strip():
                sents.append(_mk_sent(text, start, i))
            start = i + 1
            i += 1
            continue
        if ch in _SENT_END:
            j = i + 1
            while j < n and text[j] in _SENT_END:
                j += 1
            while j < n and text[j] in _SENT_TRAIL:
                j += 1
            if j >= n or text[j].isspace():
                if text[start:j].strip():
                    sents.append(_mk_sent(text, start, j))
                start = j
                i = j
                continue
            i = j
            continue
        i += 1
    if text[start:].strip():
        sents.append(_mk_sent(text, start, n))
    return sents


def _mk_sent(text: str, start: int, end: int) -> Sentence:
    # trim leading/trailing whitespace but keep offsets honest
    while start < end and text[start].isspace():
        start += 1
    while end > start and text[end - 1].isspace():
        end -= 1
    return Sentence(text[start:end], start, end)


class Match(NamedTuple):
    start_tok: int      # token index, inclusive
    end_tok: int        # token index, exclusive
    start_char: int
    end_char: int       # exclusive (reference dao/matches_db.py:88)
    mention: str        # the pattern that matched, as it appears in text


def build_matcher(patterns: list[str]) -> dict[tuple[str, ...], str]:
    """Pattern set → {token-tuple: pattern-string}; duplicates collapse
    (same token sequence ⇒ same match, as in the reference's PhraseMatcher
    where patterns are keyed by token sequence)."""
    table: dict[tuple[str, ...], str] = {}
    for p in patterns:
        toks = tuple(t.text for t in tokenize(p))
        if toks:
            table[toks] = p
    return table


def phrase_match(text: str, patterns: list[str] | dict[tuple[str, ...], str]) -> list[Match]:
    """All exact token-sequence matches of all patterns, ordered by span."""
    table = patterns if isinstance(patterns, dict) else build_matcher(list(patterns))
    if not table:
        return []
    toks = tokenize(text)
    if not toks:
        return []
    by_first: dict[str, list[tuple[str, ...]]] = {}
    for k in table:
        by_first.setdefault(k[0], []).append(k)
    out: list[Match] = []
    texts = [t.text for t in toks]
    for i, first in enumerate(texts):
        for pat in by_first.get(first, ()):
            L = len(pat)
            if L <= len(texts) - i and tuple(texts[i : i + L]) == pat:
                sc, ec = toks[i].start, toks[i + L - 1].end
                out.append(Match(i, i + L, sc, ec, text[sc:ec]))
    out.sort(key=lambda m: (m.start_tok, m.end_tok))
    return out


# ---------------------------------------------------------------------------
# Reference-semantics text transforms (pure functions; the pandas UDFs in
# ecc_spark.udfs vectorize these over Arrow batches).
# ---------------------------------------------------------------------------

def sentence_is_clean(sent: str) -> bool:
    """Quality predicate, reference cmd/build_matches_db.py:344-350."""
    return (
        len(sent) >= 40
        and sent[:1].isupper()
        and "|" not in sent
        and "=" not in sent
        and "http" not in sent
        and "Category:" not in sent
    )


def clean_up_text(page_text: str) -> str:
    """Reference cmd/build_matches_db.py:323-359: paragraphs split on
    newline; <40-char paragraphs skipped before sentencizing (the
    short-circuit); clean sentences joined with ' ', paragraphs '\\n\\n'."""
    clean_paragraphs = []
    for paragraph in page_text.split("\n"):
        if len(paragraph) < 40:
            continue
        sents = [s.text for s in sentencize(paragraph)]
        clean_sents = [s for s in sents if sentence_is_clean(s)]
        clean_paragraph = " ".join(clean_sents)
        if clean_paragraph:
            clean_paragraphs.append(clean_paragraph)
    return "\n\n".join(clean_paragraphs)


def crop_context_tokens(context: str) -> str:
    """Token-mode crop, reference cmd/build_contexts_db.py:287-294:
    drop first and last token (possibly cut mid-word), join with ' '."""
    toks = [t.text.strip() for t in tokenize(context)][1:-1]
    return " ".join(toks)


def crop_context_sentences(context: str, matcher: dict[tuple[str, ...], str]) -> str:
    """Sentence-mode crop, reference cmd/build_contexts_db.py:258-285:
    sentencize → split on '\\n' → strip → drop empties → keep
    uppercase-initial → drop LAST remaining sentence (possibly
    incomplete) → keep only sentences with ≥1 phrase match → join '\\n'."""
    raw_sents = [s.text for s in sentencize(context)]
    flat = [part for sent in raw_sents for part in sent.split("\n")]
    stripped = [s.strip() for s in flat]
    non_empty = [s for s in stripped if s]
    upper = [s for s in non_empty if s[:1].isupper()]
    complete = upper[:-1]
    match_sents = [s for s in complete if phrase_match(s, matcher)]
    return "\n".join(match_sents)


def mask_context(context: str, matcher: dict[tuple[str, ...], str]) -> str | None:
    """Mention masking, reference cmd/build_contexts_db.py:303-354:
    match all patterns; dedupe token spans; drop spans PROPERLY contained
    in another kept span; overwrite kept [start_char, end_char) with '#'.
    Returns None when no span survives (row dropped)."""
    matches = phrase_match(context, matcher)
    spans = {(m.start_tok, m.end_tok): (m.start_char, m.end_char) for m in matches}
    keys = set(spans)
    kept = []
    for span in keys:
        contained = any(
            o[0] <= span[0] and o[1] >= span[1] and o != span for o in keys
        )
        if not contained:
            kept.append(span)
    if not kept:
        return None
    buf = list(context)
    for span in kept:
        sc, ec = spans[span]
        for i in range(sc, ec):
            buf[i] = "#"
    return "".join(buf)
