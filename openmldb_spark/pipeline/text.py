"""Text analysis for training-data curation.

Language-ID (stopword/charset heuristic), quality scoring, token counting
(whitespace + BPE-ish word-piece regex), the Gopher repetition signals
and quality rules, and document fingerprinting (shingle rolling-hash
min). Two execution paths:

- individual feature builders are Catalyst Column expressions, for spot
  use: the token features are higher-order array functions that Spark
  evaluates interpreted, with the split re-inlined per element;
- the corpus path is Arrow ``mapInPandas`` kernels (``text_features``,
  ``append_lang_quality``, ``append_repetition``, ``gopher_quality``
  with all eight rules), each one pass per batch over the shared ``_WS``
  whitespace class and ``_token_stats_batch`` counts.
"""

from __future__ import annotations

import re
import string
from collections import Counter
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# tiny per-language stopword seeds for the n-gram/stopword heuristic
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
}

_EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is",
                 "it", "that", "for", "on", "with", "as"]


# Java regex's \s, which the Catalyst path splits and trims on. Python's
# str.split()/strip() would also split on \x1c-\x1f and Unicode spaces.
_WS = " \t\n\x0b\x0c\r"
_RE_TOKEN = re.compile(f"[^{_WS}]+")


def _wtrim(c: Column | str) -> Column:
    """Whitespace-aware trim (ASCII \\s, both ends). F.trim strips
    SPACES only, while the Arrow kernels tokenize on the same ``_WS``
    class — a doc edged with a tab or newline would otherwise grow a
    leading empty token on the Catalyst path but not the kernel path.
    Every tokenizing and line-trimming path goes through this (or
    ``_WS``) so Catalyst, the kernels, and the DuckDB oracles
    share ONE convention. (RE2's \\s, in the oracles, lacks \\x0b; and
    non-ASCII Unicode whitespace is out of contract.)"""
    c = F.col(c) if isinstance(c, str) else c
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def _tokens(text: Column) -> Column:
    # NULL-safe: a NULL document tokenizes to [] (token_count 0), never
    # to a NULL that downstream numpy kernels would read as int64-min.
    t = _wtrim(F.coalesce(text, F.lit("")))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")) \
            .otherwise(F.split(t, r"\s+"))


def token_count(text: str | Column = "text") -> Column:
    """Whitespace token count; NULL/empty/blank → 0."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(_tokens(c)).cast("long")


def wordpiece_count(text: str | Column = "text") -> Column:
    """BPE-ish sub-token estimate: word-initial pieces + continuation
    pieces every ~4 chars (a deterministic stand-in for a real BPE vocab,
    proportional to true token counts on ASCII text)."""
    c = F.col(text) if isinstance(text, str) else text
    words = _tokens(c)
    return F.aggregate(
        words, F.lit(0).cast("long"),
        lambda acc, w: acc + F.greatest(
            F.lit(1), F.ceil(F.length(w) / F.lit(4)).cast("long")),
    )


def char_class_counts(text: Column) -> dict[str, Column]:
    """Counts by character class, each a single regexp_replace+length."""
    def cnt(pattern: str) -> Column:
        return (F.length(text)
                - F.length(F.regexp_replace(text, pattern, ""))).cast("long")
    return {
        "n_alpha": cnt(r"[A-Za-z]"),
        "n_digit": cnt(r"[0-9]"),
        "n_punct": cnt(r"[.,!?;:'\"()\[\]{}-]"),
        "n_space": cnt(r"\s"),
        "n_nonascii": cnt(r"[^\x00-\x7F]"),
    }


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or _EN_STOPWORDS
    words = _tokens(F.lower(text))
    hits = F.size(F.filter(words, lambda w: w.isin(sw)))
    n = F.size(words)
    return F.when(n > 0, hits.cast("double") / n.cast("double")) \
            .otherwise(F.lit(0.0))


def lang_guess(text: Column) -> Column:
    """Heuristic language ID: non-ASCII-heavy → 'other'; else the language
    whose stopword markers hit most often; fallback 'unknown'."""
    lowered = _tokens(F.lower(text))

    def marker_hits(markers: list[str]):
        return lambda w: w.isin(markers)

    scores = [
        (lang, F.size(F.filter(lowered, marker_hits(markers))))
        for lang, markers in _LANG_MARKERS.items()
    ]
    nonascii = (F.length(text)
                - F.length(F.regexp_replace(text, r"[^\x00-\x7F]", "")))
    best = None
    for lang, s in scores:
        cand = F.struct(s.alias("s"), F.lit(lang).alias("l"))
        best = cand if best is None else F.when(
            cand.getField("s") > best.getField("s"), cand).otherwise(best)
    return (F.when(nonascii * 3 > F.length(text), F.lit("other"))
            .when(best.getField("s") > 0, best.getField("l"))
            .otherwise(F.lit("unknown")))


def quality_score(text: Column) -> Column:
    """[0,1] doc-quality heuristic: length sweet-spot, word length
    plausibility, punctuation moderation, stopword presence. Deterministic,
    monotone in each component."""
    # NULL doc scores like an empty one (the kernel twin fillna("")s)
    text = F.coalesce(text, F.lit(""))
    n = F.length(text).cast("double")
    toks = token_count(text).cast("double")
    cc = char_class_counts(text)
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    awl = F.when(toks > 0, (cc["n_alpha"].cast("double") / toks)) \
           .otherwise(F.lit(0.0))
    awl_score = F.when((awl >= 3) & (awl <= 10), F.lit(1.0)) \
                 .otherwise(F.lit(0.5))
    punct_ratio = F.when(n > 0, cc["n_punct"].cast("double") / n) \
                   .otherwise(F.lit(0.0))
    punct_score = F.when(punct_ratio < 0.1, F.lit(1.0)).otherwise(F.lit(0.5))
    sw_score = F.least(stopword_ratio(text) * 5.0, F.lit(1.0))
    return ((len_score + awl_score + punct_score + sw_score) / 4.0)


# PII masking patterns — conservative, lookaround-free so the same
# pattern runs identically under Java regex (Spark), RE2 (DuckDB), and
# Python re (tests). Order matters: ipv4 before phone, or the dotted
# quad's digit runs would partially match the phone pattern.
_PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+?\d[\d() -]{7,}\d",
}


def scrub_pii(text: Column,
              kinds: tuple[str, ...] = ("email", "ipv4", "phone")) \
        -> Column:
    """Mask common PII spans with ``<kind>`` tokens — the standard
    pre-training scrub stage. Pure chained ``regexp_replace``: JVM-side,
    whole-stage-codegen, no Python in the path, scale-free (per-row,
    no shuffle). Patterns are deliberately lookaround-free so the
    DuckDB oracle and Python reference in tests run the identical
    regex. Idempotent: masks contain no maskable spans."""
    out = text
    for kind in kinds:
        out = F.regexp_replace(out, _PII_PATTERNS[kind], f"<{kind}>")
    return out


def dup_line_frac(text: Column) -> Column:
    """Gopher-style repetition signal (Rae et al. 2021 §A.1.1, public):
    fraction of non-empty (trimmed) lines that duplicate another line.
    0.0 when the text has no non-empty lines (incl. NULL text)."""
    lines = F.filter(F.transform(F.split(F.coalesce(text, F.lit("")),
                                         "\n"),
                                 lambda l: _wtrim(l)),
                     lambda l: l != F.lit(""))
    nl = F.size(lines)
    return F.when(
        nl > 0,
        F.lit(1.0) - F.size(F.array_distinct(lines)).cast("double")
        / nl.cast("double")).otherwise(F.lit(0.0))


def top2gram_frac(text: Column) -> Column:
    """Fraction of word-bigram occurrences taken by the most frequent
    bigram (lowercased whitespace tokens) — the Gopher top-2-gram
    repetition filter. 0.0 with fewer than two tokens (incl. NULL).

    Catalyst path is O(distinct x total) interpreted HOFs per row — fine
    for spot use; ``text_features``'s kernel mode is the corpus path
    (Counter per doc, one Arrow batch)."""
    toks = _tokens(F.lower(text))
    nb = F.size(toks) - 1
    # sequence() only evaluated in the nb>=1 branch: CaseWhen evaluates
    # per-row lazily, and sequence(1, 0) would yield a DESCENDING [1,0]
    bigrams = F.transform(
        F.sequence(F.lit(1), nb),
        lambda i: F.concat(F.element_at(toks, i), F.lit(" "),
                           F.element_at(toks, i + 1)))
    top = F.array_max(F.transform(
        F.array_distinct(bigrams),
        lambda y: F.size(F.filter(bigrams, lambda x: x == y))))
    return F.when(nb >= 1, top.cast("double") / nb.cast("double")) \
            .otherwise(F.lit(0.0))


def _lines(s: str) -> list[str]:
    """Non-empty lines, each trimmed of ``_WS`` (the ``_wtrim`` twin)."""
    return [ln for ln in (x.strip(_WS) for x in s.split("\n")) if ln]


def _rep_signals(lines: list[str], ws: list[str]) -> tuple[float, float]:
    """Per-doc repetition signals (kernel twin of ``dup_line_frac`` /
    ``top2gram_frac``) from a doc's ``_lines`` and lowercased tokens:
    one pass, bigram Counter — O(tokens)."""
    dlf = (1.0 - len(set(lines)) / len(lines)) if lines else 0.0
    if len(ws) < 2:
        return dlf, 0.0
    return dlf, max(Counter(zip(ws, ws[1:])).values()) / (len(ws) - 1)


_REP_COLS = ["dup_line_frac", "top2gram_frac"]


def _repetition(lines: pd.Series, low: pd.Series) -> np.ndarray:
    """A batch's ``_REP_COLS`` as an (n, 2) array."""
    return np.array([_rep_signals(ls, ws) for ls, ws in zip(lines, low)],
                    dtype=np.float64).reshape(-1, 2)


def append_repetition(df: DataFrame, text_col: str = "text",
                      prefix: str = "") -> DataFrame:
    """Append ``dup_line_frac`` + ``top2gram_frac`` via one Arrow
    ``mapInPandas`` pass — the corpus-scale path. The Catalyst
    expression twins re-inline the tokenizing split per HOF element
    (no common-subexpression elimination inside lambdas, interpreted
    CodegenFallback), which measured ~10x slower on 5k short docs and
    grows superlinearly with doc length; the kernel is O(tokens) per
    doc and shuffles nothing."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(prefix + c, T.DoubleType()) for c in _REP_COLS])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            res = pdf.copy()
            txt = pdf[text_col].fillna("")
            res[[prefix + c for c in _REP_COLS]] = _repetition(
                txt.map(_lines), txt.str.lower().str.findall(_RE_TOKEN))
            yield res

    return df.mapInPandas(batches, out_schema)


_DEL_ALPHA = str.maketrans("", "", string.ascii_letters)  # [A-Za-z]
_RE_DIGIT = re.compile(r"[0-9]")
_RE_PUNCT = re.compile(r"[.,!?;:'\"()\[\]{}-]")
_RE_SPACE = re.compile(f"[{_WS}]")
_RE_NONASCII = re.compile(r"[^\x00-\x7F]")
_SW_SET = frozenset(_EN_STOPWORDS)


def _ratio(num, den) -> np.ndarray:
    return np.where(den > 0, num / np.clip(den, 1, None), 0.0)


def _token_stats_batch(txt: pd.Series) -> dict:
    """Shared per-batch tokenization + char-class stats for the Arrow
    kernels — ONE source for the counting conventions (compiled regex
    classes, ``_RE_TOKEN`` tokenization, stopword set), so the kernels
    cannot drift on the intermediate stats feeding
    _lang_guess_batch/_quality_score_batch/gopher_quality."""
    # lower() maps no character to or from _WS: same tokens, lowercased
    low = txt.str.lower().str.findall(_RE_TOKEN)
    ntok = low.map(len).to_numpy(dtype=np.int64)
    hits = low.map(lambda ws: sum(w in _SW_SET for w in ws)) \
              .to_numpy(dtype=np.int64)
    return {
        "n": txt.str.len().to_numpy(dtype=np.float64),
        "low": low, "ntok": ntok, "hits": hits,
        "n_alpha": txt.map(lambda s: len(s) - len(s.translate(_DEL_ALPHA)))
                      .to_numpy(np.float64),
        "n_punct": txt.map(
            lambda s: len(_RE_PUNCT.findall(s))).to_numpy(np.float64),
        "n_na": txt.map(lambda s: len(_RE_NONASCII.findall(s))),
        "swr": _ratio(hits, ntok),
    }


def _lang_guess_batch(n_na, low_toks, n_chars) -> list:
    """Single source of truth for the kernel language ID (tie-break:
    first language in _LANG_MARKERS order wins on equal marker score;
    non-ASCII-heavy -> 'other'; zero hits -> 'unknown') — shared by
    _text_features_kernel and append_lang_quality so the two kernels
    cannot drift; the Column twin ``lang_guess`` and the driver oracle
    mirror it (equivalence test-asserted)."""
    markers = {k: set(v) for k, v in _LANG_MARKERS.items()}
    out = []
    for na, ws, ln in zip(n_na, low_toks, n_chars):
        if na * 3 > ln:
            out.append("other")
            continue
        best, score = None, 0
        for lg, mk in markers.items():
            s = sum(w in mk for w in ws)
            if s > score:
                best, score = lg, s
        out.append(best if score > 0 else "unknown")
    return out


def _quality_score_batch(n, ntok, n_alpha, n_punct, swr) -> np.ndarray:
    """Single source of truth for the kernel quality score (length
    sweet-spot + word-length plausibility + punctuation moderation +
    stopword presence, /4) — shared by _text_features_kernel and
    append_lang_quality; the Column twin ``quality_score`` and the
    driver oracle mirror the formula."""
    n = np.asarray(n, dtype=np.float64)
    ntok = np.asarray(ntok, dtype=np.int64)
    n_alpha = np.asarray(n_alpha, dtype=np.float64)
    n_punct = np.asarray(n_punct, dtype=np.float64)
    swr = np.asarray(swr, dtype=np.float64)
    len_score = np.minimum(n / 500.0, 1.0)
    awl = _ratio(n_alpha, ntok)
    awl_score = np.where((awl >= 3) & (awl <= 10), 1.0, 0.5)
    punct_score = np.where(_ratio(n_punct, n) < 0.1, 1.0, 0.5)
    sw_score = np.minimum(swr * 5.0, 1.0)
    return (len_score + awl_score + punct_score + sw_score) / 4.0


def append_lang_quality(df: DataFrame, text_col: str = "text",
                        prefix: str = "",
                        with_repetition: bool = False) -> DataFrame:
    """Append ``lang_guess`` + ``quality_score`` via one Arrow
    ``mapInPandas`` pass — the corpus-scale path, same trade-off as
    ``append_repetition``: the Column twins (``lang_guess`` /
    ``quality_score``) build one interpreted higher-order filter per
    language marker list with the tokenizing split re-inlined per
    element (measured ~5x slower on 5k short docs); the kernel is one
    tokenize + set-membership pass per doc and shuffles nothing.
    Semantics are identical to the Column path (asserted in tests):
    strictly-greater marker score wins, first language in _LANG_MARKERS
    order wins ties, non-ASCII-heavy -> 'other', zero hits ->
    'unknown'.

    ``with_repetition=True`` also emits ``dup_line_frac`` /
    ``top2gram_frac`` (the ``append_repetition`` signals) from the SAME
    pass, so a caller needing all four pays one Arrow round-trip of the
    text column instead of two chained kernels."""
    extra = ([T.StructField(prefix + c, T.DoubleType()) for c in _REP_COLS]
             if with_repetition else [])
    out_schema = T.StructType(
        list(df.schema.fields) + extra
        + [T.StructField(prefix + "lang_guess", T.StringType()),
           T.StructField(prefix + "quality_score", T.DoubleType())])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            res = pdf.copy()
            txt = pdf[text_col].fillna("")
            st = _token_stats_batch(txt)
            if with_repetition:
                res[[prefix + c for c in _REP_COLS]] = _repetition(
                    txt.map(_lines), st["low"])
            res[prefix + "lang_guess"] = _lang_guess_batch(
                st["n_na"], st["low"], txt.str.len())
            res[prefix + "quality_score"] = _quality_score_batch(
                st["n"], st["ntok"], st["n_alpha"], st["n_punct"],
                st["swr"])
            yield res

    return df.mapInPandas(batches, out_schema)


def fingerprint(text: Column, shingle: int = 8) -> Column:
    """Rolling-hash document fingerprint: min of xxhash64 over all
    ``shingle``-char substrings of the lowercased text (winnowing with a
    single global window — robust to local edits, cheap at scale).
    Short texts hash whole."""
    t = F.lower(text)
    n = F.length(t)
    shingles = F.when(
        n >= shingle,
        F.transform(F.sequence(F.lit(1), n - shingle + 1),
                    lambda i: F.substring(t, i, shingle))
    ).otherwise(F.array(t))
    return F.array_min(F.transform(shingles, lambda s: F.xxhash64(s)))


def text_features(df: DataFrame, text_col: str = "text",
                  prefix: str = "", mode: str = "kernel") -> DataFrame:
    """Append the full text-analysis feature set as columns.

    ``mode="kernel"`` (default): one Arrow ``mapInPandas`` kernel computes
    every feature per batch — vectorized pandas ``.str`` ops + numpy.
    The Catalyst route (``mode="expr"``) keeps all features as JVM
    expressions, but the token/fingerprint features are higher-order
    array functions, which Spark evaluates interpreted (CodegenFallback)
    with the normalization re-inlined per element — measured ~5x slower
    on 5k docs and growing with doc length. The modes agree on every
    feature except ``fingerprint`` (expr: xxhash64 rolling min; kernel:
    FNV-1a rolling min — both deterministic 64-bit shingle-min prints,
    different hash family; asserted in tests).
    """
    if mode == "kernel":
        return _text_features_kernel(df, text_col, prefix)
    # NULL text == "" in both modes (the kernel fillna("")s)
    t = F.coalesce(F.col(text_col), F.lit(""))
    cc = char_class_counts(t)
    feats = {
        "n_chars": F.length(t).cast("long"),
        "n_tokens": token_count(t),
        "n_wordpieces": wordpiece_count(t),
        **cc,
        "stopword_ratio": stopword_ratio(t),
        "lang_guess": lang_guess(t),
        "quality_score": quality_score(t),
        "fingerprint": fingerprint(t),
        "dup_line_frac": dup_line_frac(t),
        "top2gram_frac": top2gram_frac(t),
    }
    out = df
    for name, c in feats.items():
        out = out.withColumn(prefix + name, c)
    return out


def gopher_quality(df: DataFrame, text_col: str = "text",
                   min_tokens: int = 50, max_tokens: int = 100_000,
                   min_avg_word_len: float = 3.0,
                   max_avg_word_len: float = 10.0,
                   max_symbol_word_ratio: float = 0.1,
                   max_bullet_line_frac: float = 0.9,
                   min_stopword_hits: int = 2,
                   max_dup_line_frac: float = 0.3,
                   max_top2gram_frac: float = 0.2,
                   out_col: str = "gopher_keep",
                   reasons_col: str | None = "gopher_reasons") \
        -> DataFrame:
    """Gopher quality-filter composite (Rae et al. 2021 §A.1, public):
    appends a boolean ``out_col`` plus (optionally) an array of the
    rule names a document fails — keep = empty reasons. Thresholds are
    the paper's defaults, all overridable.

    Rules: token count in [min,max]; mean word length in [min,max];
    symbol-to-word ratio (``#`` / ``...``) over threshold; fraction of
    non-empty lines starting with a bullet; minimum stopword hits; and
    the repetition signals (dup_line_frac / top2gram_frac). All eight
    are ONE Arrow ``mapInPandas`` pass that tokenizes each doc once
    (``_token_stats_batch`` + ``_rep_signals``, the same conventions as
    the other text kernels): as Catalyst, most rules are higher-order
    lambdas over ``split``, which Spark evaluates interpreted. NULL
    text fails min_tokens (kept out), same as an empty doc."""
    names = ["too_few_tokens", "too_many_tokens", "avg_word_len",
             "symbol_ratio", "bullet_lines", "few_stopwords", "dup_lines",
             "repeated_2grams"]
    # withColumn semantics: an output name already in df is replaced
    new = {out_col: T.StructField(out_col, T.BooleanType(), False)}
    if reasons_col is not None:
        new[reasons_col] = T.StructField(
            reasons_col, T.ArrayType(T.StringType()), False)
    fields = [new.pop(f.name, f) for f in df.schema.fields]
    out_schema = T.StructType(fields + list(new.values()))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            res = pdf.copy()
            txt = pdf[text_col].fillna("")
            st = _token_stats_batch(txt)
            ntok = st["ntok"]
            avg_wl = _ratio(st["n_alpha"], ntok)
            # '...' counted non-overlapping, as size(split(t, '\.\.\.')) - 1
            n_sym = txt.map(lambda s: s.count("#") + s.count("..."))
            lines = txt.map(_lines)
            bullets = lines.map(
                lambda ls: sum(ln.startswith(("-", "*", "•")) for ln in ls))
            dlf, t2g = _repetition(lines, st["low"]).T
            fails = np.column_stack([
                ntok < min_tokens, ntok > max_tokens,
                (avg_wl < min_avg_word_len) | (avg_wl > max_avg_word_len),
                _ratio(n_sym, ntok) > max_symbol_word_ratio,
                _ratio(bullets, lines.map(len)) > max_bullet_line_frac,
                st["hits"] < min_stopword_hits,
                dlf > max_dup_line_frac, t2g > max_top2gram_frac])
            res[out_col] = ~fails.any(axis=1)
            if reasons_col is not None:
                res[reasons_col] = [[n for n, f in zip(names, row) if f]
                                    for row in fails]
            yield res

    return df.mapInPandas(batches, out_schema)


def _text_features_kernel(df: DataFrame, text_col: str,
                          prefix: str) -> DataFrame:
    """Arrow kernel twin of the expression path — same outputs."""
    feat_names = ["n_chars", "n_tokens", "n_wordpieces", "n_alpha",
                  "n_digit", "n_punct", "n_space", "n_nonascii",
                  "stopword_ratio", "lang_guess", "quality_score",
                  "fingerprint", "dup_line_frac", "top2gram_frac"]
    def feat_field(n: str) -> "T.StructField":
        return T.StructField(
            prefix + n,
            T.DoubleType() if n in ("stopword_ratio", "quality_score",
                                    "dup_line_frac", "top2gram_frac")
            else (T.StringType() if n == "lang_guess" else T.LongType()))

    # withColumn semantics: a feature whose name collides with an input
    # column REPLACES it in place (e.g. documents.n_chars)
    feat_by_name = {prefix + n: feat_field(n) for n in feat_names}
    fields = [feat_by_name.pop(f.name, f) for f in df.schema.fields]
    out_schema = T.StructType(
        fields + [feat_by_name[prefix + n] for n in feat_names
                  if prefix + n in feat_by_name])

    def xxh(s: str) -> int:
        # 64-bit FNV-1a: fingerprints only need determinism and
        # equal-text => equal-print; hash family differs from the expr
        # path's xxhash64 (see function docstring)
        h = 0xcbf29ce484222325
        for b in s.encode("utf-8", "ignore"):
            h = ((h ^ b) * 0x100000001b3) & 0xFFFFFFFFFFFFFFFF
        return h - (1 << 64) if h >= (1 << 63) else h

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            txt = pdf[text_col].fillna("")
            res = pdf.copy()
            # shared stats + scoring helpers — the SAME code
            # append_lang_quality runs, so the two kernels cannot drift
            st = _token_stats_batch(txt)
            res[prefix + "n_chars"] = txt.str.len().astype("int64")
            res[prefix + "n_tokens"] = st["ntok"]
            res[prefix + "n_wordpieces"] = txt.str.findall(_RE_TOKEN).map(
                lambda ws: sum(max(1, -(-len(w) // 4)) for w in ws)
            ).astype("int64")
            res[prefix + "n_alpha"] = st["n_alpha"].astype(np.int64)
            res[prefix + "n_digit"] = txt.map(
                lambda s: len(_RE_DIGIT.findall(s))).astype("int64")
            res[prefix + "n_punct"] = st["n_punct"].astype(np.int64)
            res[prefix + "n_space"] = txt.map(
                lambda s: len(_RE_SPACE.findall(s))).astype("int64")
            res[prefix + "n_nonascii"] = st["n_na"].astype("int64")
            res[prefix + "stopword_ratio"] = st["swr"]
            res[prefix + "lang_guess"] = _lang_guess_batch(
                st["n_na"], st["low"], txt.str.len())
            res[prefix + "quality_score"] = _quality_score_batch(
                st["n"], st["ntok"], st["n_alpha"], st["n_punct"],
                st["swr"])

            def fp(s: str) -> int:
                s = s.lower()
                if len(s) >= 8:
                    return min(xxh(s[i:i + 8])
                               for i in range(len(s) - 7))
                return xxh(s)

            res[prefix + "fingerprint"] = txt.map(fp).astype("int64")
            res[[prefix + c for c in _REP_COLS]] = _repetition(
                txt.map(_lines), st["low"])
            yield res

    return df.mapInPandas(batches, out_schema)
