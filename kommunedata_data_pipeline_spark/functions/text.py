"""Text-analysis expression library (north-star LLM-data ops).

Everything here is built-in `pyspark.sql.functions` compositions — no
Python UDFs — so the hot path stays inside whole-stage codegen and each
expression has an exact ANSI-SQL twin for the DuckDB oracle.

Ops: tokenization, token/char stats, quality scoring, stopword ratio,
n-gram heuristic language ID, document fingerprinting, shingling for
MinHash/Jaccard (operators.dedup builds on these).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .expr import let
from .strings import md5_bigint

# tiny embedded stopword lists for the n-gram/stopword language heuristic
EN_STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")
DA_STOPWORDS = ("og", "i", "det", "at", "en", "til", "er", "som", "på", "af")


def tokens(text: Column) -> Column:
    """Whitespace tokenization; drops empty tokens (leading/trailing ws).

    DuckDB twin: ``list_filter(string_split_regex(text, '\\s+'), x -> x <> '')``.
    """
    return F.filter(F.split(text, r"\s+"), lambda x: x != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def punct_ratio(text: Column) -> Column:
    """punctuation chars / total chars (quality-scoring feature)."""
    n_punct = F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return F.when(F.length(text) > 0, n_punct / F.length(text)).otherwise(F.lit(0.0))


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    toks = tokens(F.lower(text))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    n = F.size(toks)
    return F.when(n > 0, n_stop / n).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,1]: long-enough, low punctuation,
    some stopwords (prose-like). Deterministic, SQL-expressible."""
    len_ok = F.when(F.length(text) >= 100, F.lit(1.0)).otherwise(
        F.length(text) / F.lit(100.0)
    )
    return F.round(
        0.4 * len_ok + 0.3 * (1.0 - punct_ratio(text)) + 0.3 * stopword_ratio(text),
        6,
    )


def lang_guess(text: Column) -> Column:
    """Stopword-count language heuristic (en vs da vs unknown)."""
    toks = tokens(F.lower(text))
    n_en = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    n_da = F.size(F.filter(toks, lambda t: t.isin(*DA_STOPWORDS)))
    return (
        F.when((n_en == 0) & (n_da == 0), "unknown")
        .when(n_en >= n_da, "en")
        .otherwise("da")
    )


def normalized_text(text: Column) -> Column:
    """Canonical form for fingerprint/dedup: lowercase, collapse whitespace,
    strip non-word chars."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^\w\s]", "")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def fingerprint(text: Column) -> Column:
    """Document fingerprint = md5 of normalized text (exact-dup key)."""
    return F.md5(normalized_text(text))


def word_shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles of the normalized text, as an array of strings.

    Built via sliding index: transform over [0 .. n-k] joining k tokens.
    The token array is let-bound so normalize+split runs ONCE per row —
    referenced directly inside the per-index lambda it would re-evaluate
    per shingle per use (no CSE inside Catalyst lambdas; see
    functions.expr.let). DuckDB twin uses list_transform(range(...)) —
    see operators.dedup for the exact SQL.
    """

    def _shingles(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        return F.when(
            n >= k,
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ",
                    *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(k)],
                ),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))

    return let(F.split(normalized_text(text), " "), _shingles)


# BPE-ish pre-tokenizer pattern (GPT-2-style, simplified to the ASCII
# classes both Java regex and DuckDB's RE2 treat identically): a token is
# an optional leading space + a letter run, digit run, or symbol run.
BPE_TOKEN_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_token_count(text: Column) -> Column:
    """Token count under the BPE-ish regex (north star: token counting =
    whitespace + a BPE-ish regex; `token_count` above is the whitespace
    one). DuckDB twin: ``len(regexp_extract_all(text, pattern))``."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), F.lit(0)))


# Rabin-Karp rolling-hash fingerprint parameters. Token base-hashes are
# folded mod 2^15 so the w-term polynomial stays exact in BIGINT on both
# engines (max term B^(w-1) * 2^15 ~ 3e15 << 2^63, no modular Horner
# needed — DuckDB lacks a portable fold).
ROLL_B = 4567
ROLL_P = 4294967311
ROLL_TOK_MOD = 32768


def rolling_hashes(text: Column, w: int = 4) -> Column:
    """Array of Rabin-Karp polynomial hashes of every w-token window of the
    normalized text: rh(i) = (sum_j h(tok[i+j]) * B^(w-1-j)) mod P with
    h(t) = md5_bigint(t) mod 2^15. Documents shorter than w tokens yield
    an empty array. Token hashes are let-bound — computed once per doc."""

    def _roll(th: Column) -> Column:
        n = F.size(th)
        idx = F.sequence(F.lit(0), F.greatest(n - w, F.lit(0)))
        poly = lambda i: (
            sum(
                F.element_at(th, (i + j + 1).cast("int")) * (ROLL_B ** (w - 1 - j))
                for j in range(w)
            )
            % ROLL_P
        )
        return F.when(n >= w, F.transform(idx, poly)).otherwise(
            F.array().cast("array<bigint>")
        )

    th = F.transform(
        F.split(normalized_text(text), " "),
        lambda t: md5_bigint(t) % ROLL_TOK_MOD,
    )
    return let(th, _roll)


def rolling_fingerprint(text: Column, w: int = 4) -> Column:
    """Winnowing-style document fingerprint: the minimum rolling hash over
    all w-token windows (null for docs shorter than w tokens). Robust to
    local edits away from the minimizing window — the cheap near-dup
    prefilter of the fingerprinting family."""
    return F.array_min(rolling_hashes(text, w))


def chunk_spans(text: Column, chunk_tokens: int = 64, overlap: int = 8) -> Column:
    """Array of (chunk_id, chunk_text, n_tokens) structs: fixed-size token
    windows with overlap — the standard training-data chunker. Stride =
    chunk_tokens - overlap; the last window is the remainder (>0 tokens).
    Token array let-bound: tokenization runs once per doc."""
    stride = chunk_tokens - overlap

    def _chunks(toks: Column) -> Column:
        n = F.size(toks)
        n_chunks = F.greatest(
            F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int"), F.lit(1)
        )
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("int").alias("chunk_id"),
                F.concat_ws(
                    " ", F.slice(toks, i * stride + 1, chunk_tokens)
                ).alias("chunk_text"),
                F.least(n - i * stride, F.lit(chunk_tokens)).alias("n_tokens"),
            ),
        )

    return let(tokens(text), _chunks)
