"""Text-analysis column functions (BASELINE.json north-star: text analysis).

Pure Column expressions (JVM-side, codegen'd) wherever the expression
tree evaluates per ROW — these run at scan speed over 100 TB of
documents. The one exception is shingling, whose per-SHINGLE
higher-order-function evaluation is interpreted and measured ~8x slower
than the Arrow-batched shingles_udf below (see its docstring); both
forms are value-identical. Tokenization matches the reference's
word-split convention (lower + \\W+ —
/root/reference/src/main/java/com/ayoubom/kafka/WordCount.java:54).
"""

from __future__ import annotations

import functools
import re
import threading
from collections import OrderedDict

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

WORD_SPLIT_RE = r"\W+"

# Tiny embedded stopword lists for the n-gram/stopword language heuristic.
# Deterministic and oracle-expressible; not a production lang-id model.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "ich"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est"],
    "es": ["el", "la", "que", "de", "los", "una", "por", "con"],
}


def tokens(text: str | Column, lowercase: bool = True) -> Column:
    """Non-empty \\W+ tokens."""
    c = F.col(text) if isinstance(text, str) else text
    if lowercase:
        c = F.lower(c)
    return F.filter(F.split(c, WORD_SPLIT_RE), lambda t: t != "")


def token_count(text: str | Column) -> Column:
    return F.size(tokens(text))


def stopword_score(toks: Column, lang: str) -> Column:
    """Number of tokens that are stopwords of `lang`."""
    words = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(words, t)))


def language_id(text: str | Column) -> Column:
    """Argmax of per-language stopword hit counts; 'und' if all zero.

    Deterministic tiebreak: first language in en,de,fr,es order wins.
    """
    toks = tokens(text)
    scores = [(lang, stopword_score(toks, lang)) for lang in STOPWORDS]
    best_lang = F.lit("und")
    best_score = F.lit(0)
    # iterate in declaration order with strict >: a later language only
    # displaces the incumbent when strictly better, so earlier langs win ties
    for lang, sc in scores:
        cond = sc > best_score
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, sc).otherwise(best_score)
    return best_lang


def punct_ratio(text: str | Column) -> Column:
    """Fraction of characters that are not alnum/whitespace."""
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c)
    punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


def quality_score(text: str | Column) -> Column:
    """Heuristic doc-quality score in [0,1]:
    length factor * (1 - punct ratio) * stopword-coverage factor.
    Pure integer-derived double arithmetic -> bit-reproducible.
    """
    toks = tokens(text)
    n_tok = F.size(toks)
    len_factor = F.least(F.lit(1.0), n_tok / F.lit(100.0))
    sw = stopword_score(toks, "en")
    sw_factor = F.least(F.lit(1.0), sw / F.lit(5.0))
    return F.round(len_factor * (F.lit(1.0) - punct_ratio(text)) * (F.lit(0.5) + F.lit(0.5) * sw_factor), 6)


def trimmed_lines(text: str | Column) -> Column:
    """Non-empty trimmed lines of a document (array<string>)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(
        F.transform(F.split(c, "\n"), lambda t: F.trim(t)),
        lambda t: t != "",
    )


def repetition_signals(text: str | Column) -> Column:
    """Gopher-style within-document repetition/quality signals
    (Rae et al. 2021 §A1.1: repetitious documents are low-quality), as
    a struct of EXACT INTEGER counts so any downstream fraction
    (duplicate-line fraction, duplicate-bigram fraction, mean word
    length) is computed by the consumer and the counts themselves stay
    bit-reproducible across engines:

    - n_words / total_word_chars  -> mean word length
    - n_lines / n_distinct_lines  -> duplicate-line fraction
    - n_bigrams / n_distinct_bigrams -> duplicate word-2-gram fraction

    Pure Column expressions (JVM, scan-stage, zero shuffle): the
    100 TB plan is one pass over the corpus with whole-stage codegen.
    """
    toks = tokens(text)
    n = F.size(toks)
    # zip_with over two slices, NOT transform+element_at over an index
    # sequence: Catalyst does not CSE the outer array into a lambda, so
    # element_at(toks, i) re-tokenizes the document PER BIGRAM —
    # accidental O(n_tokens^2) per doc (measured 21 s for 50k docs at
    # sf0.1; this form is linear). slice arguments are evaluated once
    # per row.
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    lines = trimmed_lines(text)
    return F.struct(
        n.alias("n_words"),
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).alias(
            "total_word_chars"
        ),
        F.size(bigrams).alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).alias("n_distinct_bigrams"),
        F.size(lines).alias("n_lines"),
        F.size(F.array_distinct(lines)).alias("n_distinct_lines"),
    )


def fingerprint(text: str | Column) -> Column:
    """Document content fingerprint: md5 over the normalized token stream.

    Whitespace/punctuation-insensitive: equal fingerprints == equal token
    sequences. Used as the exact-dedup key at scale (32-hex-char key
    shuffles far cheaper than full document text).
    """
    return F.md5(F.array_join(tokens(text), " "))


def shingles_of_tokens(t: Column, k: int = 3) -> Column:
    """Distinct k-token shingles from an ALREADY-MATERIALIZED tokens
    column. Prefer this over shingles(): pass a column produced by a
    prior select so the token pipeline is evaluated once per row —
    referencing a raw tokens(...) expression here would re-evaluate the
    split+filter inside the per-shingle lambda (measured 8x slower)."""
    idx = F.sequence(F.lit(0), F.size(t) - k)
    mk = F.transform(idx, lambda i: F.array_join(F.slice(t, i + 1, k), " "))
    return F.when(F.size(t) >= k, F.array_distinct(mk)).otherwise(
        F.array().cast("array<string>")
    )


def shingles(text: str | Column, k: int = 3) -> Column:
    """Distinct k-token shingles (strings), the MinHash/Jaccard unit.

    Convenience single-expression form; in hot paths materialize tokens
    first and use shingles_of_tokens (see its docstring).
    """
    return shingles_of_tokens(tokens(text), k)


# Python twin of the \W+ tokenizer: re.ASCII pins Python's \W to the
# ASCII-only semantics Java regex (Spark) and RE2 (DuckDB) use, so the
# three engines produce byte-identical tokens.
SPLIT_ASCII_RE = re.compile(r"\W+", re.ASCII)


def shingle_list(s: str, k: int) -> list[str]:
    """Plain-Python distinct k-token shingles, first-occurrence order —
    value-identical to shingles() (pinned in the dedup oracle checks).

    Null-safe: non-string input (None / NaN from a null text cell) maps
    to [] — matching the pure-Column form, where split(NULL) propagates
    null and the row is filtered, instead of raising inside the Arrow
    batch and failing the whole query."""
    if not isinstance(s, str):
        return []
    toks = [t for t in SPLIT_ASCII_RE.split(s.lower()) if t]
    if len(toks) < k:
        return []
    seen: set[str] = set()
    res: list[str] = []
    for i in range(len(toks) - k + 1):
        g = " ".join(toks[i : i + k])
        if g not in seen:
            seen.add(g)
            res.append(g)
    return res


@functools.lru_cache(maxsize=32)
def shingles_udf(k: int):
    """Arrow-batched text -> distinct k-token shingles UDF.

    This is deliberately NOT the pure-column shingles_of_tokens form for
    hot full-corpus paths: Spark's higher-order functions
    (transform/filter lambdas) evaluate interpreted per element, and
    Catalyst's CollapseProject re-inlines a "materialize tokens first"
    projection back into every lambda reference, so the HOF chain
    re-splits the text per shingle. Measured at sf0.1 (5000 docs): 5.1s
    HOF vs 0.6s warm for this UDF — ~8x — with byte-identical output.
    Per 128MB scan split this is one Python worker crossing of (text) in
    and (shingles) out — the sanctioned Arrow escape hatch.
    """

    @pandas_udf("array<string>")
    def _sh(texts: pd.Series) -> pd.Series:
        return pd.Series([shingle_list(s, k) for s in texts])

    return _sh


# BPE-ish token pieces: common English contractions, space-prefixed word
# or number runs, punctuation runs, residual whitespace. Mirrors the
# GPT-2 pretokenizer's shape without lookaheads, so the same pattern
# runs under Java regex (Spark) and RE2 (DuckDB).
BPE_PIECE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9']+|\s+"


def bpe_token_estimate(text: str | Column) -> Column:
    """Approximate LLM token count: number of BPE-ish pretokenizer
    pieces. A corpus-cost estimator (pieces upper-bound merged BPE
    tokens), not a replica of any specific tokenizer's merges —
    deterministic, JVM-side, and oracle-expressible
    (len(regexp_extract_all(...)) in DuckDB)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_PIECE_RE), F.lit(0)))


# PII patterns restricted to the syntax Java regex and RE2 share (no
# lookaround, no backrefs) so the identical pattern runs JVM-side here
# and in any RE2-based auditor (DuckDB/Go). Ordered: emails first (an
# address contains digits), then URLs (paths contain digits), then bare
# digit runs >= 2 over whatever text remains.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", r"https?://[^\s]+", "<URL>"),
    ("number", r"[0-9]{2,}", "<NUM>"),
]


def scrub_pii(text: str | Column) -> Column:
    """Sequential PII redaction: struct(scrubbed, n_email, n_url,
    n_number).

    Each pattern's count is taken over the text as it stands when that
    pattern is applied (emails are counted/redacted before their digits
    can be double-counted as numbers). Pure regexp column expressions —
    the scrub runs inside the scan stage at corpus scale, no shuffle,
    no Python. Redaction is pattern-based, not a PII *detector*: recall
    is bounded by the pattern list, which callers extend per corpus.
    """
    c = F.col(text) if isinstance(text, str) else text
    fields = []
    for name, pat, repl in PII_PATTERNS:
        fields.append(
            F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0))).alias(f"n_{name}")
        )
        c = F.regexp_replace(c, pat, repl)
    return F.struct(c.alias("scrubbed"), *fields)


def token_hashes(
    toks: Column, p: int = (1 << 31) - 1, hash_fn: str = "xxhash64"
) -> Column:
    """Per-token hash mod p — materialize this column BEFORE calling
    winnowing_of_hashes (the same evaluate-once discipline as
    shingles_of_tokens; hashing inside the gram fold would re-run
    the hash over the whole token array once per gram).

    hash_fn='xxhash64' is the fast production default; 'md5' derives a
    60-bit value from the md5 hex prefix — byte-identical to DuckDB's
    CAST('0x'||substring(md5(t),1,15) AS BIGINT) % p, making winnowing
    oracle-checkable across engines."""
    if hash_fn == "md5":
        return F.transform(
            toks,
            lambda t: F.pmod(
                F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"), F.lit(p)
            ),
        )
    if hash_fn != "xxhash64":
        raise ValueError(f"unknown hash_fn {hash_fn!r} (expected xxhash64|md5)")
    return F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(p)))


def winnowing_fps_md5(
    s: str, k: int = 5, window: int = 4, p: int = (1 << 31) - 1
) -> list[int]:
    """Plain-Python winnowing fingerprint SET (md5 token hashes) —
    value-identical to the distinct elements of
    winnowing_of_hashes(token_hashes(tokens(s), hash_fn='md5'))
    (pinned in tests/test_text_functions + test_dedup_candidates_stream;
    returned sorted — downstream consumers treat it as a set)."""
    import hashlib

    import numpy as np

    if not isinstance(s, str):  # null text cell: no tokens, no fingerprints
        return []
    toks = [t for t in SPLIT_ASCII_RE.split(s.lower()) if t]
    n_grams = len(toks) - (k - 1)
    if n_grams < window:
        return []
    h = np.fromiter(
        (int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % p for t in toks),
        dtype=np.int64, count=len(toks),
    )
    # base-31 polynomial over k-grams: acc stays < 32 * 2^31 = 2^36
    acc = np.zeros(n_grams, dtype=np.int64)
    for j in range(k):
        acc = (acc * 31 + h[j : j + n_grams]) % p
    m = acc[: n_grams - window + 1].copy()
    for j in range(1, window):
        np.minimum(m, acc[j : j + n_grams - window + 1], out=m)
    return sorted(set(m.tolist()))


@functools.lru_cache(maxsize=32)
def winnowing_fps_udf(k: int = 5, window: int = 4, p: int = (1 << 31) - 1):
    """Arrow-batched text -> fingerprint SET (md5 token hashes), the
    measured fast path when the set itself is needed (streaming
    candidate generation). r15 re-measurement AFTER the
    winnowing_fingerprints CSE guard landed (the old 47 s-vs-16 s x10
    number was against the unguarded chain that re-tokenized per
    slice): sf0.1 posting build, best-of-4 interleaved — UDF 1.14 s vs
    guarded Column form 1.64 s (~1.4x; hashlib's C md5 beats JVM
    md5-hex conv per token). Values are identical to the Column form's
    distinct elements (set semantics; order differs — proved set-equal
    on the sf0.1 corpus)."""

    @pandas_udf("array<bigint>")
    def _wf(texts: pd.Series) -> pd.Series:
        return pd.Series([winnowing_fps_md5(s, k, window, p) for s in texts])

    return _wf


# unresolved winnowing fingerprint Columns keyed on (input expr string,
# k, window, p, hash_fn) — expression-tree reuse, never data (see
# winnowing_fingerprints). The key is a rendered expression, so the set
# of keys is open-ended: least recently used entries are evicted past
# _WINNOWING_COL_CACHE_MAX.
_WINNOWING_COL_CACHE_MAX = 32
_winnowing_col_cache: OrderedDict[tuple, Column] = OrderedDict()
_winnowing_col_lock = threading.Lock()


def winnowing_of_hashes(
    tok_h: Column, k: int = 5, window: int = 4, p: int = (1 << 31) - 1
) -> Column:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    polynomial rolling hash over k-token grams, then the minimum hash of
    each sliding window of `window` consecutive gram hashes; distinct
    mins are the fingerprint set.

    Guarantee: any shared run of >= k + window - 1 tokens between two
    documents yields at least one shared fingerprint, at ~1/window the
    storage of full gram hashing — the standard plagiarism/near-dup
    sketch. Pure column arithmetic; base-31 polynomial over hashed
    tokens keeps every step below 2^36 (no ANSI overflow). tok_h must be
    a MATERIALIZED column from token_hashes().
    """
    n_grams = F.size(tok_h) - (k - 1)
    # gram hashes: k shifted views of tok_h folded elementwise. A
    # transform-over-index form (slice(tok_h, i, k) per gram) would
    # re-evaluate slices per ELEMENT; zip_with arguments evaluate once
    # per row, so this is O(n*k) with k+window slice copies total.
    gram_hash = F.slice(tok_h, 1, n_grams)
    for j in range(1, k):
        gram_hash = F.zip_with(
            gram_hash,
            F.slice(tok_h, j + 1, n_grams),
            lambda acc, h: F.pmod(acc * 31 + h, F.lit(p)),
        )
    # note the fold above seeds with the FIRST shifted view directly:
    # acc_0 = h_0, then acc_j = (acc*31 + h_j) % p — identical to
    # starting from 0 since (0*31 + h_0) % p == h_0 (h < p).
    n_windows = n_grams - (window - 1)
    mins = F.slice(gram_hash, 1, n_windows)
    for j in range(1, window):
        mins = F.zip_with(
            mins,
            F.slice(gram_hash, j + 1, n_windows),
            lambda a, b: F.least(a, b),
        )
    return F.when(n_grams >= window, F.array_distinct(mins)).otherwise(
        F.array().cast("array<bigint>")
    )


def winnowing_fingerprints(
    text_col: Column,
    k: int = 5,
    window: int = 4,
    p: int = (1 << 31) - 1,
    hash_fn: str = "xxhash64",
) -> Column:
    """CSE-GUARDED winnowing fingerprint array straight from a text
    Column — USE THIS at call sites, not a hand-rolled
    winnowing_of_hashes(token_hashes(...)) chain.

    winnowing_of_hashes slices its input k + window - 1 times; handed
    the raw token_hashes expression, Catalyst's CollapseProject
    re-inlines the whole tokenize + per-token-hash transform into
    EVERY slice reference, so the document is re-tokenized and
    re-hashed ~8x per row (the same trap scrub_duplicated_spans and
    chunk_documents document). Binding the token-hash array as a
    LAMBDA VARIABLE (transform over a 1-element array) makes it a
    computed value the optimizer cannot re-inline: tokenize + hash run
    ONCE per row. r15 measurement at sf0.1 (5000 docs, md5 hashes):
    text_winnowing 13.9 s -> ~1 s, dedup_winnowing's fingerprint pass
    proportionally. Expression-for-expression the same arithmetic —
    values are identical, only the evaluation count changes.
    """
    # Memoized on the (rendered input expression, params) key: building
    # this Column costs ~0.35 s of py4j round-trips (the k+window-1
    # zip_with chain constructs hundreds of JVM expression objects),
    # which was the single largest FIXED term of the winnowing entries'
    # wall (dedup_winnowing sf0.001 floor: 1.5 s of a 2.3 s sf0.1
    # bench read). The cache holds unresolved EXPRESSION TREES — code,
    # not data (the _band_hashes_udf memo precedent): a Column is a
    # description, resolved per plan, so reuse across queries and
    # data directories is semantics-free.
    key = (str(text_col), k, window, p, hash_fn)
    with _winnowing_col_lock:
        col = _winnowing_col_cache.get(key)
        if col is not None:
            _winnowing_col_cache.move_to_end(key)
            return col
    col = F.element_at(
        F.transform(
            F.array(token_hashes(tokens(text_col), p=p, hash_fn=hash_fn)),
            lambda th: winnowing_of_hashes(th, k=k, window=window, p=p),
        ),
        1,
    )
    with _winnowing_col_lock:
        _winnowing_col_cache[key] = col
        if len(_winnowing_col_cache) > _WINNOWING_COL_CACHE_MAX:
            _winnowing_col_cache.popitem(last=False)
    return col
