"""Text-analysis expressions for training-data pipelines — pure Catalyst.

Language-ID, quality scoring, token counting, shingling, SimHash and
fingerprinting, all as JVM-side expressions (no Python UDFs): at 100 TB
these run per-row inside whole-stage codegen with zero shuffle and zero
serialization boundary, so text preprocessing is scan-bound.

Cross-engine notes: functions used in t2 oracle checks (token_count,
punct counting, md5 fingerprint) restrict themselves to regex/semantics
identical between Spark (Java regex) and DuckDB (RE2): simple character
classes and ``\\s+`` only.
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F

# Tiny characteristic-stopword sets per language for the n-gram/stopword
# heuristic language identifier. Deliberately small: the point is the
# Spark expression shape (broadcast-free, codegen-able), not linguistic
# completeness.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "with"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "mit", "ein"),
    "fr": ("le", "la", "les", "et", "est", "une", "que", "pour"),
    "es": ("el", "los", "las", "es", "una", "que", "por", "con"),
    "it": ("il", "che", "di", "per", "una", "sono", "con", "non"),
}

ENGLISH_STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "it", "that", "this", "with", "for", "as", "on", "at", "by", "be",
)


def bind(expr: Column, fn) -> Column:
    """Let-binding: evaluate ``expr`` ONCE per row, pass the value to
    ``fn`` as a HOF lambda variable, return ``fn``'s result.

    Why this exists (round-4 plan audit): staging an expensive array as
    a named column does NOT guarantee single evaluation — Catalyst
    re-inlines projected columns into their references (CollapseProject
    and the Generate/Project rewrites), and interpreted HOF evaluation
    has no common-subexpression elimination, so a tokenizer "staged"
    below a shingle expression showed up 17× in the optimized plan and
    re-ran per reference. A lambda VARIABLE, by contrast, is bound to
    the evaluated value — every reference is a variable read in both
    codegen and interpreted modes, and no optimizer rule inlines
    through it. Implementation: ``transform(array(expr), fn)[0]`` — the
    one-element wrapper costs one array header per row.
    """
    return F.transform(F.array(expr), fn)[0]


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization → array<string>, empties dropped.

    The empties-drop is ``array_remove`` — a codegen'd single-pass
    collection op, not an interpreted per-token HOF ``filter`` (HOF
    lambdas don't codegen; measured slowest of the three forms) and not
    a regex edge-trim (``F.trim`` strips only ASCII spaces while
    ``\\s+`` also matches tab/newline, so a trim-based guard leaks
    edge empties — round-3 review finding — and a real regex trim costs
    a full extra scan of the text)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.array_remove(F.split(F.trim(c), r"\s+"), "")


def token_count(text: Column | str) -> Column:
    # null text → null count: sizeOfNull=false is pinned in
    # _RUNTIME_CONFS (the legacy default returns -1 with ANSI off),
    # which keeps this a single tokenizer evaluation — an isNotNull
    # CASE guard would embed the trim+split+array_remove tree twice
    # (no CSE across CASE branches; see shingles_from_tokens).
    return F.size(tokens(text)).cast("bigint")


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token estimate: splits on whitespace AND punctuation
    boundaries, the way a BPE pre-tokenizer segments; ~chars/4 fallback
    intuition replaced by an actual segmentation count."""
    c = F.col(text) if isinstance(text, str) else text
    # insert breaks around punctuation, then whitespace-split;
    # array_remove drops edge empties codegen-side (same reasoning as
    # tokens())
    seg = F.regexp_replace(c, r"([.,;:!?()\[\]{}\"'])", r" $1 ")
    return F.size(F.array_remove(F.split(F.trim(seg), r"\s+"), "")).cast("bigint")


def char_ngrams(text: Column | str, n: int = 5) -> Column:
    """Character n-gram shingles (lowercased) → array<string>.

    Expression shape: substring at each offset via transform(sequence).
    Per-row, codegen-able; used by MinHash/Jaccard dedup.
    """
    c = F.lower(F.col(text) if isinstance(text, str) else text)
    length = F.length(c)
    idx = F.sequence(F.lit(1), F.greatest(length - (n - 1), F.lit(1)))
    return F.when(length >= n, F.transform(idx, lambda i: c.substr(i, F.lit(n)))).otherwise(
        F.array(c)
    )


def lower_tokens(text: Column | str) -> Column:
    """Lowercased whitespace tokens. Lowercases the WHOLE text before
    splitting: one codegen'd string op instead of an interpreted
    per-token HOF pass (``\\s+`` boundaries are case-invariant, so the
    result is identical)."""
    c = F.col(text) if isinstance(text, str) else text
    return tokens(F.lower(c))


def shingles_from_tokens(toks: Column | str, k: int = 3, distinct: bool = True) -> Column:
    """k-word shingles over a token array → array<string> (distinct by
    default; ``distinct=False`` keeps positional repeats for term-
    FREQUENCY consumers like TF-IDF cosine).

    Formulation matters: built as a zip_with fold over k SHIFTED SLICES
    of the array, so ``toks`` is referenced only O(k) times. The naive
    ``transform(sequence(0,n-k), i -> slice(toks, i+1, k))`` references
    ``toks`` inside a per-element lambda — and Catalyst's CollapseProject
    re-inlines projected columns into their references, so if ``toks``
    is a tokenizer expression the tokenizer runs O(n) times per row
    (measured 12-25× slowdown). The O(k)-reference form stays fast even
    when projections collapse.
    """
    toks = F.col(toks) if isinstance(toks, str) else toks

    def _build(tk: Column) -> Column:
        n = F.size(tk)
        m = F.greatest(n - (k - 1), F.lit(1))  # number of shingles when n >= k
        # slices[j] = tokens shifted by j: zip element i of each slice
        # gives (t_i, t_{i+1}, ..., t_{i+k-1})
        acc = F.slice(tk, k, m)
        for j in range(k - 1, 0, -1):
            acc = F.zip_with(F.slice(tk, j, m), acc, lambda x, y: F.concat_ws(" ", x, y))
        full = acc if not distinct else F.array_distinct(acc)
        return F.when(n >= k, full).otherwise(F.array(F.concat_ws(" ", tk)))

    # bind(): tk references above are lambda-variable reads — the token
    # array (and any tokenizer expression inlined into it) evaluates
    # exactly once per row regardless of optimizer inlining
    return bind(toks, _build)


def shingle_hashes_from_tokens(toks: Column | str, k: int = 3) -> Column:
    """k-word shingles as 64-bit hashes → array<bigint> (distinct).

    The dedup kernels (Jaccard inverted index, MinHash) never need the
    shingle TEXT — only set membership. Hashing each token once
    (xxhash64) and folding k consecutive token hashes with
    ``xxhash64(long, long)`` skips building the concat strings entirely:
    the exploded join/shuffle key becomes a fixed 8-byte long instead of
    a ~25-byte string, array_distinct compares longs, and the codegen'd
    expression is materially smaller. Same O(k)-reference shifted-slice
    shape as :func:`shingles_from_tokens` (see its performance
    contract). Collisions (~n²/2⁶⁴ per document pair) are the standard
    hashed-shingle trade every production dedup pipeline makes; results
    are identical to string shingles unless two distinct shingles of the
    same document pair collide.
    """
    toks = F.col(toks) if isinstance(toks, str) else toks

    def _build(th: Column) -> Column:
        n = F.size(th)
        m = F.greatest(n - (k - 1), F.lit(1))
        acc = F.slice(th, k, m)
        for j in range(k - 1, 0, -1):
            acc = F.zip_with(F.slice(th, j, m), acc, lambda x, y: F.xxhash64(x, y))
        # short docs (n < k): one shingle = fold of all token hashes, the
        # hashed analogue of shingles_from_tokens' concat_ws fallback
        short = F.aggregate(
            F.reverse(th), F.xxhash64(F.lit("")), lambda a, h: F.xxhash64(h, a)
        )
        return F.when(n >= k, F.array_distinct(acc)).otherwise(F.array(short))

    # one interpreted hash pass bound ONCE (bind()): the k+1 slice/size
    # references to th above are variable reads, not re-evaluations —
    # and the token array itself is referenced once, so an inlined
    # tokenizer also runs once
    return bind(F.transform(toks, lambda t: F.xxhash64(t)), _build)


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """k-word shingles → array<string> (distinct), for Jaccard/MinHash.

    Convenience form inlining the tokenizer; hot paths should project
    tokens first (``with_tokens``) and call ``shingles_from_tokens``.
    """
    return shingles_from_tokens(lower_tokens(text), k)


def with_tokens(df, text_col: str = "text", out_col: str = "_toks"):
    """Stage lowercased tokens as a real column so downstream
    shingle/hash expressions evaluate the tokenizer once per row."""
    return df.withColumn(out_col, lower_tokens(text_col))


_PUNCT_CLASS = r"[.,;:!?]"


def punct_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return (F.length(c) - F.length(F.regexp_replace(c, _PUNCT_CLASS, ""))).cast("bigint")


def punct_ratio(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.when(F.length(c) > 0, punct_count(c) / F.length(c)).otherwise(F.lit(0.0))


def stopword_ratio(text: Column | str, stopwords: tuple[str, ...] = ENGLISH_STOPWORDS) -> Column:
    # bind(): the 3 references to the token array (filter + 2 sizes)
    # must not each inline a tokenizer copy — see bind's contract
    return bind(
        lower_tokens(text),
        lambda toks: F.when(
            F.size(toks) > 0,
            F.size(F.filter(toks, lambda t: t.isin(*stopwords))) / F.size(toks),
        ).otherwise(F.lit(0.0)),
    )


def quality_score(text: Column | str) -> Column:
    """Heuristic document quality in [0,1]: length sweet-spot, sane
    punctuation density, stopword presence, sane mean token length.
    (Gopher/C4-style filters distilled into one monotone score.)

    One tokenizer run feeds both token-based terms (bind); stopwords
    match on per-token lower(), identical to tokenizing lowered text
    because ``\\s+`` boundaries are case-invariant (lower_tokens'
    contract)."""
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c)
    len_term = F.least(n / F.lit(500.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(c) * 5, F.lit(1.0))

    def _token_terms(toks: Column) -> Column:
        sz = F.size(toks)
        hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(*ENGLISH_STOPWORDS)))
        stop_ratio = F.when(sz > 0, hits / sz).otherwise(F.lit(0.0))
        mtl = F.when(
            sz > 0, F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)) / sz
        ).otherwise(F.lit(0.0))
        stop_term = F.least(stop_ratio * 4, F.lit(1.0))
        mtl_term = F.when((mtl >= 3) & (mtl <= 10), 1.0).otherwise(0.5)
        return stop_term * 0.25 + mtl_term * 0.25

    return (len_term * 0.25 + punct_term * 0.25 + bind(tokens(c), _token_terms)).cast(
        "double"
    )


def lang_scores(text: Column | str) -> Column:
    """Map<lang, hits> of characteristic-marker hits. The token array is
    bind()-bound: one tokenizer run feeds all five per-language filters
    (as attribute references they would each get an inlined tokenizer
    copy — see bind's contract)."""
    return bind(
        lower_tokens(text),
        lambda toks: F.array(
            *[
                F.struct(
                    F.lit(lang).alias("lang"),
                    F.size(F.filter(toks, lambda t: t.isin(*markers))).alias("hits"),
                )
                for lang, markers in LANG_MARKERS.items()
            ]
        ),
    )


def detect_lang(text: Column | str, default: str = "en") -> Column:
    """argmax over lang_scores; no hits → default; a hit-count tie that
    includes ``default`` resolves to ``default`` (r2 verdict #3 — the old
    struct order let the lexicographically greatest code win a tie, so
    'it' beat 'en'); a tie among non-default languages resolves to the
    greatest code, which is at least deterministic."""
    scores = lang_scores(text)
    best = F.array_max(
        F.transform(
            scores,
            lambda s: F.struct(
                s["hits"].alias("hits"),
                (s["lang"] == F.lit(default)).cast("int").alias("is_default"),
                s["lang"].alias("lang"),
            ),
        )
    )
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit(default))


def fingerprint(text: Column | str) -> Column:
    """Cross-engine document fingerprint: md5 of whitespace-normalized,
    lowercased text. md5 is bit-identical in Spark and DuckDB, so this is
    t2-checkable; use simhash64/xxhash64 variants for speed-only paths."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.lower(F.regexp_replace(F.trim(c), r"\s+", " ")))


def simhash64(text: Column | str) -> Column:
    """64-bit SimHash over whitespace tokens — pure Catalyst.

    Per token: xxhash64 → ±1 per bit position; accumulate a 64-length
    counter array with ``aggregate``; sign of each counter sets the bit.
    Near-duplicate docs differ in few bits (hamming distance).
    """
    # hash once per token (a transform), THEN fold: inside the fold the
    # lambda var h is a bound value, so the 64 bit-probes below read it
    # rather than re-running xxhash64 64× per token; lower() runs on the
    # whole text (codegen) instead of per token (interpreted HOF pass)
    hashes = F.transform(lower_tokens(text), lambda t: F.xxhash64(t))
    zero = F.array_repeat(F.lit(0).cast("long"), 64)

    def add_hash(acc, h):
        # bit positions are plan-time Python ints (shiftright requires int)
        bitvec = F.array(
            *[
                (F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
                for i in range(64)
            ]
        )
        return F.zip_with(acc, bitvec, lambda a, b: a + b)

    counters = F.aggregate(hashes, zero, add_hash)
    # Assemble sign bits MSB→LSB by Horner's method (acc*2 + bit) over the
    # low 63 bits (max acc fits a long, so this is ANSI-overflow-safe),
    # then OR in the top bit as the long's sign bit.
    low = F.aggregate(
        F.reverse(F.slice(counters, 1, 63)),
        F.lit(0).cast("long"),
        lambda acc, c: acc * 2 + F.when(c > 0, 1).otherwise(0),
    )
    top = F.element_at(counters, 64)
    return F.when(top > 0, low.bitwiseOR(F.lit(-(1 << 63)).cast("long"))).otherwise(low)


def hamming64(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two 64-bit hashes (bit_count of XOR)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))


# PII patterns, applied in order (email first: emails contain digits
# and dots that the later numeric patterns would otherwise mangle).
# Restricted to syntax with identical semantics in Java regex (Spark)
# and RE2 (DuckDB): character classes, bounded repetition, \b word
# boundaries — no lookarounds (RE2 has none), no backreferences.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "<PHONE>"),
    (r"\b[0-9]{9,}\b", "<ID>"),
)


def redact_pii(text: Column | str, patterns: tuple[tuple[str, str], ...] = PII_PATTERNS) -> Column:
    """Scrub PII-shaped spans (emails, URLs, phone numbers, long digit
    runs) → redaction tags. Pure Catalyst ``regexp_replace`` chain —
    per-row, codegen'd, zero Python in the path; at 100 TB this is a
    map-only stage that fuses into whatever scan/filter surrounds it.

    Pattern order is part of the contract (see PII_PATTERNS). For
    corpus-cleaning pipelines, apply BEFORE dedup: redaction normalizes
    away per-user variance, so near-dup detection sees the template."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, repl in patterns:
        c = F.regexp_replace(c, pat, repl)
    return c
