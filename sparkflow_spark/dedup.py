"""Deduplication operators for training-data pipelines.

Five strategies, all shuffle-disciplined for 100 TB:

- exact:       hash-groupBy on a content fingerprint (one shuffle of
               (hash, id), never of the payload).
- minhash LSH: shingles → K minhashes → B bands → band-bucket self-join
               (shuffle key = (band, signature-slice hash); candidate
               pairs only within buckets — never O(n²)).
- simhash:     64-bit simhash + hamming-ball bucketing via bit-block
               keys (Manku et al. WWW'07 style block permutation).
- n-gram Jaccard: exact set similarity via shingle-inverted-index join
               (co-occurrence count / union size) with a shingle
               frequency cap to bound skew.
- embedding cosine: near-dup over embeddings (see similarity module for
               the ANN path).

The reference has no dedup surface; this is the north-star extension
(SURVEY.md §7 M3). Everything below is DataFrame-only — candidate
generation and verification are joins/aggregations Catalyst can plan,
with AQE handling bucket skew.
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from sparkflow_spark.functions.text import (
    bind,
    fingerprint,
    hamming64,
    lower_tokens,
    shingle_hashes_from_tokens,
    shingles_from_tokens,
    simhash64,  # noqa: F401 — re-exported; definitional twin of simhash64_fast
    with_tokens,
)
from sparkflow_spark.memo import Memo

# Mersenne prime 2^31-1 for the (a*x + b) mod p universal-hash family.
# The field must be small enough that a*x + b stays inside int64 under
# ANSI mode (Spark 4 default): x < p and a < p give a*x + b < 2^62 + 2^31,
# well below 2^63-1. Round 1 used p = 2^61-1, whose products overflow —
# ARITHMETIC_OVERFLOW under ANSI, silent wraparound otherwise (r2 verdict
# #2), so the computed family wasn't the documented one.
_MERSENNE_P = (1 << 31) - 1


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row per distinct text (the min id — deterministic).

    Scale shape: shuffles only (fingerprint, id); the winner set is then
    a semi-join back against the full table, so document payloads cross
    the network once, not twice.
    """
    fp = df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("_fp"))
    winners = fp.groupBy("_fp").agg(F.min(id_col).alias(id_col)).select(id_col)
    return df.join(winners, on=id_col, how="left_semi")


def _minhash_coeffs(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_P), rng.randrange(0, _MERSENNE_P))
        for _ in range(num_hashes)
    ]


def _minhash_signature(shingles: Column, num_hashes: int, seed: int = 42) -> Column:
    """array<bigint> of K minhashes over a shingle array.

    Universal hash family h_i(x) = (a_i * xxhash64(x) + b_i) mod p with
    deterministic (a_i, b_i) derived from ``seed`` (computed in Python
    at plan time — no RNG on executors). The base xxhash64 runs
    JVM-side (shared hash space with the jaccard shingle index); the
    K-way min runs as ONE Arrow-batched numpy broadcast per row instead
    of K interpreted HOF passes — HOF lambdas don't participate in
    whole-stage codegen, and K=64 interpreted array traversals measured
    ~4× slower than the (m,1)*(1,K) numpy path (same trade the LSH-ANN
    signature matmul makes, similarity.py). int64 is overflow-safe:
    a, x < 2³¹ ⇒ a·x + b < 2⁶² + 2³¹.
    """
    coeffs = _minhash_coeffs(num_hashes, seed)
    A = np.asarray([c[0] for c in coeffs], dtype=np.int64)
    B = np.asarray([c[1] for c in coeffs], dtype=np.int64)
    k = num_hashes

    @F.pandas_udf("array<bigint>")
    def sig(base: pd.Series) -> pd.Series:
        out = []
        for h in base:
            if h is None:
                out.append(None)
                continue
            h = np.asarray(h, dtype=np.int64)
            if h.size == 0:
                out.append([None] * k)  # array_min semantics on empty
                continue
            out.append(((h[:, None] * A[None, :] + B[None, :]) % _MERSENNE_P).min(axis=0))
        return pd.Series(out)

    return sig(F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE_P))))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, sig: array<bigint>) MinHash signatures over word shingles.

    Two-stage projection (tokens → shingles → signature) so each stage's
    array is materialized once per row — see shingles_from_tokens's
    performance contract.
    """
    staged = with_tokens(df.select(F.col(id_col), F.col(text_col)), text_col).withColumn(
        "_shingles", shingle_hashes_from_tokens("_toks", shingle_k)
    )
    return staged.select(
        F.col(id_col),
        _minhash_signature(F.col("_shingles"), num_hashes, seed).alias("sig"),
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """LSH banding: docs sharing any band-slice land in one bucket.

    Output: (id_a, id_b, est_jaccard) with id_a < id_b, est_jaccard =
    fraction of matching minhashes. Shuffle key is (band, hash(slice)):
    at 100 TB the bucket join shuffles K·n small keys, and AQE's skew
    join splits pathological buckets (e.g. boilerplate docs).
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k, seed)

    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    bucketed = (
        sigs.select(
            F.col(id_col),
            F.col("sig"),
            F.explode(
                F.transform(
                    band_idx,
                    lambda b: F.struct(
                        b.alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                F.transform(
                                    F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                    lambda v: v.cast("string"),
                                ),
                            )
                        ).alias("bucket"),
                    ),
                )
            ).alias("bb"),
        )
        .select(id_col, "sig", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    )
    # materialize once: the self-join below references this subplan
    # twice, and the signature pandas_udf never canonicalizes equal
    # across references — without this the K-minhash stage runs per
    # side (see simhash_near_duplicates for the identical pattern)
    bucketed = bucketed.localCheckpoint(eager=False)

    a = bucketed.select(
        F.col("band"), F.col("bucket"), F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a")
    )
    b = bucketed.select(
        F.col("band"), F.col("bucket"), F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b")
    )
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq))
        / F.lit(float(num_hashes))
    ).alias("est_jaccard")
    return (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", est)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash64_fast(text: Column) -> Column:
    """Bit-identical fast path for :func:`functions.text.simhash64`.

    Token hashing stays JVM-side (xxhash64 — same hash space as the
    Catalyst definition); the 64 per-bit ±1 counters collapse into one
    Arrow-batched numpy broadcast per row. The pure-Catalyst form
    evaluates ~64 interpreted expressions per TOKEN inside an aggregate
    lambda (no codegen for HOF lambdas) — measured ~20 s for 5k docs at
    sf0.1 vs sub-second here; parity is pinned by
    tests/test_t1_behavioral.py::test_simhash_fast_matches_catalyst.
    """

    @F.pandas_udf("bigint")
    def pack(hashes: pd.Series) -> pd.Series:
        shifts = np.arange(64, dtype=np.int64)
        w62 = (np.int64(1) << shifts[:63])  # weights for the low 63 bits
        out = []
        for h in hashes:
            if h is None:
                out.append(None)
                continue
            h = np.asarray(h, dtype=np.int64)
            if h.size == 0:
                out.append(np.int64(0))  # empty fold: all counters 0 → no bits set
                continue
            bits_pm1 = (((h[:, None] >> shifts[None, :]) & 1) * 2 - 1)  # (m, 64)
            counters = bits_pm1.sum(axis=0)
            set_bits = counters > 0
            low = int((set_bits[:63] * w62).sum())
            out.append(np.int64(low - (1 << 63)) if set_bits[63] else np.int64(low))
        return pd.Series(out, dtype="object")

    return pack(F.transform(lower_tokens(text), lambda t: F.xxhash64(t)))


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """SimHash near-dup candidate pairs with hamming verification.

    Pigeonhole bucketing (Manku et al.): split the 64-bit simhash into
    ``blocks`` bit-blocks; any pair within hamming ≤ blocks-1 shares at
    least one exact block → join on (block_idx, block_value), verify
    with bit_count(xor). Output: (id_a, id_b, hamming).
    """
    sh = df.select(F.col(id_col), simhash64_fast(F.col(text_col)).alias("sh"))
    width = 64 // blocks
    # block index is a plan-time Python int (shiftright requires int)
    exploded = sh.select(
        id_col,
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("sh"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("val"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("bv"),
    ).select(id_col, "sh", F.col("bv.blk").alias("blk"), F.col("bv.val").alias("val"))

    # the self-join references this subplan twice and python-UDF nodes
    # never canonicalize equal, so without materialization the simhash
    # stage runs once per reference (4 ArrowEvalPython nodes observed).
    # localCheckpoint (lazy) computes the blocks×docs index ONCE; blocks
    # are reclaimed by ContextCleaner when the result is dropped — same
    # trade (and same disclosure) as the uncapped jaccard path above.
    exploded = exploded.localCheckpoint(eager=False)

    a = exploded.select("blk", "val", F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = exploded.select("blk", "val", F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, on=["blk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming64("sh_a", "sh_b").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# Memoized (input plan, params) → result plan. DataFrames are immutable
# logical plans, so returning the same result DataFrame for the same
# (df, params) is safe — and it removes the per-invocation plan
# construction + analysis py4j cost (~1 s at sf0.1, ~40% of steady-state
# wall clock; BASELINE.md) for repeated calls, which is exactly what the
# bench's steady-state pass and the driver's back-to-back registry sweep
# do. Owned by the input df; bounded, so a long-lived driver process
# cycling many inputs stays flat.
_NGRAM_RESULT_CACHE = Memo(64)


def _resolve_index_partitions(df: DataFrame, index_partitions: int | None) -> int:
    """Data-sized width for the shingle-keyed exchange (shared by the
    jaccard and containment kernels — ONE definition so a tuning fix
    reaches both; round-6 review finding).

    One partition per ~64 KiB of input text (≈128k index rows, the
    probe-scale sweet spot), but never fewer than half the cores while
    the data supports ≥16 KiB each — a mid-size input on a wide box
    otherwise leaves most cores idle through the CPU-bound
    window+pair-expansion stage (measured at sf0.1/32 cores: 9
    partitions 0.80 s, 16 partitions 0.65 s steady). Plans without
    computable stats report spark.sql.defaultSizeInBytes
    (Long.MaxValue); the byte heuristic would then pick the
    16384-partition cap for arbitrarily small inputs (observed: a
    one-row createDataFrame input scheduling 16384 tasks). A genuine
    exabyte input can't occur (the cap is hit from ~1 GiB up), so ≥2⁶⁰
    can only be the sentinel → fall back to cores. The stats probe is a
    driver-side py4j call on the optimized input plan — microseconds,
    no job runs."""
    if index_partitions is not None:
        return index_partitions
    size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    cores = df.sparkSession.sparkContext.defaultParallelism
    if size >= (1 << 60):
        return cores
    return max(8, min(16384, max(size >> 16, min(cores // 2, size >> 14))))


def _hashed_shingle_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int,
    index_partitions: int,
) -> DataFrame:
    """(id, n, shingle) hashed inverted index — the shared zero-shuffle
    candidate-generation stage of the jaccard and containment kernels.

    shingle_hashes_from_tokens emits a per-doc array_distinct array, so
    (id, shingle) is already unique — no dedup shuffle needed — and the
    doc's set size n rides each exploded struct, attached under a
    bind() so the shingle array (and the tokenizer feeding it)
    evaluates exactly once per row (round-4 plan audit: twin
    size()+explode() references re-evaluated the whole tokenize+shingle
    tree per reference after optimizer inlining). Shingles are 64-bit
    hashes: 8-byte shuffle/join keys, long comparators (see
    shingle_hashes_from_tokens for the collision argument). The raw
    docs are spread first (tiny shuffle) so the expensive
    tokenize+shingle expressions run on every core; the final exchange
    is keyed on the shingle with an EXPLICIT width — AQE coalesces
    repartition-by-column by BYTES, but the downstream window+join is
    CPU-bound interpreted-HOF work with high cost per byte
    (byte-coalescing collapsed this to 3 partitions on a 32-core box,
    +0.4 s), and the scale probe showed any fixed width goes
    superlinear once the exploded index outgrows it (16x data at width
    8: 17.7 s vs 7.6 s at width 128)."""
    docs = df.select(F.col(id_col), F.col(text_col)).repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    shingle_structs = bind(
        shingle_hashes_from_tokens(lower_tokens(F.col(text_col)), shingle_k),
        lambda arr: F.transform(
            arr, lambda x: F.struct(x.alias("shingle"), F.size(arr).alias("n"))
        ),
    )
    sh = docs.select(F.col(id_col), F.explode(shingle_structs).alias("_p")).select(
        F.col(id_col), F.col("_p.n").alias("n"), F.col("_p.shingle").alias("shingle")
    )
    return sh.repartition(index_partitions, F.col("shingle"))


def _df_cap_filter(sh: DataFrame, max_shingle_freq: int) -> DataFrame:
    """Document-frequency window filter df ∈ [2, cap] — the skew guard
    (a boilerplate stop-shingle would create an O(n²) bucket) plus the
    df=1 tail drop (a shingle in exactly one doc can produce no pair).
    A WINDOW count over the already-hash-partitioned index: streamed
    sort, spillable even for a mega-frequent shingle, no extra
    shuffle. Per-doc set sizes n were computed upstream, so similarity
    denominators are unaffected."""
    w = Window.partitionBy("shingle")
    return (
        sh.withColumn("_df", F.count(F.lit(1)).over(w))
        .filter(F.col("_df").between(2, max_shingle_freq))
        .drop("_df")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 1000,
    index_partitions: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via inverted-index join.

    (id, shingle) exploded → self-join on shingle → co-occurrence count
    |A∩B| → Jaccard = inter / (|A| + |B| - inter). ``max_shingle_freq``
    drops boilerplate shingles that appear in more than N docs — the
    classic skew guard: without it one stop-shingle creates an O(n²)
    bucket at scale.
    """
    # Resolve index_partitions BEFORE building the cache key: the
    # None-resolution reads runtime state (defaultParallelism, plan-time
    # sizeInBytes), so keying on the raw None would return a plan
    # partitioned for a previous session config / input size after
    # either changes (round-4 advice).
    index_partitions = _resolve_index_partitions(df, index_partitions)
    args = (text_col, id_col, shingle_k, threshold, max_shingle_freq, index_partitions)
    # the uncapped path localCheckpoints its index lazily; caching that
    # plan would share (and on re-run, re-materialize) executor-resident
    # blocks across invocations — only memoize the pure-plan capped path
    if max_shingle_freq is None:
        return _ngram_jaccard_plan(df, *args)
    return _NGRAM_RESULT_CACHE.get_or_build(df, args, lambda: _ngram_jaccard_plan(df, *args))


def _ngram_jaccard_plan(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int, threshold: float,
    max_shingle_freq: int | None, index_partitions: int,
) -> DataFrame:
    # shared candidate-generation stage (see _hashed_shingle_index):
    # zero-shuffle (id, n, shingle) index, one shingle-keyed exchange
    # that co-partitions the self-join sides AND the frequency cap —
    # the cached partitioning satisfies their distribution
    # requirements, so no further exchange is planned.
    sh = _hashed_shingle_index(df, text_col, id_col, shingle_k, index_partitions)
    if max_shingle_freq is not None:
        # CAPPED (scale) path: per-shingle pair expansion instead of a
        # self-join. The cap is the shared window filter (see
        # _df_cap_filter — skew guard + df=1 tail drop); survivors
        # collect into per-shingle doc arrays BOUNDED by the cap, and
        # the ≤ C(cap,2) pairs per shingle expand in one pass. vs the
        # former checkpoint + self-join formulation this touches the
        # index ONCE — no materialization, no lineage truncation, and
        # no per-invocation physical-planning cost (localCheckpoint
        # plans eagerly at CONSTRUCTION time; measured ~1 s fixed per
        # call at sf0.1, ~40% of the query's steady-state wall clock).
        sh = _df_cap_filter(sh, max_shingle_freq)
        docs = F.array_sort(
            F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("n")))
        )
        g = sh.groupBy("shingle").agg(docs.alias("docs"))
        # Length (size-ratio) filter INSIDE the expansion — the exact
        # prune from the AllPairs/PPJoin family: J(A,B) ≤ min(|A|,|B|) /
        # max(|A|,|B|) (intersection can't exceed the smaller set), so a
        # pair with min(na,nb) < t·max(na,nb) can never reach the
        # threshold and is dropped BEFORE its struct is built — the
        # saved work compounds through explode and the pair-count
        # aggregation (measured at sf0.1/t=0.5: 1.25 M → 0.96 M pairs,
        # steady 1.08 → 0.91 s, and the reading stabilizes because the
        # GC-pressure tail shrinks). Exactness: parity pinned by the
        # DuckDB oracle (which applies the threshold on the full result)
        # and the capped-vs-uncapped equivalence test.
        # Arrow kernel: one mapInPandas pass over the (shingle, docs)
        # groups; per group the ≤C(cap,2) combinations with the
        # size-ratio prune run as a plain python loop over an Arrow
        # batch (docs arrays are cap-bounded, so per-row work is a
        # constant; the emitted stream is ids+sizes only). An
        # interpreted-HOF expansion gives the same pairs but needs 4+
        # executions for the JVM to C2-compile its nested-lambda path
        # (measured sf0.1 convergence 7.7 → 1.8 → 1.2 → 1.1 s vs this
        # kernel's 3.0 → 1.15 → 1.0 s; BASELINE.md round-9).
        idt = df.schema[id_col].dataType.simpleString()

        def _expand(batches):
            for pdf in batches:
                ia, ib, na, nb = [], [], [], []
                for docs in pdf["docs"]:
                    m = len(docs)
                    for i in range(m - 1):
                        x = docs[i]
                        xn = x["n"]
                        for j in range(i + 1, m):
                            y = docs[j]
                            yn = y["n"]
                            if (xn if xn <= yn else yn) >= threshold * (
                                xn if xn >= yn else yn
                            ):
                                ia.append(x["id"])
                                ib.append(y["id"])
                                na.append(xn)
                                nb.append(yn)
                yield pd.DataFrame(
                    {"id_a": ia, "id_b": ib, "na": na, "nb": nb}
                )

        expanded = g.mapInPandas(
            _expand, f"id_a {idt}, id_b {idt}, na int, nb int"
        )
        inter = expanded.groupBy("id_a", "id_b", "na", "nb").agg(
            F.count(F.lit(1)).alias("inter")
        )
    else:
        # UNCAPPED path (oracle/debug scale only — a boilerplate shingle
        # makes candidate pairs quadratic regardless of formulation):
        # self-join on the shingle key. The index feeds BOTH sides, and
        # Catalyst does not reuse alias-renamed subplans, so materialize
        # it once via localCheckpoint — NOT persist(), which registers in
        # CacheManager and pins blocks until an explicit unpersist a
        # library function has no lifecycle hook to issue (r2 verdict
        # #5); localCheckpoint blocks are reclaimed by ContextCleaner
        # when the caller drops the result. eager=False defers
        # materialization to the first action. TRADE-OFF (disclosed):
        # lineage is truncated and blocks live on executors only — an
        # executor lost mid-query fails the query instead of recomputing
        # (acceptable for an intra-query intermediate; the query restarts
        # idempotently). The quadratic pair stream stays row-based —
        # spillable — rather than collected into unbounded arrays.
        sh = sh.localCheckpoint(eager=False)
        a = sh.select(
            F.col("shingle"), F.col(id_col).alias("id_a"), F.col("n").alias("na")
        )
        b = sh.select(
            F.col("shingle"), F.col(id_col).alias("id_b"), F.col("n").alias("nb")
        )
        inter = (
            a.join(b, on="shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b", "na", "nb")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    return (
        inter.select(
            "id_a",
            "id_b",
            (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 1000,
    index_partitions: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup mining: shingle containment
    C(src→dst) = |S(src) ∩ S(dst)| / |S(src)| ≥ ``threshold`` →
    (src_id, dst_id, containment), one row per qualifying DIRECTION.
    This catches what Jaccard structurally cannot: a short document
    quoted/excerpted inside a long one has containment ≈ 1 but Jaccard
    ≈ |small|/|large| — exactly the "training doc embeds the eval set"
    and "boilerplate wrapper around real content" cases.

    Same capped inverted-index shape as :func:`ngram_jaccard_pairs`
    (hashed shingles, window-count df∈[2,cap] skew/tail filter,
    data-sized shingle partitioning), with ONE deliberate difference:
    the AllPairs size-ratio prune is OMITTED — it bounds
    min/max set-size ratio, which is precisely the asymmetry
    containment exists to find. Candidate work is therefore the full
    Σ C(df,2) under the cap; the scale lever here is the cap itself
    (plus prefix-filtering refinements if a deployment needs them —
    they prune on src-size only and stay containment-safe).
    """
    index_partitions = _resolve_index_partitions(df, index_partitions)
    # identical shared index/cap stages as the jaccard kernel — one
    # definition, so index tuning reaches both (round-6 review finding)
    sh = _hashed_shingle_index(df, text_col, id_col, shingle_k, index_partitions)
    if max_shingle_freq is not None:
        sh = _df_cap_filter(sh, max_shingle_freq)
    doc_arr = F.array_sort(
        F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("n")))
    )
    g = sh.groupBy("shingle").agg(doc_arr.alias("docs"))
    pair = F.flatten(
        F.transform(
            F.col("docs"),
            lambda x, i: F.transform(
                F.slice(F.col("docs"), i + F.lit(2), F.size(F.col("docs"))),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    x["n"].alias("na"),
                    y["n"].alias("nb"),
                ),
            ),
        )
    )
    inter = (
        g.select(F.explode(pair).alias("p"))
        .select("p.*")
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # r13: both directions from ONE pass over `inter` — the former
    # fwd/rev unionByName re-executed the entire index+expansion subtree
    # per leg (plan: 2 scans + 2 Windows + 2 pair expansions → 1; guide
    # §2.4). Identical rows: same inter/na and inter/nb divisions, just
    # emitted via explode instead of a union.
    directions = F.array(
        F.struct(
            F.col("id_a").alias("src_id"),
            F.col("id_b").alias("dst_id"),
            (F.col("inter") / F.col("na")).alias("containment"),
        ),
        F.struct(
            F.col("id_b").alias("src_id"),
            F.col("id_a").alias("dst_id"),
            (F.col("inter") / F.col("nb")).alias("containment"),
        ),
    )
    return (
        inter.select(F.explode(directions).alias("d"))
        .select("d.*")
        .filter(F.col("containment") >= threshold)
    )


# connected_components loop sizing (derived from the MATERIALIZED edge
# count, so both scale with the data instead of being local-mode tuning):
# below the edge bound, the label table is ≤ 2·edges rows of two longs
# (≈32 MB of row data at the bound — comfortably a broadcast build side),
# so every per-round join gets an explicit broadcast hint; above it the
# loop keeps shuffle joins — the 100 TB path. The width divisor keeps
# ~200k label/edge rows per shuffle partition inside the loop, capped at
# the session setting (never raised).
_CC_BROADCAST_EDGE_MAX = 1_000_000
_CC_ROWS_PER_PARTITION = 200_000
# r14: below this many (directed, deduped) edges the component labels
# are computed with a single driver-side union-find instead of the
# iterative join loop. Memory class argument: the broadcast-mode loop
# ALREADY collects the whole label table to the driver as a broadcast
# build side THREE TIMES PER ROUND (×~13 rounds measured at sf0.1);
# one collect of the edge list is strictly less driver traffic than
# any single round, and the loop's per-round floor (~0.35 s of
# scheduling + checkpoint + count, measured) × O(log d) rounds never
# beats ~30 ms of path-compressed union-find at this size. Above the
# bound — the 100 TB path — the distributed loop is unchanged.
_CC_DRIVER_EDGE_MAX = 200_000


def _driver_union_find(edges: DataFrame):
    """Exact (node, component=min reachable id) via path-compressed
    union-find with union-by-min, over a collected small edge list.
    Returns None when an id is NULL (the join loop's null semantics are
    subtle enough that the caller keeps the distributed path there).
    Label values equal the distributed fixpoint's by construction: the
    root of every set is kept at the set's minimum id, and both
    orderings (Python's and Spark's) agree on longs and on strings
    (UTF-8 byte order preserves code-point order)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for row in edges.collect():
        a, b = row[0], row[1]
        if a is None or b is None:
            return None
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra  # root stays the component MINIMUM
    return [(n, find(n)) for n in parent]


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    checkpoint_every: int = 3,
    on_nonconvergence: str = "raise",
) -> DataFrame:
    """Connected components by min-label propagation with pointer
    jumping over an edge list.

    Returns (node, component) where component = min node id reachable.
    Each iteration is two joins + an aggregate: (1) propagate — label =
    min of own and neighbors' labels; (2) shortcut (pointer jumping) —
    label = label's label. Propagation alone needs O(diameter) rounds;
    the shortcut step squares the reach per round, so convergence is
    O(log diameter) — a 100-node path converges in 8 rounds, not 100.
    Both steps preserve the invariant that a node's label is the id of
    some node in its component (labels only ever decrease toward the
    component minimum), so the fixpoint is exact, not approximate.

    ``max_iter`` is a backstop, not a tuning knob: log2(diameter) of
    any real graph fits in the default 20 (2^20-hop diameters would
    need a trillion-row chain). If it IS exhausted the labels are not
    a partition into components, so silently returning them would make
    a caller (``near_dedup``) keep duplicate docs with no signal —
    round-4 audit finding. Default behavior is to raise; pass
    ``on_nonconvergence="warn"`` to get the partial labels plus a
    ``warnings.warn``.

    Scale notes: lineage is truncated with localCheckpoint every few
    rounds (iterative plans otherwise grow unboundedly); the per-round
    convergence check is a count() — one cheap action per round.

    Join strategy (r13, guide §3.1): the materialized edge count — one
    count() over the checkpointed blocks, paid once — picks the round's
    join strategy DELIBERATELY instead of leaving every round to
    sort-merge. Label/parent frames derive from localCheckpoint RDDs,
    whose size statistics Catalyst treats as unknown-large, so the
    planner can never auto-broadcast them even when the graph is tiny;
    below ``_CC_BROADCAST_EDGE_MAX`` edges (labels ≤ 2·edges rows of two
    longs — tens of MB at the bound, far under executor memory) every
    per-round join gets an explicit broadcast hint, collapsing 3 shuffle
    exchanges per round to the single groupBy exchange. Above the bound
    the loop keeps shuffle joins — the 100 TB path is unchanged. The
    loop's shuffle width is likewise derived from the edge count
    (~200k edges per partition, never above the session setting), so a
    small graph stops paying 32-partition scheduling overhead per round
    while production widths are untouched.
    """
    if on_nonconvergence not in ("raise", "warn"):
        raise ValueError("on_nonconvergence must be 'raise' or 'warn'")
    edges = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .union(pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b")))
        .distinct()
    )
    # materialize the edge list once: every iteration's join + the
    # convergence count are separate ACTIONS, so without this each
    # round re-executes the whole upstream pair-generation plan (for
    # near-dedup that is the jaccard index — measured ~1 s per
    # re-execution at sf0.1, several times per convergence). Blocks are
    # ContextCleaner-reclaimed when the loop's result is dropped.
    edges = edges.localCheckpoint(eager=False)
    # One count over the checkpointed blocks (this is also the action
    # that materializes them — work the first round was about to do
    # anyway) sizes the loop: join strategy + shuffle width below are
    # DERIVED from the data, not constants (guide §2.2/§3.1). Catalyst
    # sees localCheckpoint frames as unknown-large, so without the hint
    # a 500-node dedup graph pays 3 sort-merge exchanges per round.
    n_edges = edges.count()
    spark = pairs.sparkSession
    if n_edges <= _CC_DRIVER_EDGE_MAX:
        # r14 small-graph fast path (see _CC_DRIVER_EDGE_MAX): one
        # bounded collect + union-find replaces O(log d) join rounds
        # that each collected the label table to the driver as a
        # broadcast build side anyway. Same exact labels; measured
        # g_connected_components 4.1 s → ~0.6 s steady at sf0.1.
        labeled = _driver_union_find(edges)
        if labeled is not None:
            id_type = edges.schema["a"].dataType
            import pyspark.sql.types as T

            schema = T.StructType(
                [
                    T.StructField("node", id_type),
                    T.StructField("component", id_type),
                ]
            )
            return spark.createDataFrame(labeled, schema)
    bcast = n_edges <= _CC_BROADCAST_EDGE_MAX
    hint = F.broadcast if bcast else (lambda df: df)
    # r14 (r13 verdict ask #6): the loop width is applied with explicit
    # keyed repartitions on the exchanges the loop owns, NOT by setting
    # spark.sql.shuffle.partitions on the shared session — a global
    # knob set-then-restored races with any concurrently submitted
    # query on the same session. A keyed repartition(n, k) immediately
    # before a groupBy(k)/join-on-k satisfies the operator's required
    # distribution, so Spark plans NO second exchange (guide §2.4) —
    # same exchange count, same narrowed width, zero session-global
    # state.
    loop_width: int | None = None
    try:
        cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
        w = max(1, min(cur, n_edges // _CC_ROWS_PER_PARTITION + 1))
        if w < cur:
            loop_width = w
    except (TypeError, ValueError):
        pass  # non-integer setting (e.g. "auto") — leave widths alone

    def keyed(df: DataFrame, *cols: str) -> DataFrame:
        """Pin the NEXT keyed exchange over ``df`` to the loop width."""
        return df if loop_width is None else df.repartition(loop_width, *cols)

    # broadcast-mode joins shuffle nothing — narrowing their inputs
    # would ADD exchanges the conf-based form never planned; only the
    # shuffle-join (big graph) path keys its join inputs
    jkeyed = (lambda df, *c: df) if bcast else keyed
    labels = (
        keyed(edges.select(F.col("a").alias("node")), "node")
        .distinct()
        .withColumn("component", F.col("node"))
    )
    converged = False
    for i in range(max_iter):
        neighbor_min = (
            keyed(
                jkeyed(edges, "b").join(
                    hint(jkeyed(labels, "node")),
                    F.col("b") == F.col("node"),
                ),
                "a",
            )
            .groupBy("a")
            .agg(F.min("component").alias("nmin"))
        )
        propagated = (
            jkeyed(labels, "node").join(
                hint(jkeyed(neighbor_min, "a")),
                F.col("node") == F.col("a"),
                "left",
            )
            .select(
                "node",
                # r13 batch 4: carry the previous label through the round
                # so the convergence check below is a filter over the
                # checkpointed blocks instead of a per-round shuffle join
                # of new vs old labels (one whole job removed per round).
                F.col("component").alias("_prev"),
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nmin"), F.col("component")),
                ).alias("component"),
            )
        )
        # pointer jumping: follow the label one more hop (component :=
        # component's component). label(u) is connected to u and
        # label(label(u)) is connected to label(u), so the invariant
        # holds; reach doubles per round, giving the O(log d) bound.
        parent = propagated.select(
            F.col("node").alias("_pn"), F.col("component").alias("_pc")
        )
        new_labels = (
            jkeyed(propagated, "component").join(
                hint(jkeyed(parent, "_pn")),
                F.col("component") == F.col("_pn"),
                "left",
            )
            .select(
                "node",
                "_prev",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("_pc"), F.col("component")),
                ).alias("component"),
            )
        )
        # r13 (guide §5.4): truncate EVERY round BEFORE the convergence
        # count. The count is an action, so an un-truncated new_labels
        # re-executed every round since the last checkpoint — and the
        # next round's count re-executed them again (~r²/2 redundant
        # join rounds per checkpoint_every window, measured 11.9 s →
        # ~5 s at sf0.1). One materialization per round means the count
        # AND round i+1 both read the same cached blocks; stale label
        # blocks are ContextCleaner-reclaimed. r14: the checkpoint is
        # LAZY — the convergence count right below is the round's one
        # materializing action (it writes the blocks as it counts), so
        # each round runs ONE job instead of two (eager checkpoint job
        # + count job; measured ~19% off g_connected_components steady).
        # ``checkpoint_every`` is retained for API compatibility but the
        # every-round truncation supersedes it.
        new_labels = new_labels.localCheckpoint(eager=False)
        # same comparison as the old new-vs-old label join (labels only
        # ever decrease, so _prev != component ⟺ the join's inequality),
        # but served from the blocks the checkpoint just wrote — no
        # shuffle, no second execution of the round's joins.
        changed = new_labels.filter(F.col("component") != F.col("_prev")).count()
        labels = new_labels.drop("_prev")
        if changed == 0:
            converged = True
            break
    if not converged:
        msg = (
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; the returned labels would NOT partition the graph into "
            "components (downstream near-dedup would keep duplicates). "
            "Raise max_iter — O(log2 diameter) rounds suffice."
        )
        if on_nonconvergence == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, stacklevel=2)
    return labels


def near_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one representative (min id) per near-duplicate component.

    ``pairs`` is any candidate-pair DataFrame (minhash/simhash/jaccard/
    embedding); rows not in any pair survive untouched via the anti-join.
    """
    comp = connected_components(pairs)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def near_dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    rank_cols: tuple[str, ...] = ("n_chars",),
) -> DataFrame:
    """Keep the BEST member per near-duplicate component — highest
    ``rank_cols`` (descending, in order), ties broken by min id — the
    production keep rule when clusters mix a full document with its
    truncated/boilerplate variants (keeping min-id, as
    :func:`near_dedup` does, can discard the canonical long copy).

    Same component machinery as :func:`near_dedup`; the only extra cost
    is one join of the CLUSTERED ids (a small fraction of the corpus)
    against the rank columns and a per-component window — both keyed by
    component, so no full-corpus shuffle is added. Rows in no pair
    survive via the final anti-join.
    """
    comp = connected_components(pairs)
    members = comp.select(F.col("node").alias(id_col), "component")
    scored = members.join(
        df.select(id_col, *rank_cols), on=id_col, how="inner"
    )
    w = Window.partitionBy("component").orderBy(
        *[F.col(c).desc() for c in rank_cols], F.col(id_col).asc()
    )
    losers = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def ann_planes_for_threshold(
    threshold: float,
    num_tables: int = 16,
    probe_hamming: int = 2,
    min_recall: float = 0.999,
    max_planes: int = 32,
) -> int:
    """Largest hyperplane count whose multi-probe LSH family keeps
    per-pair recall ≥ ``min_recall`` AT the cosine threshold (r14, r13
    verdict ask #3 — band/row counts derived from the threshold, not
    constants). More planes ⇒ buckets shrink 2× each ⇒ fewer
    candidates; the binding constraint is recall at the threshold:
    per-plane disagreement p = arccos(t)/π, per-table collision
    q = P(Binom(planes, p) ≤ probe_hamming), family recall
    1-(1-q)^tables. At t=0.4 this lands on 8 planes (the disclosed
    broad-probe regime — an accept region covering half the sphere
    FORCES broad probing); at t=0.9 it lands on 16 (candidates collapse
    ~2^8 per table; see plans/r14/ann_threshold_probe.json)."""
    import math

    t = min(max(threshold, -1.0), 1.0)
    p = math.acos(t) / math.pi
    best = 4
    for planes in range(4, max_planes + 1):
        q = sum(
            math.comb(planes, i) * p**i * (1 - p) ** (planes - i)
            for i in range(0, min(probe_hamming, planes) + 1)
        )
        recall = 1 - (1 - q) ** num_tables
        if recall >= min_recall:
            best = planes
    return best


def embedding_near_duplicates_ann(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int | None = None,
    num_tables: int = 16,
    probe_hamming: int = 2,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Cosine near-dup pairs via multi-probe random-hyperplane LSH —
    the 100 TB path: candidate generation is LINEAR in n (explode into
    (table, code) buckets, equi-join), never the O(n²) crossJoin of
    :func:`embedding_near_duplicates`.

    Candidates: per table t, side A carries its exact ``num_planes``-bit
    signature; side B carries every code within hamming ≤
    ``probe_hamming`` of its signature (multi-probe LSH, Lv et al.
    VLDB'07 — raises recall without adding tables). A pair collides iff
    their signatures differ in ≤ probe_hamming bits in ANY table. Every
    candidate is then verified with an EXACT cosine ≥ threshold, so
    precision is exact; recall is 1-(1-q)^T where q = P(hamming ≤ r)
    per table (≈0.9996 per pair at cos=0.4 with the defaults; ≈1-1e-22
    at cos=0.95).

    Scale shape: B-side explode is num_tables·Σ C(planes,i) rows per
    vector (592 with defaults) of (id, tbl, code) — ids only, vectors
    are re-joined per candidate pair afterwards, so the wide explode
    never carries the embedding payload. At larger corpora raise
    num_planes (buckets shrink 2× per plane) before raising num_tables.
    """
    from sparkflow_spark.functions.vector import dot_batched, l2_norm
    from sparkflow_spark.similarity import _hyperplanes, rh_signatures_batched

    if num_planes is None:
        # r14: derive the plane count from the threshold so the
        # candidate set tracks the accept region instead of a constant
        # (8 at t=0.4 — unchanged from the old default there; 16 at the
        # 0.95 production default, where buckets shrink 2^8 per table)
        num_planes = ann_planes_for_threshold(
            threshold, num_tables, probe_hamming
        )
    if probe_hamming < 0 or probe_hamming > num_planes:
        raise ValueError(f"probe_hamming must be in [0, {num_planes}]")

    # all bit masks with ≤ probe_hamming bits set, computed at plan time.
    # Enumerate by combinations of set-bit POSITIONS — sum(C(planes, r))
    # steps — never by scanning range(2^planes): the docstring advises
    # raising num_planes at larger corpora, and at 32 planes a 2^32
    # range scan is hours of driver CPU before any Spark work.
    masks = [0]
    for r in range(1, probe_hamming + 1):
        for pos in itertools.combinations(range(num_planes), r):
            masks.append(sum(1 << b for b in pos))

    if dim is None:
        # one-row probe for the dimensionality (array<float> carries no
        # length in the schema), skipping NULL vectors — a NULL in the
        # physically first row must not read as "empty corpus" (round-3
        # review #2). Eager action at plan-construction time; pass dim
        # explicitly to skip it on expensive derived inputs.
        head = df.select(vec_col).where(F.col(vec_col).isNotNull()).first()
        if head is None:
            spark = df.sparkSession
            return spark.createDataFrame(
                [], f"id_a {df.schema[id_col].dataType.simpleString()}, "
                    f"id_b {df.schema[id_col].dataType.simpleString()}, cosine double"
            )
        dim = len(head[0])
    tables = [(t, _hyperplanes(dim, num_planes, seed + 1000 * t)) for t in range(num_tables)]

    # one Arrow-batched matmul for all tables' signatures, then
    # posexplode to (table, signature) rows — see rh_signatures_batched
    sigs = (
        df.select(F.col(id_col), rh_signatures_batched(vec_col, tables).alias("_sigs"))
        .select(id_col, F.posexplode("_sigs").alias("tbl", "sig"))
    )
    # materialize once: both candidate sides reference sigs, and the
    # signature pandas_udf never canonicalizes equal across references
    # (same pattern as minhash/simhash above). r13: fanned across the
    # cores first — the multi-probe explode and the bucket equi-join
    # stream otherwise inherit the scan's single row-group partition
    # (fan_out is a scale-adaptive no-op on large inputs).
    from sparkflow_spark.catalog import fan_out

    sigs = fan_out(sigs).localCheckpoint(eager=False)

    a = sigs.select(F.col("tbl"), F.col("sig").alias("code"), F.col(id_col).alias("id_a"))
    b = sigs.select(
        "tbl",
        F.col(id_col).alias("id_b"),
        F.explode(F.array(*[F.col("sig").bitwiseXOR(F.lit(m)).cast("long") for m in masks])).alias(
            "code"
        ),
    )
    candidates = (
        a.join(b, on=["tbl", "code"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )

    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), l2_norm(vec_col).alias("_na"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), l2_norm(vec_col).alias("_nb"))
    den = F.col("_na") * F.col("_nb")
    return (
        candidates.join(va, on="id_a")
        .join(vb, on="id_b")
        .select("id_a", "id_b", F.when(den != 0, dot_batched("va", "vb") / den).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """Cosine near-dup pairs over an embedding column (brute-force
    verification path; see similarity.lsh_ann for the bucketed path).

    Brute force is O(n²) within the join — only sane under a blocking
    key or for candidate verification. Kept as the exactness oracle.
    The per-pair dot runs Arrow-batched (dot_batched): n² interpreted
    HOF dots dominated this scan (34 s at sf0.1's 2M pairs → ~5 s).
    """
    from sparkflow_spark.functions.vector import dot_batched, l2_norm

    from sparkflow_spark.catalog import fan_out

    # r13: fan BOTH sides of the n² nested loop across the cores —
    # whichever side the planner streams (the other is broadcast), a
    # one-row-group parquet scan otherwise scores every pair on one
    # task (scale-adaptive no-op on large inputs; this path is the
    # labeled exactness oracle, the ANN path is the production one)
    fanned = fan_out(df)
    a = fanned.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), l2_norm(vec_col).alias("_na")
    )
    b = fanned.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), l2_norm(vec_col).alias("_nb")
    )
    den = F.col("_na") * F.col("_nb")
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", F.when(den != 0, dot_batched("va", "vb") / den).alias("cosine")
        )
        .filter(F.col("cosine") >= threshold)
    )


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    shingle_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/eval contamination check: for each eval document, the
    fraction of its distinct k-word shingles that occur ANYWHERE in the
    training corpus → (id, n_shingles, n_hits, contamination).

    The standard pre-training hygiene step (WIMBD/GPT-3-style n-gram
    overlap): an eval doc with high shingle overlap against the training
    set is leaked, and benchmarks scored on it are contaminated.

    Spark shape, sized for a 100 TB train side:
    - the train corpus collapses to its DISTINCT shingle universe before
      any join — a map-side-combined aggregation, the only full-corpus
      pass;
    - eval shingles LEFT-join that universe on the shingle key; the
      shuffle is keyed on shingles, so the (usually tiny) eval side
      co-partitions against the big universe, and AQE broadcasts the
      eval side when it fits;
    - the per-doc rollup (hits / total) is a small agg on eval ids.
    For production scale, pre-hash shingles with
    :func:`sparkflow_spark.functions.text.shingle_hashes_from_tokens`
    (8-byte join keys, ~n/2⁶⁴ false-hit rate); this oracle-checked form
    joins on shingle TEXT so the DuckDB differential is exact.
    """
    from sparkflow_spark.functions.text import shingles_from_tokens

    def _shingle_rows(df: DataFrame, keep_id: bool) -> DataFrame:
        toked = with_tokens(df, text_col)
        sh = F.explode(shingles_from_tokens("_toks", shingle_k)).alias("shingle")
        if keep_id:
            return toked.select(F.col(id_col), sh)
        return toked.select(sh)

    ev = _shingle_rows(eval_df, keep_id=True)
    universe = _shingle_rows(train, keep_id=False).distinct().withColumn("_hit", F.lit(1))
    joined = ev.join(universe, "shingle", "left")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.count("_hit").alias("n_hits"),
        F.round(F.count("_hit") / F.count(F.lit(1)), 3).cast("double").alias("contamination"),
    )


def edit_distance_join(
    df: DataFrame,
    string_col: str,
    id_col: str,
    max_dist: int = 1,
    q: int = 2,
    index_partitions: int | None = None,
) -> DataFrame:
    """Exact edit-distance self-join (record linkage): all pairs with
    ``levenshtein(a, b) <= max_dist`` → (id_a, id_b, dist), id_a < id_b.

    Candidate generation is the positional q-gram count filter of
    Gravano et al., "Approximate String Joins in a Database (Almost) for
    Free" (VLDB 2001): an edit operation destroys at most q of a
    string's overlapping q-grams, so ed(a,b) <= d implies a and b share
    at least T = max(|a|,|b|) - q + 1 - q*d q-grams whose positions
    differ by at most d. The kernel therefore:

    1. explodes positional q-grams (gram, pos) per string — rows are
       unique by construction (position disambiguates repeats), so the
       co-occurrence count across a pair upper-bounds the alignable
       1-1 matches and the count filter stays an exact SUPERSET filter;
    2. buckets by gram (hash repartition — the only wide shuffle, keyed
       on the 2-char gram), collects per-gram entries and pair-expands
       with the position (|Δpos| <= d) and length (|Δlen| <= d) filters
       applied INSIDE the expansion before any struct is built — the
       same bounded-HOF shape as :func:`ngram_jaccard_pairs`;
    3. counts co-occurrences per (id_a, id_b) and keeps pairs meeting
       the per-pair threshold T (lengths ride the expansion, so T is a
       pure expression — no second pass);
    4. verifies survivors with Spark's built-in JVM ``levenshtein``
       after joining the original strings back by id (two id-keyed
       shuffles of the already-small candidate set).

    Unlike the Jaccard kernel there is NO frequency cap: a cap would
    break exactness. A pathologically common q-gram (one gram appearing
    in a large fraction of all strings) makes its bucket quadratic; the
    position filter bounds this for long strings (a gram only pairs
    across |Δpos| <= d), but short highly-repetitive vocabularies (the
    fixtures' part names are the worst case) still expand O(bucket²).
    That is inherent to exact edit-distance joins at scale — route
    looser matching through the capped Jaccard/MinHash kernels instead.

    Contract: every non-NULL string must have length >= q*(max_dist+1);
    below that the count-filter threshold is vacuous (T <= 0) and a
    qualifying pair could share zero q-grams, so the filter would MISS
    pairs. Violations raise at execution time (raise_error rides the
    gram expression — no extra validation pass). NULL strings are
    dropped (no defined distance). Distance-0 pairs (exact duplicates)
    are included by construction.
    """
    min_len = q * (max_dist + 1)
    s = F.col(string_col)
    n = F.length(s)
    checked_n = F.when(
        n < min_len,
        F.raise_error(
            F.concat(
                F.lit(
                    f"edit_distance_join: string shorter than q*(max_dist+1)={min_len} "
                    "breaks the q-gram count-filter guarantee: "
                ),
                s,
            )
        ).cast("int"),
    ).otherwise(n)
    grams = F.transform(
        F.sequence(F.lit(1), checked_n - q + 1),
        lambda i: F.struct(F.substring(s, i, F.lit(q)).alias("gram"), i.alias("pos")),
    )
    g = (
        df.filter(s.isNotNull())
        .select(F.col(id_col).alias("id"), n.alias("len"), F.explode(grams).alias("_g"))
        .select("id", "len", F.col("_g.gram").alias("gram"), F.col("_g.pos").alias("pos"))
    )
    if index_partitions is None:
        index_partitions = df.sparkSession.sparkContext.defaultParallelism
    g = g.repartition(index_partitions, F.col("gram"))
    entries = F.collect_list(F.struct(F.col("id"), F.col("len"), F.col("pos")))
    grp = g.groupBy("gram").agg(F.array_sort(entries).alias("docs")).filter(F.size("docs") >= 2)
    d = max_dist
    pair = F.flatten(
        F.transform(
            F.col("docs"),
            lambda x, i: F.transform(
                F.filter(
                    F.slice(F.col("docs"), i + F.lit(2), F.size(F.col("docs"))),
                    lambda y: (F.abs(x["pos"] - y["pos"]) <= d)
                    & (F.abs(x["len"] - y["len"]) <= d)
                    & (x["id"] != y["id"]),
                ),
                lambda y: F.struct(
                    F.least(x["id"], y["id"]).alias("id_a"),
                    F.greatest(x["id"], y["id"]).alias("id_b"),
                    F.when(x["id"] < y["id"], x["len"]).otherwise(y["len"]).alias("la"),
                    F.when(x["id"] < y["id"], y["len"]).otherwise(x["len"]).alias("lb"),
                ),
            ),
        )
    )
    cand = (
        grp.select(F.explode(pair).alias("p"))
        .select("p.*")
        .groupBy("id_a", "id_b", "la", "lb")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= F.greatest("la", "lb") - q + 1 - q * d)
        .select("id_a", "id_b")
    )
    names = df.select(F.col(id_col).alias("_id"), F.col(string_col).alias("_nm"))
    return (
        cand.join(names.withColumnsRenamed({"_id": "id_a", "_nm": "_name_a"}), "id_a")
        .join(names.withColumnsRenamed({"_id": "id_b", "_nm": "_name_b"}), "id_b")
        .withColumn("dist", F.levenshtein("_name_a", "_name_b"))
        .filter(F.col("dist") <= d)
        .select("id_a", "id_b", "dist")
    )


def minhash_md5_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, h0..h{K-1}) MinHash signatures from an md5-derived hash family.

    Engine-portable twin of :func:`minhash_signatures`: permutation *i*
    is ``min over shingles of md5(i || '|' || shingle)`` — md5 of the
    same text is bit-identical in every engine and the hex digests
    compare in plain ASCII order, so the whole signature (and therefore
    every LSH band decision built on it) is reproducible outside Spark.
    That makes this the variant a cross-engine migration can verify
    hash-for-hash (the xxhash64 family is JVM-defined and ~3× faster;
    prefer it when nothing else needs to recompute the signatures).

    Scale shape: one explode of distinct (id, shingle) pairs, then a
    single hash-aggregate computing all K mins map-side — the shuffle
    carries K fixed-width digests per document, never the text.
    """
    staged = with_tokens(df.select(F.col(id_col), F.col(text_col)), text_col).withColumn(
        "_sh", shingles_from_tokens("_toks", shingle_k)
    )
    ex = staged.select(F.col(id_col), F.explode("_sh").alias("shingle"))
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return ex.groupBy(id_col).agg(*aggs)


def minhash_md5_band_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """LSH candidate pairs from md5 MinHash signatures, filtered to
    estimated Jaccard ≥ ``threshold``.

    Standard banding: the K hashes split into ``bands`` contiguous
    groups; two documents become a candidate pair iff some band's
    concatenated digests agree exactly. Candidates then get an estimate
    ``est = (#matching hashes) / K`` and pairs below ``threshold`` drop.

    Scale shape: the self-join keys on (band index, band value) — an
    equi-join over LSH buckets whose cost is Σ C(bucket,2), never the
    all-pairs square. A bucket only grows with genuinely near-identical
    documents (its key is a conjunction of MinHash values), which is
    the population the operator exists to find. Returns
    (id_a, id_b, est) with id_a < id_b.
    """
    if num_hashes % bands:
        raise ValueError(f"num_hashes={num_hashes} not divisible by bands={bands}")
    r = num_hashes // bands
    sig = minhash_md5_signatures(
        df, text_col=text_col, id_col=id_col, num_hashes=num_hashes, shingle_k=shingle_k
    ).localCheckpoint(eager=False)  # signatures feed both the band join and the verify join
    band_vals = [
        F.concat_ws("", *[F.col(f"h{b * r + j}") for j in range(r)]) for b in range(bands)
    ]
    bdf = sig.select(
        F.col(id_col), F.posexplode(F.array(*band_vals)).alias("band", "bv")
    )
    cand = (
        bdf.alias("a")
        .join(
            bdf.alias("b"),
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bv") == F.col("b.bv"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    sa = sig.select(F.col(id_col).alias("id_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(num_hashes)])
    sb = sig.select(F.col(id_col).alias("id_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(num_hashes)])
    match_count = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(num_hashes)
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est", match_count / F.lit(float(num_hashes)))
        .filter(F.col("est") >= threshold)
        .select("id_a", "id_b", "est")
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    min_df: int = 2,
    max_df: int = 20,
    shingle_k: int = 3,
    round_digits: int = 4,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity pairs ≥ ``threshold``.

    The term-space complement of the embedding cosine kernels: documents
    are tf·idf vectors over their k-shingle terms (tf = positional
    count, idf = ln(N/df)), similarity is the sparse dot over SHARED
    terms divided by the vector norms. Distinct from shingle Jaccard in
    both weighting (a term repeated 5× counts 5×, and rare terms count
    more) and metric (cosine degrades gracefully under length mismatch
    where Jaccard collapses). Shingle terms rather than unigrams: in
    any real corpus the unigram df distribution is dominated by
    stopwords the ``max_df`` cap would have to discard wholesale;
    k-shingles keep the df spectrum informative.

    Scale shape — the standard inverted-index similarity join:

    - terms with df < ``min_df`` can't contribute to any pair and are
      dropped; terms with df > ``max_df`` are the boilerplate mass —
      near-zero idf AND quadratic join fan-out — so the cap is both the
      skew guard and a no-op weight-wise (same contract as
      ngram_jaccard_pairs's frequency cap; the oracle mirrors it).
    - candidate work is Σ C(df, 2) with df ≤ max_df — bucketed by
      term, never the all-pairs square.
    - norms are computed over exactly the kept vocabulary, so
      cosine ∈ [0, 1] by construction.

    Cosine is rounded to ``round_digits`` BEFORE thresholding so the
    boundary decision is identical in any engine re-running the same
    arithmetic. Returns (id_a, id_b, cos) with id_a < id_b.
    """
    staged = with_tokens(df.select(F.col(id_col), F.col(text_col)), text_col).withColumn(
        "_sh", shingles_from_tokens("_toks", shingle_k, distinct=False)
    )
    tc = (
        staged.select(F.col(id_col), F.explode("_sh").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_docs = df.select(F.countDistinct(id_col).alias("_n"))
    w_term = Window.partitionBy("term")
    weighted = (
        tc.withColumn("_df", F.count(F.lit(1)).over(w_term))
        .filter((F.col("_df") >= min_df) & (F.col("_df") <= max_df))
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            (F.col("c") * F.log(F.col("_n") / F.col("_df"))).alias("w"),
        )
    )
    # referenced three times (norms + both join sides): truncate the
    # tokenize→explode→agg→window lineage once, same pattern as the
    # minhash bucketed subplan above
    weighted = weighted.localCheckpoint(eager=False)
    norms = weighted.groupBy(id_col).agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a = weighted.select(F.col(id_col).alias("id_a"), "term", F.col("w").alias("wa"))
    b = weighted.select(F.col(id_col).alias("id_b"), "term", F.col("w").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "cos",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), round_digits).cast("double")
            + F.lit(0.0),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    sort_key_col: str,
    tokens_col: str,
    window: int = 5,
    threshold: float = 0.4,
) -> DataFrame:
    """Sorted-Neighborhood Method (SNM) blocking + token-Jaccard
    verification → (doc_a, doc_b, jaccard), doc_a < doc_b.

    The third classic blocking family next to the inverted-index join
    (ngram_jaccard_pairs) and LSH banding (minhash_pairs): sort the
    corpus by a domain sort key that co-locates likely duplicates,
    then compare each record only with its ``window`` successors in
    sort order. Candidate count is EXACTLY n·window — independent of
    key-frequency skew, which is SNM's selling point when a hot
    blocking key would blow up an equi-join blocker (every record in
    one block → C(n,2)); its blind spot is duplicates whose sort keys
    diverge in the first characters (use multi-pass SNM with a second
    key for that).

    Scale shape: one range exchange for the total order
    (:func:`operators.global_rank` — never a single-partition window),
    a ``window``-way explode of integer rank offsets, and one hash
    self-join on the dense rank — uniform join keys by construction.
    Verification (set Jaccard over distinct tokens) runs only on the
    n·window candidates, as codegen'd array_intersect/array_union —
    no Python, no shuffle beyond the rank join.
    """
    from sparkflow_spark.operators import global_rank

    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(sort_key_col).alias("_sk"),
        F.array_distinct(F.col(tokens_col)).alias("_tok"),
    )
    ranked = global_rank(base, ["_sk", "_id"], rank_col="_rk")
    offs = F.explode(
        F.array(*[F.lit(i) for i in range(1, window + 1)])
    ).alias("_off")
    left = ranked.select(
        F.col("_id").alias("_ida"), F.col("_tok").alias("_ta"), "_rk", offs
    ).withColumn("_target", F.col("_rk") + F.col("_off"))
    right = ranked.select(
        F.col("_rk").alias("_target"),
        F.col("_id").alias("_idb"),
        F.col("_tok").alias("_tb"),
    )
    inter = F.size(F.array_intersect("_ta", "_tb"))
    union = F.size(F.array_union("_ta", "_tb"))
    jac = F.when(union > 0, inter / union)
    return (
        left.join(right, "_target")
        .select(
            F.least("_ida", "_idb").alias("doc_a"),
            F.greatest("_ida", "_idb").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard similarity join via PREFIX FILTERING (AllPairs /
    PPJoin family) → (id_a, id_b, jaccard), id_a < id_b, jaccard ≥
    ``threshold`` — LOSSLESS, unlike ngram_jaccard_pairs' frequency
    cap, which trades recall on boilerplate-heavy pairs for a hard
    skew bound.

    The classic result: order every document's shingles by one GLOBAL
    canonical order (ascending document frequency, rarest first, ties
    by shingle value) and index only each document's first
    ``|x| − ⌈t·|x|⌉ + 1`` shingles. Two sets with Jaccard ≥ t must
    share at least one shingle inside both prefixes, so the equi-join
    of prefixes finds every qualifying pair — with candidate buckets
    keyed by the RAREST shingles, which is exactly where the inverted
    index is cheap (a shingle in half the corpus sits at the END of
    the canonical order and is never indexed unless a doc is nearly
    all boilerplate). The size-ratio prune (|y| ≥ t·|x|, also
    lossless) cuts the survivors before verification.

    Shapes: one groupBy(shingle) for document frequencies, one
    high-cardinality window (partitionBy doc, orderBy (df, shingle))
    for prefix positions, one shingle-keyed equi-join for candidates
    with the PPJoin POSITIONAL bound folded into the pair groupBy, and
    one array-intersect join for exact verification. No driver-side
    state, no caps, no recall loss; the cost model is
    Σ C(prefix-df, 2) — bounded by rarity instead of clipped by a cap.

    Two further LOSSLESS prunes beyond prefix + size-ratio (measured
    together at 16× bench data: candidates 4.96M → verified pairs only;
    verification 154 s → sub-second by replacing the per-candidate
    shingle-explode join with two hash joins against per-doc shingle
    arrays + ``array_intersect``):

    * positional bound (Xiao et al., PPJoin): with one global token
      order, the FIRST shared prefix token (min positions pa, pb) caps
      the overlap at ``1 + min(na − pa, nb − pb)``; the LAST shared
      prefix token (max positions, cp shared prefix tokens counted)
      caps it at ``cp + min(na − pa', nb − pb')``. J ≥ t needs overlap
      ≥ t·(na+nb)/(1+t), so candidates whose tighter bound falls short
      are dropped before verification ever touches payload.
    * verification reads each doc's (deduplicated) shingle set ONCE as
      an array — intersection size is a per-row hash-set op, not a
      candidate × shingle row explosion.

    Shingles are 64-bit hashes (round-8, shingle_hashes_from_tokens):
    the prefix index, the df table, and above all the per-doc VERIFY
    arrays hold 8-byte longs instead of ~25-byte strings — the ×64
    probe was GC-bound on a 32 GiB heap purely from string-array churn
    in the array_intersect verify. Same collision trade as the capped
    kernel (~n²/2⁶⁴ per doc pair, results identical unless two distinct
    shingles of the SAME pair collide); the canonical order becomes
    (df, hash) instead of (df, text) — any global total order satisfies
    the prefix theorem. The per-doc array is array_distinct by
    construction, so the former explode+distinct shuffle is gone too.

    r13 dataflow restructure (guide §8: decide on a lightweight proxy,
    touch the payload once): the per-doc shingle-hash ARRAY is computed
    in ONE pass over the text and localCheckpoint'd — the old DAG
    re-ran the tokenize+shingle scan in four branches (sizes, dfreq,
    ranked, verify arrays), and the prefix self-join's a/b legs each
    dragged a full copy of the scan→join→window subtree into the plan.
    Now: ``arr`` (id, hashes[], n) is the only consumer of the text;
    ``sizes`` is ``size(arr)`` (no groupBy), the verify relation IS
    ``arr`` (no collect_list re-group), and the ranked prefix table is
    checkpointed before the self-join so the window runs once. Same
    operators, same output — the oracle is the full uncapped join.
    """
    docs = df.select(F.col(id_col).alias("_id"), F.col(text_col))
    from sparkflow_spark.catalog import fan_out

    # spread the one-pass tokenize+shingle across cores: a broadcast-
    # free single-row-group scan otherwise computes every array in one
    # task (no-op at scale — see fan_out's size guard)
    docs = fan_out(docs)
    arr = docs.select(
        "_id",
        shingle_hashes_from_tokens(lower_tokens(F.col(text_col)), shingle_k).alias(
            "_arr"
        ),
    ).withColumn("n", F.size("_arr"))
    # materialized once per run (lazy: inside the timed action), read by
    # the explode leg and both verify legs; O(8 bytes/shingle) — the
    # guide-§8 "fingerprints only" proxy table, payload text read once
    arr = arr.localCheckpoint(eager=False)
    sh = arr.select("_id", "n", F.explode("_arr").alias("sh"))
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    # one GLOBAL canonical token order: ascending df, ties by value —
    # positions are consistent across docs, which the positional bound
    # below relies on (shared token u < w  =>  pos_x(u) < pos_x(w) and
    # pos_y(u) < pos_y(w)).
    w = Window.partitionBy("_id").orderBy("_df", "sh")
    ranked = sh.join(dfreq, "sh").withColumn("_pos", F.row_number().over(w))
    prefix = (
        ranked.where(
            F.col("_pos") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
        )
        .select("sh", "_id", "n", "_pos")
        # tiny (4 narrow cols × prefix rows); both self-join legs read
        # it instead of re-running scan→join→window
        .localCheckpoint(eager=False)
    )
    a = prefix.select(
        F.col("sh"),
        F.col("_id").alias("id_a"),
        F.col("n").alias("na"),
        F.col("_pos").alias("pa"),
    )
    b = prefix.select(
        F.col("sh"),
        F.col("_id").alias("id_b"),
        F.col("n").alias("nb"),
        F.col("_pos").alias("pb"),
    )
    # required overlap: J >= t  <=>  i >= t*(na+nb)/(1+t); the 1e-9
    # slack keeps float rounding from pruning an exactly-on-threshold
    # pair (prune-only filters must err permissive).
    alpha = (
        F.lit(threshold) * (F.col("na") + F.col("nb")) / F.lit(1.0 + threshold)
        - F.lit(1e-9)
    )
    ubound = F.least(
        # first shared prefix token: nothing shared precedes it
        F.lit(1) + F.least(F.col("na") - F.col("pa_min"), F.col("nb") - F.col("pb_min")),
        # last shared prefix token: exactly cp shared at or before it
        F.col("cp") + F.least(F.col("na") - F.col("pa_max"), F.col("nb") - F.col("pb_max")),
    )
    cand = (
        a.join(b, "sh")
        .where(
            (F.col("id_a") < F.col("id_b"))
            # lossless size-ratio prune: J >= t  =>  t*max(na,nb) <= min(na,nb)
            & (F.least("na", "nb") >= F.lit(threshold) * F.greatest("na", "nb"))
        )
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(
            F.min("pa").alias("pa_min"),
            F.min("pb").alias("pb_min"),
            F.max("pa").alias("pa_max"),
            F.max("pb").alias("pb_max"),
            F.count(F.lit(1)).alias("cp"),
        )
        .where(ubound >= alpha)
        .select("id_a", "id_b")
    )
    # per-doc shingle sets as arrays: verification joins candidates to
    # two 1-row-per-doc relations instead of exploding every candidate
    # by its full shingle list. `_arr` is distinct by construction, so
    # array_intersect's (deduplicating) size is the exact intersection
    # cardinality. The relation IS the checkpointed `arr` — the old
    # explode → collect_list round trip rebuilt what we started with.
    inter = (
        cand.join(
            arr.select(
                F.col("_id").alias("id_a"),
                F.col("_arr").alias("_arr_a"),
                F.col("n").alias("na"),
            ),
            "id_a",
        )
        .join(
            arr.select(
                F.col("_id").alias("id_b"),
                F.col("_arr").alias("_arr_b"),
                F.col("n").alias("nb"),
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "na",
            "nb",
            F.size(F.array_intersect("_arr_a", "_arr_b")).alias("i"),
        )
    )
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return inter.where(jac >= threshold).select(
        "id_a", "id_b", jac.alias("jaccard")
    )


def exact_substring_spans(
    df: DataFrame,
    min_len: int = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_key: str = "exact",
) -> DataFrame:
    """Exact substring-level dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — the suffix-array
    ExactSubstr pass, re-expressed relationally): emit every MAXIMAL
    character span of length >= ``min_len`` that also occurs verbatim
    in at least one OTHER document.

    Semantics (identical to merging the overlapping byte ranges the
    suffix-array implementation emits): a character position is
    duplicated iff the ``min_len``-gram starting there occurs in >= 2
    distinct documents; every flagged position covers the interval
    [pos, pos + min_len), and maximal spans are the UNION of those
    intervals — flagged starts i and j belong to one span iff
    j - i <= min_len (overlapping-or-touching coverage), NOT merely
    when starts are consecutive: two duplicated windows can overlap
    through a stretch whose own start positions are not duplicated
    (seen at sf0.1 — consecutive-start merging emitted overlapping
    "maximal" spans and double-counted strip mass). Every duplicated
    substring of length m >= min_len flags its m - min_len + 1 starts,
    so the interval union reproduces the maximal duplicated regions
    without building a suffix array — two window passes instead of a
    global suffix sort.

    Output: (doc_id, span_start 1-based, span_end exclusive, span_len).

    Scale shape: one per-doc gram explode (linear in corpus chars, no
    pairs), ONE gram-keyed exchange where min(doc)!=max(doc) over the
    gram partition detects cross-doc duplication (no count-distinct, no
    self-join, boilerplate grams cost one window partition instead of
    an O(df²) join bucket), then ONE doc-keyed exchange for the
    gaps-and-islands merge. (r13 note: an agg+semi-join variant of the
    prescreen — groupBy(gram) min/max, then join the duplicated-gram
    set back — measured SLOWER here: it consumes the gram subtree
    twice and re-plans the flagged stream per leg, while the window
    reads it once; change measured, reverted.)

    ``gram_key`` picks the shuffle key for the cross-doc prescreen:

    - ``"exact"`` — the raw ``min_len``-char gram (~``min_len`` bytes
      per position through the exchange). Engine-portable (the DuckDB
      oracle runs the same plan), correct in one pass.
    - ``"hash"`` — the 100 TB shape the exact form's docstring always
      named: shuffle ``xxhash64(gram)`` (8 bytes/position, ~4× narrower
      at k=30) for the min≠max prescreen, then re-derive the exact gram
      ONLY for prescreen survivors (a doc-keyed join back to the corpus
      — broadcastable candidate list in practice) and re-apply the
      min≠max test on the exact gram, so a 64-bit collision can never
      flag a position the exact key wouldn't (collision-safe; identical
      output by construction, pinned at three SFs by the registered
      twin ``d_exact_substring_spans_hashed``).
    """
    k = int(min_len)
    if k < 2:
        raise ValueError(f"exact_substring_spans: min_len must be >= 2, got {min_len}")
    if gram_key not in ("exact", "hash"):
        raise ValueError(f"exact_substring_spans: unknown gram_key {gram_key!r}")
    d = df.select(id_col, text_col).where(F.char_length(F.col(text_col)) >= k)
    if gram_key == "exact":
        grams = d.select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.char_length(F.col(text_col)) - k + 1),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.substring(F.col(text_col), i, k).alias("gram"),
                    ),
                )
            ).alias("_g"),
        ).select(id_col, F.col("_g.pos").alias("pos"), F.col("_g.gram").alias("gram"))
        wg = Window.partitionBy("gram")
        flagged = (
            grams.withColumn("_mn", F.min(id_col).over(wg))
            .withColumn("_mx", F.max(id_col).over(wg))
            .where(F.col("_mn") != F.col("_mx"))
            .select(id_col, "pos")
        )
    else:
        # stage 1 (prescreen): shuffle only (id, pos, hkey int64) — the
        # gram string never crosses the wire
        hgrams = d.select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.char_length(F.col(text_col)) - k + 1),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.xxhash64(F.substring(F.col(text_col), i, k)).alias("hkey"),
                    ),
                )
            ).alias("_g"),
        ).select(id_col, F.col("_g.pos").alias("pos"), F.col("_g.hkey").alias("hkey"))
        wh = Window.partitionBy("hkey")
        cand = (
            hgrams.withColumn("_mn", F.min(id_col).over(wh))
            .withColumn("_mx", F.max(id_col).over(wh))
            .where(F.col("_mn") != F.col("_mx"))
            .select(id_col, "pos")
        )
        # stage 2 (verify): exact grams for SURVIVORS ONLY — kills any
        # 64-bit collision across distinct grams; candidate volume is
        # the duplicated mass, tiny next to the corpus
        cand_grams = cand.join(d, id_col).select(
            F.col(id_col),
            F.col("pos"),
            F.substring(F.col(text_col), F.col("pos"), k).alias("gram"),
        )
        wg = Window.partitionBy("gram")
        flagged = (
            cand_grams.withColumn("_mn", F.min(id_col).over(wg))
            .withColumn("_mx", F.max(id_col).over(wg))
            .where(F.col("_mn") != F.col("_mx"))
            .select(id_col, "pos")
        )
    wd = Window.partitionBy(id_col).orderBy("pos")
    new_island = F.when(
        F.lag("pos").over(wd).isNull()
        | (F.col("pos") - F.lag("pos").over(wd) > k),
        1,
    ).otherwise(0)
    wrun = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        flagged.withColumn("_grp", F.sum(new_island).over(wrun))
        .groupBy(id_col, "_grp")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + k).cast("bigint").alias("span_end"),
            (F.max("pos") + k - F.min("pos")).cast("bigint").alias("span_len"),
        )
        .drop("_grp")
    )


def exact_substring_strip_list(
    df: DataFrame,
    min_len: int = 30,
    max_dup_frac: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The keep/strip decision over :func:`exact_substring_spans`:
    per document, the duplicated-character mass (spans never overlap
    after the island merge, so a plain SUM is exact), its fraction of
    the doc, and keep = dup_frac < ``max_dup_frac``. Docs with no
    duplicated span keep with dup_frac 0. Pipelines drop (or
    span-strip) the keep=false rows before training. One extra
    doc-keyed rollup + a doc-keyed left join against the corpus scan on
    top of the spans kernel."""
    spans = exact_substring_spans(df, min_len=min_len, text_col=text_col, id_col=id_col)
    mass = spans.groupBy(id_col).agg(F.sum("span_len").alias("_dup_chars"))
    return (
        df.select(id_col, F.char_length(F.col(text_col)).alias("_n"))
        .join(mass, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("_dup_chars"), F.lit(0)).cast("bigint").alias("n_dup_chars"),
            (
                F.round(
                    F.coalesce(F.col("_dup_chars"), F.lit(0))
                    / F.greatest(F.col("_n"), F.lit(1)),
                    6,
                ).cast("double")
                + F.lit(0.0)
            ).alias("dup_frac"),
            (
                F.coalesce(F.col("_dup_chars"), F.lit(0))
                / F.greatest(F.col("_n"), F.lit(1))
                < max_dup_frac
            ).alias("keep"),
        )
    )
