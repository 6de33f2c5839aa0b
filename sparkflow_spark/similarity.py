"""Similarity search over embedding columns (``array<float>``).

Two paths, per SURVEY.md §7 M3 and the north-star brief:

- brute-force cosine top-k — the exactness baseline. O(probes·n) dot
  products, but every dot product is a JVM-side higher-order-function
  expression, the probe set is broadcast, and top-k is a per-probe
  window-limit: no driver loop, no Python.
- LSH-bucketed ANN (random hyperplane signatures, Charikar'02 — the same
  family as MLlib's BucketedRandomProjectionLSH but kept in plain
  DataFrame ops so the plan is inspectable and oracle-checkable): probe
  joins touch only matching buckets; multi-probe via multiple tables.

At 100 TB the brute-force path is what you run *inside* a bucket or
partition; the signature join is what bounds the candidate set.
"""

from __future__ import annotations

import math

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from sparkflow_spark.catalog import fan_out
from sparkflow_spark.functions.vector import (
    cosine_similarity,  # noqa: F401 — re-exported (external callers)
    dot,
    dot_seq,
    l2_norm,
)
from sparkflow_spark.memo import Memo


def _round6_half_away(x: float) -> float:
    """Round to 6 dp, ties AWAY from zero — the SQL ROUND convention.

    Python's built-in ``round`` is banker's (half-to-even), while the
    DuckDB oracles pin centroid means with SQL ROUND (half-away): a mean
    landing exactly on a 5e-7 boundary would diverge cross-engine. The
    k-means centroid rounding below must therefore use this rule, same
    family as the floor(x+0.5) convention s_quantize_int8 pins in both
    engines.
    """
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    probe_id: str = "probe_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of each probe against the corpus.

    probes is expected small (a query batch) → broadcast; the corpus
    streams through one partition-local pass; per-probe top-k is a
    window group-limit, so each task emits ≤ k rows per probe.
    Output: (probe_id, vec_id, cosine, rnk), rnk = 1..k.
    """
    # norms staged per side BEFORE the join: each is computed n+p times
    # instead of n·p times inside the pair expression
    p = probes.select(
        F.col(probe_id), F.col(vec_col).alias("_pvec"), l2_norm(vec_col).alias("_pnorm")
    )
    # r13: fan the corpus across the cores — the broadcast pair join
    # preserves the scan's partitioning, and a one-row-group parquet
    # input otherwise scores every probes×corpus pair on one task
    # (fan_out is a scale-adaptive no-op on large inputs)
    c = fan_out(corpus).select(
        F.col(corpus_id), F.col(vec_col).alias("_cvec"), l2_norm(vec_col).alias("_cnorm")
    )
    den = F.col("_pnorm") * F.col("_cnorm")
    scored = c.join(F.broadcast(p)).select(
        probe_id,
        corpus_id,
        F.when(den != 0, dot_seq("_pvec", "_cvec") / den).alias("cosine"),
    )
    w = Window.partitionBy(probe_id).orderBy(F.col("cosine").desc(), F.col(corpus_id))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy(probe_id, "rnk")
    )


# fitted KMeansModel per (corpus, params) — see ivf_topk's cache note
_IVF_MODEL_CACHE = Memo(16)


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    probe_id: str = "probe_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer → each corpus
    vector lands in one cell; each probe scans only its ``n_probe``
    nearest cells with exact cosine re-rank.

    Scale shape: the quantizer trains once (MLlib KMeans — itself a
    distributed fit); cell assignment is one model pass; the search
    join touches n_probe/n_centroids of the corpus per probe. Centroids
    are O(n_centroids·dim) — broadcast-sized by construction. This is
    the composition FAISS-style IVF maps to on Spark.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    import numpy as np
    import pandas as pd
    import pyspark.sql.types as T

    feats = corpus.select(
        F.col(corpus_id),
        F.col(vec_col),
        array_to_vector(F.transform(vec_col, lambda x: x.cast("double"))).alias("_fv"),
    )
    # The coarse quantizer is corpus state, not query state: memoize the
    # fitted model per (corpus plan, params) so repeated probes against
    # the same corpus skip the distributed KMeans fit (~2 s of a ~2.7 s
    # query at sf0.1); production FAISS-style IVF likewise trains once
    # and serves many queries.
    def fit():
        km = KMeans(k=n_centroids, seed=seed, featuresCol="_fv", predictionCol="_cell")
        return km.fit(feats)

    model = _IVF_MODEL_CACHE.get_or_build(corpus, (corpus_id, vec_col, n_centroids, seed), fit)
    # r13: fan the assigned corpus across the cores AFTER the fit (the
    # k-means|| init samples by partition, so the model must see the
    # original layout) — the broadcast probe join otherwise scores all
    # probed-cell candidates in the scan's single row-group partition
    assigned = model.transform(fan_out(feats)).select(
        corpus_id, F.col(vec_col).alias("_cvec"), l2_norm(vec_col).alias("_cn"), "_cell"
    )
    centroids = np.stack(model.clusterCenters())  # O(n_centroids·dim): driver-safe

    # no type hints: module-level `from __future__ import annotations`
    # stringifies them and pyspark can't resolve the local `pd` alias
    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def nearest_cells(v):
        out = []
        for arr in v:
            x = np.asarray(arr, dtype=np.float64)
            d = ((centroids - x) ** 2).sum(axis=1)
            out.append(np.argsort(d)[:n_probe].astype("int32").tolist())
        return pd.Series(out)

    p = probes.select(
        F.col(probe_id),
        F.col(vec_col).alias("_pvec"),
        l2_norm(vec_col).alias("_pn"),
        F.explode(nearest_cells(F.col(vec_col))).alias("_cell"),
    )
    den = F.col("_pn") * F.col("_cn")
    scored = assigned.join(F.broadcast(p), on="_cell").select(
        probe_id,
        corpus_id,
        F.when(den != 0, dot_seq("_pvec", "_cvec") / den).alias("cosine"),
    )
    w = Window.partitionBy(probe_id).orderBy(F.col("cosine").desc(), F.col(corpus_id))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy(probe_id, "rnk")
    )


def _hyperplanes(dim: int, num_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_planes, dim)).tolist()


def rh_signature(vec_col, planes: list[list[float]]):
    """Random-hyperplane bit signature as a bigint (≤ 63 planes)."""
    bits = []
    for i, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                F.transform(vec_col if not isinstance(vec_col, str) else F.col(vec_col), lambda x: x.cast("double")),
                F.array(*[F.lit(float(w)) for w in plane]),
                lambda x, w: x * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long")))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig.bitwiseOR(b)
    return sig


def rh_signatures_batched(vec_col, tables: list[tuple[int, list[list[float]]]]):
    """All tables' random-hyperplane signatures in ONE Arrow-batched
    matmul → ``array<bigint>`` (one packed signature per table).

    The pure-expression :func:`rh_signature` is an interpreted
    ``aggregate`` per plane — num_tables·num_planes of them per row
    (128 with the near-dup defaults), which dominates ANN runtime. One
    ``X @ P`` against the stacked (dim × tables·planes) plane matrix is
    BLAS-vectorized: measured order-of-magnitude faster, and the right
    trade under the engine's own rule (drop to pandas_udf only where
    built-ins can't express the computation efficiently — a 128-wide
    batched projection is that case). Bit convention matches
    rh_signature (bit i set iff projection ≥ 0); float summation order
    differs (BLAS vs left-to-right), which can flip a bit only when a
    projection is within rounding of 0 — harmless for candidate
    generation, where every pair is exactly verified afterwards.
    """
    import pandas as pd
    import pyspark.sql.types as T

    n_planes = len(tables[0][1])
    n_tables = len(tables)
    stacked = np.concatenate(
        [np.asarray(planes, dtype=np.float64).T for _, planes in tables], axis=1
    )  # dim × (tables·planes)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    dim = stacked.shape[0]

    # Series→Series form (no type hints: module-level `from __future__
    # import annotations` stringifies them — see ivf_topk note)
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sigs(s):
        # NULL vectors → zero vector → signature 0 per table, matching
        # the expression path (rh_signature maps NULL projections the
        # same way); exact verification later drops them via NULL
        # cosine. Without the guard np.vstack raises on None.
        arrs = [np.zeros(dim) if a is None else np.asarray(a, dtype=np.float64) for a in s]
        X = np.vstack(arrs) if arrs else np.zeros((0, dim))
        bits = (X @ stacked) >= 0
        packed = bits.reshape(len(X), n_tables, n_planes).astype(np.int64) @ weights
        return pd.Series(list(packed))

    return sigs(vec_col if not isinstance(vec_col, str) else F.col(vec_col))


def lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    probe_id: str = "probe_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    num_planes: int = 8,
    num_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k: candidates = bucket-join over ``num_tables`` independent
    random-hyperplane signatures, then exact cosine re-rank.

    Scale shape: corpus is hashed once per table (pure expressions, no
    shuffle until the join); the join key (table, signature) gives
    ~n/2^planes candidates per probe per table. Recall tunes with
    (num_planes ↓, num_tables ↑).
    """
    if dim is None:
        # one-row probe for the dimensionality (array<float> carries no
        # length in the schema), skipping NULL vectors — a NULL in the
        # physically first row must not crash the probe or read as
        # "empty corpus" (same guard as embedding_near_duplicates_ann,
        # round-3 review #2; ported here per round-4 advice).
        head = corpus.select(vec_col).where(F.col(vec_col).isNotNull()).first()
        if head is None:
            spark = corpus.sparkSession
            return spark.createDataFrame(
                [],
                f"{probe_id} {probes.schema[probe_id].dataType.simpleString()}, "
                f"{corpus_id} {corpus.schema[corpus_id].dataType.simpleString()}, "
                "cosine double, rnk int",
            )
        dim = len(head[0])
    tables = [(t, _hyperplanes(dim, num_planes, seed + 1000 * t)) for t in range(num_tables)]

    def signatures(df: DataFrame, id_alias: str) -> DataFrame:
        # one Arrow-batched matmul for all tables (same convention and
        # same rationale as rh_signatures_batched's docstring — the
        # interpreted rh_signature costs tables·planes aggregate passes
        # per row)
        return df.select(
            F.col(id_alias),
            F.col(vec_col).alias(f"_{id_alias}_vec"),
            F.posexplode(rh_signatures_batched(vec_col, tables)).alias("tbl", "sig"),
        )

    # r13: fan the corpus side across the cores — the broadcast bucket
    # join keeps the scan's single row-group partition through candidate
    # generation otherwise (scale-adaptive no-op on large inputs)
    c_sig = signatures(fan_out(corpus).select(F.col(corpus_id), F.col(vec_col)), corpus_id)
    p_sig = signatures(probes.select(F.col(probe_id), F.col(vec_col)), probe_id)

    candidates = (
        c_sig.join(F.broadcast(p_sig), on=["tbl", "sig"])
        .select(probe_id, corpus_id, f"_{probe_id}_vec", f"_{corpus_id}_vec")
        .dropDuplicates([probe_id, corpus_id])
    )
    # r13: cosine_similarity() recomputed BOTH norms per candidate PAIR
    # through the interpreted HOF fold (~4·dim evals/pair); norms are
    # per-vector quantities — stage them per side and run the pair dot
    # through the bit-exact dot_seq. Same values: the norm
    # expression is unchanged (just evaluated once per vector), the dot
    # is dot()'s exact left-to-right chain, the zero-norm guard is the
    # same den != 0.
    den = F.col("_pn") * F.col("_cn")
    scored = candidates.join(
        F.broadcast(probes.select(F.col(probe_id), l2_norm(vec_col).alias("_pn"))),
        probe_id,
    ).join(
        corpus.select(F.col(corpus_id), l2_norm(vec_col).alias("_cn")), corpus_id
    ).select(
        probe_id,
        corpus_id,
        F.when(
            den != 0,
            dot_seq(f"_{probe_id}_vec", f"_{corpus_id}_vec") / den,
        ).alias("cosine"),
    )
    w = Window.partitionBy(probe_id).orderBy(F.col("cosine").desc(), F.col(corpus_id))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy(probe_id, "rnk")
    )


# codebooks ndarray per (corpus, params) — PQ codebooks are corpus
# state like the IVF quantizer
_PQ_MODEL_CACHE = Memo(16)


def _pq_train_codebooks(
    samples: np.ndarray, m: int, n_codes: int, seed: int, iters: int = 12
) -> np.ndarray:
    """Per-subspace Lloyd's k-means → codebooks of shape (m, n_codes,
    sub_dim). Deterministic (seeded init, fixed iteration count);
    empty-cluster slots are re-seeded from the farthest points, the
    standard k-means repair."""
    n, dim = samples.shape
    sub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, n_codes, sub), dtype=np.float64)
    for mi in range(m):
        X = samples[:, mi * sub : (mi + 1) * sub]
        C = X[rng.choice(n, size=min(n_codes, n), replace=False)]
        if len(C) < n_codes:  # tiny corpus: pad by repeating
            C = np.concatenate([C, C[np.zeros(n_codes - len(C), dtype=int)]])
        for _ in range(iters):
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(n_codes):
                mask = assign == j
                if mask.any():
                    C[j] = X[mask].mean(axis=0)
                else:
                    C[j] = X[d2.min(axis=1).argmax()]
        books[mi] = C
    return books


def pq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    probe_id: str = "probe_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    refine_factor: int = 4,
    train_sample: int = 4096,
    seed: int = 42,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011): each corpus vector compresses
    to ``m`` sub-codes (one per dim/m-wide subspace, ``n_codes``
    centroids each); a probe scores the whole corpus through a per-probe
    lookup table (asymmetric distance computation) instead of full dot
    products, then the top ``k·refine_factor`` ADC candidates are
    re-ranked with EXACT cosine (FAISS's refine stage) so the returned
    scores are true cosines, not approximations.

    Scale shape:
    - codebooks train driver-side on a bounded sample (``train_sample``
      rows — the FAISS practice; codebooks are O(m·n_codes·dim/m) =
      O(n_codes·dim) floats, broadcast-sized by construction) and are
      memoized per (session, corpus, params) like the IVF quantizer;
    - encoding is one Arrow-batched pass over the corpus; the code
      column is m small ints per vector — at 100 TB this is the
      representation that fits where raw float vectors do not
      (64-dim float32 → 8 bytes/vector at m=8, 32× compression);
    - the ADC scan is JVM-side: probe LUTs (m × n_codes doubles) ride a
      broadcast join and each corpus row scores via an m-element
      zip_with/aggregate over its codes — no Python in the per-row path;
    - only the k·refine_factor survivors per probe pay an exact dot
      product (window group-limit before the refine join).

    Composition note: this is the flat-PQ scan; at cluster scale you
    put :func:`ivf_topk`'s coarse quantizer in front (IVF-PQ) so each
    probe ADC-scans only its probed cells — both stages are plain
    DataFrame ops and compose by feeding ivf's cell-filtered corpus in
    as ``corpus``.

    Output: (probe_id, corpus_id, cosine, rnk), rnk = 1..k, cosine EXACT.
    """
    import pandas as pd
    import pyspark.sql.types as T

    spark = corpus.sparkSession

    def train() -> np.ndarray | None:
        sample_rows = (
            corpus.select(vec_col)
            .where(F.col(vec_col).isNotNull())
            .limit(train_sample)
            .collect()
        )
        if not sample_rows:
            return None  # empty corpus: not cached
        samples = np.asarray([r[0] for r in sample_rows], dtype=np.float64)
        if samples.shape[1] % m != 0:
            raise ValueError(
                f"pq_topk: dim {samples.shape[1]} not divisible by m={m}"
            )
        return _pq_train_codebooks(samples, m, n_codes, seed)

    books = _PQ_MODEL_CACHE.get_or_build(
        corpus, (corpus_id, vec_col, m, n_codes, train_sample, seed), train
    )
    if books is None:
        return spark.createDataFrame(
            [],
            f"{probe_id} {probes.schema[probe_id].dataType.simpleString()}, "
            f"{corpus_id} {corpus.schema[corpus_id].dataType.simpleString()}, "
            "cosine double, rnk int",
        )

    sub = books.shape[2]

    # no type hints on pandas_udfs: module-level `from __future__ import
    # annotations` stringifies them and pyspark can't resolve local names
    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(v):
        out = []
        for arr in v:
            if arr is None:
                out.append(None)
                continue
            x = np.asarray(arr, dtype=np.float64).reshape(m, sub)
            # argmin over centroids per subspace: (m, n_codes) distances
            d2 = ((books - x[:, None, :]) ** 2).sum(axis=2)
            out.append(d2.argmin(axis=1).astype("int32").tolist())
        return pd.Series(out)

    @F.pandas_udf(T.ArrayType(T.ArrayType(T.DoubleType())))
    def probe_lut(v):
        out = []
        for arr in v:
            if arr is None:
                out.append(None)
                continue
            x = np.asarray(arr, dtype=np.float64).reshape(m, sub)
            # lut[mi][j] = probe_sub_mi · centroid_mij
            out.append(np.einsum("ms,mks->mk", x, books).tolist())
        return pd.Series(out)

    # NULL guard on the INPUT column, not the UDF output: the refine
    # branch re-references c/p for raw vectors only, and a filter on
    # _codes/_lut would force the Arrow stage into that branch too
    # (python subplans never canonicalize equal, so it would EXECUTE
    # again) — filtering on vec_col lets column pruning drop the UDF
    # from every branch that doesn't read its output.
    # r13: fan the corpus across the cores before the ADC scan — the
    # broadcast LUT join preserves the scan's partitioning, and a
    # one-row-group parquet input otherwise ADC-scores every
    # probes×corpus row on one task (codebook training above still
    # samples the ORIGINAL corpus, so the books are unchanged)
    c = fan_out(corpus).where(F.col(vec_col).isNotNull()).select(
        F.col(corpus_id),
        F.col(vec_col).alias("_cvec"),
        l2_norm(vec_col).alias("_cn"),
        encode(F.col(vec_col)).alias("_codes"),
    )
    p = probes.where(F.col(vec_col).isNotNull()).select(
        F.col(probe_id),
        F.col(vec_col).alias("_pvec"),
        l2_norm(vec_col).alias("_pn"),
        probe_lut(F.col(vec_col)).alias("_lut"),
    )

    # ADC score: Σ_mi lut[mi][code_mi]; pnorm is constant per probe so
    # candidate ranking divides by the corpus norm only
    adc = F.aggregate(
        F.zip_with("_codes", "_lut", lambda cde, row: F.element_at(row, cde + 1)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # The ADC scan windows SLIM rows (ids + score only): raw vectors
    # must not ride the per-probe top-k sort — at scale that sort sees
    # |corpus| rows per probe and the float payload would dominate the
    # shuffle. Vectors join back for the k·refine_factor survivors only.
    scored = c.select(corpus_id, "_cn", "_codes").join(
        F.broadcast(p.select(probe_id, "_lut")), how="cross"
    ).select(
        probe_id,
        corpus_id,
        F.when(F.col("_cn") != 0, adc / F.col("_cn")).alias("_adc_rank"),
    )
    w = Window.partitionBy(probe_id).orderBy(F.col("_adc_rank").desc(), F.col(corpus_id))
    cand = (
        scored.withColumn("_arnk", F.row_number().over(w))
        .filter(F.col("_arnk") <= k * refine_factor)
        .select(probe_id, corpus_id)
    )
    den = F.col("_pn") * F.col("_cn")
    exact = (
        cand.join(c.select(corpus_id, "_cvec", "_cn"), corpus_id)
        .join(F.broadcast(p.select(probe_id, "_pvec", "_pn")), probe_id)
        .select(
            probe_id,
            corpus_id,
            F.when(den != 0, dot_seq("_pvec", "_cvec") / den).alias("cosine"),
        )
    )
    w2 = Window.partitionBy(probe_id).orderBy(F.col("cosine").desc(), F.col(corpus_id))
    return (
        exact.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .orderBy(probe_id, "rnk")
    )


def mmr_rerank_unrolled(
    candidates: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    probe_col: str = "probe_id",
    id_col: str = "vec_id",
    score_col: str = "cosine",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`mmr_rerank` as K UNROLLED DataFrame rounds — zero Python
    in the data path (the greedy argmax per round is a per-probe window
    group-limit; candidate-candidate similarities are one keyed
    self-join). Same greedy semantics and tie rule (equal MMR score →
    smaller id). Exists for two reasons: (a) it is hash-checkable
    cross-engine (s_mmr_md5_rerank replays the identical rounds in
    DuckDB — applyInPandas' numpy pairwise sums are ulp-unstable vs
    SQL's sequential adds), and (b) at large probe counts it keeps the
    whole rerank inside Catalyst: each round is one anti-join + one
    max-aggregation over the (pool²-bounded) sim table, all keyed by
    probe — no Arrow boundary. For huge k prefer mmr_rerank (k joins
    vs one Arrow pass); for the k≤10 serving norm this form wins.

    Input/output contract matches mmr_rerank: candidates =
    (probe, id, relevance, vector), output (probe, mmr_rank, id,
    mmr_score) with exact float64 scores.
    """
    from sparkflow_spark.functions.vector import dot, l2_norm

    c = candidates.select(
        F.col(probe_col).alias("_p"),
        F.col(id_col).alias("_i"),
        F.col(score_col).cast("double").alias("_rel"),
        F.col(vec_col).alias("_v"),
        l2_norm(vec_col).alias("_n"),
    )
    a = c.select("_p", F.col("_i").alias("_ia"), F.col("_v").alias("_va"), F.col("_n").alias("_na"))
    b = c.select("_p", F.col("_i").alias("_ib"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb"))
    den = F.col("_na") * F.col("_nb")
    sims = a.join(b, "_p").select(
        "_p",
        "_ia",
        "_ib",
        F.when(den != 0, dot("_va", "_vb") / den).otherwise(F.lit(0.0)).alias("_sim"),
    )
    # r13 (guide §5.4 iterative-lineage rule): the K unrolled rounds
    # each reference sims/slim AND the whole chain of previous rounds —
    # left un-truncated, round r's logical plan nests every earlier
    # round's window+joins, and Catalyst re-optimizes (and re-executes)
    # the growing tree each round: ~12 s of mostly driver-side planning
    # for a pool²-bounded (tiny) sim table. Materializing the two
    # round-invariant inputs once and the (≤ k·probes)-row `picked`
    # union per round keeps every round's plan flat. Values unchanged —
    # these frames are deterministic and are simply computed once.
    sims = sims.localCheckpoint(eager=False)
    one_minus = 1.0 - lam  # the IEEE value the greedy kernel uses

    def _pick(scored: DataFrame, rank: int) -> DataFrame:
        w = Window.partitionBy("_p").orderBy(F.col("_mmr").desc(), F.col("_i"))
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("_p", "_i", F.lit(rank).alias("_rank"), F.col("_mmr").alias("_score"))
        )

    slim = c.select("_p", "_i", "_rel").localCheckpoint(eager=False)
    sel = _pick(
        slim.withColumn(
            "_mmr", F.lit(lam) * F.col("_rel") - F.lit(one_minus) * F.lit(0.0)
        ),
        1,
    )
    picked = sel
    for r in range(2, k + 1):
        rem = slim.join(
            picked.select("_p", "_i"), ["_p", "_i"], "left_anti"
        )
        div = (
            rem.join(
                sims.withColumnRenamed("_ia", "_i"), ["_p", "_i"]
            )
            .join(
                picked.select("_p", F.col("_i").alias("_ib")), ["_p", "_ib"]
            )
            .groupBy("_p", "_i", "_rel")
            .agg(F.max("_sim").alias("_div"))
        )
        nxt = _pick(
            div.withColumn(
                "_mmr",
                F.lit(lam) * F.col("_rel") - F.lit(one_minus) * F.col("_div"),
            ),
            r,
        )
        # truncate per round: round r+1's anti-join and div join read a
        # materialized ≤ (r·probes)-row table, not the nested plan
        picked = picked.unionByName(nxt).localCheckpoint(eager=False)
    return picked.select(
        F.col("_p").alias(probe_col),
        F.col("_rank").alias("mmr_rank"),
        F.col("_i").alias(id_col),
        F.col("_score").alias("mmr_score"),
    )


def deterministic_pq_codebooks(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 8,
) -> list[list[list[float]]]:
    """Cross-engine-replayable PQ codebooks: code ``j`` of subspace
    ``mi`` is the ``mi``-th dim/m-wide slice of the vector with the
    (j+1)-th smallest id (non-null vectors only) — the PQ analogue of
    kmeans_clusters' "seeds = k smallest ids" contract. No training, no
    sampling, no RNG: any engine reading the same table derives the
    same codebook, so the full ADC pipeline built on it is
    hash-checkable (s_pq_md5_query). Returns books[mi][j] =
    sub-vector (m × n_codes × dim/m floats — k·d-sized driver state,
    the same bounded operating model as the IVF/k-means codebooks; the
    trained-codebook production path is :func:`pq_topk`).
    """
    rows = (
        df.where(F.col(vec_col).isNotNull())
        .orderBy(id_col)
        .limit(n_codes)
        .select(vec_col)
        .collect()
    )
    if not rows:
        raise ValueError("deterministic_pq_codebooks: no non-null vectors")
    dim = len(rows[0][0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        [[float(r[0][mi * sub + i]) for i in range(sub)] for r in rows]
        for mi in range(m)
    ]


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iters: int = 3,
) -> tuple[DataFrame, list[list[float]]]:
    """:func:`kmeans_clusters` plus the FINAL (frozen) centroids —
    for callers that also need the codebook (IVF-style cell probing:
    s_hard_negative_md5_query ranks each anchor's distance to these
    centroids to choose which cells to search). Same determinism
    contract: the returned centroids are the exact ROUND(mean, 6)
    values the final assignment used, replayable as c{iters} in the
    unrolled DuckDB oracle."""
    return _kmeans_impl(df, id_col, vec_col, k, iters)


def kmeans_clusters(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iters: int = 3,
) -> DataFrame:
    """Deterministic Lloyd's k-means assignment → (id_col, cluster).

    Built for CROSS-ENGINE checkability (the semantic-dedup /
    curriculum-bucketing primitive, and the trainable twin of the IVF
    quantizer in vector_index.py): every source of nondeterminism is
    removed — seeds are the vectors of the k smallest ids (cluster j =
    j-th smallest), assignment ties break to the smallest cluster
    index, each iteration's centroids are ROUND(mean, 6) so the
    iteration map is discrete and float summation order (Spark
    partition order vs any other engine's) cannot butterfly into
    different assignments. A cluster that loses all members keeps its
    previous centroid.

    Scale shape per iteration: one scan computing k fold-distances per
    row (k·d multiply-adds, no shuffle) + one posexplode/groupBy(k·d
    cells, map-side combined) for the means; centroid state is k·d
    doubles on the driver (bounded, intentional — the same operating
    model as the IVF index's frozen codebook). At 100 TB with large k,
    swap the fold-distance array for the Arrow-batched assignment
    kernel in vector_index._assign_cells; the iteration structure is
    unchanged.
    """
    return _kmeans_impl(df, id_col, vec_col, k, iters)[0]


def _kmeans_impl(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int,
) -> tuple[DataFrame, list[list[float]]]:
    vecs = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    seeds = vecs.orderBy("_id").limit(k).collect()
    if len(seeds) < k:
        raise ValueError(f"kmeans_clusters: need at least k={k} vectors")
    centroids = [list(r["_v"]) for r in seeds]
    dims = len(centroids[0])

    def assign(frame: DataFrame) -> DataFrame:
        # r13 batch 4 NOTE (measured, then reverted): swapping this fold
        # for a codegen'd unrolled per-centroid chain (sqdist_to_const
        # style) is bit-exact but REGRESSES the bench — every iteration's
        # centroids are new literals, so Janino recompiles a ~k·2·dim-term
        # class per iteration per consumer (s_kmeans_clusters cold 2.3 s
        # → 8.2 s, s_hard_negative_md5_query cold 6 s → 13 s, steady 1.6
        # → 2.8 s) while the interpreted assign is only ~k·2·dim evals per
        # ROW on the small frames every caller feeds it. Keep the fold.
        dists = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        F.col("_v"),
                        F.array(*[F.lit(float(x)) for x in cj]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                for cj in centroids
            ]
        )
        return frame.withColumn("_d", dists).withColumn(
            "cluster",
            (F.array_position(F.col("_d"), F.array_min(F.col("_d"))) - 1).cast("int"),
        ).drop("_d")

    for _ in range(iters):
        assigned = assign(vecs)
        cells = (
            assigned.select("cluster", F.posexplode("_v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in cells:
            by_cluster.setdefault(r["cluster"], {})[r["pos"]] = r["m"]
        centroids = [
            [_round6_half_away(by_cluster[j][p]) for p in range(dims)]
            if j in by_cluster
            else centroids[j]
            for j in range(k)
        ]
    return assign(vecs).select(F.col("_id").alias(id_col), "cluster"), centroids


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    cell_size: int = 512,
    iters: int = 3,
    n_clusters: int | None = None,
) -> DataFrame:
    """SemDeDup at scale → (id_a, id_b, cluster, cosine): k-means
    buckets the corpus, cosine pairs generate ONLY within a cluster.

    THE scale contract (measured, SCALE.md round-6b): with k FIXED,
    scaling the corpus n× grows within-cluster pairs n²× — the x16
    probe timed out exactly this way on the fixed-k registry probe. So
    k derives from the data: k = ⌈n / cell_size⌉ (``n_clusters``
    overrides), keeping expected cell size — and therefore per-cluster
    pair work — CONSTANT as the corpus grows; total pair work stays
    O(n · cell_size). The trade (same as SemDeDup/IVF): smaller cells
    = faster + more missed cross-cell near-dups.

    Small k (≤ 8) uses the literal-expression k-means
    (:func:`kmeans_clusters` — cross-engine-checkable); larger k
    switches to Arrow-batched assignment with the centroid matrix in
    the UDF closure (plan size stays O(1) instead of O(k·d) literals)
    — same deterministic contract: seeds = k smallest ids, ROUND(mean,
    6) centroids, ties to the lowest cluster index. Pair cosines run
    through the Arrow ``dot_batched`` kernel, norms precomputed
    per side; the pair join is hash-partitioned on the cluster key
    with an explicit width so AQE's byte-based coalescing cannot
    collapse the CPU-bound expansion onto a few cores (the jaccard
    kernel's lesson).
    """
    import numpy as np
    import pandas as pd
    import pyspark.sql.types as T

    from sparkflow_spark.functions.vector import dot_batched

    vecs = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    if n_clusters is None:
        n = vecs.count()
        n_clusters = max(1, min(65536, -(-n // cell_size)))
    if n_clusters <= 8:
        assign = kmeans_clusters(
            df, id_col=id_col, vec_col=vec_col, k=n_clusters, iters=iters
        ).select(F.col(id_col).alias("_id"), "cluster")
    else:
        seeds = vecs.orderBy("_id").limit(n_clusters).collect()
        if len(seeds) < n_clusters:
            raise ValueError("semantic_dedup_pairs: fewer vectors than clusters")
        centroids = np.asarray([r["_v"] for r in seeds], dtype=np.float64)

        def assign_expr(cents: np.ndarray):
            # no type hints: string annotations under `from __future__
            # import annotations` break pandas_udf signature inference
            @F.pandas_udf(T.IntegerType())
            def cell_of(v):
                out = []
                for arr in v:
                    x = np.asarray(arr, dtype=np.float64)
                    out.append(int(((cents - x) ** 2).sum(axis=1).argmin()))
                return pd.Series(out, dtype="int32")

            return cell_of

        vecs = vecs.localCheckpoint(eager=False)  # scanned once per iteration
        for _ in range(iters):
            assigned = vecs.withColumn(
                "cluster", assign_expr(centroids)(F.col("_v"))
            )
            cells = (
                assigned.select("cluster", F.posexplode("_v").alias("pos", "val"))
                .groupBy("cluster", "pos")
                .agg(F.avg("val").alias("m"))
                .collect()
            )
            new_c = centroids.copy()
            for r in cells:
                new_c[r["cluster"], r["pos"]] = _round6_half_away(r["m"])
            centroids = new_c
        assign = vecs.withColumn(
            "cluster", assign_expr(centroids)(F.col("_v"))
        ).select("_id", "cluster")

    cores = df.sparkSession.sparkContext.defaultParallelism
    width = max(cores, min(n_clusters, 8 * cores))
    sides = (
        vecs.join(assign, "_id")
        .withColumn("_n", F.sqrt(
            F.aggregate(
                F.transform(F.col("_v"), lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ))
        .repartition(width, F.col("cluster"))
        .localCheckpoint(eager=False)  # feeds both join sides
    )
    a = sides.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"),
        F.col("_n").alias("_na"), "cluster",
    )
    b = sides.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"), "cluster",
    )
    den = F.col("_na") * F.col("_nb")
    return (
        a.join(b, "cluster")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.when(den != 0, dot_batched("_va", "_vb") / den),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cluster", "cosine")
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    probe_col: str = "probe_id",
    id_col: str = "vec_id",
    score_col: str = "cosine",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking → (probe, mmr_rank, id,
    mmr_score): greedily pick ``k`` results per probe maximizing
    ``lam * relevance − (1 − lam) * max-similarity-to-already-picked``
    — the standard diversification pass over an ANN candidate pool
    (dedup'd corpora still return 20 near-copies of the best hit; MMR
    returns the best hit plus genuinely different neighbors).

    Input is a CANDIDATE table (probe, id, relevance score, vector) —
    the top-``pool`` output of any retriever here (brute force, IVF,
    LSH, PQ). The greedy loop is inherently sequential per probe but
    embarrassingly parallel ACROSS probes, so it runs as one
    applyInPandas over probe groups: each group holds only the
    ``pool`` candidates (tens of rows), the O(pool²·k) numpy work is
    per-group, and no candidate vector ever crosses groups. At 100 TB
    the candidate pool per probe is still bounded (it came from a
    top-N retriever), so group size — the only memory commitment — is
    a constant.

    Ties (equal MMR score) break by ascending id; scores are exact
    float64. Deterministic for a fixed candidate table.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    # The two id fields take their types FROM the candidate table —
    # string (or any) ids flow through unchanged; hardcoding bigint here
    # would crash or corrupt non-integer ids at the Arrow boundary.
    out_schema = StructType(
        [
            StructField(probe_col, candidates.schema[probe_col].dataType),
            StructField("mmr_rank", IntegerType()),
            StructField(id_col, candidates.schema[id_col].dataType),
            StructField("mmr_score", DoubleType()),
        ]
    )

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        vecs = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        norms = np.linalg.norm(vecs, axis=1)
        norms[norms == 0.0] = np.inf  # zero vectors: similarity 0 to all
        sims = (vecs @ vecs.T) / np.outer(norms, norms)
        rel = pdf[score_col].to_numpy(dtype=np.float64)
        ids = pdf[id_col].to_numpy()
        n = len(pdf)
        picked: list[int] = []
        rows = []
        for rank in range(min(k, n)):
            if picked:
                div = sims[:, picked].max(axis=1)
            else:
                div = np.zeros(n)
            mmr = lam * rel - (1.0 - lam) * div
            mmr[picked] = -np.inf
            # ties: argmax returns the FIRST max; rows are id-sorted
            best = int(np.argmax(mmr))
            picked.append(best)
            rows.append(
                (pdf[probe_col].iloc[0], rank + 1, ids[best],
                 float(mmr[best]))
            )
        return pd.DataFrame(
            rows, columns=[probe_col, "mmr_rank", id_col, "mmr_score"]
        )

    return candidates.groupBy(probe_col).applyInPandas(_mmr, out_schema)
