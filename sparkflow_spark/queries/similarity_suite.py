"""Similarity-search query surface over ``embeddings``."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window


from sparkflow_spark import similarity
from sparkflow_spark.catalog import Tables, fan_out
from sparkflow_spark.memo import Memo
from sparkflow_spark.queries import REGISTRY, ordered, register

# Probe set: the first 10 vectors by id — deterministic and expressible
# in both engines.
_N_PROBES = 10


def _probes(t: Tables) -> DataFrame:
    return (
        t.embeddings.orderBy("vec_id")
        .limit(_N_PROBES)
        .select(F.col("vec_id").alias("probe_id"), "embedding")
    )


def _cosine_scored(t: Tables, extra_cols: tuple = ()) -> "DataFrame":
    """The brute-force scoring kernel shared by s_brute_force_top1 and
    s_knn_classify: probes broadcast against one corpus scan, cosine as
    a JVM higher-order expression, self-matches excluded, zero-norm
    denominators → NULL. One definition so the den-guard/tie-break
    semantics cannot diverge between the queries built on it."""
    from sparkflow_spark.functions.vector import dot_seq, l2_norm

    p = _probes(t).select(
        "probe_id", F.col("embedding").alias("_pvec"), l2_norm("embedding").alias("_pn")
    )
    # r13: fan the corpus scan across the cores — the broadcast pair
    # join preserves the scan's partitioning, and a one-row-group
    # parquet input otherwise runs the whole probes×corpus scoring
    # stage on a single task (scale-adaptive no-op on large inputs)
    c = fan_out(t.embeddings).select(
        "vec_id", *extra_cols, "embedding", l2_norm("embedding").alias("_cn")
    )
    den = F.col("_pn") * F.col("_cn")
    return c.join(F.broadcast(p), F.col("vec_id") != F.col("probe_id")).select(
        "probe_id",
        "vec_id",
        *extra_cols,
        # r13: bit-exact Arrow dot kernel in place of the interpreted HOF
        # (same left-to-right adds — parity-pinned; ~2·dim interpreted
        # evals per pair removed)
        F.when(den != 0, dot_seq("_pvec", "embedding") / den).alias("cosine"),
    )


@register(
    "s_brute_force_top1",
    oracle=f"""
        WITH probes AS (
            SELECT vec_id AS probe_id, embedding AS pvec FROM embeddings
            ORDER BY vec_id LIMIT {_N_PROBES}
        ),
        scored AS (
            SELECT p.probe_id, e.vec_id,
                   list_sum(list_transform(range(1, len(e.embedding) + 1),
                       i -> CAST(p.pvec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(p.pvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                   AS cosine
            FROM probes p CROSS JOIN embeddings e
            WHERE e.vec_id != p.probe_id
        )
        SELECT probe_id, vec_id FROM (
            SELECT probe_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY cosine DESC, vec_id) AS rnk
            FROM scored) t
        WHERE rnk = 1 ORDER BY probe_id
    """,
    tags=("similarity", "vector"),
)
def s_brute(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cosine top-1 neighbor for 10 probes (self-match excluded).

    Plan shape: probes broadcast against the corpus scan, cosine as a
    JVM higher-order expression, per-probe top-1 via window group-limit
    (scoring kernel shared with s_knn_classify — _cosine_scored).
    """
    t = Tables(spark, sf)
    scored = _cosine_scored(t)
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("probe_id", "vec_id")
        .transform(ordered, "probe_id")
    )


@register(
    "s_ivf_ann_top1",
    oracle=None,  # ANN recall vs brute force asserted in tests
    tags=("similarity", "ivf"),
)
def s_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN top-1 for the same probes (k-means cells, 6 of 16
    probed)."""
    t = Tables(spark, sf)
    top = similarity.ivf_topk(
        t.embeddings, _probes(t), k=2, n_centroids=16, n_probe=6
    )
    return (
        top.filter(F.col("vec_id") != F.col("probe_id"))
        .groupBy("probe_id")
        .agg(F.min_by("vec_id", F.col("rnk")).alias("vec_id"))
        .transform(ordered, "probe_id")
    )


@register(
    "s_lsh_ann_top1",
    oracle=None,  # ANN recall vs brute force asserted in tests
    tags=("similarity", "lsh"),
)
def s_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-bucketed ANN top-1 for the same probes (recall path).

    4 planes × 12 tables ≈ 0.97 theoretical top-1 recall at the fixture's
    neighbor distances; at real corpus sizes num_planes grows ~log2(n)
    to keep buckets small while num_tables buys recall back.
    """
    t = Tables(spark, sf)
    top = similarity.lsh_topk(t.embeddings, _probes(t), k=2, num_planes=4, num_tables=12)
    return (
        top.filter(F.col("vec_id") != F.col("probe_id"))
        .groupBy("probe_id")
        .agg(F.min_by("vec_id", F.col("rnk")).alias("vec_id"))
        .transform(ordered, "probe_id")
    )


@register(
    "s_pq_ann_top1",
    oracle=None,  # ANN recall vs brute force asserted in tests
    tags=("similarity", "pq"),
)
def s_pq(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN top-1 for the same probes (16 subspaces ×
    32 codes, ADC scan + exact refine of the top 8k — the fixture's
    64-dim embeddings need sub-width 4 for top-1-excluding-self
    fidelity; coarser 8×16 codebooks measured 0.3-0.5 recall)."""
    t = Tables(spark, sf)
    top = similarity.pq_topk(
        t.embeddings, _probes(t), k=2, m=16, n_codes=32, refine_factor=8
    )
    return (
        top.filter(F.col("vec_id") != F.col("probe_id"))
        .groupBy("probe_id")
        .agg(F.min_by("vec_id", F.col("rnk")).alias("vec_id"))
        .transform(ordered, "probe_id")
    )


@register(
    "s_knn_classify",
    oracle=f"""
        WITH probes AS (
            SELECT vec_id AS probe_id, embedding AS pvec FROM embeddings
            ORDER BY vec_id LIMIT {_N_PROBES}
        ),
        scored AS (
            SELECT p.probe_id, e.vec_id, e.label,
                   list_sum(list_transform(range(1, len(e.embedding) + 1),
                       i -> CAST(p.pvec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(p.pvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                   AS cosine
            FROM probes p CROSS JOIN embeddings e
            WHERE e.vec_id != p.probe_id
        ),
        top5 AS (
            SELECT probe_id, label FROM (
                SELECT probe_id, label,
                       ROW_NUMBER() OVER (PARTITION BY probe_id
                                          ORDER BY cosine DESC, vec_id) AS rnk
                FROM scored) t
            WHERE rnk <= 5
        ),
        votes AS (
            SELECT probe_id, label, COUNT(*) AS votes
            FROM top5 GROUP BY probe_id, label
        )
        SELECT probe_id, label AS pred_label, votes FROM (
            SELECT probe_id, label, votes,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY votes DESC, label) AS vr
            FROM votes) v
        WHERE vr = 1 ORDER BY probe_id
    """,
    tags=("similarity", "vector", "ml"),
)
def s_knn(spark: SparkSession, sf: str) -> DataFrame:
    """5-NN majority-vote classification of 10 probes against the
    labeled embedding corpus (self-match excluded; cosine ties break by
    vec_id, vote ties by smaller label — both deterministic
    cross-engine).

    Plan shape: the s_brute_force kernel (probes broadcast against one
    corpus scan, JVM higher-order cosine) + two window group-limits.
    The per-probe vote table never exceeds k rows, so classification
    adds only a (probe_id)-partitioned window on a k·|probes| row
    intermediate — negligible at any corpus size; the corpus-side scan
    dominates exactly as in plain top-k search.
    """
    t = Tables(spark, sf)
    scored = _cosine_scored(t, extra_cols=("label",))
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    top5 = scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 5)
    votes = top5.groupBy("probe_id", "label").agg(F.count(F.lit(1)).alias("votes"))
    wv = Window.partitionBy("probe_id").orderBy(F.col("votes").desc(), F.col("label"))
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("probe_id", F.col("label").alias("pred_label"), "votes")
        .transform(ordered, "probe_id")
    )


@register(
    "s_ivf_index_query",
    # exhaustive probing (n_probe == n_centroids) makes the index query
    # EXACT regardless of what the quantizer did — so the brute-force
    # SQL is a true oracle for the whole build→append→query lifecycle;
    # partial-probe recall + occupancy monitoring are t1
    # (tests/test_vector_index.py)
    oracle=f"""
        WITH probes AS (
            SELECT vec_id AS probe_id, embedding AS pvec FROM embeddings
            ORDER BY vec_id LIMIT {_N_PROBES}
        ),
        scored AS (
            SELECT p.probe_id, e.vec_id,
                   list_sum(list_transform(range(1, len(e.embedding) + 1),
                       i -> CAST(p.pvec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(p.pvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                   AS cosine
            FROM probes p CROSS JOIN embeddings e
            WHERE e.vec_id != p.probe_id AND e.embedding IS NOT NULL
        )
        SELECT probe_id, vec_id FROM (
            SELECT probe_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY cosine DESC, vec_id) AS rnk
            FROM scored) t
        WHERE rnk = 1 ORDER BY probe_id
    """,
    tags=("similarity", "ivf", "index"),
    memo=False,  # builds a temp on-disk index per call
)
def s_ivf_index(spark: SparkSession, sf: str) -> DataFrame:
    """Persistent IVF index lifecycle demo: build over the even-id half
    of the embeddings, append the odd half against the FROZEN centroids
    (O(delta), no retrain — the FAISS operating model), query the
    standard probe set exhaustively (n_probe == n_centroids) so top-1
    is exact. Returns (probe_id, vec_id) of the nearest non-self
    neighbor per probe."""
    import shutil
    import tempfile

    from sparkflow_spark.vector_index import (
        append_to_ivf_index,
        build_ivf_index,
        query_ivf_index,
    )

    t = Tables(spark, sf)
    vecs = t.embeddings.select("vec_id", "embedding").where(
        F.col("embedding").isNotNull()
    )
    work = tempfile.mkdtemp(prefix="ivf_idx_")
    try:
        build_ivf_index(vecs.filter(F.col("vec_id") % 2 == 0), work, n_centroids=8)
        append_to_ivf_index(spark, work, vecs.filter(F.col("vec_id") % 2 == 1))
        out = (
            query_ivf_index(spark, work, _probes(t), k=2, n_probe=8)
            .filter(F.col("id") != F.col("probe_id"))
            .groupBy("probe_id")
            .agg(F.min_by("id", F.col("rnk")).alias("vec_id"))
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema).transform(ordered, "probe_id")
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------------------
# round-6: deterministic k-means (semantic bucketing / dedup clustering)

_KM_K, _KM_ITERS, _KM_DIMS = 4, 3, 64


def _km_ctes(k: int, iters: int, dims: int) -> str:
    """Unrolled Lloyd's iteration CTEs (same technique as the
    graph_suite power-iteration oracles): seeds = vectors of the k
    smallest ids, ROUND(mean, 6) centroids each update, ties to the
    smallest cluster index, empty clusters keep their previous
    centroid. Final assignment is ``a{iters+1}``."""
    means = "[" + ", ".join(
        f"ROUND(AVG(CAST(e.embedding[{i}] AS DOUBLE)), 6)"
        for i in range(1, dims + 1)
    ) + "]"
    dist = (
        f"list_sum(list_transform(range(1, {dims + 1}), i -> "
        "(CAST(e.embedding[i] AS DOUBLE) - c.c[i]) * "
        "(CAST(e.embedding[i] AS DOUBLE) - c.c[i])))"
    )
    ctes = [
        f"""c0 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
            FROM (SELECT vec_id, embedding FROM embeddings
                  WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT {k}) s)"""
    ]
    for t in range(1, iters + 2):
        ctes.append(
            f"""a{t} AS (
            SELECT vec_id, j AS cluster FROM (
                SELECT e.vec_id, c.j,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                          ORDER BY {dist}, c.j) AS rn
                FROM embeddings e CROSS JOIN c{t - 1} c
                WHERE e.embedding IS NOT NULL) x WHERE rn = 1)"""
        )
        if t <= iters:
            ctes.append(
                f"""m{t} AS (
            SELECT a.cluster AS j, {means} AS c
            FROM a{t} a JOIN embeddings e USING (vec_id)
            GROUP BY a.cluster)"""
            )
            ctes.append(
                f"""c{t} AS (
            SELECT p.j, COALESCE(m.c, p.c) AS c
            FROM c{t - 1} p LEFT JOIN m{t} m ON m.j = p.j)"""
            )
    return ",\n".join(ctes)


def _km_oracle(k: int, iters: int, dims: int) -> str:
    return (
        "WITH " + _km_ctes(k, iters, dims)
        + f"\nSELECT vec_id, cluster FROM a{iters + 1} ORDER BY vec_id"
    )


@register(
    "s_kmeans_clusters",
    oracle=_km_oracle(_KM_K, _KM_ITERS, _KM_DIMS),
    tags=("similarity", "iterative"),
)
def s_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic Lloyd's k-means (k=4, 3 iterations) over the
    embedding corpus, FULL assignment vector hash-checked against the
    unrolled DuckDB iteration — the semantic-bucketing/curriculum
    primitive, and the trainable twin of the IVF quantizer. Rounded
    centroids make the iteration map discrete, so engine summation
    order cannot flip assignments."""
    t = Tables(spark, sf)
    out = similarity.kmeans_clusters(
        t.embeddings, id_col="vec_id", vec_col="embedding",
        k=_KM_K, iters=_KM_ITERS,
    )
    return out.transform(ordered, "vec_id")


_SEMDUP_THRESHOLD = 0.4  # fixtures have no planted near-dups; max
# cross-vector cosine ≈0.5, so 0.4 yields a small non-empty pair set.
# Production embedding spaces run this at 0.9+.


# within-cluster cosine (ea/eb = embeddings rows joined on the pair)
_SEM_COS = (
    f"""list_sum(list_transform(range(1, {_KM_DIMS + 1}),
                  i -> CAST(ea.embedding[i] AS DOUBLE)
                       * CAST(eb.embedding[i] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(ea.embedding,
                     v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
               * sqrt(list_sum(list_transform(eb.embedding,
                     v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))"""
)

# k-means CTEs + the within-cluster qualifying pair set, shared by the
# pairs entry and the keep-list entry
_SEM_CTES = (
    _km_ctes(_KM_K, _KM_ITERS, _KM_DIMS)
    + f""",
        assign AS (SELECT vec_id, cluster FROM a{_KM_ITERS + 1}),
        sem_pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cluster,
                   {_SEM_COS} AS cosine
            FROM assign a
            JOIN assign b ON b.cluster = a.cluster AND a.vec_id < b.vec_id
            JOIN embeddings ea ON ea.vec_id = a.vec_id
            JOIN embeddings eb ON eb.vec_id = b.vec_id
            WHERE {_SEM_COS} >= {_SEMDUP_THRESHOLD})"""
)


@register(
    "d_semantic_dedup_pairs",
    oracle=f"""
        WITH {_SEM_CTES}
        SELECT id_a, id_b, cluster,
               CAST(ROUND(cosine, 3) AS DOUBLE) + 0.0 AS cosine
        FROM sem_pairs
        ORDER BY id_a, id_b""",
    tags=("dedup", "similarity", "iterative"),
    # r13: routes through connected_components, whose per-round eager
    # localCheckpoints would be reused by a memoized plan's repeat
    # invocations (block reads, not recomputation) — memo=False keeps
    # every invocation computing from the parquet scans (the
    # g_connected_components precedent).
    memo=False,
)
def d_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-shaped semantic near-dup mining: deterministic k-means
    buckets the corpus, then cosine pairs are generated ONLY within a
    cluster — the clustering bounds the quadratic pair space to
    Σ C(|cluster|,2), which is the entire reason SemDeDup scales where
    brute-force pairwise cosine cannot. Exactness within the bucketed
    search space is hash-checked against the unrolled-k-means DuckDB
    oracle. THIS ENTRY PINS k=4 — the oracle-unrollable correctness
    probe; the production path is similarity.semantic_dedup_pairs,
    which derives k = ceil(n / cell_size) so cells (and per-cluster
    pair work) stay constant as the corpus grows, switches to
    Arrow-batched assignment past k=8, and scores pairs with the Arrow
    dot kernel (SCALE.md round-6b: fixed k=4 times out at x16; derived
    k finishes in 14.6 s with 700x the true-dup output)."""
    pairs = _sem_pairs_frame(spark, sf)
    return pairs.select(
        "id_a",
        "id_b",
        "cluster",
        (F.round(F.col("cosine_raw"), 3).cast("double") + F.lit(0.0)).alias("cosine"),
    ).transform(ordered, "id_a", "id_b")


# (session, sf) → raw qualifying-pair DataFrame, shared by the pairs and
# keep entries: k-means plan-building is EAGER (per-iteration centroid
# collects), so without this the keep entry would re-run the whole
# clustering, and routing it through the pairs entry's memoized FINAL
# frame instead fed connected_components through the repartition(1)
# ordered() that exists only for the oracle compare (round-6 review).
_SEM_PAIRS_MEMO = Memo(64)


def _sem_pairs_frame(spark: SparkSession, sf: str) -> DataFrame:
    return _SEM_PAIRS_MEMO.get_or_build(spark, (sf,), lambda: _build_sem_pairs(spark, sf))


def _build_sem_pairs(spark: SparkSession, sf: str) -> DataFrame:
    t = Tables(spark, sf)
    assign = similarity.kmeans_clusters(
        t.embeddings, id_col="vec_id", vec_col="embedding",
        k=_KM_K, iters=_KM_ITERS,
    )
    # r13 batch 4 (guide §4.1/§2.4): the within-cluster expansion paid
    # ~400 interpreted HOF lambda evaluations PER PAIR (one dot + two
    # norms re-folded per candidate row — ~200M evaluations at sf0.1's
    # ~500k within-cluster pairs, all on ≤k tasks). Norms are now staged
    # once per VECTOR on each join leg (2n evals, not 2·pairs), and the
    # pair dot runs through dot_seq — the codegen'd unrolled chain that
    # is bit-exact with the aggregate(zip_with) fold (same left-to-right
    # IEEE adds; parity pinned in tests/test_round13_opt.py). Same pair
    # set, same cosine_raw bits, same oracle.
    from sparkflow_spark.functions.vector import dot_seq

    norm_v = F.sqrt(dot_seq(F.col("_v"), F.col("_v")))
    vecs = (
        t.embeddings.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("_v")
        )
        .join(assign, "vec_id")
        .withColumn("_n", norm_v)
    )
    a = vecs.select(
        F.col("vec_id").alias("id_a"), F.col("_v").alias("_va"),
        F.col("_n").alias("_na"), "cluster",
    )
    b = vecs.select(
        F.col("vec_id").alias("id_b"), F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"), "cluster",
    )
    return (
        a.join(b, "cluster")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine_raw",
            dot_seq("_va", "_vb") / (F.col("_na") * F.col("_nb")),
        )
        .where(F.col("cosine_raw") >= _SEMDUP_THRESHOLD)
        .select("id_a", "id_b", "cluster", "cosine_raw")
    )


@register(
    "d_semantic_dedup_keep",
    oracle=f"""
        WITH RECURSIVE {_SEM_CTES},
        edges AS (
            SELECT id_a AS a, id_b AS b FROM sem_pairs
            UNION SELECT id_b, id_a FROM sem_pairs
        ),
        reach AS (
            SELECT a, b FROM edges
            UNION
            SELECT reach.a, edges.b FROM reach JOIN edges ON reach.b = edges.a
        ),
        rep AS (
            SELECT a AS node, LEAST(a, MIN(b)) AS component
            FROM reach GROUP BY a
        )
        SELECT vec_id FROM embeddings
        WHERE vec_id NOT IN (SELECT node FROM rep WHERE node != component)
        ORDER BY vec_id
    """,
    tags=("dedup", "similarity", "iterative"),
    # r13: routes through connected_components, whose per-round eager
    # localCheckpoints would be reused by a memoized plan's repeat
    # invocations (block reads, not recomputation) — memo=False keeps
    # every invocation computing from the parquet scans (the
    # g_connected_components precedent).
    memo=False,
)
def d_semantic_keep(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup end-to-end: within-cluster cosine pairs → connected
    components (min-label propagation with pointer jumping) → keep the
    min-id representative per semantic-duplicate group; vectors in no
    pair survive via the anti-join. The oracle closes transitive
    reachability with a recursive CTE over the same unrolled-k-means
    pair set, so the full iterative pipeline's fixpoint is
    hash-checked."""
    t = Tables(spark, sf)
    # raw shared pair frame — NOT the pairs entry's final (its
    # repartition(1) ordered() exists only for the oracle compare and
    # would single-partition the component input)
    pairs = _sem_pairs_frame(spark, sf).select("id_a", "id_b")
    from sparkflow_spark import dedup

    kept = dedup.near_dedup(
        t.embeddings.select("vec_id"), pairs, id_col="vec_id"
    )
    return kept.select("vec_id").transform(ordered, "vec_id")


@register(
    "s_quantize_int8",
    oracle="""
        WITH s AS (
            SELECT vec_id, label, embedding,
                   list_max(list_transform(embedding,
                            x -> abs(CAST(x AS DOUBLE)))) AS maxabs
            FROM embeddings)
        SELECT vec_id, label,
               CAST(ROUND(CASE WHEN maxabs = 0 OR maxabs IS NULL THEN 1.0
                               ELSE maxabs / 127.0 END, 9) AS DOUBLE) + 0.0
                 AS scale,
               array_to_string(list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE)
                             / (CASE WHEN maxabs = 0 OR maxabs IS NULL THEN 1.0
                                     ELSE maxabs / 127.0 END) + 0.5) AS INT)), ',')
                 AS qvec_csv
        FROM s ORDER BY vec_id
    """,
    tags=("similarity", "vector"),
)
def s_quantize_int8(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric int8 vector quantization with a per-vector scale
    sidecar — the storage/bandwidth path for ANN at corpus scale (4×
    smaller than float32; IVF/PQ probes decode with one multiply).
    q_i = floor(x_i/scale + 0.5) with scale = max|x|/127, so every
    component lands in [-127, 127] and the same doubles round the same
    way in any engine (floor(x+0.5) is used in BOTH engines rather than
    ROUND to avoid half-even vs half-away divergence). Zero/NULL-norm
    vectors take scale 1.0. Pure per-row Catalyst HOFs — zero shuffle,
    zero Python."""
    t = Tables(spark, sf)
    arr = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(arr, F.abs))
    scale = F.when(maxabs.isNull() | (maxabs == 0), F.lit(1.0)).otherwise(maxabs / F.lit(127.0))
    staged = t.embeddings.select(
        "vec_id",
        "label",
        F.col("embedding"),
        scale.alias("_scale"),
    )
    return staged.select(
        "vec_id",
        "label",
        (F.round(F.col("_scale"), 9).cast("double") + F.lit(0.0)).alias("scale"),
        F.concat_ws(
            ",",
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") / F.col("_scale") + F.lit(0.5))
                .cast("int")
                .cast("string"),
            ),
        ).alias("qvec_csv"),
    ).transform(ordered, "vec_id")


@register(
    "s_hard_negative_top1",
    oracle="""
        WITH scored AS (
            SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
                   b.vec_id, b.label,
                   list_sum(list_transform(range(1, len(b.embedding) + 1),
                       i -> CAST(a.embedding[i] AS DOUBLE)
                          * CAST(b.embedding[i] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(a.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(b.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                   AS cosine
            FROM embeddings a JOIN embeddings b
              ON b.vec_id != a.vec_id AND b.label != a.label
        )
        SELECT anchor_id, anchor_label,
               vec_id AS hard_neg_id, label AS neg_label,
               CAST(ROUND(cosine, 6) AS DOUBLE) + 0.0 AS cosine
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                         ORDER BY cosine DESC, vec_id) AS rnk
            FROM scored) t
        WHERE rnk = 1 ORDER BY anchor_id
    """,
    tags=("similarity", "vector", "ml", "large-output"),
)
def s_hard_negative(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for EVERY vector,
    the most cosine-similar vector with a DIFFERENT label — the
    near-boundary negatives that make embedding models converge (vs
    p_negative_pairs' uniform randoms; a training pipeline typically
    mixes both). Self-matches excluded by id; NULL labels never pair
    (SQL != semantics, identical in both engines).

    This is the exact/verification twin, same contract as
    s_brute_force_top1: one corpus scan joined against the broadcast
    anchor side, cosine as a JVM higher-order expression, per-anchor
    top-1 via window group-limit. Production at 100 TB swaps the
    broadcast nested-loop for IVF-bucketed candidate generation
    (query_ivf_index + label anti-filter + this same re-rank) — the
    recall/cost trade is measured in tests/test_similarity.py for the
    ANN path; semantics stay pinned by this entry.
    """
    from sparkflow_spark.functions.vector import dot_seq, l2_norm

    t = Tables(spark, sf)
    a = t.embeddings.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("_avec"),
        l2_norm("embedding").alias("_an"),
    )
    # r13: fan the stream side across the cores — the broadcast
    # anchors×corpus pair stream otherwise inherits the scan's single
    # row-group partition and scores n² pairs on one task
    b = fan_out(t.embeddings).select(
        "vec_id", "label", "embedding", l2_norm("embedding").alias("_bn")
    )
    den = F.col("_an") * F.col("_bn")
    scored = b.join(
        F.broadcast(a),
        (F.col("vec_id") != F.col("anchor_id"))
        & (F.col("label") != F.col("anchor_label")),
    ).select(
        "anchor_id",
        "anchor_label",
        "vec_id",
        "label",
        # r13: bit-exact Arrow dot kernel (the n² pair stream paid ~2·dim
        # interpreted expression evals per pair — the query's dominant cost)
        F.when(den != 0, dot_seq("_avec", "embedding") / den).alias("cosine"),
    )
    w = Window.partitionBy("anchor_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("hard_neg_id"),
            F.col("label").alias("neg_label"),
            (F.round(F.col("cosine"), 6).cast("double") + F.lit(0.0)).alias("cosine"),
        )
    )


@register(
    "s_hard_negative_ann",
    # The recall trade (which anchors lose their true hard negative to
    # an unprobed cell) is a function of the k-means partition — an
    # engine-defined artifact no SQL replay can reproduce, so the
    # driver records rows-only here; the REAL check is t1
    # (tests/test_round7_ops.py): recall ≥ 0.9 against the registered
    # exact twin s_hard_negative_top1 at fixture scale, plus the
    # clustered-data probe showing the bounded-candidate win the
    # isotropic fixtures can't exhibit.
    oracle=None,
    tags=("similarity", "vector", "ml", "ann", "large-output"),
    memo=False,  # builds an on-disk IVF index per call
)
def s_hard_negative_ann_q(spark: SparkSession, sf: str) -> DataFrame:
    """The PRODUCTION hard-negative miner — IVF-bucketed candidates in
    place of s_hard_negative_top1's all-pairs broadcast nested-loop
    (the r6 verdict's quadratic flag): build_ivf_index coarse-quantizes
    the corpus once, every anchor probes its n_probe nearest cells,
    label anti-filter + the SAME window re-rank pick the top different-
    label neighbor. The cell count DERIVES from the corpus
    (⌈n/256⌉ — the same lesson semantic_dedup_pairs learned in r6:
    a fixed k makes per-cell occupancy, hence total candidate work,
    quadratic in n), so per-anchor work is n_probe × cell_size ≈ a
    CONSTANT as the corpus grows, and the join stays a keyed equi-join
    on `cell` (never a nested loop over the corpus).

    Fixture honesty: the synthetic embeddings are ISOTROPIC (no cluster
    structure), where any cell-pruned method's recall ≈ fraction of
    cells probed — at sf0.1 (2000 vecs → 8 cells, 6 probed) recall
    measures 0.93; at the smaller SFs (500 vecs → 2 cells) probing is
    exhaustive and the result is exact. On real clustered embeddings
    the same plan holds recall at far lower probe fractions — pinned by
    the clustered-data t1 (recall ≥ 0.9 at 2 of 8 cells)."""
    from sparkflow_spark.catalog import warehouse_subdir
    from sparkflow_spark.vector_index import build_ivf_index, query_ivf_index

    t = Tables(spark, sf)
    idx = warehouse_subdir(spark, "ivf_hardneg", key=sf)
    vecs = t.embeddings.select("vec_id", "embedding")
    n_cells = max(2, -(-vecs.count() // 256))
    build_ivf_index(vecs, idx, n_centroids=n_cells)
    labels = t.embeddings.select("vec_id", "label")
    probes = t.embeddings.select(F.col("vec_id").alias("probe_id"), "embedding")
    cand = query_ivf_index(spark, idx, probes, k=64, n_probe=6)
    anch = labels.select(
        F.col("vec_id").alias("probe_id"), F.col("label").alias("anchor_label")
    )
    neg = labels.select(F.col("vec_id").alias("id"), F.col("label").alias("neg_label"))
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("id"))
    return (
        # label attachment: plain equi-joins — the (id, label) side is
        # corpus-sized, so a forced broadcast would OOM at scale; AQE
        # converts these to broadcasts at fixture scale on its own.
        cand.filter(F.col("id") != F.col("probe_id"))
        .join(anch, "probe_id")
        .join(neg, "id")
        .filter(F.col("neg_label") != F.col("anchor_label"))
        .withColumn("r2", F.row_number().over(w))
        .filter(F.col("r2") == 1)
        .select(
            F.col("probe_id").alias("anchor_id"),
            F.col("anchor_label"),
            F.col("id").alias("hard_neg_id"),
            F.col("neg_label"),
            (F.round(F.col("cosine"), 6).cast("double") + F.lit(0.0)).alias("cosine"),
        )
    )


_HN_PROBE = 2  # cells probed per anchor (of _KM_K=4) — a real recall
# trade at fixture scale, so the oracle checks the PRUNED search, not a
# disguised exhaustive one.


@register(
    "s_hard_negative_md5_query",
    # Full IVF-shaped lifecycle replay (the X132 pattern, applied to the
    # ANN family): DuckDB re-derives the deterministic codebook (the
    # unrolled k-means CTEs — c3 = the frozen centroids), re-ranks each
    # anchor's cell distances to pick the same n_probe cells, and
    # re-scores only those cells' members — so the hash pins the entire
    # mining pipeline (quantize → probe → label filter → re-rank), not
    # just the final cosines.
    oracle="""
        WITH {km},
        assign AS (SELECT vec_id, cluster FROM a{final_a}),
        cdist AS (
            SELECT e.vec_id AS anchor_id, c.j,
                   list_sum(list_transform(range(1, {dims} + 1), i ->
                       (CAST(e.embedding[i] AS DOUBLE) - c.c[i])
                     * (CAST(e.embedding[i] AS DOUBLE) - c.c[i]))) AS d
            FROM embeddings e CROSS JOIN c{final_c} c
            WHERE e.embedding IS NOT NULL),
        probed AS (
            SELECT anchor_id, j AS cluster FROM (
                SELECT anchor_id, j,
                       ROW_NUMBER() OVER (PARTITION BY anchor_id
                                          ORDER BY d, j) AS rn
                FROM cdist) x WHERE rn <= {n_probe}),
        scored AS (
            SELECT p.anchor_id, ea.label AS anchor_label,
                   a.vec_id, eb.label AS neg_label,
                   {cos} AS cosine
            FROM probed p
            JOIN assign a ON a.cluster = p.cluster
                         AND a.vec_id != p.anchor_id
            JOIN embeddings ea ON ea.vec_id = p.anchor_id
            JOIN embeddings eb ON eb.vec_id = a.vec_id
            WHERE eb.label != ea.label)
        SELECT anchor_id, anchor_label,
               vec_id AS hard_neg_id, neg_label,
               CAST(ROUND(cosine, 6) AS DOUBLE) + 0.0 AS cosine
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY anchor_id
                  ORDER BY cosine DESC, md5(CAST(vec_id AS VARCHAR))) AS rn
              FROM scored) t
        WHERE rn = 1 ORDER BY anchor_id
    """.format(
        km=_km_ctes(_KM_K, _KM_ITERS, _KM_DIMS),
        final_a=_KM_ITERS + 1,
        final_c=_KM_ITERS,
        dims=_KM_DIMS,
        n_probe=_HN_PROBE,
        cos=_SEM_COS,
    ),
    tags=("similarity", "ann", "ivf", "ml"),
)
def s_hard_negative_md5(spark: SparkSession, sf: str) -> DataFrame:
    """The deterministic t2 twin of s_hard_negative_ann (r8 verdict ask
    #3): the same IVF-bucketed hard-negative mining shape — quantize the
    corpus into cells, probe each anchor's n_probe nearest cells, label
    anti-filter, cosine re-rank — but with EVERY engine-defined artifact
    replaced by a cross-engine-replayable one, so DuckDB can replay the
    full lifecycle and the driver hash-checks it:

    - codebook: the deterministic k-means (X85 contract — seeds = k
      smallest ids, ROUND(mean, 6) centroids, ties to smallest index)
      instead of build_ivf_index's sampled init;
    - probe order: (squared distance, cell index) — discrete because
      the centroids are rounded;
    - re-rank ties: md5(vec_id) (the X132 md5-family convention).

    Scale shape is the production one: cell assignment is one scan
    (k·d fold-distances, no shuffle), candidates come from a keyed
    equi-join on `cell` (never a corpus nested-loop), and per-anchor
    work is n_probe × cell_size. s_hard_negative_ann remains the
    operational path (persistent index, derived cell count); this entry
    pins its semantics hash-for-hash at the fixture's k."""
    from sparkflow_spark.functions.vector import dot_seq

    t = Tables(spark, sf)
    emb = t.embeddings.where(F.col("embedding").isNotNull())
    assign, centroids = similarity.kmeans_fit(
        emb, id_col="vec_id", vec_col="embedding", k=_KM_K, iters=_KM_ITERS
    )
    # r13: fan the anchor/candidate stream across the cores (the
    # broadcast-join chain otherwise keeps the scan's single row-group
    # partition through the |anchors|·n_probe·cell_size scoring
    # stream). Applied AFTER kmeans_fit so the centroid means fold in
    # their original partition order — assignment/centroids unchanged.
    emb = fan_out(emb)
    vecs = emb.select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("_v"),
    )
    # r13: the L2 norm is a per-VECTOR quantity — staged here (once per
    # vector) instead of re-folded per CANDIDATE row inside the cosine
    # (the candidate stream is |anchors|·n_probe·cell_size rows; two
    # interpreted 64-dim folds per row dominated this query). Same
    # expression, same values; the denominator product is unchanged.
    # per-anchor probed cells: rank squared distance to the frozen
    # centroids, ties to the smaller cell index (array_sort on the
    # (d, j) struct gives exactly that order)
    dstructs = F.array_sort(
        F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("_v"),
                            F.array(*[F.lit(float(x)) for x in cj]),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("d"),
                    F.lit(j).alias("j"),
                )
                for j, cj in enumerate(centroids)
            ]
        )
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(F.col(c), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    anchors = vecs.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("_v").alias("_av"),
        norm("_v").alias("_an"),
        F.explode(F.slice(dstructs, 1, _HN_PROBE)).alias("_pc"),
    ).select(
        "anchor_id", "anchor_label", "_av", "_an", F.col("_pc.j").alias("cluster")
    )
    cand = (
        anchors.join(assign, "cluster")  # keyed equi-join on the cell
        .where(F.col("vec_id") != F.col("anchor_id"))
        .join(vecs.select("vec_id", "label", "_v", norm("_v").alias("_bn")), "vec_id")
        .where(F.col("label") != F.col("anchor_label"))
        .withColumn(
            "cosine",
            dot_seq("_av", "_v") / (F.col("_an") * F.col("_bn")),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.md5(F.col("vec_id").cast("string"))
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("hard_neg_id"),
            F.col("label").alias("neg_label"),
            (F.round(F.col("cosine"), 6).cast("double") + F.lit(0.0)).alias("cosine"),
        )
        .transform(ordered, "anchor_id")
    )


_PQ_M, _PQ_SUB, _PQ_CODES, _PQ_REFINE = 8, 8, 8, 4


def _pq_md5_oracle() -> str:
    """DuckDB replay of the full PQ/ADC pipeline on the deterministic
    codebook (codes = the 8 smallest non-null vec_ids' sub-slices):
    encode (per-subspace argmin, ties to the smaller code), probe LUTs,
    ADC scan (in-subspace-order list_sum — the same left-to-right
    double adds as Spark's zip_with/aggregate), top-(k·refine)
    candidates by (adc DESC, vec_id), exact-cosine refine, top-1."""
    m, sub, nc, refine = _PQ_M, _PQ_SUB, _PQ_CODES, _PQ_REFINE
    return f"""
        WITH cb AS (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, embedding AS cvec
            FROM embeddings WHERE embedding IS NOT NULL
            ORDER BY vec_id LIMIT {nc}),
        probes AS (
            SELECT vec_id AS probe_id, embedding AS pvec
            FROM embeddings WHERE embedding IS NOT NULL
            ORDER BY vec_id LIMIT {_N_PROBES}),
        codes AS (
            SELECT vec_id, mi, code FROM (
                SELECT e.vec_id, g.mi, c.code,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id, g.mi ORDER BY
                           list_sum(list_transform(range(1, {sub} + 1), i ->
                               (CAST(e.embedding[g.mi * {sub} + i] AS DOUBLE)
                                - CAST(c.cvec[g.mi * {sub} + i] AS DOUBLE))
                             * (CAST(e.embedding[g.mi * {sub} + i] AS DOUBLE)
                                - CAST(c.cvec[g.mi * {sub} + i] AS DOUBLE)))),
                           c.code) AS rn
                FROM embeddings e, range(0, {m}) g(mi), cb c
                WHERE e.embedding IS NOT NULL) WHERE rn = 1),
        codes_arr AS (
            SELECT vec_id, list(code ORDER BY mi) AS codes
            FROM codes GROUP BY vec_id),
        lut AS (
            SELECT p.probe_id, g.mi,
                   list(list_sum(list_transform(range(1, {sub} + 1), i ->
                         CAST(p.pvec[g.mi * {sub} + i] AS DOUBLE)
                       * CAST(c.cvec[g.mi * {sub} + i] AS DOUBLE)))
                     ORDER BY c.code) AS lrow
            FROM probes p, range(0, {m}) g(mi), cb c
            GROUP BY p.probe_id, g.mi),
        lut_arr AS (
            SELECT probe_id, list(lrow ORDER BY mi) AS lut
            FROM lut GROUP BY probe_id),
        norms AS (
            SELECT vec_id,
                   sqrt(list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cn
            FROM embeddings WHERE embedding IS NOT NULL),
        adc AS (
            SELECT l.probe_id, ca.vec_id,
                   list_sum(list_transform(range(1, {m} + 1), i ->
                       l.lut[i][ca.codes[i] + 1])) / n.cn AS adc_rank
            FROM lut_arr l CROSS JOIN codes_arr ca
            JOIN norms n USING (vec_id)
            WHERE n.cn != 0 AND ca.vec_id != l.probe_id),
        cand AS (
            SELECT probe_id, vec_id FROM (
                SELECT probe_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY probe_id
                                          ORDER BY adc_rank DESC, vec_id) AS rn
                FROM adc) WHERE rn <= {refine}),
        exact AS (
            SELECT c.probe_id, c.vec_id,
                   list_sum(list_transform(range(1, len(e.embedding) + 1), i ->
                         CAST(p.pvec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(p.pvec,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * n.cn) AS cosine
            FROM cand c
            JOIN embeddings e ON e.vec_id = c.vec_id
            JOIN norms n ON n.vec_id = c.vec_id
            JOIN probes p ON p.probe_id = c.probe_id)
        SELECT probe_id, vec_id AS pq_nn_id,
               CAST(ROUND(cosine, 6) AS DOUBLE) + 0.0 AS cosine
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                           ORDER BY cosine DESC, vec_id) AS rnk
              FROM exact) t
        WHERE rnk = 1 ORDER BY probe_id
    """


@register(
    "s_pq_md5_query",
    oracle=_pq_md5_oracle(),
    tags=("similarity", "pq", "ann"),
)
def s_pq_md5(spark: SparkSession, sf: str) -> DataFrame:
    """The t2 twin of s_pq_ann_top1 (r8 verdict ask #5): the same
    PQ pipeline shape — encode the corpus to m sub-codes, ADC-scan each
    probe through its lookup table, exact-cosine refine of the
    k·refine_factor survivors — with the trained codebook replaced by
    :func:`similarity.deterministic_pq_codebooks` (codes = the n_codes
    smallest ids' sub-slices) and EVERY stage a pure Catalyst
    expression whose double-add order matches the DuckDB replay
    operation-for-operation, so the driver hash-checks the whole
    quantize→ADC→refine lifecycle. s_pq_ann_top1 stays the production
    path (trained codebooks, Arrow encode); its recall binds to brute
    force in t1.

    Plan shape (the one a 100-TB PQ scan needs): encode is one
    per-row fold over the corpus scan (no shuffle); probes + LUTs ride
    a broadcast; the ADC window ranks SLIM (id, score) rows; only
    refine-survivors re-read raw vectors."""
    from sparkflow_spark.functions.vector import dot

    t = Tables(spark, sf)
    books = similarity.deterministic_pq_codebooks(
        t.embeddings, m=_PQ_M, n_codes=_PQ_CODES
    )
    m, sub = _PQ_M, _PQ_SUB

    def _sub_dist(mi: int, j: int):
        return F.aggregate(
            F.zip_with(
                F.slice("_v", mi * sub + 1, sub),
                F.array(*[F.lit(x) for x in books[mi][j]]),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def _sub_dot(mi: int, j: int):
        return F.aggregate(
            F.zip_with(
                F.slice("_v", mi * sub + 1, sub),
                F.array(*[F.lit(x) for x in books[mi][j]]),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    encode = F.array(
        *[
            F.element_at(
                F.array_sort(
                    F.array(
                        *[
                            F.struct(_sub_dist(mi, j).alias("d"), F.lit(j).alias("j"))
                            for j in range(len(books[mi]))
                        ]
                    )
                ),
                1,
            )["j"]
            for mi in range(m)
        ]
    )
    lut = F.array(
        *[
            F.array(*[_sub_dot(mi, j) for j in range(len(books[mi]))])
            for mi in range(m)
        ]
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform("_v", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    vecs = t.embeddings.where(F.col("embedding").isNotNull()).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("_v")
    )
    corpus = vecs.select(
        "vec_id", "_v", norm.alias("_cn"), encode.alias("_codes")
    ).where(F.col("_cn") != 0)
    p = (
        vecs.orderBy("vec_id")
        .limit(_N_PROBES)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("_v").alias("_pv"),
            norm.alias("_pn"),
            lut.alias("_lut"),
        )
    )
    adc = F.aggregate(
        F.zip_with("_codes", "_lut", lambda cde, row: F.element_at(row, cde + 1)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        corpus.select("vec_id", "_cn", "_codes")
        .join(F.broadcast(p.select("probe_id", "_lut")), how="cross")
        .where(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", (adc / F.col("_cn")).alias("_adc_rank"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("_adc_rank").desc(), F.col("vec_id")
    )
    cand = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _PQ_REFINE)
        .select("probe_id", "vec_id")
    )
    den = F.col("_pn") * F.col("_cn")
    exact = (
        cand.join(corpus.select("vec_id", "_v", "_cn"), "vec_id")
        .join(F.broadcast(p.select("probe_id", "_pv", "_pn")), "probe_id")
        .select(
            "probe_id",
            "vec_id",
            F.when(den != 0, dot("_pv", "_v") / den).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        exact.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") == 1)
        .select(
            "probe_id",
            F.col("vec_id").alias("pq_nn_id"),
            (F.round(F.col("cosine"), 6).cast("double") + F.lit(0.0)).alias("cosine"),
        )
        .transform(ordered, "probe_id")
    )


_RRF_K, _RRF_POOL, _RRF_TOP = 60, 20, 10


def _rrf_oracle() -> str:
    """DuckDB replay of reciprocal-rank fusion: the BM25 leg reuses
    t_bm25_scores' REGISTERED oracle verbatim as a subquery (one
    definition, zero drift), the vector leg ranks cosine-vs-doc-0
    (rounded to 6 before ranking so cross-engine ulp can't flip a
    rank), and the fusion sum keeps lex-then-vec order with explicit
    DOUBLE casts (DuckDB's bare 1.0/60.0 literals are DECIMAL)."""
    from sparkflow_spark.queries import REGISTRY, pipeline_suite  # noqa: F401

    bm = REGISTRY["t_bm25_scores"].oracle
    cos = (
        "list_sum(list_transform(range(1, len(e.embedding) + 1), i -> "
        "CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) / "
        "(sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * "
        "sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
    )
    return f"""
        WITH bm AS (SELECT * FROM ({bm}) tq),
        lex AS (
            SELECT doc_id, rn AS lex_rank FROM (
                SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rn
                FROM bm) WHERE rn <= {_RRF_POOL}),
        q AS (SELECT arg_min(embedding, vec_id) AS qv FROM embeddings),
        vs AS (
            SELECT e.vec_id AS doc_id, ROUND({cos}, 6) AS c
            FROM embeddings e, q),
        vec AS (
            SELECT doc_id, rn AS vec_rank FROM (
                SELECT doc_id, ROW_NUMBER() OVER (ORDER BY c DESC, doc_id) AS rn
                FROM vs) WHERE rn <= {_RRF_POOL}),
        fused AS (
            SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
                   l.lex_rank, v.vec_rank,
                   COALESCE(CAST(1.0 AS DOUBLE) / (CAST({_RRF_K} AS DOUBLE) + l.lex_rank),
                            CAST(0.0 AS DOUBLE))
                   + COALESCE(CAST(1.0 AS DOUBLE) / (CAST({_RRF_K} AS DOUBLE) + v.vec_rank),
                              CAST(0.0 AS DOUBLE)) AS rrf
            FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id)
        SELECT doc_id, lex_rank, vec_rank,
               CAST(ROUND(rrf, 6) AS DOUBLE) + 0.0 AS rrf_score
        FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rn
              FROM fused) WHERE rn <= {_RRF_TOP}
        ORDER BY doc_id
    """


@register(
    "s_rrf_hybrid_topk",
    oracle=_rrf_oracle(),
    tags=("similarity", "retrieval", "hybrid"),
)
def s_rrf_hybrid(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.
    SIGIR'09 — the standard BM25⊕dense fusion in modern RAG stacks):
    the lexical leg is the registered BM25 scorer's top-20 (same
    3-term query), the dense leg is cosine-vs-the-min-id-doc's top-20
    (a scalar-aggregate query vector), and each
    doc scores Σ 1/(60 + rank) over the legs it appears in; top-10
    returned with both leg ranks (NULL where a leg missed).

    Scale shape: each leg's global top-k is sort-limit (TakeOrdered —
    no global window over the corpus; the rank-within-k window runs on
    a LIMIT-bounded 20-row input); the fusion is a full-outer join of
    two k-row lists. At 100 TB the legs are the expensive retrievers
    (BM25 scan / ANN index) and fusion cost stays O(k)."""
    from sparkflow_spark.functions.vector import dot, l2_norm
    from sparkflow_spark.queries import pipeline_suite  # noqa: F401 — registers t_bm25

    t = Tables(spark, sf)
    bm = REGISTRY["t_bm25_scores"].fn(spark, sf)
    w20 = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    lex = (
        bm.orderBy(F.col("bm25").desc(), F.col("doc_id"))
        .limit(_RRF_POOL)
        .withColumn("lex_rank", F.row_number().over(w20).cast("bigint"))
        .select("doc_id", "lex_rank")
    )
    # query vector = the smallest id's embedding, as a SCALAR AGGREGATE
    # (min_by) rather than a filter: a scalar-agg build is provably one
    # row, so the broadcast cross join is bounded by construction (the
    # plan audit's exemption-free class) — a `WHERE vec_id = 0` build
    # would be the same data but an unprovable nested-loop shape.
    qv = t.embeddings.agg(F.min_by("embedding", "vec_id").alias("_qv"))
    den = l2_norm("_qv") * l2_norm("embedding")
    vs = t.embeddings.join(F.broadcast(qv)).select(
        F.col("vec_id").alias("doc_id"),
        F.round(
            F.when(den != 0, dot("_qv", "embedding") / den), 6
        ).alias("_c"),
    )
    wv = Window.orderBy(F.col("_c").desc(), F.col("doc_id"))
    vec = (
        vs.orderBy(F.col("_c").desc(), F.col("doc_id"))
        .limit(_RRF_POOL)
        .withColumn("vec_rank", F.row_number().over(wv).cast("bigint"))
        .select("doc_id", "vec_rank")
    )
    kd = F.lit(float(_RRF_K))
    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "vec_rank",
        (
            F.coalesce(F.lit(1.0) / (kd + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (kd + F.col("vec_rank")), F.lit(0.0))
        ).alias("_rrf"),
    )
    wr = Window.orderBy(F.col("_rrf").desc(), F.col("doc_id"))
    return (
        fused.withColumn("_rn", F.row_number().over(wr))
        .filter(F.col("_rn") <= _RRF_TOP)
        .select(
            "doc_id",
            "lex_rank",
            "vec_rank",
            (F.round(F.col("_rrf"), 6).cast("double") + F.lit(0.0)).alias("rrf_score"),
        )
        .transform(ordered, "doc_id")
    )


_RH_PLANES, _RH_DIMS = 8, 64


def _rh_planes() -> list[list[float]]:
    """Deterministic ±1 random-hyperplane family derived from md5 —
    entry (p, d) is +1 iff the first hex digit of md5("p_d") < '8'
    (an unbiased coin on a cross-engine-identical hash), so any engine
    reconstructs the same planes and the whole signature→bucket→rerank
    pipeline is hash-checkable."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"{p}_{d}".encode()).hexdigest()[0] < "8" else -1.0
            for d in range(_RH_DIMS)
        ]
        for p in range(_RH_PLANES)
    ]


def _rh_oracle() -> str:
    bit = (
        "CASE WHEN list_sum(list_transform(range(1, {dims} + 1), i -> "
        "CAST({v}[i] AS DOUBLE) * (CASE WHEN substr(md5({p} || '_' || (i - 1)), 1, 1) < '8' "
        "THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END))) >= 0 "
        "THEN '1' ELSE '0' END"
    )
    sig = " || ".join(
        bit.format(dims=_RH_DIMS, v="embedding", p=p) for p in range(_RH_PLANES)
    )
    return f"""
        WITH sigs AS (
            SELECT vec_id, embedding, ({sig}) AS bucket
            FROM embeddings WHERE embedding IS NOT NULL),
        probes AS (
            SELECT vec_id AS probe_id, embedding AS pvec, bucket
            FROM sigs ORDER BY vec_id LIMIT {_N_PROBES}),
        cand AS (
            SELECT p.probe_id, s.vec_id,
                   list_sum(list_transform(range(1, {_RH_DIMS} + 1), i ->
                       CAST(p.pvec[i] AS DOUBLE) * CAST(s.embedding[i] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(p.pvec,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(s.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosine
            FROM probes p JOIN sigs s ON s.bucket = p.bucket
            WHERE s.vec_id != p.probe_id)
        SELECT probe_id, vec_id AS nn_id,
               CAST(ROUND(cosine, 6) AS DOUBLE) + 0.0 AS cosine
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                  ORDER BY cosine DESC, md5(CAST(vec_id AS VARCHAR))) AS rn
              FROM cand) WHERE rn = 1 ORDER BY probe_id
    """


@register(
    "s_rh_lsh_md5_query",
    oracle=_rh_oracle(),
    tags=("similarity", "lsh", "ann"),
)
def s_rh_lsh_md5(spark: SparkSession, sf: str) -> DataFrame:
    """The deterministic t2 twin of s_lsh_ann_top1 (completing the ANN
    families' replay coverage: IVF→s_hard_negative_md5_query,
    PQ→s_pq_md5_query, RH-LSH→this): the same random-hyperplane
    signature→bucket-join→exact-rerank pipeline, with the seeded numpy
    hyperplanes replaced by the md5-derived ±1 family (_rh_planes) so
    DuckDB re-derives the planes, every signature bit, the bucket
    join, and the re-rank — hash-for-hash. A probe whose bucket holds
    no other vector returns no row (deterministic either way).

    Scale shape is the production LSH one: one signature scan (P·D
    multiply-adds per row, no shuffle), candidates from the keyed
    equi-join on the bucket (never all-pairs), exact cosines only for
    same-bucket pairs. s_lsh_ann_top1 stays the recall-tuned
    operational path (multi-table, t1 recall ≥0.8)."""
    from sparkflow_spark.functions.vector import dot

    t = Tables(spark, sf)
    planes = _rh_planes()
    vecs = t.embeddings.where(F.col("embedding").isNotNull()).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("_v")
    )
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    F.col("_v"),
                    F.array(*[F.lit(x) for x in pl]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for pl in planes
    ]
    sigs = vecs.select("vec_id", "_v", F.concat(*bits).alias("bucket"))
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("_v"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    p = (
        sigs.orderBy("vec_id")
        .limit(_N_PROBES)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("_v").alias("_pv"),
            F.col("bucket"),
        )
    )
    pn = F.sqrt(
        F.aggregate(
            F.transform(F.col("_pv"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    cand = (
        sigs.join(F.broadcast(p), "bucket")
        .where(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            (dot("_pv", "_v") / (pn * norm)).alias("cosine"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.md5(F.col("vec_id").cast("string"))
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "probe_id",
            F.col("vec_id").alias("nn_id"),
            (F.round(F.col("cosine"), 6).cast("double") + F.lit(0.0)).alias("cosine"),
        )
        .transform(ordered, "probe_id")
    )


_MMR_POOL, _MMR_K, _MMR_LAM = 20, 5, 0.7


def _mmr_md5_oracle() -> str:
    """DuckDB replay of the K unrolled MMR rounds: top-pool brute-force
    candidates per probe, then round r = argmax of
    lam·rel − (1−lam)·max-sim-to-selected over the remainder (ties to
    the smaller id). (1−lam) is emitted as the exact IEEE value Python
    computes (repr) so both engines use bit-identical coefficients;
    every dot/norm is an in-order list_sum, matching dot()'s
    left-to-right double adds."""
    lam, one_minus = _MMR_LAM, repr(1.0 - _MMR_LAM)
    d = "list_sum(list_transform(range(1, len({a}) + 1), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    nrm = "sqrt(list_sum(list_transform({x}, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"
    rel = (
        d.format(a="p.pvec", b="e.embedding")
        + " / ("
        + nrm.format(x="p.pvec")
        + " * "
        + nrm.format(x="e.embedding")
        + ")"
    )
    sim = (
        d.format(a="ea.embedding", b="eb.embedding")
        + " / ("
        + nrm.format(x="ea.embedding")
        + " * "
        + nrm.format(x="eb.embedding")
        + ")"
    )
    parts = [
        f"""
        WITH probes AS (
            SELECT vec_id AS probe_id, embedding AS pvec FROM embeddings
            ORDER BY vec_id LIMIT {_N_PROBES}),
        scored AS (
            SELECT p.probe_id, e.vec_id, {rel} AS rel
            FROM probes p CROSS JOIN embeddings e
            WHERE e.vec_id != p.probe_id),
        cand AS (
            SELECT probe_id, vec_id, rel FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                           ORDER BY rel DESC, vec_id) AS rn
                FROM scored) WHERE rn <= {_MMR_POOL}),
        sims AS (
            SELECT a.probe_id, a.vec_id AS ia, b.vec_id AS ib, {sim} AS sim
            FROM cand a JOIN cand b ON a.probe_id = b.probe_id
            JOIN embeddings ea ON ea.vec_id = a.vec_id
            JOIN embeddings eb ON eb.vec_id = b.vec_id),
        sel1 AS (
            SELECT probe_id, vec_id, 1 AS mmr_rank, score FROM (
                SELECT probe_id, vec_id,
                       CAST({lam} AS DOUBLE) * rel
                       - CAST({one_minus} AS DOUBLE) * CAST(0.0 AS DOUBLE) AS score,
                       ROW_NUMBER() OVER (PARTITION BY probe_id
                           ORDER BY (CAST({lam} AS DOUBLE) * rel
                                     - CAST({one_minus} AS DOUBLE) * CAST(0.0 AS DOUBLE))
                                    DESC, vec_id) AS rn
                FROM cand) WHERE rn = 1),
        selall1 AS (SELECT * FROM sel1)"""
    ]
    for r in range(2, _MMR_K + 1):
        parts.append(
            f""",
        rem{r} AS (
            SELECT c.* FROM cand c LEFT JOIN selall{r - 1} s
            ON s.probe_id = c.probe_id AND s.vec_id = c.vec_id
            WHERE s.vec_id IS NULL),
        div{r} AS (
            SELECT r.probe_id, r.vec_id, r.rel, MAX(s.sim) AS dv
            FROM rem{r} r
            JOIN sims s ON s.probe_id = r.probe_id AND s.ia = r.vec_id
            JOIN selall{r - 1} p ON p.probe_id = s.probe_id AND p.vec_id = s.ib
            GROUP BY r.probe_id, r.vec_id, r.rel),
        sel{r} AS (
            SELECT probe_id, vec_id, {r} AS mmr_rank, score FROM (
                SELECT probe_id, vec_id,
                       CAST({lam} AS DOUBLE) * rel
                       - CAST({one_minus} AS DOUBLE) * dv AS score,
                       ROW_NUMBER() OVER (PARTITION BY probe_id
                           ORDER BY (CAST({lam} AS DOUBLE) * rel
                                     - CAST({one_minus} AS DOUBLE) * dv)
                                    DESC, vec_id) AS rn
                FROM div{r}) WHERE rn = 1),
        selall{r} AS (SELECT * FROM selall{r - 1} UNION ALL SELECT * FROM sel{r})"""
        )
    parts.append(
        f"""
        SELECT probe_id, mmr_rank, vec_id AS mmr_id,
               CAST(ROUND(score, 6) AS DOUBLE) + 0.0 AS mmr_score
        FROM selall{_MMR_K} ORDER BY probe_id, mmr_rank"""
    )
    return "".join(parts)


@register(
    "s_mmr_md5_rerank",
    oracle=_mmr_md5_oracle(),
    tags=("similarity", "rerank", "vector"),
    # r13: mmr_rerank_unrolled now truncates its per-round lineage with
    # localCheckpoints (the planning-cost fix); under a memoized plan
    # those materialized blocks would be REUSED by every repeat
    # invocation — a steady-state pass would measure block reads, not
    # recomputation. memo=False keeps every invocation computing from
    # the parquet scans (fresh checkpoints per call).
    memo=False,
)
def s_mmr_md5(spark: SparkSession, sf: str) -> DataFrame:
    """The t2 twin of s_mmr_rerank (r8 verdict ask #5): the same
    greedy MMR diversification (top-20 brute-force pool per probe,
    k=5, λ=0.7, ties to the smaller id) run through
    :func:`similarity.mmr_rerank_unrolled` — k Catalyst rounds instead
    of the applyInPandas greedy loop — so DuckDB can replay every round
    and the driver hash-checks selection AND scores. The Arrow kernel
    stays the big-k production path; its greedy parity is pinned in t1
    (test_round7_ops test_mmr_rerank_string_ids + round-6 diversity
    properties), and a direct unrolled==kernel equivalence test binds
    the two forms."""
    t = Tables(spark, sf)
    scored = _cosine_scored(t)
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    cand = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _MMR_POOL)
        .select("probe_id", "vec_id", "cosine")
        .join(t.embeddings.select("vec_id", "embedding"), "vec_id")
    )
    out = similarity.mmr_rerank_unrolled(cand, k=_MMR_K, lam=_MMR_LAM)
    return out.select(
        "probe_id",
        "mmr_rank",
        F.col("vec_id").alias("mmr_id"),
        (F.round(F.col("mmr_score"), 6).cast("double") + F.lit(0.0)).alias("mmr_score"),
    ).transform(ordered, "probe_id", "mmr_rank")


@register(
    "s_mmr_rerank",
    oracle=None,  # greedy sequential selection (per-probe argmax loop) is
    # not SQL-expressible; exact python-greedy parity + diversity
    # properties pinned in tests/test_round6_ops.py
    tags=("similarity", "vector", "rerank"),
)
def s_mmr(spark: SparkSession, sf: str) -> DataFrame:
    """MMR-diversified top-5 for the 10 standard probes over a top-20
    brute-force candidate pool (lambda = 0.7) — similarity.mmr_rerank.
    The candidate stage is the exact brute-force retriever (one corpus
    scan, broadcast probes); the greedy diversification runs as ONE
    applyInPandas over probe groups of 20 rows each."""
    t = Tables(spark, sf)
    scored = _cosine_scored(t)
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    pool = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 20)
        .drop("rnk")
    )
    cands = pool.join(
        t.embeddings.select("vec_id", "embedding"), "vec_id"
    )
    return similarity.mmr_rerank(cands, k=5, lam=0.7).transform(
        ordered, "probe_id", "mmr_rank"
    )


# ---------------------------------------------------------------------------
# X192: matryoshka (MRL) truncated-embedding retrieval — modern
# embedding models train nested prefixes so the first k dims are a
# usable low-cost representation; a 100 TB retrieval tier shortlists on
# a 16-dim prefix (4× less compute/IO than 64) and refines on the full
# vector. Cosine is scale-invariant, so "truncate + renormalize" ==
# cosine over the sliced prefix. Self-matches excluded; ties break by
# vec_id; both rankings AND their agreement are hash-checked.

_MATRYOSHKA_ORACLE = f"""
    WITH probes AS (
        SELECT vec_id AS probe_id, embedding AS pvec FROM embeddings
        ORDER BY vec_id LIMIT {_N_PROBES}
    ),
    scored AS (
        SELECT p.probe_id, e.vec_id,
               list_sum(list_transform(range(1, 65),
                   i -> CAST(p.pvec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(p.pvec,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(e.embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos_full,
               list_sum(list_transform(range(1, 17),
                   i -> CAST(p.pvec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(p.pvec[1:16],
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(e.embedding[1:16],
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos_t16
        FROM probes p CROSS JOIN embeddings e
        WHERE e.vec_id != p.probe_id
    )
    SELECT f.probe_id, f.vec_id AS top1_full, s.vec_id AS top1_t16,
           f.vec_id = s.vec_id AS agree
    FROM (SELECT probe_id, vec_id FROM (
            SELECT probe_id, vec_id, ROW_NUMBER() OVER (
                PARTITION BY probe_id ORDER BY cos_full DESC, vec_id) AS r
            FROM scored) WHERE r = 1) f
    JOIN (SELECT probe_id, vec_id FROM (
            SELECT probe_id, vec_id, ROW_NUMBER() OVER (
                PARTITION BY probe_id ORDER BY cos_t16 DESC, vec_id) AS r
            FROM scored) WHERE r = 1) s USING (probe_id)
    ORDER BY probe_id
"""


@register(
    "s_matryoshka_top1",
    oracle=_MATRYOSHKA_ORACLE,
    tags=("similarity", "vector"),
)
def s_matryoshka_top1(spark: SparkSession, sf: str) -> DataFrame:
    """X192: exact top-1 under the FULL 64-dim cosine vs the 16-dim
    matryoshka-prefix cosine for the 10 standard probes, plus the
    per-probe agreement bit. Plan: ONE corpus scan scores both metrics
    in the same projection (the prefix slice reuses the decoded array —
    no second pass), probes broadcast, per-probe argmax via min_by over
    a (neg-cosine, vec_id) ordering struct. Labeled exactness oracle on
    the fixed 500-row embeddings table (the production scale path is
    the IVF/PQ/LSH tier; this entry pins the MRL truncation SEMANTICS
    those indexes would serve)."""
    from sparkflow_spark.functions.vector import dot_seq, l2_norm

    t = Tables(spark, sf)
    p = _probes(t).select(
        "probe_id",
        F.col("embedding").alias("_pvec"),
        l2_norm("embedding").alias("_pn"),
        l2_norm(F.slice("embedding", 1, 16)).alias("_pn16"),
    )
    # r13: fan the corpus scan across the cores before the broadcast
    # pair expansion (min_by argmax is order-insensitive; scale-adaptive
    # no-op on large inputs)
    c = fan_out(t.embeddings).select(
        "vec_id",
        "embedding",
        l2_norm("embedding").alias("_cn"),
        l2_norm(F.slice("embedding", 1, 16)).alias("_cn16"),
    )
    scored = c.join(F.broadcast(p), F.col("vec_id") != F.col("probe_id")).select(
        "probe_id",
        "vec_id",
        (
            dot_seq("_pvec", "embedding") / (F.col("_pn") * F.col("_cn"))
        ).alias("cos_full"),
        (
            dot_seq(F.slice("_pvec", 1, 16), F.slice("embedding", 1, 16))
            / (F.col("_pn16") * F.col("_cn16"))
        ).alias("cos_t16"),
    )
    top = scored.groupBy("probe_id").agg(
        F.min_by("vec_id", F.struct(-F.col("cos_full"), F.col("vec_id"))).alias(
            "top1_full"
        ),
        F.min_by("vec_id", F.struct(-F.col("cos_t16"), F.col("vec_id"))).alias(
            "top1_t16"
        ),
    )
    return top.select(
        "probe_id",
        "top1_full",
        "top1_t16",
        (F.col("top1_full") == F.col("top1_t16")).alias("agree"),
    ).transform(ordered, "probe_id")
