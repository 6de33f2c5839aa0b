"""Round-9 additions: mutual-exclusive lease takeover (per-generation
claim file), tombstone-safe compaction snapshots, bloom artifact corpus
fingerprint, and the plan_report node-census fix."""

import json
import os
import time

import pytest

# ------------------------------------------------ lease takeover claim


def test_expired_lease_takeover_is_mutually_exclusive(tmp_path):
    """The two-contender interleaving the read-back confirmation could
    NOT close (A-replace, A-read, B-replace, B-read → both win) is now
    excluded structurally: only ONE contender can O_CREAT|O_EXCL the
    per-generation claim file; the other raises BEFORE touching the
    lease."""
    from sparkflow_spark.streaming.sinks import (
        WriterConflict,
        acquire_writer_lease,
    )

    path = str(tmp_path / "t")
    os.makedirs(path)
    lease = os.path.join(path, "_WRITER_LEASE")
    expired = {"token": "dead", "expires": time.time() - 10}
    with open(lease, "w") as f:
        json.dump(expired, f)

    # contender A has claimed this generation but not yet published
    # (simulated mid-takeover state)
    import hashlib

    gen = hashlib.sha256(
        f"{expired['token']}|{expired['expires']}".encode()
    ).hexdigest()[:16]
    claim = lease + f".takeover.{gen}"
    with open(claim, "w") as f:
        f.write("{}")

    # contender B must conflict at the claim, and the expired lease file
    # must be untouched (A still owns the takeover)
    with pytest.raises(WriterConflict, match="claimed this lease generation"):
        acquire_writer_lease(path, ttl_seconds=60)
    with open(lease) as f:
        assert json.load(f) == expired

    # A finishes (or crashed long ago): a claim older than the ttl is
    # cleared by the NEXT contender, which still raises — and the one
    # after that wins cleanly through a fresh O_EXCL create.
    old = time.time() - 120
    os.utime(claim, (old, old))
    with pytest.raises(WriterConflict):
        acquire_writer_lease(path, ttl_seconds=60)
    assert not os.path.exists(claim)
    tok = acquire_writer_lease(path, ttl_seconds=60)
    assert tok
    # winner cleaned up its claim and published a live lease
    assert not os.path.exists(claim)
    with open(lease) as f:
        assert json.load(f)["token"] == tok


# ------------------------------------- tombstone snapshot-safe clearing


def test_tombstone_clear_keeps_appends_after_snapshot(spark, tmp_path):
    """A delete appended AFTER compaction snapshotted the tombstone
    table must SURVIVE the post-compaction clear — silently discarding
    it would resurrect a taken-down doc. Simulates the interleaving
    directly against the snapshot/clear primitives."""
    from sparkflow_spark.lsh_index import (
        _clear_tombstone_files,
        _live_tombstones,
        _tombstone_data_files,
        build_lsh_index,
        delete_from_lsh_index,
    )

    rows = [
        (i, f"the quick brown fox {i % 4} jumps over the lazy dog {i % 4} again")
        for i in range(16)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "lsh")
    build_lsh_index(docs, path, num_hashes=16, bands=4)

    delete_from_lsh_index(spark, path, spark.createDataFrame([(1,)], "doc_id long"))
    snapshot = _tombstone_data_files(path)
    assert snapshot
    # a takedown lands between the compactor's snapshot and its cleanup
    delete_from_lsh_index(spark, path, spark.createDataFrame([(2,)], "doc_id long"))

    _clear_tombstone_files(path, snapshot)
    live = _live_tombstones(spark, path, "doc_id")
    assert live is not None, "the post-snapshot delete was discarded"
    assert {r.doc_id for r in live.collect()} == {2}

    # clearing the remainder with ITS snapshot empties the table fully
    _clear_tombstone_files(path, _tombstone_data_files(path))
    assert _live_tombstones(spark, path, "doc_id") is None
    assert not os.path.isdir(os.path.join(path, "tombstones"))


# ------------------------------------------- bloom corpus fingerprint


def test_ensure_bloom_rebuilds_on_corpus_fingerprint_change(spark, tmp_path):
    """A regenerated corpus under the same artifact path must rebuild
    the bitmap (stale bitmaps → bloom false negatives → rows wrongly
    dropped), while a matching fingerprint keeps the load-only path."""
    from sparkflow_spark.bloom_artifact import (
        ensure_bloom,
        file_stats_fingerprint,
        latest_bloom_version,
    )
    from sparkflow_spark.operators import build_bloom_filter

    path = str(tmp_path / "bloom")
    corpus_v1 = spark.createDataFrame([("a",), ("b",)], "user_id string")
    _, meta = ensure_bloom(
        spark, corpus_v1, path, "user_id", n_bits=1 << 10, k=3, corpus_fingerprint="fp1"
    )
    assert latest_bloom_version(path) == 0 and meta["corpus_fingerprint"] == "fp1"

    # same fingerprint → pure load, no new version
    ensure_bloom(
        spark, corpus_v1, path, "user_id", n_bits=1 << 10, k=3, corpus_fingerprint="fp1"
    )
    assert latest_bloom_version(path) == 0

    # regenerated corpus (new fingerprint) → rebuild committed as v=1,
    # and the new bitmap covers the NEW keys exactly
    corpus_v2 = spark.createDataFrame([("c",), ("d",)], "user_id string")
    bloom2, meta2 = ensure_bloom(
        spark, corpus_v2, path, "user_id", n_bits=1 << 10, k=3, corpus_fingerprint="fp2"
    )
    assert latest_bloom_version(path) == 1 and meta2["corpus_fingerprint"] == "fp2"
    assert bloom2 == build_bloom_filter(corpus_v2, "user_id", n_bits=1 << 10, k=3)

    # file_stats_fingerprint changes when a file's bytes change
    f = tmp_path / "corpus.bin"
    f.write_bytes(b"aaaa")
    fp_a = file_stats_fingerprint(str(f))
    f.write_bytes(b"aaaabb")
    assert file_stats_fingerprint(str(f)) != fp_a


# --------------------------------- r8 verdict #5: t2-twin t1 bindings


def test_mmr_unrolled_matches_greedy_kernel(spark):
    """mmr_rerank_unrolled (the Catalyst/hash-checkable form behind
    s_mmr_md5_rerank) must select the SAME ranked ids with the same
    scores as the applyInPandas greedy kernel, for a pool with real
    diversity structure (near-duplicate cluster + outliers)."""
    import math

    from sparkflow_spark.similarity import mmr_rerank, mmr_rerank_unrolled

    rows = []
    for pid in (1, 2):
        # 3 near-copies of the best hit, 3 spread-out alternatives
        rows += [
            (pid, 10, 0.99, [1.0, 0.01, 0.0, 0.0]),
            (pid, 11, 0.98, [1.0, 0.02, 0.0, 0.0]),
            (pid, 12, 0.97, [1.0, 0.03, 0.0, 0.0]),
            (pid, 20, 0.80, [0.0, 1.0, 0.0, 0.0]),
            (pid, 21, 0.75, [0.0, 0.0, 1.0, 0.0]),
            (pid, 22, 0.70, [0.0, 0.0, 0.0, 1.0]),
        ]
    cand = spark.createDataFrame(
        rows, "probe_id long, vec_id long, cosine double, embedding array<double>"
    )
    greedy = {
        (r["probe_id"], r["mmr_rank"]): (r["vec_id"], r["mmr_score"])
        for r in mmr_rerank(cand, k=4, lam=0.7).collect()
    }
    unrolled = {
        (r["probe_id"], r["mmr_rank"]): (r["vec_id"], r["mmr_score"])
        for r in mmr_rerank_unrolled(cand, k=4, lam=0.7).collect()
    }
    assert set(greedy) == set(unrolled) and len(greedy) == 8
    for key, (gid, gscore) in greedy.items():
        uid, uscore = unrolled[key]
        assert gid == uid, f"{key}: greedy {gid} vs unrolled {uid}"
        assert math.isclose(gscore, uscore, rel_tol=1e-9)
    # diversification actually happened: rank 2 is NOT a near-copy
    assert unrolled[(1, 1)][0] == 10 and unrolled[(1, 2)][0] == 20


def test_deterministic_pq_codebooks_contract(spark):
    """books[mi][j] must be the mi-th sub-slice of the vector with the
    (j+1)-th smallest id, nulls skipped — the replayable contract the
    s_pq_md5_query oracle re-derives."""
    from sparkflow_spark.similarity import deterministic_pq_codebooks

    rows = [
        (3, [float(30 + i) for i in range(8)]),
        (1, [float(10 + i) for i in range(8)]),
        (4, None),
        (2, [float(20 + i) for i in range(8)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = deterministic_pq_codebooks(df, m=2, n_codes=2)
    assert books == [
        [[10.0, 11.0, 12.0, 13.0], [20.0, 21.0, 22.0, 23.0]],
        [[14.0, 15.0, 16.0, 17.0], [24.0, 25.0, 26.0, 27.0]],
    ]


def test_codegen_cache_conf_pinned(spark):
    """The r9 perf root-cause fix: the generated-class cache must stay
    raised (default 100 thrashes in mixed-query sessions — every repeat
    Janino-recompiles evicted stages; measured d_ngram 1.48→0.93 s,
    15-query steady −23%). Static conf, so this reads the LIVE session
    the suite built through build_session."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 1000


def test_boilerplate_prefix_semantics(spark, tmp_path):
    """LCP(all docs of a source) via the min/max identity: a diverging
    tail stops the prefix, identical strings clamp to their own length
    (not the 64-char cap), and a single long doc hits the cap."""
    import pyspark.sql.functions as F  # noqa: F401

    from sparkflow_spark.queries import load_all

    docs = spark.createDataFrame(
        [
            (1, "HEADER: alpha body", "en", "s1", 18),
            (2, "HEADER: beta body", "en", "s1", 17),
            (3, "same", "en", "s2", 4),
            (4, "same", "en", "s2", 4),
            (5, "x" * 100, "en", "s3", 100),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "sf")
    import os

    os.makedirs(d)
    docs.write.parquet(f"{d}/documents.parquet")
    reg = load_all()
    out = {
        r["source"]: (r["n_docs"], r["lcp_len"], r["prefix"])
        for r in reg["t_source_boilerplate_prefix"].fn(spark, d).collect()
    }
    assert out["s1"] == (2, 8, "HEADER: ")
    assert out["s2"] == (2, 4, "same")
    assert out["s3"] == (1, 64, "x" * 64)


def test_asof_join_directions_match_pandas(spark):
    """asof_join backward/forward/nearest must agree with pandas
    merge_asof on a grouped frame with out-of-range edges (no prior /
    no following match) and an exact-equality hit. Tie-free gaps so
    pandas' nearest tie rule can't mask a divergence."""
    import pandas as pd

    from sparkflow_spark.operators import asof_join

    left_p = pd.DataFrame(
        {
            "g": ["a", "a", "a", "b", "b"],
            "t": [5.0, 11.0, 30.0, 1.0, 8.0],
            "lid": [1, 2, 3, 4, 5],
        }
    )
    right_p = pd.DataFrame(
        {
            "g": ["a", "a", "a", "b"],
            "t": [4.0, 11.0, 20.0, 9.0],
            "v": [40.0, 110.0, 200.0, 90.0],
        }
    )
    left = spark.createDataFrame(left_p)
    right = spark.createDataFrame(right_p)
    for direction in ("backward", "forward", "nearest"):
        expect = pd.merge_asof(
            left_p.sort_values("t"),
            right_p.sort_values("t"),
            on="t",
            by="g",
            direction=direction,
        ).set_index("lid")["v"]
        got = {
            r["lid"]: r["v_asof"]
            for r in asof_join(
                left, right, on="t", by=["g"], value_cols=["v"],
                direction=direction,
            ).collect()
        }
        for lid, v in expect.items():
            g = got[lid]
            assert (pd.isna(v) and g is None) or g == v, (
                f"{direction} lid={lid}: pandas {v} vs engine {g}"
            )


def test_ngram_capped_expansion_equals_uncapped(spark, sf_dir):
    """The capped path's Arrow pair-expansion kernel, capped at the
    corpus size (no shingle's document frequency exceeds it, so the cap
    drops nothing), must produce the IDENTICAL pair
    set, jaccard for jaccard, as the uncapped self-join path, at a
    threshold loose enough to exercise the size-ratio prune."""
    from sparkflow_spark.dedup import ngram_jaccard_pairs

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = df.count()
    capped = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(df, threshold=0.5, max_shingle_freq=n_docs).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(df, threshold=0.5, max_shingle_freq=None).collect()
    }
    assert capped == uncapped and len(capped) > 0


def test_ngram_capped_expansion_string_ids(spark):
    """The Arrow expansion derives its output id type from the input
    (schema string built from df.schema[id_col]) — string doc ids must
    flow through and match the uncapped self-join path."""
    from sparkflow_spark.dedup import ngram_jaccard_pairs

    rows = [
        ("a", "the quick brown fox jumps over the lazy dog today"),
        ("b", "the quick brown fox jumps over the lazy dog tonight"),
        ("c", "completely different text with no shared shingles at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    capped = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, threshold=0.5, max_shingle_freq=len(rows)).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, threshold=0.5, max_shingle_freq=None).collect()
    }
    assert capped == uncapped == {("a", "b")}


def test_rrf_fusion_scores_recompute_from_leg_ranks(spark, sf_dir):
    """Every returned rrf_score must equal Σ 1/(60 + rank) over the
    legs the doc appears in (recomputed in python from the returned
    leg ranks), and the result must be the top-10 of that formula."""
    from sparkflow_spark.queries import load_all

    reg = load_all()
    rows = reg["s_rrf_hybrid_topk"].fn(spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        expect = 0.0
        if r["lex_rank"] is not None:
            expect += 1.0 / (60.0 + r["lex_rank"])
        if r["vec_rank"] is not None:
            expect += 1.0 / (60.0 + r["vec_rank"])
        assert abs(r["rrf_score"] - round(expect, 6)) < 1e-9, r
        assert r["lex_rank"] is not None or r["vec_rank"] is not None
    # a doc present in BOTH legs (if any) beats a doc holding the same
    # single-leg rank: rank-1-both >= 1/61 + 1/80 > any single 1/61
    both = [r for r in rows if r["lex_rank"] and r["vec_rank"]]
    single = [r for r in rows if (r["lex_rank"] is None) != (r["vec_rank"] is None)]
    if both and single:
        assert max(r["rrf_score"] for r in both) > min(
            r["rrf_score"] for r in single
        )


def test_pq_md5_query_bounded_by_brute_force(spark, sf_dir):
    """The PQ twin's refined top-1 cosine can never EXCEED the exact
    brute-force top-1 (refine re-scores with true cosines over an
    ADC-pruned candidate set), and every probe must return exactly one
    row."""
    from sparkflow_spark.queries import load_all

    reg = load_all()
    brute = {
        r["probe_id"]: r["vec_id"]
        for r in reg["s_brute_force_top1"].fn(spark, sf_dir).collect()
    }
    pq = reg["s_pq_md5_query"].fn(spark, sf_dir).collect()
    assert len(pq) == len(brute) == 10
    # sanity: the twin's exact-refined cosine is a true cosine in [-1, 1]
    assert all(-1.0 <= r["cosine"] <= 1.0 for r in pq)
    # THE bound: refine re-scores an ADC-pruned candidate set with true
    # cosines, so per probe the PQ top-1 cosine can never exceed the
    # exact brute-force top-1 cosine (recomputed here with numpy from
    # the fixture, same double math). Tolerance = the query's 6-dp
    # rounding half-step.
    import numpy as np
    import pyarrow.parquet as pq_mod

    tbl = pq_mod.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    tbl = tbl[tbl["embedding"].notna()]
    ids = tbl["vec_id"].to_numpy()
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in tbl["embedding"]])
    norms = np.linalg.norm(mat, axis=1)
    idx_of = {v: i for i, v in enumerate(ids)}
    for r in pq:
        pi = idx_of[r["probe_id"]]
        cos = (mat @ mat[pi]) / np.where(norms * norms[pi] == 0, np.inf, norms * norms[pi])
        cos[pi] = -np.inf  # self-match excluded on both paths
        brute_top1 = float(cos.max())
        assert r["cosine"] <= brute_top1 + 5.1e-7, (
            f"probe {r['probe_id']}: pq cosine {r['cosine']} exceeds "
            f"brute-force top-1 {brute_top1}"
        )
