"""Round-13 OPTIMIZATION parity pins.

The optimization round swaps interpreted higher-order-function kernels
for faster twins on hot paths (the codegen'd unrolled dot_seq, the
protobuf wire fast path). Every swap is only legal if the twin is
BIT-IDENTICAL on real data — these tests pin that, so oracle hashes
cannot drift.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _pairs_df(spark, rows):
    return spark.createDataFrame(rows, "a array<double>, b array<double>")


EDGE_ROWS = [
    # plain
    ([1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
    # negative-zero products: fold starts at +0.0, so an all-(-0.0)
    # product chain must come out +0.0 — the seed the unrolled chain
    # must reproduce (it starts at lit(0.0), not the first product)
    ([-1.0, -2.0], [0.0, 0.0]),
    ([0.0, -0.0], [-5.0, 7.0]),
    # cancellation / rounding-order sensitivity: results depend on the
    # exact add order, which is what the twin must replicate
    ([1e16, 1.0, -1e16], [1.0, 1.0, 1.0]),
    ([0.1] * 64, [0.3] * 64),
    # empty arrays → 0.0 (fold over nothing)
    ([], []),
    # NULL vector → NULL
    (None, [1.0, 2.0]),
    ([1.0, 2.0], None),
    # ragged pair → NULL (zip_with pads with null)
    ([1.0, 2.0, 3.0], [1.0, 2.0]),
    # null element → NULL
    ([1.0, None, 3.0], [1.0, 2.0, 3.0]),
]


def test_dot_seq_unrolled_bit_identical_on_edges(spark):
    """dot_seq's codegen'd unrolled branch (and its fall-through to the
    interpreted fold for unlisted dims) against dot, on the same edge
    rows plus exact-64/exact-16 layouts that take the unrolled path."""
    from sparkflow_spark.functions.vector import dot, dot_seq

    rows = EDGE_ROWS + [
        ([0.1 * i for i in range(64)], [0.7 - 0.01 * i for i in range(64)]),
        ([1e16] + [1.0] * 62 + [-1e16], [1.0] * 64),  # order-sensitive @64
        ([0.25] * 16, [-0.75] * 16),  # 16-dim unrolled branch
        ([1.0] * 64, [None] * 63 + [1.0]),  # null element inside dim-64
    ]
    df = _pairs_df(spark, rows)
    out = df.select(dot("a", "b").alias("ref"), dot_seq("a", "b").alias("fast")).collect()
    for r in out:
        assert (r["ref"] is None) == (r["fast"] is None), r
        if r["ref"] is not None:
            assert repr(r["ref"]) == repr(r["fast"]), r


def test_dot_seq_unrolled_bit_identical_on_fixture_embeddings(spark, sf_dir):
    from sparkflow_spark.catalog import Tables
    from sparkflow_spark.functions.vector import dot, dot_seq

    t = Tables(spark, sf_dir)
    p = (
        t.embeddings.orderBy("vec_id")
        .limit(20)
        .select(F.col("vec_id").alias("pid"), F.col("embedding").alias("pvec"))
    )
    pairs = t.embeddings.join(F.broadcast(p), F.col("vec_id") != F.col("pid"))
    diff = pairs.select(
        dot("pvec", "embedding").alias("ref"),
        dot_seq("pvec", "embedding").alias("fast"),
        dot(F.slice("pvec", 1, 16), F.slice("embedding", 1, 16)).alias("ref16"),
        dot_seq(F.slice("pvec", 1, 16), F.slice("embedding", 1, 16)).alias("fast16"),
    ).where(
        ~F.col("ref").eqNullSafe(F.col("fast"))
        | ~F.col("ref16").eqNullSafe(F.col("fast16"))
    )
    assert diff.count() == 0


def test_sem_pairs_staged_norm_bit_identical(spark, sf_dir):
    """The d_semantic_dedup pair restructure (batch 4): per-VECTOR staged
    norm sqrt(dot_seq(v,v)) vs the per-pair aggregate(transform(x*x))
    fold it replaced — value-for-value on every fixture embedding."""
    from sparkflow_spark.catalog import Tables
    from sparkflow_spark.functions.vector import dot_seq

    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(F.col("embedding").cast("array<double>").alias("v"))
    old = F.sqrt(
        F.aggregate(
            F.transform(F.col("v"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    diff = emb.select(
        old.alias("ref"), F.sqrt(dot_seq("v", "v")).alias("fast")
    ).where(~F.col("ref").eqNullSafe(F.col("fast")))
    assert diff.count() == 0


# ---------------------------------------------------------------------------
# protobuf codec fast path (r13 batch 3): the all-singular-scalar wire
# loops in codecs._pb_encode_fast/_pb_decode_fast must be byte/value-
# identical to the minipb object path they shortcut.


def _pb_object_encode(cls, flds, rows):
    out = []
    for r in rows:
        m = cls()
        for name, _t in flds:
            v = r.get(name)
            if v is not None:
                setattr(m, name, v)
        out.append(m.SerializeToString())
    return out


def _pb_object_decode(cls, names, payloads):
    rows = []
    for b in payloads:
        if b is None:
            rows.append({n: None for n in names})
            continue
        try:
            m = cls()
            m.ParseFromString(bytes(b))
            rows.append({n: getattr(m, n) for n in names})
        except Exception:
            rows.append({n: None for n in names})
    return rows


def test_pb_fast_path_parity_fuzz():
    """Fuzz every supported scalar type (negatives → 10-byte varints,
    zigzag legs, empty strings/bytes at proto3 defaults, unicode, bools,
    ±0.0 doubles, NULLs) through encode, then corrupt payloads
    (truncations at every byte, unknown-field prefixes, duplicated
    fields) through decode — fast path vs minipb object path."""
    import random

    from sparkflow_spark import codecs

    spec = [
        ("a_i64", 1, "int64"),
        ("b_s64", 2, "sint64"),
        ("c_str", 3, "string"),
        ("d_bool", 4, "bool"),
        ("e_dbl", 5, "double"),
        ("f_u64", 6, "uint64"),
        ("g_byt", 7, "bytes"),
        ("h_i32", 8, "int32"),
        ("i_s32", 9, "sint32"),
        ("j_flt", 10, "float"),
    ]
    desc = codecs.build_file_descriptor_set("Fuzz", spec)
    cls, flds = codecs._resolve_message(desc, "Fuzz")
    plan = codecs._pb_fast_plan(desc, "Fuzz")
    assert plan is not None and len(plan) == len(spec)

    rng = random.Random(13)
    ints = [0, 1, -1, 127, 128, -128, 2**31 - 1, -(2**31), 2**62, -(2**62), None]
    strs = ["", "x", "héllo wörld ✓", "a" * 300, None]
    byts = [b"", b"\x00\xff", bytes(range(64)), None]
    dbls = [0.0, -0.0, 1.5, -2.25e300, float("inf"), None]
    rows = []
    for _ in range(500):
        rows.append(
            {
                "a_i64": rng.choice(ints),
                "b_s64": rng.choice(ints),
                "c_str": rng.choice(strs),
                "d_bool": rng.choice([True, False, None]),
                "e_dbl": rng.choice(dbls),
                "f_u64": rng.choice([0, 1, 2**63, 2**64 - 1, None]),
                "g_byt": rng.choice(byts),
                "h_i32": rng.choice([0, 1, -1, 2**31 - 1, -(2**31), None]),
                "i_s32": rng.choice([0, 5, -5, None]),
                "j_flt": rng.choice([0.0, -0.0, 1.5, None]),
            }
        )

    ref = _pb_object_encode(cls, flds, rows)
    cols = [[r[name] for r in rows] for name, _t, _tag, _n in plan]
    fast = codecs._pb_encode_fast(plan, cols)
    assert fast == ref

    # decode corpus: healthy + truncated-at-every-prefix + unknown-field
    # prefix (field 15, varint / len-delimited) + duplicated first field
    payloads: list = [None]
    for b in ref[:80]:
        payloads.append(b)
        for cut in range(len(b)):
            payloads.append(b[:cut])
        payloads.append(b"\x78\x2a" + b)  # field 15 varint 42
        payloads.append(b"\x7a\x03abc" + b)  # field 15 LEN "abc"
        payloads.append(b + b)  # every field duplicated: last wins
        payloads.append(b"\xfd\xff\xff\xff\x0f" + b)  # huge field number
    names = [n for n, _t in flds]
    ref_rows = _pb_object_decode(cls, names, payloads)
    got_cols = codecs._pb_decode_fast(plan, payloads, "PERMISSIVE")
    for i, rr in enumerate(ref_rows):
        for n in names:
            a, g = rr[n], got_cols[n][i]
            assert (a == g and type(a) is type(g)) or (
                a != a and g != g
            ), f"row {i} field {n}: object={a!r} fast={g!r}"


def test_pb_fast_plan_falls_back_on_repeated_fields():
    """Messages with repeated fields must take the object path."""
    from sparkflow_spark import codecs
    from sparkflow_spark.codecs import _pb_ld, _pb_vi

    # hand-rolled FileDescriptorSet: message Rep { repeated int64 xs = 1; }
    fld = bytearray()
    _pb_ld(fld, 1, b"xs")  # FieldDescriptorProto.name
    _pb_vi(fld, 3, 1)  # .number
    _pb_vi(fld, 4, 3)  # .label = LABEL_REPEATED
    _pb_vi(fld, 5, 3)  # .type = TYPE_INT64
    msg = bytearray()
    _pb_ld(msg, 1, b"Rep")
    _pb_ld(msg, 2, bytes(fld))
    fp = bytearray()
    _pb_ld(fp, 1, b"rep.proto")
    _pb_ld(fp, 4, bytes(msg))
    _pb_ld(fp, 12, b"proto3")
    desc = bytearray()
    _pb_ld(desc, 1, bytes(fp))
    assert codecs._pb_fast_plan(bytes(desc), "Rep") is None
