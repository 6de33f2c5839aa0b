"""Round-12 operator behaviors: the r11 ADVICE closures on the sfl
Python Data Source (single-pass codec unescape, append/overwrite
manifest semantics, per-checkpoint epoch keys), plus (added below as
the round proceeds) the statestore reader surface, dHash image
near-dup, SQL scripting, and the train→score→filter composition."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def _sfl_session(spark):
    from sparkflow_spark.sources_python import register_sfl

    register_sfl(spark)
    return spark


def test_sfl_codec_backslash_escape_adjacency(spark, tmp_path):
    """ADVICE r11 (medium): chained str.replace unescaping corrupted a
    literal backslash followed by 'n', 'r', or 'u001f'. The single-pass
    decoder must round-trip every adversarial adjacency, both at the
    codec unit level and through a full Spark write/read."""
    from sparkflow_spark.sources_python import _decode_field, _encode_field

    cases = [
        "back\\slash",
        "\\n",  # literal backslash + n (NOT newline) — the reported bug
        "\\r",
        "\\u001f",
        "\\\\n",  # two backslashes + n
        "\\" + "\n",  # backslash + real newline
        "\\N",  # the null sentinel as literal content
        "a\\nb\\u001fc\x1fd\ne\rf",
        "trailing backslash\\",
        "\\",
    ]
    for s in cases:
        assert _decode_field(_encode_field(s, "string"), "string") == s, repr(s)

    spark = _sfl_session(spark)
    rows = [(i, s) for i, s in enumerate(cases)]
    df = spark.createDataFrame(rows, "id long, s string")
    d = str(tmp_path / "sfl")
    df.write.format("sfl").option("path", d).mode("overwrite").save()
    back = spark.read.format("sfl").option("path", d).load()
    assert sorted(map(tuple, back.collect())) == sorted(rows)


def test_sfl_append_mode_merges_manifest(spark, tmp_path):
    """ADVICE r11 (medium): mode('append') used to rewrite the manifest
    with only the new write's shards, silently dropping prior data.
    Append must merge; schema-mismatched append must raise."""
    spark = _sfl_session(spark)
    d = str(tmp_path / "sfl")
    a = spark.range(10).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    b = spark.range(10, 15).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    a.write.format("sfl").option("path", d).mode("overwrite").save()
    b.write.format("sfl").option("path", d).mode("append").save()
    back = spark.read.format("sfl").option("path", d).load()
    assert back.count() == 15
    assert back.agg(F.sum("id")).collect()[0][0] == sum(range(15))
    # appending a different schema refuses rather than corrupting
    c = spark.range(3).selectExpr("id", "CAST(id AS STRING) AS v")
    with pytest.raises(Exception, match="schema mismatch"):
        c.write.format("sfl").option("path", d).mode("append").save()


def test_sfl_overwrite_deletes_orphaned_shards(spark, tmp_path):
    """ADVICE r11 (medium, second half): overwrite must not leave the
    replaced shard files on disk — after an overwrite, the directory
    holds exactly the manifest's shards."""
    import os

    from sparkflow_spark.sources_python import _read_manifest

    spark = _sfl_session(spark)
    d = str(tmp_path / "sfl")
    big = spark.range(100).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    big.repartition(4).write.format("sfl").option("path", d).mode(
        "overwrite"
    ).save()
    assert len(_read_manifest(d)["shards"]) == 4
    small = spark.range(5).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    small.coalesce(1).write.format("sfl").option("path", d).mode(
        "overwrite"
    ).save()
    manifest = _read_manifest(d)
    on_disk = {f for f in os.listdir(d) if f.endswith(".sfl")}
    assert on_disk == {s["file"] for s in manifest["shards"]}
    assert spark.read.format("sfl").option("path", d).load().count() == 5


def test_sfl_fresh_checkpoint_same_path_appends_not_discarded(spark, tmp_path):
    """ADVICE r11 (low): epoch dedup used to key on batchId alone, so a
    NEW query with a FRESH checkpoint writing to an existing sfl path
    restarted at batchId 0, matched the recorded epoch, and silently
    DISCARDED its real data as a replay. Epochs are now keyed per
    checkpoint: the second query's rows must land."""
    spark = _sfl_session(spark)
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    df = spark.range(50).selectExpr("id", "CAST(id % 3 AS LONG) AS k")
    df.repartition(2).write.format("sfl").option("path", src).mode(
        "overwrite"
    ).save()
    schema = spark.read.format("sfl").option("path", src).load().schema

    def run(ck: str):
        q = (
            spark.readStream.format("sfl")
            .option("path", src)
            .schema(schema)
            .load()
            .writeStream.format("sfl")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(str(tmp_path / "ck1"))
    assert spark.read.format("sfl").option("path", sink).load().count() == 50
    # same checkpoint again: no new input → unchanged (replay guard holds)
    run(str(tmp_path / "ck1"))
    assert spark.read.format("sfl").option("path", sink).load().count() == 50
    # FRESH checkpoint, same sink path: batchId restarts at 0 but the
    # epoch key differs — data must append, not vanish
    run(str(tmp_path / "ck2"))
    assert spark.read.format("sfl").option("path", sink).load().count() == 100


# ---------------------------------------------------------------------------
# dHash perceptual image near-dup (r11 verdict ask #4, X169)


def _p5_blob(raster: bytes) -> bytes:
    assert len(raster) == 72
    return b"P5\n9 8\n255\n" + raster


def test_dhash_brightness_invariance_and_sensitivity(spark):
    """dHash over the REAL decode path: a uniform brightness shift
    (strictly monotone, no clipping) must leave all 64 bits unchanged;
    swapping two adjacent unequal pixels must flip at least one bit."""
    import random

    from sparkflow_spark import multimodal

    rng = random.Random(12)
    raster = bytes(rng.randrange(0, 128) for _ in range(72))
    bright = bytes(v + 64 for v in raster)
    # build a perturbed raster that provably changes a gradient sign
    lst = bytearray(raster)
    for i in range(71):
        if lst[i] != lst[i + 1] and (i % 9) < 8:
            lst[i], lst[i + 1] = lst[i + 1], lst[i]
            break
    perturbed = bytes(lst)
    df = spark.createDataFrame(
        [
            (0, _p5_blob(raster)),
            (1, _p5_blob(bright)),
            (2, _p5_blob(perturbed)),
        ],
        "doc_id long, content binary",
    )
    decoded = multimodal.decode_image(df)
    got = {
        r["doc_id"]: r["dhash"]
        for r in decoded.select(
            "doc_id", multimodal.dhash_expr("pixels").alias("dhash")
        ).collect()
    }
    # python reference parity on the raw raster
    assert got[0] == multimodal.dhash_reference(raster)
    assert got[1] == multimodal.dhash_reference(bright)
    # invariance + sensitivity
    assert got[0] == got[1]
    assert got[0] != got[2]
    assert len(got[0]) == 64 and set(got[0]) <= {"0", "1"}


def test_dhash_near_pairs_equals_brute_force(spark):
    """The banded hamming join must be LOSSLESS for hamming <= 3
    (pigeonhole over 4 bands) and report the exact distance — compared
    against the python brute force over all pairs, including planted
    near pairs at distances 0..5."""
    import random

    from sparkflow_spark import multimodal

    rng = random.Random(7)
    hashes = []
    base = ["".join(rng.choice("01") for _ in range(64)) for _ in range(20)]
    hashes.extend(base)
    for d in (0, 1, 2, 3, 4, 5):  # planted variants at known distances
        src = list(base[d])
        for pos in rng.sample(range(64), d):
            src[pos] = "1" if src[pos] == "0" else "0"
        hashes.append("".join(src))
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(hashes)], "doc_id long, dhash string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.dhash_near_pairs(df, max_hamming=3).collect()
    }
    want = {}
    for i in range(len(hashes)):
        for j in range(i + 1, len(hashes)):
            d = sum(a != b for a, b in zip(hashes[i], hashes[j]))
            if d <= 3:
                want[(i, j)] = d
    assert got == want
    assert any(d == 0 for d in want.values()) and any(
        d == 3 for d in want.values()
    )  # the planted spectrum actually exercises the bound


# ---------------------------------------------------------------------------
# SQL scripting + session variables + EXECUTE IMMEDIATE (r11 ask #5, X170)


def test_sql_script_variables_are_script_local(spark):
    """A DECLARE inside BEGIN...END must not leak into the session:
    referencing it after the script fails, while a session-level
    variable declared with DECLARE VARIABLE persists until dropped."""
    spark.conf.set("spark.sql.scripting.enabled", "true")
    out = spark.sql(
        """
        BEGIN
          DECLARE script_only INT DEFAULT 41;
          SET script_only = script_only + 1;
          SELECT script_only AS v;
        END
        """
    ).collect()
    assert out == [type(out[0])(v=42)]
    with pytest.raises(Exception, match="(?i)unresolved|cannot.*resolve|not.*found"):
        spark.sql("SELECT script_only").collect()
    # session variable: visible across statements, gone after DROP
    spark.sql("DECLARE OR REPLACE VARIABLE sess_v BIGINT DEFAULT 7")
    assert spark.sql("SELECT sess_v AS v").collect()[0]["v"] == 7
    spark.sql("SET VARIABLE sess_v = sess_v * 3")
    assert spark.sql("SELECT sess_v AS v").collect()[0]["v"] == 21
    spark.sql("DROP TEMPORARY VARIABLE sess_v")
    with pytest.raises(Exception, match="(?i)unresolved|cannot.*resolve|not.*found"):
        spark.sql("SELECT sess_v").collect()


def test_execute_immediate_error_legs(spark):
    """EXECUTE IMMEDIATE must refuse an unbound named parameter and a
    non-existent variable in USING; INTO assigns a scalar result to a
    session variable."""
    with pytest.raises(Exception, match="(?i)parameter|bind|unbound"):
        spark.sql("EXECUTE IMMEDIATE 'SELECT :missing AS x'").collect()
    with pytest.raises(Exception, match="(?i)unresolved|variable|not.*found"):
        spark.sql(
            "EXECUTE IMMEDIATE 'SELECT :x AS x' USING no_such_variable AS x"
        ).collect()
    spark.sql("DECLARE OR REPLACE VARIABLE tgt BIGINT")
    spark.sql("EXECUTE IMMEDIATE 'SELECT 5 + 6' INTO tgt")
    assert spark.sql("SELECT tgt AS v").collect()[0]["v"] == 11
    spark.sql("DROP TEMPORARY VARIABLE tgt")


def test_sql_script_control_flow_branches(spark):
    """IF/ELSE branch selection and WHILE iteration count are executed
    by the engine — pinned on a deterministic 3-iteration loop."""
    spark.conf.set("spark.sql.scripting.enabled", "true")
    rows = spark.sql(
        """
        BEGIN
          DECLARE i INT DEFAULT 0;
          DECLARE acc BIGINT DEFAULT 1;
          WHILE i < 3 DO
            SET acc = acc * 2;
            SET i = i + 1;
          END WHILE;
          IF acc = 8 THEN
            SELECT acc AS v, 'pow' AS leg;
          ELSE
            SELECT acc AS v, 'bug' AS leg;
          END IF;
        END
        """
    ).collect()
    assert [(r["v"], r["leg"]) for r in rows] == [(8, "pow")]


# ---------------------------------------------------------------------------
# train -> score -> filter composition (r11 ask #6, X171)


def test_trained_classifier_filter_composes(spark, sf_dir):
    """The TRAINED-weights leg of p_classifier_filter_e2e: fit the
    DistributedDL logistic head (M01 machinery) on a deterministic
    synthetic quality label, hand its trained weights to the SAME
    serving stage (PredictWith affine + sigmoid) and the SAME
    broadcast-percentile filter — the composition must run end to end,
    the head must actually have learned the label (accuracy >= 0.8),
    and the kept set must be enriched in quality-positive docs."""
    import json

    from sparkflow_spark.functions.text import tokens
    from sparkflow_spark.ml import DistributedDL, build_network
    from sparkflow_spark.ml.predict import PredictWith
    from sparkflow_spark.catalog import Tables

    t = Tables(spark, sf_dir)
    len_sum = F.aggregate(
        tokens("text"), F.lit(0).cast("bigint"), lambda acc, tok: acc + F.length(tok)
    )
    feats = t.documents.select(
        "doc_id",
        F.array(
            (len_sum / 512.0),
            (F.length("text") / 512.0),
        ).alias("features"),
        len_sum.alias("len_sum"),
    )
    med = feats.agg(F.percentile("len_sum", 0.5).alias("m"))
    labeled = (
        feats.join(F.broadcast(med))
        .withColumn("y", (F.col("len_sum") >= F.col("m")).cast("double"))
        .select("doc_id", "features", "y")
    )
    est = DistributedDL(
        inputCol="features",
        labelCol="y",
        predictionCol="p",
        networkSpec=build_network([2, 1], activations=["sigmoid"], loss="bce"),
        tfOptimizer="adam",
        tfLearningRate=0.1,
        iters=3,
        localIters=40,
        partitions=4,
        seed=7,
    )
    model = est.fit(labeled)
    W_mat, b_vec = json.loads(model.getOrDefault(model.modelWeights))
    W = [row[0] for row in W_mat]
    assert len(W) == 2
    # compose: trained weights -> serving hook -> percentile filter
    stage = PredictWith(
        inputCol="features",
        outputCol="_z",
        fnFactory="sparkflow_spark.ml.stub_backend:make_affine_predict_fn",
        fnFactoryArgs=json.dumps({"W": W, "b": b_vec[0]}),
        returnTypeDDL="double",
        inputTensorShape=json.dumps([2]),
    )
    scored = stage.transform(labeled).withColumn(
        "prob", F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("_z")))
    )
    acc = (
        scored.select(((F.col("prob") > 0.5).cast("double") == F.col("y")).cast("int").alias("ok"))
        .agg(F.avg("ok"))
        .collect()[0][0]
    )
    assert acc >= 0.8, acc
    thr = scored.agg(F.percentile("_z", 0.25).alias("t"))
    kept = scored.join(F.broadcast(thr)).where(F.col("_z") >= F.col("t"))
    base_rate = scored.agg(F.avg("y")).collect()[0][0]
    kept_rate = kept.agg(F.avg("y")).collect()[0][0]
    n_all, n_kept = scored.count(), kept.count()
    assert n_kept <= n_all and n_kept >= int(0.7 * n_all)
    assert kept_rate > base_rate  # bottom-quartile drop enriches positives


# ---------------------------------------------------------------------------
# statestore / state-metadata readers (r11 ask #3, X172)


def test_statestore_reader_matches_processor_emissions(spark, sf_dir):
    """Run a TWS query against a persisted checkpoint; the statestore
    source's (key, value) rows must equal the processor's own FINAL
    per-key emissions, and the state-metadata source must describe the
    operator and its state variable."""
    import json
    import shutil
    import uuid

    from sparkflow_spark.catalog import warehouse_subdir
    from sparkflow_spark.streaming.state_reader import (
        read_state_store,
        state_metadata,
    )
    from sparkflow_spark.streaming.stateful import _final_emission, _user_stats_stream

    ck = warehouse_subdir(spark, "t1_statestore_ck", key=sf_dir)
    shutil.rmtree(ck, ignore_errors=True)
    stats = _user_stats_stream(spark, sf_dir)
    runner = stats.sparkSession
    name = f"t1_ss_{uuid.uuid4().hex[:10]}"
    q = (
        stats.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ck)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the processor's final emission per key (highest c wins)
    final = {
        (r["user_id"], r["c"], r["sum_cents"])
        for r in _final_emission(runner.table(name), "c", "user_id", "c", "sum_cents").collect()
    }
    store = {
        (r["user_id"], r["c"], r["sum_cents"])
        for r in read_state_store(runner, ck, state_var="stats")
        .select("key.user_id", "value.c", "value.sum_cents")
        .collect()
    }
    assert store == final and len(store) > 0
    # metadata: one TWS operator, the 'stats' ValueState, TTL off
    md = state_metadata(runner, ck).collect()
    assert len(md) == 1
    row = md[0]
    assert row["operatorName"] == "transformWithStateInPandasExec"
    props = json.loads(row["operatorProperties"])
    assert {
        (v["stateName"], v["stateVariableType"], v["ttlEnabled"])
        for v in props["stateVariables"]
    } == {("stats", "ValueState", False)}
    assert row["numPartitions"] == 4  # the fixture-sized state width
    # a TWS checkpoint refuses a read without stateVarName
    with pytest.raises(Exception, match="(?i)state.*var|stateVarName|option"):
        read_state_store(runner, ck).collect()


# ---------------------------------------------------------------------------
# real audio decode (X177)


def _wav_bytes(samples, nch=1, rate=8000, width=2):
    import io
    import struct
    import wave

    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(nch)
    w.setsampwidth(width)
    w.setframerate(rate)
    if width == 2:
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    else:
        w.writeframes(bytes((s + 128) % 256 for s in samples))
    w.close()
    return buf.getvalue()


def test_wav_decode_features_and_error_legs(spark):
    """The stdlib-wave decode kernel: exact integer features on known
    samples (incl. the int16 extremes), stereo header fields parsed,
    8-bit and corrupt blobs yield NULL rows instead of failing."""
    from sparkflow_spark import multimodal

    mono = [-32768, 32767, 0, 1000, -1000]
    stereo = [5, -5, 10, -10]  # 2 frames x 2 channels
    rows = [
        (0, _wav_bytes(mono)),
        (1, _wav_bytes(stereo, nch=2, rate=44100)),
        (2, _wav_bytes([1, 2, 3], width=1)),  # 8-bit -> NULL row
        (3, b"not a wav at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {r["doc_id"]: r for r in multimodal.decode_audio(df).collect()}
    m = got[0]
    assert (m["n_channels"], m["sample_rate"], m["n_frames"]) == (1, 8000, 5)
    assert m["sum_sq"] == sum(s * s for s in mono)
    assert m["peak"] == 32768  # |−32768| — the asymmetric int16 extreme
    s = got[1]
    assert (s["n_channels"], s["sample_rate"], s["n_frames"]) == (2, 44100, 2)
    assert s["sum_sq"] == sum(x * x for x in stereo)
    for bad in (2, 3):
        assert got[bad]["n_channels"] is None and got[bad]["sum_sq"] is None
    # python-level round trip pins the sample decode exactly
    nch, rate, nf, samples = multimodal.decode_wav_bytes(_wav_bytes(mono))
    assert list(samples) == mono


# ---------------------------------------------------------------------------
# TWS state schema EVOLUTION (X180): avro encoding, restart with a
# wider state schema on the same checkpoint


def test_tws_state_schema_evolution_carries_state(spark, sf_dir, tmp_path):
    """Run a TWS query with ValueState 'c LONG' to a checkpoint; stop;
    restart the SAME checkpoint with the state schema WIDENED to
    'c LONG, extra LONG' (spark.sql.streaming.stateStore.encodingFormat
    = avro — the evolution-capable encoding). The old state must decode
    under the new schema (new field arrives NULL), and the carried
    counts must continue exactly (second-pass c == 2x first-pass c when
    the same file is replayed as new data)."""
    import os
    import shutil

    import pyspark.sql.types as T

    from sparkflow_spark.catalog import table_path
    from sparkflow_spark.streaming.stateful import (
        _TWS_CONFS,
        _ensure_protobuf,
        _processor_base,
        _tws_runner_session,
    )
    from sparkflow_spark.streaming.windows import _as_stream_dir, _session_clone, stream_events

    _ensure_protobuf()
    # its own clone: the avro encoding must not reach the shared TWS runner
    avro = ("spark.sql.streaming.stateStore.encodingFormat", "avro")
    runner = _session_clone(spark, (*_TWS_CONFS, avro))
    shared = _tws_runner_session(spark)
    assert runner is not shared
    assert shared.conf.get(avro[0]) != "avro"

    def make_proc(v2: bool):
        class P(_processor_base()):
            def init(self, handle):
                ddl = "c LONG, extra LONG" if v2 else "c LONG"
                self._s = handle.getValueState("agg", ddl)

            def handleInputRows(self, key, rows, timerValues):
                import pandas as pd

                if v2:
                    got = self._s.get() if self._s.exists() else (0, None)
                    c = got[0] or 0
                    # evolved field: NULL for pre-evolution state rows
                    extra = got[1] if got[1] is not None else 100
                else:
                    got = self._s.get() if self._s.exists() else (0,)
                    c = got[0] or 0
                c += sum(len(p) for p in rows)
                if v2:
                    self._s.update((c, extra + 1))
                    yield pd.DataFrame(
                        {"user_id": [key[0]], "c": [c], "extra": [extra + 1]}
                    )
                else:
                    self._s.update((c,))
                    yield pd.DataFrame(
                        {"user_id": [key[0]], "c": [c], "extra": [None]}
                    )

        return P()

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("c", T.LongType()),
            T.StructField("extra", T.LongType()),
        ]
    )
    ck, sink = str(tmp_path / "ck"), str(tmp_path / "sink")

    def run(v2: bool):
        sdf = stream_events(runner, sf_dir, watermark=None, state_partitions=None)
        st = sdf.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=make_proc(v2),
            outputStructType=out_schema,
            outputMode="update",
            timeMode="none",
        )
        q = (
            st.writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", ck)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(False)
    first = runner.read.parquet(sink).groupBy("user_id").agg(F.max("c").alias("c1"))
    n_keys = first.count()
    assert n_keys > 0
    # replay the same file as NEW data so the evolved restart processes rows
    d = _as_stream_dir(table_path(sf_dir, "events"))
    extra_file = os.path.join(d, "events_evolve_copy.parquet")
    shutil.copy(os.path.realpath(os.path.join(d, "events.parquet")), extra_file)
    try:
        run(True)
    finally:
        os.remove(extra_file)
    second = runner.read.parquet(sink).where(F.col("extra").isNotNull())
    assert second.count() == n_keys
    # evolved field initialized from the NULL-decoded old state exactly once
    assert second.where(F.col("extra") != 101).count() == 0
    # counts carried across the schema change: c == 2 * first-pass c
    bad = second.join(first, "user_id").where(F.col("c") != 2 * F.col("c1"))
    assert bad.count() == 0
