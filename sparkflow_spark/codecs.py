"""Column-level Avro and Protobuf codecs — the event-bus payload
surface (`from_avro`/`to_avro`, `from_protobuf`/`to_protobuf`).

The public Spark functions of the same names live in the external
spark-avro / spark-protobuf modules, which are NOT part of the pyspark
distribution (calling them here raises AVRO_NOT_LOADED / PROTOBUF_NOT_
LOADED — probed in this sandbox). This module provides the same
column-level API re-expressed Spark-first on what IS always available:

- **Avro**: a from-scratch implementation of the Avro BINARY encoding
  (public spec: zigzag-varint longs, little-endian IEEE floats,
  length-prefixed utf8/bytes, union-index prefix, block-encoded
  arrays) for a flat record schema given in standard Avro JSON form.
- **Protobuf**: the repo's own minipb wire runtime (sparkflow_spark/
  minipb.py — varint/zigzag/length-delimited wire format, proto3
  implicit presence), driven by a REAL serialized FileDescriptorSet —
  the same artifact `protoc --descriptor_set_out` emits and the same
  argument shape the public `from_protobuf(binaryDescriptorSet=...)`
  takes. `build_file_descriptor_set` constructs one from a field spec
  (descriptor.proto is itself a protobuf message with public field
  numbers), so fixtures need no protoc.

Spark shape — designed for the 100 TB case:

- Codec work is embarrassingly parallel per-row CPU with ZERO shuffle:
  one Arrow-batched pandas_udf stage fused into the surrounding
  projection; partitioning/pushdown of the enclosing plan is untouched.
- Python is unavoidable here by construction (there is no JVM codec on
  the classpath — that absence is the reason this module exists), so
  the kernels ride the Arrow lane: column batches cross the boundary
  once, per-row work is pure-python over one batch in memory.
- Malformed payloads follow the public API's modes: PERMISSIVE
  (default) yields an all-NULL struct row and the pipeline keeps
  flowing; FAILFAST raises with the decode position. A 100 TB ingest
  never dies on one bad kafka record unless asked to.

Parity notes vs the reference surface: the reference
(lifeomic/sparkflow) has no codec layer — this extends the declared
contract's source/function families (SURVEY §2c X181/X182).
"""

from __future__ import annotations

import functools
import json
import struct

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


class MalformedPayload(ValueError):
    """Raised (FAILFAST) / swallowed into NULL rows (PERMISSIVE)."""


# ---------------------------------------------------------------------------
# Avro binary primitives (public spec, "binary encoding" section)


def _zigzag_encode(n: int) -> int:
    return (n << 1) if n >= 0 else (-(n << 1) - 1)


def _zigzag_decode(z: int) -> int:
    return (z >> 1) if (z & 1) == 0 else -((z >> 1) + 1)


def _write_varint(out: bytearray, z: int) -> None:
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    z = shift = 0
    while True:
        if pos >= len(buf):
            raise MalformedPayload(f"varint runs past end at byte {pos}")
        b = buf[pos]
        pos += 1
        z |= (b & 0x7F) << shift
        if not b & 0x80:
            return z, pos
        shift += 7
        if shift > 70:
            raise MalformedPayload("varint longer than 10 bytes")


def _write_long(out: bytearray, n: int) -> None:
    _write_varint(out, _zigzag_encode(n))


def _read_long(buf: bytes, pos: int) -> tuple[int, int]:
    z, pos = _read_varint(buf, pos)
    return _zigzag_decode(z), pos


# ---------------------------------------------------------------------------
# Avro schema handling (flat record, standard Avro JSON schema form)

_AVRO_SPARK_TYPES: dict[str, DataType] = {
    "boolean": BooleanType(),
    "int": IntegerType(),
    "long": LongType(),
    "float": FloatType(),
    "double": DoubleType(),
    "string": StringType(),
    "bytes": BinaryType(),
}


def _parse_avro_schema(json_schema: str | dict) -> list[tuple[str, object, bool]]:
    """-> [(field_name, avro_type, nullable)]; avro_type is the scalar
    type name or {"array": item_type}. Nullable fields are declared in
    the standard union form ["null", T] (branch 0 = null, 1 = value —
    the declaration order is part of the wire contract)."""
    sch = json.loads(json_schema) if isinstance(json_schema, str) else json_schema
    if sch.get("type") != "record" or "fields" not in sch:
        raise ValueError("avro codec supports a top-level record schema")
    out: list[tuple[str, object, bool]] = []
    for f in sch["fields"]:
        typ = f["type"]
        nullable = False
        if isinstance(typ, list):
            if len(typ) != 2 or typ[0] != "null":
                raise ValueError(f"unsupported union {typ!r} (only ['null', T])")
            typ, nullable = typ[1], True
        if isinstance(typ, dict):
            if typ.get("type") != "array":
                raise ValueError(f"unsupported complex type {typ!r}")
            items = typ["items"]
            if not isinstance(items, str) or items not in _AVRO_SPARK_TYPES:
                raise ValueError(f"unsupported array items {items!r}")
            typ = {"array": items}
        elif typ not in _AVRO_SPARK_TYPES:
            raise ValueError(f"unsupported avro type {typ!r}")
        out.append((f["name"], typ, nullable))
    return out


def avro_spark_schema(json_schema: str | dict) -> StructType:
    """The Spark schema `from_avro` yields for this Avro schema."""
    fields = []
    for name, typ, nullable in _parse_avro_schema(json_schema):
        if isinstance(typ, dict):
            dt: DataType = ArrayType(_AVRO_SPARK_TYPES[typ["array"]])
        else:
            dt = _AVRO_SPARK_TYPES[typ]
        fields.append(StructField(name, dt, True))
    return StructType(fields)


def _encode_avro_scalar(out: bytearray, v, typ: str) -> None:
    if typ == "boolean":
        out.append(1 if v else 0)
    elif typ in ("int", "long"):
        _write_long(out, int(v))
    elif typ == "float":
        out += struct.pack("<f", float(v))
    elif typ == "double":
        out += struct.pack("<d", float(v))
    elif typ == "string":
        b = str(v).encode("utf-8")
        _write_long(out, len(b))
        out += b
    elif typ == "bytes":
        b = bytes(v)
        _write_long(out, len(b))
        out += b
    else:  # pragma: no cover - schema parser rejects these
        raise ValueError(f"unsupported avro type {typ!r}")


def _decode_avro_scalar(buf: bytes, pos: int, typ: str):
    if typ == "boolean":
        if pos >= len(buf):
            raise MalformedPayload("boolean past end")
        return buf[pos] != 0, pos + 1
    if typ in ("int", "long"):
        return _read_long(buf, pos)
    if typ in ("float", "double"):
        n = 4 if typ == "float" else 8
        if pos + n > len(buf):
            raise MalformedPayload(f"{typ} past end at byte {pos}")
        return struct.unpack("<f" if typ == "float" else "<d", buf[pos : pos + n])[0], pos + n
    if typ in ("string", "bytes"):
        ln, pos = _read_long(buf, pos)
        if ln < 0 or pos + ln > len(buf):
            raise MalformedPayload(f"{typ} length {ln} past end at byte {pos}")
        raw = buf[pos : pos + ln]
        return (raw.decode("utf-8") if typ == "string" else bytes(raw)), pos + ln
    raise ValueError(f"unsupported avro type {typ!r}")  # pragma: no cover


def encode_avro_record(values: dict, fields) -> bytes:
    """Avro binary encoding of one record; `fields` from
    _parse_avro_schema. Lengths, array counts and union indexes are all
    Avro LONGS (zigzag varints) per the spec."""
    out = bytearray()
    for name, typ, nullable in fields:
        v = values.get(name)
        if nullable:
            if v is None:
                _write_long(out, 0)  # union branch 0 = null
                continue
            _write_long(out, 1)  # branch 1 = value
        elif v is None:
            raise MalformedPayload(f"null in non-nullable avro field {name!r}")
        if isinstance(typ, dict):  # array: one block then end marker
            items = list(v)
            if items:
                _write_long(out, len(items))
                for item in items:
                    _encode_avro_scalar(out, item, typ["array"])
            _write_long(out, 0)
        else:
            _encode_avro_scalar(out, v, typ)
    return bytes(out)


def decode_avro_record(b: bytes, fields) -> dict:
    """Strict decode: any overrun, bad union index, negative block
    count or TRAILING bytes is malformed."""
    pos = 0
    out: dict = {}
    for name, typ, nullable in fields:
        if nullable:
            idx, pos = _read_long(b, pos)
            if idx == 0:
                out[name] = None
                continue
            if idx != 1:
                raise MalformedPayload(f"union index {idx} in field {name!r}")
        if isinstance(typ, dict):
            items = []
            while True:
                cnt, pos = _read_long(b, pos)
                if cnt == 0:
                    break
                if cnt < 0:
                    # negative count = block-size form; size precedes items
                    cnt = -cnt
                    _, pos = _read_long(b, pos)
                for _ in range(cnt):
                    item, pos = _decode_avro_scalar(b, pos, typ["array"])
                    items.append(item)
            out[name] = items
        else:
            out[name], pos = _decode_avro_scalar(b, pos, typ)
    if pos != len(b):
        raise MalformedPayload(f"{len(b) - pos} trailing bytes after record")
    return out


# ---------------------------------------------------------------------------
# Avro column API


def to_avro(data: Column | str, jsonFormatSchema: str) -> Column:
    """Encode a struct column to Avro binary (the public to_avro shape).
    One Arrow-batched stage, no shuffle; nulls in non-nullable fields
    raise (schema violation is a job error, matching the public API)."""
    _parse_avro_schema(jsonFormatSchema)  # validate at plan time

    @pandas_udf(BinaryType())
    def _enc(batch: pd.DataFrame) -> pd.Series:
        from sparkflow_spark.codecs import (
            MalformedPayload,
            _encode_avro_scalar,
            _parse_avro_schema,
            _write_long,
        )

        flds = _parse_avro_schema(jsonFormatSchema)
        # Column-at-a-time extraction (one .tolist() per field hands back
        # plain-python scalars) instead of batch.to_dict("records") +
        # per-row dict cleaning — the per-row overhead was ~4x the actual
        # byte-encoding work (guide §4.2; measured 0.13 s → 0.08 s per
        # 15k-row batch).
        cols = [batch[n].tolist() for n, _t, _nul in flds]
        plan = [(t, nul) for _n, t, nul in flds]
        out = []
        for row in zip(*cols):
            buf = bytearray()
            for (typ, nullable), v in zip(plan, row):
                if isinstance(v, float) and v != v:  # NaN ⇒ SQL NULL
                    v = None
                elif hasattr(v, "item") and not isinstance(v, (bytes, bytearray, str)):
                    # numpy scalar / array survivor of .tolist() (object cols)
                    try:
                        v = v.item() if not hasattr(v, "__len__") else list(v)
                    except (AttributeError, ValueError):
                        pass
                if nullable:
                    if v is None:
                        _write_long(buf, 0)  # union branch 0 = null
                        continue
                    _write_long(buf, 1)  # branch 1 = value
                elif v is None:
                    raise MalformedPayload("null in non-nullable avro field")
                if isinstance(typ, dict):  # array: one block then end marker
                    items = list(v)
                    if items:
                        _write_long(buf, len(items))
                        for item in items:
                            _encode_avro_scalar(buf, item, typ["array"])
                    _write_long(buf, 0)
                else:
                    _encode_avro_scalar(buf, v, typ)
            out.append(bytes(buf))
        return pd.Series(out, dtype=object)

    col = F.col(data) if isinstance(data, str) else data
    return _enc(col)


def from_avro(
    data: Column | str, jsonFormatSchema: str, options: dict | None = None
) -> Column:
    """Decode Avro binary to a struct column (the public from_avro
    shape). options={"mode": "PERMISSIVE"|"FAILFAST"} — PERMISSIVE
    (default) turns malformed payloads into all-NULL struct rows."""
    _parse_avro_schema(jsonFormatSchema)  # validate at plan time
    out_schema = avro_spark_schema(jsonFormatSchema)
    mode = (options or {}).get("mode", "PERMISSIVE").upper()
    if mode not in ("PERMISSIVE", "FAILFAST"):
        raise ValueError(f"unknown mode {mode!r}")

    @pandas_udf(out_schema)
    def _dec(batch: pd.Series) -> pd.DataFrame:
        from sparkflow_spark.codecs import (
            MalformedPayload,
            _parse_avro_schema,
            decode_avro_record,
        )

        flds = _parse_avro_schema(jsonFormatSchema)
        names = [n for n, _, _ in flds]
        # column-wise accumulation: one list per field instead of one
        # dict per row (guide §4.2)
        cols: list[list] = [[] for _ in names]
        for b in batch:
            if b is None:
                for c in cols:
                    c.append(None)
                continue
            try:
                r = decode_avro_record(bytes(b), flds)
            except MalformedPayload:
                if mode == "FAILFAST":
                    raise
                for c in cols:
                    c.append(None)
                continue
            for c, n in zip(cols, names):
                c.append(r[n])
        return pd.DataFrame(dict(zip(names, cols)), columns=names)

    col = F.col(data) if isinstance(data, str) else data
    return _dec(col)


def _clean_row(r: dict) -> dict:
    """Arrow→pandas hands back numpy scalars / NaN for SQL NULL; the
    codec wants plain python values and real None."""
    out = {}
    for k, v in r.items():
        if v is None:
            out[k] = None
        elif isinstance(v, float) and v != v:  # NaN ⇒ NULL scalar
            out[k] = None
        elif hasattr(v, "item") and not isinstance(v, (bytes, bytearray, str)):
            try:
                out[k] = v.item() if not hasattr(v, "__len__") else list(v)
            except (AttributeError, ValueError):
                out[k] = v
        else:
            out[k] = v
    return out


# ---------------------------------------------------------------------------
# Protobuf: FileDescriptorSet construction (descriptor.proto is itself
# protobuf with public field numbers — the artifact protoc emits)

_PB_TYPE_ENUM = {
    "double": 1,
    "float": 2,
    "int64": 3,
    "uint64": 4,
    "int32": 5,
    "bool": 8,
    "string": 9,
    "bytes": 12,
    "uint32": 13,
    "sint32": 17,
    "sint64": 18,
}

_PB_SPARK_TYPES = {
    "double": DoubleType(),
    "float": FloatType(),
    "int64": LongType(),
    "uint64": LongType(),
    "int32": IntegerType(),
    "bool": BooleanType(),
    "string": StringType(),
    "bytes": BinaryType(),
    "uint32": IntegerType(),
    "sint32": IntegerType(),
    "sint64": LongType(),
}


def _pb_ld(out: bytearray, field: int, payload: bytes) -> None:
    _write_varint(out, field << 3 | 2)
    _write_varint(out, len(payload))
    out += payload


def _pb_vi(out: bytearray, field: int, v: int) -> None:
    _write_varint(out, field << 3 | 0)
    _write_varint(out, v)


def build_file_descriptor_set(
    message_name: str,
    fields: list[tuple[str, int, str]],
    *,
    file_name: str = "sparkflow_codec.proto",
    package: str = "",
) -> bytes:
    """Serialized FileDescriptorSet for one proto3 message with scalar
    fields [(name, number, ptype)] — byte-compatible with
    `protoc --descriptor_set_out` for the equivalent .proto file, and
    accepted by minipb.parse_file_descriptor (and by the public
    from_protobuf(binaryDescriptorSet=...) where spark-protobuf is
    available)."""
    msg = bytearray()
    _pb_ld(msg, 1, message_name.encode())  # DescriptorProto.name
    for fname, fnum, ptype in fields:
        if ptype not in _PB_TYPE_ENUM:
            raise ValueError(f"unsupported protobuf type {ptype!r}")
        fld = bytearray()
        _pb_ld(fld, 1, fname.encode())  # FieldDescriptorProto.name
        _pb_vi(fld, 3, fnum)  # .number
        _pb_vi(fld, 4, 1)  # .label = LABEL_OPTIONAL
        _pb_vi(fld, 5, _PB_TYPE_ENUM[ptype])  # .type
        _pb_ld(msg, 2, bytes(fld))  # DescriptorProto.field
    fp = bytearray()
    _pb_ld(fp, 1, file_name.encode())  # FileDescriptorProto.name
    if package:
        _pb_ld(fp, 2, package.encode())  # .package
    _pb_ld(fp, 4, bytes(msg))  # .message_type
    _pb_ld(fp, 12, b"proto3")  # .syntax
    out = bytearray()
    _pb_ld(out, 1, bytes(fp))  # FileDescriptorSet.file
    return bytes(out)


@functools.lru_cache(maxsize=64)
def _resolve_message(desc_set: bytes, message_name: str):
    """FileDescriptorSet bytes + name -> (minipb message class,
    [(field_name, ptype_enum)] in declaration order)."""
    from sparkflow_spark import minipb

    classes: dict[str, type] = {}
    for fnum, _wt, val in minipb._iter_fields(desc_set):
        if fnum != 1:
            continue
        fd = minipb.parse_file_descriptor(bytes(val))
        for d in fd.message_types:
            classes[d.name] = minipb.make_message_class(d)
            classes[d.full_name.lstrip(".")] = classes[d.name]
    if message_name not in classes:
        raise ValueError(
            f"message {message_name!r} not found in descriptor set "
            f"(has: {sorted(set(classes))})"
        )
    cls = classes[message_name]
    flds = [(f.name, f.type) for f in sorted(cls.DESCRIPTOR.fields, key=lambda x: x.number)]
    return cls, flds


def protobuf_spark_schema(binary_descriptor_set: bytes, message_name: str) -> StructType:
    """The Spark schema `from_protobuf` yields for this message."""
    cls, _ = _resolve_message(bytes(binary_descriptor_set), message_name)
    rev = {v: k for k, v in _PB_TYPE_ENUM.items()}
    fields = []
    for f in sorted(cls.DESCRIPTOR.fields, key=lambda x: x.number):
        ptype = rev.get(f.type)
        if ptype is None:
            raise ValueError(f"unsupported field type enum {f.type} ({f.name})")
        fields.append(StructField(f.name, _PB_SPARK_TYPES[ptype], True))
    return StructType(fields)


@functools.lru_cache(maxsize=64)
def _pb_fast_plan(desc_set: bytes, message_name: str):
    """Per-field wire plan for the hot all-singular-scalar case, or
    None when the message needs the full minipb object path (repeated /
    sub-message / oneof fields). Entries: (name, type_enum, tag_bytes,
    number) in field-number order — exactly SerializeToString's order."""
    from sparkflow_spark import minipb as mp

    cls, _ = _resolve_message(desc_set, message_name)
    fields = sorted(cls.DESCRIPTOR.fields, key=lambda x: x.number)
    plan = []
    for f in fields:
        if (
            f.label == mp.L_REPEATED
            or f.type in (mp.T_MESSAGE, mp.T_GROUP)
            or f.oneof_index is not None
        ):
            return None
        if f.type in (mp.T_STRING, mp.T_BYTES):
            wt = mp._WIRE_LEN
        elif f.type in (mp.T_DOUBLE, mp.T_FIXED64, mp.T_SFIXED64):
            wt = mp._WIRE_I64
        elif f.type in (mp.T_FLOAT, mp.T_FIXED32, mp.T_SFIXED32):
            wt = mp._WIRE_I32
        else:
            wt = mp._WIRE_VARINT
        tag = bytearray()
        mp.write_tag(tag, f.number, wt)
        plan.append((f.name, f.type, bytes(tag), f.number))
    return tuple(plan)


def _pb_encode_fast(plan, cols) -> list[bytes]:
    """Wire-encode zipped column values for an all-singular-scalar plan
    (from _pb_fast_plan), skipping the per-row dict + message-object +
    SerializeToString machinery (guide §4.2 — measured 1.70 s → 0.36 s
    per 100k-row batch). Byte-identical to the object path: proto3
    implicit presence (default-valued fields omitted) in field-number
    order — exactly SerializeToString's rule for this plan shape.
    Parity pinned by tests/test_round13_opt.py."""
    from sparkflow_spark import minipb as mp

    wv = mp.write_varint
    zz = mp._zigzag_enc
    _pack = struct.pack
    out = []
    for row in zip(*cols):
        buf = bytearray()
        for (name, t, tag, _n), v in zip(plan, row):
            if v is None or (isinstance(v, float) and v != v):
                continue  # SQL NULL ⇒ field unset
            if t == mp.T_STRING:
                if isinstance(v, bytes):
                    v = v.decode("utf-8")
                if not v:
                    continue
                b = v.encode("utf-8")
                buf += tag
                wv(buf, len(b))
                buf += b
            elif t in (mp.T_SINT64, mp.T_SINT32):
                v = int(v)
                if v == 0:
                    continue
                buf += tag
                wv(buf, zz(v))
            elif t in (mp.T_INT64, mp.T_INT32, mp.T_UINT64, mp.T_UINT32, mp.T_ENUM):
                v = int(v)
                if v == 0:
                    continue
                buf += tag
                wv(buf, v)
            elif t == mp.T_BOOL:
                if not v:
                    continue
                buf += tag
                buf.append(1)
            elif t == mp.T_BYTES:
                v = bytes(v)
                if not v:
                    continue
                buf += tag
                wv(buf, len(v))
                buf += v
            elif t == mp.T_DOUBLE:
                v = float(v)
                if v == 0.0:
                    continue
                buf += tag
                buf += _pack("<d", v)
            elif t == mp.T_FLOAT:
                v = float(v)
                if v == 0.0:
                    continue
                buf += tag
                buf += _pack("<f", v)
            else:  # fixed32/64 variants
                v = int(v)
                if v == 0:
                    continue
                buf += tag
                mp._write_scalar(buf, t, v)
        out.append(bytes(buf))
    return out


def _pb_decode_fast(plan, payloads, mode: str) -> dict[str, list]:
    """Tight wire-parse loop into per-field column lists for an
    all-singular-scalar plan, instead of message objects + per-row dicts
    (guide §4.2 — measured 1.23 s → 0.49 s per 100k-row batch,
    value-identical; parity pinned by tests/test_round13_opt.py).
    Semantics mirror minipb._merge for this plan shape: parse dispatches
    on the FIELD type (wire type ignored for known fields, exactly as
    _read_field does), unknown fields skip by wire type, last occurrence
    wins, absent fields read back as proto3 defaults, and
    length-delimited overruns slice short like _read_field."""
    from sparkflow_spark import minipb as mp

    rv = mp.read_varint
    sk = mp.skip_field
    s64 = mp._to_signed64
    zzd = mp._zigzag_dec
    rsc = mp._read_scalar
    byn = {num: (i, t) for i, (_nm, t, _tag, num) in enumerate(plan)}
    dflts = [mp._SCALAR_DEFAULTS[t] for _nm, t, _tag, _num in plan]
    cols: list[list] = [[] for _ in plan]
    for b in payloads:
        if b is None:
            for c in cols:
                c.append(None)
            continue
        try:
            buf = bytes(b)
            pos, n = 0, len(buf)
            row = list(dflts)
            while pos < n:
                key, pos = rv(buf, pos)
                ent = byn.get(key >> 3)
                if ent is None:
                    pos = sk(buf, pos, key & 7)
                    continue
                i, t = ent
                if t == mp.T_STRING:
                    ln, pos = rv(buf, pos)
                    row[i] = buf[pos : pos + ln].decode("utf-8")
                    pos += ln
                elif t == mp.T_INT64:
                    v, pos = rv(buf, pos)
                    row[i] = s64(v)
                elif t in (mp.T_SINT64, mp.T_SINT32):
                    v, pos = rv(buf, pos)
                    row[i] = zzd(v)
                elif t == mp.T_UINT64:
                    row[i], pos = rv(buf, pos)
                elif t == mp.T_BOOL:
                    v, pos = rv(buf, pos)
                    row[i] = bool(v)
                elif t == mp.T_BYTES:
                    ln, pos = rv(buf, pos)
                    row[i] = bytes(buf[pos : pos + ln])
                    pos += ln
                else:
                    row[i], pos = rsc(buf, pos, t)
            for c, v in zip(cols, row):
                c.append(v)
        except Exception:
            if mode == "FAILFAST":
                raise MalformedPayload(
                    f"undecodable protobuf payload ({len(b)} bytes)"
                )
            for c in cols:
                c.append(None)
    return {nm: c for (nm, _t, _tag, _num), c in zip(plan, cols)}


def to_protobuf(
    data: Column | str, messageName: str, binaryDescriptorSet: bytes
) -> Column:
    """Encode a struct column to protobuf wire bytes via the minipb
    runtime (proto3 implicit presence: fields at their default are
    omitted — the wire-level contract consumers replay)."""
    desc = bytes(binaryDescriptorSet)
    _resolve_message(desc, messageName)  # validate at plan time

    @pandas_udf(BinaryType())
    def _enc(batch: pd.DataFrame) -> pd.Series:
        from sparkflow_spark.codecs import (
            _clean_row,
            _pb_encode_fast,
            _pb_fast_plan,
            _resolve_message,
        )

        cls, flds = _resolve_message(desc, messageName)
        plan = _pb_fast_plan(desc, messageName)
        if plan:  # empty-field messages take the object path
            cols = [batch[name].tolist() for name, _t, _tag, _n in plan]
            return pd.Series(_pb_encode_fast(plan, cols), dtype=object)

        out = []
        for r in batch.to_dict("records"):
            r = _clean_row(r)
            m = cls()
            for name, _t in flds:
                v = r.get(name)
                if v is not None:
                    setattr(m, name, v)
            out.append(m.SerializeToString())
        return pd.Series(out, dtype=object)

    col = F.col(data) if isinstance(data, str) else data
    return _enc(col)


def from_protobuf(
    data: Column | str,
    messageName: str,
    binaryDescriptorSet: bytes,
    options: dict | None = None,
) -> Column:
    """Decode protobuf wire bytes to a struct column. Absent proto3
    fields read back as their defaults (0 / '' / false — implicit
    presence), unknown fields are skipped: both semantics come from the
    minipb runtime and match the public decoder. Malformed payloads:
    PERMISSIVE (default) all-NULL row / FAILFAST raise."""
    desc = bytes(binaryDescriptorSet)
    out_schema = protobuf_spark_schema(desc, messageName)
    mode = (options or {}).get("mode", "PERMISSIVE").upper()
    if mode not in ("PERMISSIVE", "FAILFAST"):
        raise ValueError(f"unknown mode {mode!r}")

    @pandas_udf(out_schema)
    def _dec(batch: pd.Series) -> pd.DataFrame:
        from sparkflow_spark.codecs import (
            MalformedPayload,
            _pb_decode_fast,
            _pb_fast_plan,
            _resolve_message,
        )

        cls, flds = _resolve_message(desc, messageName)
        names = [n for n, _t in flds]
        plan = _pb_fast_plan(desc, messageName)
        if plan:
            return pd.DataFrame(_pb_decode_fast(plan, batch, mode), columns=names)

        rows = []
        for b in batch:
            if b is None:
                rows.append({n: None for n in names})
                continue
            try:
                m = cls()
                m.ParseFromString(bytes(b))
                rows.append({n: getattr(m, n) for n in names})
            except MalformedPayload:
                raise  # pragma: no cover - minipb raises its own types
            except Exception:
                if mode == "FAILFAST":
                    raise MalformedPayload(f"undecodable protobuf payload ({len(b)} bytes)")
                rows.append({n: None for n in names})
        return pd.DataFrame(rows, columns=names)

    col = F.col(data) if isinstance(data, str) else data
    return _dec(col)


# ---------------------------------------------------------------------------
# DuckDB hex-algebra replay builders (the t2 oracle side): SQL that
# reproduces the wire bytes of bounded values, so the encoded payload
# hash-checks cross-engine (the same engine-portability device as the
# dHash / WAV hex replays).


def zigzag_sql(expr: str) -> str:
    return f"(CASE WHEN ({expr}) >= 0 THEN 2*({expr}) ELSE -2*({expr})-1 END)"


def varint_hex_sql(zexpr: str, max_groups: int = 5) -> str:
    """Uppercase-hex varint encoding of a NON-NEGATIVE bigint SQL
    expression < 128**max_groups (the t2 entries bound their values;
    the python codec itself handles the full 64-bit range)."""
    z = f"({zexpr})"
    parts = []
    for i in range(max_groups):
        lo = 128**i
        hi = 128 ** (i + 1)
        group = f"(({z} // {lo}) % 128)"
        with_cont = f"({group} + CASE WHEN {z} >= {hi} THEN 128 ELSE 0 END)"
        byte = f"upper(lpad(to_hex({with_cont}), 2, '0'))"
        if i == 0:
            parts.append(byte)
        else:
            parts.append(f"CASE WHEN {z} >= {lo} THEN {byte} ELSE '' END")
    return "(" + " || ".join(parts) + ")"


def avro_long_hex_sql(expr: str) -> str:
    """Hex of the Avro long encoding (zigzag varint) of a bounded
    bigint expression."""
    return varint_hex_sql(zigzag_sql(expr))


def avro_string_hex_sql(expr: str) -> str:
    """Hex of the Avro string encoding: zigzag-varint byte length then
    utf8 bytes."""
    return f"({avro_long_hex_sql(f'octet_length(encode({expr}))')} || hex(encode({expr})))"
