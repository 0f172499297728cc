"""Pure-Python Avro binary codec + Avro<->Spark schema mapping.

The wire format is implemented from the public Avro 1.x specification
(binary encoding: zigzag varints, length-prefixed bytes/strings,
block-encoded arrays/maps, union-index prefix).  It runs only at the wire
boundary inside the Arrow-batched pandas UDFs of ``envelope`` — the
engine's hot path stays columnar/JVM.

Reference parity: the envelope/payload encode-decode semantics mirror
data_pipeline/envelope.py:73-121 and data_pipeline/_avro_payload.py:86-167
(lazy dual representation, reader-schema resolution), re-expressed as batch
column transforms.  Schema resolution implements the subset the reference
relies on: field reordering by name, writer-only fields skipped, reader
defaults for missing fields, numeric promotions, union member resolution.
"""

from __future__ import annotations

import io
import json
import struct
from typing import Any

# ---------------------------------------------------------------------------
# primitive binary encoding (Avro spec §Binary Encoding)
# ---------------------------------------------------------------------------


def _write_long(out: io.BytesIO, n: int) -> None:
    n = (n << 1) ^ (n >> 63)  # zigzag
    while (n & ~0x7F) != 0:
        out.write(bytes([(n & 0x7F) | 0x80]))
        n >>= 7
    out.write(bytes([n]))


def _read_long(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated varint")
        byte = b[0]
        acc |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)  # un-zigzag


# ---------------------------------------------------------------------------
# schema model
# ---------------------------------------------------------------------------

PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}


def parse_schema(schema: str | dict | list) -> Any:
    """Normalize a schema (JSON string or already-parsed) to dict/list/str."""
    if isinstance(schema, str) and schema not in PRIMITIVES:
        return json.loads(schema)
    return schema


def schema_type(schema: Any) -> str:
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema["type"]


def canonical_name(schema: Any) -> str | None:
    if isinstance(schema, dict) and "name" in schema:
        ns = schema.get("namespace")
        name = schema["name"]
        return f"{ns}.{name}" if ns and "." not in name else name
    return None


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------


def encode(schema: Any, value: Any, out: io.BytesIO | None = None) -> bytes | None:
    top = out is None
    if top:
        out = io.BytesIO()
    t = schema_type(schema)
    if t == "null":
        pass
    elif t == "boolean":
        out.write(b"\x01" if value else b"\x00")
    elif t in ("int", "long"):
        _write_long(out, int(value))
    elif t == "float":
        out.write(struct.pack("<f", float(value)))
    elif t == "double":
        out.write(struct.pack("<d", float(value)))
    elif t == "bytes":
        data = bytes(value)
        _write_long(out, len(data))
        out.write(data)
    elif t == "string":
        data = str(value).encode("utf-8")
        _write_long(out, len(data))
        out.write(data)
    elif t == "fixed":
        data = bytes(value)
        if len(data) != schema["size"]:
            raise ValueError(f"fixed size mismatch: {len(data)} != {schema['size']}")
        out.write(data)
    elif t == "enum":
        _write_long(out, schema["symbols"].index(value))
    elif t == "array":
        items = list(value)
        if items:
            _write_long(out, len(items))
            for item in items:
                encode(schema["items"], item, out)
        _write_long(out, 0)
    elif t == "map":
        entries = dict(value)
        if entries:
            _write_long(out, len(entries))
            for k, v in entries.items():
                encode("string", k, out)
                encode(schema["values"], v, out)
        _write_long(out, 0)
    elif t == "union":
        idx = _union_index(schema, value)
        _write_long(out, idx)
        encode(schema[idx], value, out)
    elif t == "record":
        for f in schema["fields"]:
            if f["name"] in value:
                encode(f["type"], value[f["name"]], out)
            elif "default" in f:
                encode(f["type"], f["default"], out)
            else:
                raise ValueError(f"missing field {f['name']} with no default")
    else:
        raise ValueError(f"unsupported schema type {t!r}")
    if top:
        return out.getvalue()
    return None


def _union_index(union: list, value: Any) -> int:
    for i, branch in enumerate(union):
        bt = schema_type(parse_schema(branch))
        if value is None and bt == "null":
            return i
        if value is not None and bt != "null":
            if bt == "boolean" and isinstance(value, bool):
                return i
            if bt in ("int", "long") and isinstance(value, int) and not isinstance(value, bool):
                return i
            if bt in ("float", "double") and isinstance(value, float):
                return i
            if bt in ("bytes", "fixed") and isinstance(value, (bytes, bytearray)):
                return i
            if bt in ("string", "enum") and isinstance(value, str):
                return i
            if bt == "array" and isinstance(value, (list, tuple)):
                return i
            if bt in ("record", "map") and isinstance(value, dict):
                return i
    raise ValueError(f"no union branch for {type(value)}")


# ---------------------------------------------------------------------------
# decode (with writer->reader resolution)
# ---------------------------------------------------------------------------


class SchemaResolutionError(ValueError):
    """Writer/reader schema pair that Avro resolution rules cannot bridge."""


# Avro spec promotion lattice: a writer type may be read as itself or as any
# listed promotion target.  Anything else is a resolution ERROR — decoding
# the writer type regardless (the pre-r5 behavior) silently hands the caller
# wrongly-typed data instead of failing.
_PROMOTIONS = {
    "null": {"null"},
    "boolean": {"boolean"},
    "int": {"int", "long", "float", "double"},
    "long": {"long", "float", "double"},
    "float": {"float", "double"},
    "double": {"double"},
    "string": {"string", "bytes"},
    "bytes": {"bytes", "string"},
}


def _check_resolution(wt: str, rt: str) -> None:
    if wt in _PROMOTIONS:
        if rt not in _PROMOTIONS[wt]:
            raise SchemaResolutionError(
                f"cannot resolve writer type {wt!r} with reader type {rt!r}"
            )
    elif rt != wt:  # complex types must match kind-for-kind
        raise SchemaResolutionError(
            f"cannot resolve writer type {wt!r} with reader type {rt!r}"
        )


def decode(writer: Any, data: bytes | io.BytesIO, reader: Any | None = None) -> Any:
    buf = io.BytesIO(data) if isinstance(data, (bytes, bytearray)) else data
    return _decode(writer, buf, reader if reader is not None else writer)


def _decode(writer: Any, buf: io.BytesIO, reader: Any) -> Any:
    wt, rt = schema_type(writer), schema_type(reader)
    # union resolution first (writer union: read index then resolve branch)
    if wt == "union":
        idx = _read_long(buf)
        branch = writer[idx]
        if rt == "union":
            return _decode(branch, buf, _match_union_branch(reader, branch))
        return _decode(branch, buf, reader)
    if rt == "union" and wt != "union":
        return _decode(writer, buf, _match_union_branch(reader, writer))

    _check_resolution(wt, rt)
    if wt == "null":
        return None
    if wt == "boolean":
        return buf.read(1) == b"\x01"
    if wt == "int" or wt == "long":
        v = _read_long(buf)
        if rt == "float":
            return float(struct.unpack("<f", struct.pack("<f", v))[0])
        if rt == "double":
            return float(v)
        return v
    if wt == "float":
        v = struct.unpack("<f", buf.read(4))[0]
        return v
    if wt == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if wt == "bytes":
        raw = buf.read(_read_long(buf))
        return raw.decode("utf-8") if rt == "string" else raw
    if wt == "string":
        raw = buf.read(_read_long(buf))
        return raw if rt == "bytes" else raw.decode("utf-8")
    if wt == "fixed":
        return buf.read(writer["size"])
    if wt == "enum":
        return writer["symbols"][_read_long(buf)]
    if wt == "array":
        out = []
        while True:
            n = _read_long(buf)
            if n == 0:
                break
            if n < 0:  # block with byte-size prefix
                n = -n
                _read_long(buf)
            r_items = reader["items"] if rt == "array" else writer["items"]
            for _ in range(n):
                out.append(_decode(writer["items"], buf, r_items))
        return out
    if wt == "map":
        out = {}
        while True:
            n = _read_long(buf)
            if n == 0:
                break
            if n < 0:
                n = -n
                _read_long(buf)
            r_vals = reader["values"] if rt == "map" else writer["values"]
            for _ in range(n):
                k = _decode("string", buf, "string")
                out[k] = _decode(writer["values"], buf, r_vals)
        return out
    if wt == "record":
        r_fields = (
            {f["name"]: f for f in reader["fields"]} if rt == "record" else {}
        )
        out = {}
        for f in writer["fields"]:
            rf = r_fields.get(f["name"])
            v = _decode(f["type"], buf, rf["type"] if rf else f["type"])
            if rf is not None or rt != "record":
                out[f["name"]] = v
        if rt == "record":  # reader-only fields get defaults
            for name, rf in r_fields.items():
                if name not in out:
                    if "default" not in rf:
                        raise ValueError(f"reader field {name} missing with no default")
                    out[name] = rf["default"]
        return out
    raise ValueError(f"unsupported writer type {wt!r}")


def _match_union_branch(union: list, writer_branch: Any) -> Any:
    wt = schema_type(parse_schema(writer_branch))
    wname = canonical_name(parse_schema(writer_branch))
    allowed = _PROMOTIONS.get(wt, {wt})
    for branch in union:
        b = parse_schema(branch)
        if schema_type(b) in allowed and (
            wname is None or canonical_name(b) in (None, wname)
        ):
            return b
    raise SchemaResolutionError(f"no reader union branch for writer {wt}")


# ---------------------------------------------------------------------------
# compatibility (registry's check; schematizer.py:1191-1219 semantics)
# ---------------------------------------------------------------------------


def can_read(writer: Any, reader: Any) -> bool:
    """True if data written with ``writer`` is readable with ``reader``
    under Avro resolution rules (the subset above)."""
    writer, reader = parse_schema(writer), parse_schema(reader)
    wt, rt = schema_type(writer), schema_type(reader)
    promotions = {
        "int": {"int", "long", "float", "double"},
        "long": {"long", "float", "double"},
        "float": {"float", "double"},
        "string": {"string", "bytes"},
        "bytes": {"bytes", "string"},
    }
    if wt == "union":
        return all(can_read(b, reader) for b in writer)
    if rt == "union":
        return any(_try(lambda b=b: can_read(writer, b)) for b in reader)
    if wt in PRIMITIVES or rt in PRIMITIVES:
        return rt in promotions.get(wt, {wt})
    if wt != rt:
        return False
    if wt == "record":
        w_fields = {f["name"]: f for f in writer["fields"]}
        for rf in reader["fields"]:
            wf = w_fields.get(rf["name"])
            if wf is None:
                if "default" not in rf:
                    return False
            elif not can_read(wf["type"], rf["type"]):
                return False
        return True
    if wt == "enum":
        return set(writer["symbols"]) <= set(reader["symbols"])
    if wt == "fixed":
        return writer["size"] == reader["size"]
    if wt == "array":
        return can_read(writer["items"], reader["items"])
    if wt == "map":
        return can_read(writer["values"], reader["values"])
    return False


def fully_compatible(a: Any, b: Any) -> bool:
    """Registry compatibility: both directions readable (schematizer's
    topic-reuse criterion — a breaking change forces a new topic)."""
    return can_read(a, b) and can_read(b, a)


def _try(fn) -> bool:
    try:
        return fn()
    except Exception:
        return False


# ---------------------------------------------------------------------------
# compiled codecs — the hot path
#
# The generic encode/decode above walk the schema per value; the compiled
# variants specialize the walk into nested closures once per schema (the
# reference memoizes Avro writer/reader objects the same way,
# helpers/yelp_avro_store.py:26-84).  Records compile to POSITIONAL
# encoders: fn(out, (v0, v1, ...)) in field order — no per-row dicts.
# ---------------------------------------------------------------------------


def compile_encoder(schema: Any):
    """schema -> fn(out: bytearray, value) appending Avro binary."""
    schema = parse_schema(schema)
    t = schema_type(schema)
    if t == "null":
        return lambda out, v: None
    if t == "boolean":
        return lambda out, v: out.append(1 if v else 0)
    if t in ("int", "long"):

        def enc_long(out, v):
            n = (int(v) << 1) ^ (int(v) >> 63)
            while n & ~0x7F:
                out.append((n & 0x7F) | 0x80)
                n >>= 7
            out.append(n)

        return enc_long
    if t == "float":
        pack_f = struct.Struct("<f").pack
        return lambda out, v: out.extend(pack_f(v))
    if t == "double":
        pack_d = struct.Struct("<d").pack
        return lambda out, v: out.extend(pack_d(v))
    if t in ("bytes", "string"):

        def enc_bytes(out, v):
            data = v.encode("utf-8") if isinstance(v, str) else bytes(v)
            n = len(data) << 1  # zigzag of non-negative
            while n & ~0x7F:
                out.append((n & 0x7F) | 0x80)
                n >>= 7
            out.append(n)
            out.extend(data)

        return enc_bytes
    if t == "fixed":
        size = schema["size"]

        def enc_fixed(out, v):
            if len(v) != size:
                raise ValueError(f"fixed size mismatch: {len(v)} != {size}")
            out.extend(v)

        return enc_fixed
    if t == "enum":
        index = {s: i for i, s in enumerate(schema["symbols"])}
        enc_i = compile_encoder("int")
        return lambda out, v: enc_i(out, index[v])
    if t == "array":
        enc_item = compile_encoder(schema["items"])
        enc_n = compile_encoder("long")

        def enc_arr(out, v):
            if v:
                enc_n(out, len(v))
                for item in v:
                    enc_item(out, item)
            out.append(0)

        return enc_arr
    if t == "map":
        enc_val = compile_encoder(schema["values"])
        enc_s = compile_encoder("string")
        enc_n = compile_encoder("long")

        def enc_map(out, v):
            if v:
                enc_n(out, len(v))
                for k, val in v.items():
                    enc_s(out, k)
                    enc_val(out, val)
            out.append(0)

        return enc_map
    if t == "union":
        # fast path for the ubiquitous ["null", X] optional
        if len(schema) == 2 and schema_type(parse_schema(schema[0])) == "null":
            enc_x = compile_encoder(schema[1])

            def enc_opt(out, v):
                if v is None:
                    out.append(0)
                else:
                    out.append(2)  # zigzag(1)
                    enc_x(out, v)

            return enc_opt
        generic = schema

        def enc_union(out, v):
            idx = _union_index(generic, v)
            compile_encoder("int")(out, idx)
            encode(generic[idx], v, _BytesShim(out))

        return enc_union
    if t == "record":
        encoders = [compile_encoder(f["type"]) for f in schema["fields"]]

        def enc_rec(out, values):
            for enc, v in zip(encoders, values):
                enc(out, v)

        return enc_rec
    raise ValueError(f"unsupported schema type {t!r}")


class _BytesShim:
    """io-like shim so the generic encoder can write into a bytearray."""

    def __init__(self, buf: bytearray):
        self.buf = buf

    def write(self, data: bytes) -> None:
        self.buf.extend(data)


def compile_decoder(writer: Any, reader: Any | None = None):
    """(writer, reader) -> fn(memoryview, pos) -> (value, new_pos).

    Records decode to POSITIONAL tuples in reader field order.  Supports the
    same resolution subset as the generic decoder (defaults, promotions,
    skipped writer fields, optional unions).
    """
    writer = parse_schema(writer)
    reader = parse_schema(reader) if reader is not None else writer
    wt, rt = schema_type(writer), schema_type(reader)

    if wt == "union":
        # A reader that cannot resolve SOME branch is still valid as long as
        # the data never uses that branch (Avro resolution is per-datum), so
        # compile the mismatch into a decode-time error, not a compile-time
        # one.
        branch_decoders = []
        for b in writer:
            try:
                branch_decoders.append(compile_decoder(b, reader))
            except SchemaResolutionError as exc:

                def dec_bad(mv, pos, _exc=exc):
                    raise _exc

                branch_decoders.append(dec_bad)

        def dec_union(mv, pos):
            idx, pos = _read_long_mv(mv, pos)
            return branch_decoders[idx](mv, pos)

        return dec_union
    if rt == "union" and wt != "union":
        return compile_decoder(writer, _match_union_branch(reader, writer))

    _check_resolution(wt, rt)
    if wt == "null":
        return lambda mv, pos: (None, pos)
    if wt == "boolean":
        return lambda mv, pos: (mv[pos] == 1, pos + 1)
    if wt in ("int", "long"):
        if rt == "float":
            # float32 precision, matching the interpreted _decode path:
            # ints above 2^24 must round identically on both decoders
            pack_f = struct.Struct("<f").pack
            unpack_f = struct.Struct("<f").unpack

            def dec_long_f(mv, pos):
                v, pos = _read_long_mv(mv, pos)
                return unpack_f(pack_f(v))[0], pos

            return dec_long_f
        if rt == "double":
            def dec_long_d(mv, pos):
                v, pos = _read_long_mv(mv, pos)
                return float(v), pos
            return dec_long_d
        return _read_long_mv
    if wt == "float":
        unpack_f = struct.Struct("<f").unpack_from
        return lambda mv, pos: (unpack_f(mv, pos)[0], pos + 4)
    if wt == "double":
        unpack_d = struct.Struct("<d").unpack_from
        return lambda mv, pos: (unpack_d(mv, pos)[0], pos + 8)
    if wt == "bytes":
        as_str = rt == "string"

        def dec_bytes(mv, pos):
            n, pos = _read_long_mv(mv, pos)
            raw = bytes(mv[pos : pos + n])
            return (raw.decode("utf-8") if as_str else raw), pos + n

        return dec_bytes
    if wt == "string":
        as_bytes = rt == "bytes"

        def dec_str(mv, pos):
            n, pos = _read_long_mv(mv, pos)
            raw = bytes(mv[pos : pos + n])
            return (raw if as_bytes else raw.decode("utf-8")), pos + n

        return dec_str
    if wt == "fixed":
        size = writer["size"]
        return lambda mv, pos: (bytes(mv[pos : pos + size]), pos + size)
    if wt == "enum":
        symbols = writer["symbols"]

        def dec_enum(mv, pos):
            i, pos = _read_long_mv(mv, pos)
            return symbols[i], pos

        return dec_enum
    if wt == "array":
        dec_item = compile_decoder(
            writer["items"], reader["items"] if rt == "array" else None
        )

        def dec_arr(mv, pos):
            out = []
            while True:
                n, pos = _read_long_mv(mv, pos)
                if n == 0:
                    return out, pos
                if n < 0:
                    n = -n
                    _, pos = _read_long_mv(mv, pos)
                for _ in range(n):
                    v, pos = dec_item(mv, pos)
                    out.append(v)

        return dec_arr
    if wt == "map":
        dec_val = compile_decoder(
            writer["values"], reader["values"] if rt == "map" else None
        )
        dec_key = compile_decoder("string")

        def dec_map(mv, pos):
            out = {}
            while True:
                n, pos = _read_long_mv(mv, pos)
                if n == 0:
                    return out, pos
                if n < 0:
                    n = -n
                    _, pos = _read_long_mv(mv, pos)
                for _ in range(n):
                    k, pos = dec_key(mv, pos)
                    v, pos = dec_val(mv, pos)
                    out[k] = v

        return dec_map
    if wt == "record":
        r_fields = reader["fields"] if rt == "record" else writer["fields"]
        r_index = {f["name"]: i for i, f in enumerate(r_fields)}
        steps = []  # (decoder, target_slot or None=skip)
        for f in writer["fields"]:
            slot = r_index.get(f["name"])
            rf_type = r_fields[slot]["type"] if slot is not None else f["type"]
            steps.append((compile_decoder(f["type"], rf_type), slot))
        defaults = []
        w_names = {f["name"] for f in writer["fields"]}
        for i, rf in enumerate(r_fields):
            if rf["name"] not in w_names:
                if "default" not in rf:
                    raise ValueError(f"reader field {rf['name']} missing, no default")
                defaults.append((i, rf["default"]))
        n_slots = len(r_fields)

        def dec_rec(mv, pos):
            row = [None] * n_slots
            for dec, slot in steps:
                v, pos = dec(mv, pos)
                if slot is not None:
                    row[slot] = v
            for i, d in defaults:
                row[i] = d
            return tuple(row), pos

        return dec_rec
    raise ValueError(f"unsupported writer type {wt!r}")


def _read_long_mv(mv, pos: int):
    shift = 0
    acc = 0
    while True:
        byte = mv[pos]
        pos += 1
        acc |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


# ---------------------------------------------------------------------------
# Avro schema -> Spark StructType (for decode-to-columns)
# ---------------------------------------------------------------------------


def to_spark_type(schema: Any):
    from pyspark.sql import types as T

    schema = parse_schema(schema)
    t = schema_type(schema)
    simple = {
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "bytes": T.BinaryType(),
        "string": T.StringType(),
        "null": T.NullType(),
    }
    if t in simple:
        return simple[t]
    if t == "fixed":
        return T.BinaryType()
    if t == "enum":
        return T.StringType()
    if t == "array":
        return T.ArrayType(to_spark_type(schema["items"]))
    if t == "map":
        return T.MapType(T.StringType(), to_spark_type(schema["values"]))
    if t == "union":
        non_null = [b for b in schema if schema_type(parse_schema(b)) != "null"]
        if len(non_null) == 1:
            return to_spark_type(non_null[0])
        return T.StringType()  # heterogeneous unions surface as JSON strings
    if t == "record":
        return T.StructType(
            [
                T.StructField(f["name"], to_spark_type(f["type"]), nullable=True)
                for f in schema["fields"]
            ]
        )
    raise ValueError(f"unsupported avro type {t!r}")
