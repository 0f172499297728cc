"""The versioned wire envelope as Spark transforms.

Re-expresses data_pipeline/schemas/envelope_v1.avsc:1-94 and
data_pipeline/envelope.py:73-121: every payload on the wire is an Avro
record {uuid fixed(16), message_type enum, schema_id int, payload bytes,
previous_payload union, meta union, encryption_type union, timestamp int},
prefixed with magic byte b'\\x00' (or 'a' + urlsafe-base64 for ASCII
transports, envelope.py:53,98-99,117-119).

The wire runs as Arrow-batched pandas UDFs over the pure-Python codec
(avro_codec) — the only Python in the engine's row path, and only at the
wire boundary.  Two paths per direction, chosen by the input:

- fused (the common case): ``encode_pack_udf`` / ``unpack_decode_udf``
  do payload codec + envelope codec in one Arrow crossing, with the
  vectorized ``wire_np`` kernels inside and the compiled per-row codec as
  their reference and fallback;
- layered: ``encode_payload_udf`` + ``pack`` / ``unpack`` + a payload
  decode, needed only when encryption or meta attributes sit between the
  payload and the envelope (the AES step runs in the JVM).

Everything before pack / after unpack is columnar.
"""

from __future__ import annotations

import base64
import functools
from typing import Any

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from data_pipeline_spark import avro_codec

# envelope_v1.avsc re-stated (public schema, reference schemas/ dir)
ENVELOPE_SCHEMA: dict[str, Any] = {
    "type": "record",
    "namespace": "data_pipeline_spark",
    "name": "Envelope",
    "fields": [
        {"name": "uuid", "type": {"type": "fixed", "name": "UUID", "size": 16}},
        {
            "name": "message_type",
            "type": {
                "type": "enum",
                "name": "MessageType",
                "symbols": [
                    "create",
                    "update",
                    "delete",
                    "refresh",
                    "heartbeat",
                    "monitor",
                    "registration",
                    "log",
                ],
            },
        },
        {"name": "schema_id", "type": "int"},
        {"name": "payload", "type": "bytes"},
        {"name": "previous_payload", "type": ["null", "bytes"], "default": None},
        {
            "name": "meta",
            "type": [
                "null",
                {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "MetaAttribute",
                        "fields": [
                            {"name": "schema_id", "type": "int"},
                            {"name": "payload", "type": "bytes"},
                        ],
                    },
                },
            ],
            "default": None,
        },
        {"name": "encryption_type", "type": ["null", "string"], "default": None},
        {"name": "timestamp", "type": "int"},
    ],
}

MAGIC_BINARY = b"\x00"
MAGIC_ASCII = b"a"

# MetaAttribute array as a Spark type (E4's IV, D5's meta ops ride here)
META_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("schema_id", T.IntegerType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
)
META_TYPE_DDL = "array<struct<schema_id:int,payload:binary>>"

# Spark-side envelope struct (pre-pack / post-unpack representation)
ENVELOPE_STRUCT = T.StructType(
    [
        T.StructField("uuid", T.BinaryType()),
        T.StructField("message_type", T.StringType()),
        T.StructField("schema_id", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("previous_payload", T.BinaryType()),
        T.StructField("meta", META_TYPE),
        T.StructField("encryption_type", T.StringType()),
        T.StructField("timestamp", T.IntegerType()),
    ]
)


# compiled envelope codecs, built lazily once per Python worker (the
# reference memoizes Avro writers the same way, yelp_avro_store.py:26-84)
@functools.cache
def _env_encoder():
    return avro_codec.compile_encoder(ENVELOPE_SCHEMA)


@functools.cache
def _env_decoder():
    return avro_codec.compile_decoder(ENVELOPE_SCHEMA)


# payload codecs for every wire UDF, memoized per Python worker and keyed
# by schema JSON (compiling them per Arrow batch was repeated cost on the
# hot path)
@functools.lru_cache(maxsize=256)
def _payload_encoder(schema_json: str):
    return avro_codec.compile_encoder(avro_codec.parse_schema(schema_json))


@functools.lru_cache(maxsize=256)
def _payload_decoder(writer_json: str, reader_json: str):
    return avro_codec.compile_decoder(
        avro_codec.parse_schema(writer_json),
        avro_codec.parse_schema(reader_json),
    )


def _meta_to_tuples(meta) -> list | None:
    """Arrow struct rows (dicts) -> positional tuples for the compiled
    encoder; None passes through (encoded as the null union branch)."""
    if meta is None:
        return None
    out = []
    for m in meta:
        if isinstance(m, dict):
            out.append((int(m["schema_id"]), bytes(m["payload"])))
        else:  # already positional (Row/tuple)
            out.append((int(m[0]), bytes(m[1])))
    return out


@pandas_udf(T.BinaryType())
def pack(env: pd.DataFrame) -> pd.Series:
    """Envelope struct column -> wire bytes (magic byte + Avro binary)."""
    enc = _env_encoder()
    out = []
    # meta is optional in caller-built structs (pre-r5 producers omit it)
    metas = (
        env["meta"].tolist() if "meta" in env.columns else [None] * len(env)
    )
    # .tolist() first: iterating python lists is ~2x faster than iterating
    # pandas Series element-wise in this hot loop
    for uuid_v, mtype, sid, payload, prev, meta, enc_type, ts in zip(
        env["uuid"].tolist(),
        env["message_type"].tolist(),
        env["schema_id"].tolist(),
        env["payload"].tolist(),
        env["previous_payload"].tolist(),
        metas,
        env["encryption_type"].tolist(),
        env["timestamp"].tolist(),
    ):
        buf = bytearray(MAGIC_BINARY)
        enc(
            buf,
            (
                bytes(uuid_v),
                mtype,
                int(sid),
                bytes(payload),
                None if prev is None else bytes(prev),
                _meta_to_tuples(meta),
                enc_type,
                int(ts),
            ),
        )
        out.append(bytes(buf))
    return pd.Series(out, dtype=object)


def _meta_to_dicts(meta) -> list | None:
    """Decoded positional MetaAttribute tuples -> dicts for Arrow's
    struct conversion on the pandas-UDF return path."""
    if meta is None:
        return None
    return [{"schema_id": m[0], "payload": m[1]} for m in meta]


def _envelope_body(blob) -> memoryview:
    """Wire bytes -> Avro envelope body: strips the magic byte and
    base64-decodes ASCII-transport messages."""
    mv = memoryview(bytes(blob))
    magic = bytes(mv[:1])
    if magic == MAGIC_BINARY:
        return mv[1:]
    if magic == MAGIC_ASCII:
        return memoryview(base64.urlsafe_b64decode(bytes(mv[1:])))
    raise ValueError(f"unknown envelope magic byte {magic!r}")


def _unpack_udf(mode: str):
    """Wire bytes -> envelope struct UDF.  FAILFAST raises on corrupt
    bytes; PERMISSIVE turns them into an all-null envelope row instead
    (callers filter `schema_id IS NULL` to quarantine corrupt records)."""
    permissive = mode == "PERMISSIVE"
    names = ENVELOPE_STRUCT.fieldNames()

    @pandas_udf(ENVELOPE_STRUCT)
    def unpack_rows(blob: pd.Series) -> pd.DataFrame:
        dec = _env_decoder()
        rows = []
        for b in blob:
            try:
                (u, mt, sid, pl, prev, m, et, ts), _ = dec(_envelope_body(b), 0)
                rows.append((u, mt, sid, pl, prev, _meta_to_dicts(m), et, ts))
            except Exception:
                if not permissive:
                    raise
                rows.append((None,) * len(names))
        return pd.DataFrame(rows, columns=names)

    return unpack_rows


def unpack(wire: Column, mode: str = "FAILFAST") -> Column:
    """Wire bytes -> envelope struct column.  mode='PERMISSIVE' turns
    corrupt records into all-null rows instead of failing the task."""
    return _unpack_udf(mode)(wire)


def payload_decoders(writers: dict[int, str], reader_json: str) -> dict:
    """schema_id -> compiled (writer -> reader) payload decoder, taken from
    the worker-memoized cache."""
    return {sid: _payload_decoder(w, reader_json) for sid, w in writers.items()}


def payload_decoder_for(decoders: dict, schema_id: int, topic: str):
    """The compiled payload decoder for a message's schema_id; an id the
    topic never registered means the registry and stream are out of sync."""
    dec = decoders.get(int(schema_id))
    if dec is None:
        raise KeyError(
            f"message carries schema_id {int(schema_id)} but topic "
            f"{topic!r} has only {sorted(decoders)} registered — "
            "registry out of sync with the stream"
        )
    return dec


# ---------------------------------------------------------------------------
# Fused wire paths: encode+pack / unpack+decode in ONE pandas UDF each.  The
# layered shape (payload codec UDF, then envelope codec UDF) crosses the
# Arrow boundary twice per direction — the payload bytes ship
# JVM->Python->JVM for the payload codec and again inside the envelope
# struct for the envelope codec.  Fusing halves the crossings on the hot
# path.  Scope: the COMMON case only (no encryption, no meta attributes) —
# encryption sits between encode and pack as a JVM aes_encrypt, so those
# topics keep the layered path.  Wire bytes are identical (same compiled
# codecs), asserted by parity tests.
# ---------------------------------------------------------------------------


def encode_pack_udf(payload_schema_json: str, message_type: str, schema_id: int):
    """(typed struct, uuid bytes, previous bytes, ts) -> wire bytes in one
    Arrow crossing.  Bit-identical to encode_payload_udf + pack.

    Flat-primitive payload schemas take the VECTORIZED batch kernel
    (wire_np.encode_pack_batch — whole-batch numpy zigzag/varint/scatter
    instead of ~40 interpreted ops per row; byte parity pinned by
    tests/test_wire_np.py); anything outside its scope (non-null
    previous_payload, null fields, non-flat schemas) falls back to the
    compiled per-row codec below, which remains the semantics of record.
    """
    from data_pipeline_spark import wire_np

    schema = avro_codec.parse_schema(payload_schema_json)
    field_names = [f["name"] for f in schema["fields"]]
    fast_fields = wire_np.flat_field_types(schema)
    mt_symbols = ENVELOPE_SCHEMA["fields"][1]["type"]["symbols"]
    mt_bytes = wire_np._const_varint(mt_symbols.index(message_type))
    sid_bytes = wire_np._const_varint(int(schema_id))

    @pandas_udf(T.BinaryType())
    def fused(
        data: pd.DataFrame, uuid_s: pd.Series, prev: pd.Series, ts: pd.Series
    ) -> pd.Series:
        if fast_fields is not None:
            res = wire_np.encode_pack_batch(
                data, uuid_s, prev, ts, fast_fields,
                mt_bytes, sid_bytes, MAGIC_BINARY,
            )
            if res is not None:
                return res
        rec = _payload_encoder(payload_schema_json)  # worker-memoized
        env_enc = _env_encoder()
        out = []
        cols = [data[n].tolist() for n in field_names]
        for values, u, pv, t in zip(
            zip(*cols), uuid_s.tolist(), prev.tolist(), ts.tolist()
        ):
            pbuf = bytearray()
            rec(pbuf, [v.item() if hasattr(v, "item") else v for v in values])
            buf = bytearray(MAGIC_BINARY)
            env_enc(
                buf,
                (
                    bytes(u),
                    message_type,
                    schema_id,
                    bytes(pbuf),
                    None if pv is None else bytes(pv),
                    None,
                    None,
                    int(t),
                ),
            )
            out.append(bytes(buf))
        return pd.Series(out, dtype=object)

    return fused


def unpack_decode_udf(writers: dict[int, str], reader_schema_json: str, topic: str):
    """wire bytes -> (envelope scalars + decoded payload FIELDS, flat) in
    one Arrow crossing, with per-message writer-schema dispatch.

    Payload fields come back flattened as ``p_<name>`` columns — Arrow
    converts flat scalar columns ~15% faster than a per-row nested dict
    struct, and the caller rebuilds the payload struct JVM-side for free
    (Consumer._decode_fused).  Returns (udf, payload field names).
    """
    from data_pipeline_spark import wire_np

    reader_parsed = avro_codec.parse_schema(reader_schema_json)
    payload_type = avro_codec.to_spark_type(reader_parsed)
    reader_names = [f["name"] for f in reader_parsed["fields"]]
    out_type = T.StructType(
        [
            T.StructField("uuid", T.BinaryType()),
            T.StructField("message_type", T.StringType()),
            T.StructField("schema_id", T.IntegerType()),
            T.StructField("timestamp", T.IntegerType()),
            *[
                T.StructField(f"p_{f.name}", f.dataType)
                for f in payload_type.fields
            ],
        ]
    )
    # schema ids eligible for the vectorized batch decoder: the writer
    # must be IDENTICAL to the reader (no resolution/defaults) and flat
    # primitive; everything else stays on the compiled per-row path
    _reader_flat = wire_np.flat_field_types(reader_parsed)
    fast_sids = (
        {
            sid: _reader_flat
            for sid, wjson in writers.items()
            if avro_codec.parse_schema(wjson) == reader_parsed
        }
        if _reader_flat is not None
        else {}
    )
    mt_symbols = ENVELOPE_SCHEMA["fields"][1]["type"]["symbols"]

    @pandas_udf(out_type)
    def fused(blob: pd.Series) -> pd.DataFrame:
        if fast_sids:
            res = wire_np.unpack_decode_batch(
                blob, fast_sids, mt_symbols, reader_names, MAGIC_BINARY
            )
            if res is not None:
                return res
        env_dec = _env_decoder()
        decoders = payload_decoders(writers, reader_schema_json)
        names = ["uuid", "message_type", "schema_id", "timestamp"] + [
            f"p_{n}" for n in reader_names
        ]
        cols: dict[str, list] = {n: [] for n in names}
        for b in blob:
            (u, mt, sid, payload, _prev, _meta, et, ts), _ = env_dec(
                _envelope_body(b), 0
            )
            if et is not None:
                raise ValueError(
                    f"topic {topic!r} carries encrypted payloads ({et}); "
                    "pass crypto_keys to Consumer.messages"
                )
            dec = payload_decoder_for(decoders, sid, topic)
            values, _ = dec(memoryview(bytes(payload)), 0)
            cols["uuid"].append(u)
            cols["message_type"].append(mt)
            cols["schema_id"].append(sid)
            cols["timestamp"].append(ts)
            for n, v in zip(reader_names, values):
                cols[f"p_{n}"].append(v)
        return pd.DataFrame(cols, columns=names)

    return fused, reader_names


def generate_uuid() -> Column:
    """16 random bytes per row — the engine analogue of FastUUID
    (_fast_uuid.py): Spark's codegen uuid() is already JVM-fast; we convert
    its hex to the envelope's fixed(16) bytes."""
    return F.unhex(F.regexp_replace(F.expr("uuid()"), "-", ""))


def encode_payload_udf(schema_json: str):
    """Returns a pandas UDF encoding a struct column to Avro bytes with the
    given schema (the _AvroPayload write path, _avro_payload.py:86-100)."""
    schema = avro_codec.parse_schema(schema_json)
    field_names = [f["name"] for f in schema["fields"]]

    @pandas_udf(T.BinaryType())
    def enc(data: pd.DataFrame) -> pd.Series:
        # positional compiled encoder: the struct column MUST be built in
        # schema field order (producer.prepare does)
        rec = _payload_encoder(schema_json)
        out = []
        for values in zip(*[data[n] for n in field_names]):
            buf = bytearray()
            rec(buf, [v.item() if hasattr(v, "item") else v for v in values])
            out.append(bytes(buf))
        return pd.Series(out, dtype=object)

    return enc


def decode_payload_udf(writer_schema_json: str, reader_schema_json: str | None = None):
    """Returns a pandas UDF decoding Avro bytes to a struct column, with
    optional reader-schema resolution (reader_schema_id semantics,
    _avro_payload.py:59-63, consumer.py:226-233)."""
    if reader_schema_json is None:
        reader_schema_json = writer_schema_json
    reader = avro_codec.parse_schema(reader_schema_json)
    spark_type = avro_codec.to_spark_type(reader)
    reader_names = [f["name"] for f in reader["fields"]]

    @pandas_udf(spark_type)
    def dec(blob: pd.Series) -> pd.DataFrame:
        rec = _payload_decoder(writer_schema_json, reader_schema_json)
        rows = [rec(memoryview(bytes(b)), 0)[0] for b in blob]
        return pd.DataFrame(rows, columns=reader_names)

    return dec

