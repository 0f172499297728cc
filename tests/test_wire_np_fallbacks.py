"""Inputs outside the wire_np fast path's scope must make the batch kernels
return None, so the fused UDFs fall back to the compiled per-row codec and
produce its bytes or raise its error."""

from __future__ import annotations

import json

import pandas as pd
import pytest

from data_pipeline_spark import envelope as env
from data_pipeline_spark import wire_np
from tests.test_wire_np import (
    EVENT_SCHEMA,
    MT_SYMBOLS,
    _batch,
    _row_encode,
)

FIELDS = wire_np.flat_field_types(EVENT_SCHEMA)
NAMES = [f["name"] for f in EVENT_SCHEMA["fields"]]
SCHEMA_JSON = json.dumps(EVENT_SCHEMA)


def _encode_batch(data, uuids, prev, ts):
    return wire_np.encode_pack_batch(
        data, uuids, prev, ts, FIELDS,
        wire_np._const_varint(MT_SYMBOLS.index("create")),
        wire_np._const_varint(7),
        env.MAGIC_BINARY,
    )


def _fused_encode(data, uuids, prev, ts):
    return list(env.encode_pack_udf(SCHEMA_JSON, "create", 7).func(
        data, uuids, prev, ts
    ))


def test_invalid_utf8_string_falls_back_to_row_decoder_error():
    data, uuids, prev, ts = _batch()
    wire = _row_encode(data, uuids, prev, ts)
    # corrupt the first byte of the "end" string field to 0xff
    row = bytearray(wire[9])
    row[row.index(b"end")] = 0xFF
    wire[9] = bytes(row)
    blob = pd.Series(wire, dtype=object)

    assert (
        wire_np.unpack_decode_batch(
            blob, {7: FIELDS}, MT_SYMBOLS, NAMES, env.MAGIC_BINARY
        )
        is None
    )
    dec, _ = env.unpack_decode_udf({7: SCHEMA_JSON}, SCHEMA_JSON, "t")
    with pytest.raises(UnicodeDecodeError):
        dec.func(blob)


def test_extension_dtype_payload_column_falls_back_byte_identical():
    data, uuids, prev, ts = _batch()
    data["event_id"] = data["event_id"].astype("Int64")

    assert _encode_batch(data, uuids, prev, ts) is None
    assert _fused_encode(data, uuids, prev, ts) == _row_encode(
        data, uuids, prev, ts, sid=7
    )


def test_extension_dtype_timestamp_column_falls_back_byte_identical():
    data, uuids, prev, ts = _batch()
    ts = ts.astype("Int64")

    assert _encode_batch(data, uuids, prev, ts) is None
    assert _fused_encode(data, uuids, prev, ts) == _row_encode(
        data, uuids, prev, ts, sid=7
    )
