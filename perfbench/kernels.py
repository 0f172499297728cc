"""Wire-kernel measurement: the vectorized ``wire_np`` batch kernels against
the compiled per-row ``avro_codec`` path, timed in the driver on pandas
batches of a workload.

A fast-path ratio is batches the kernel accepted over batches offered.
Every batch is offered; one whose schema is not flat, whose writer schema
differs from the reader's, or that carries previous payloads is refused,
as the fused wire UDFs would refuse it.  A kernel's rows per second count
the batches it accepted (0 when it accepted none).  Accepted encodes are
checked byte for byte against the row codec.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

from data_pipeline_spark import avro_codec, wire_np
from data_pipeline_spark.envelope import ENVELOPE_SCHEMA, MAGIC_BINARY

_MT_SYMBOLS = ENVELOPE_SCHEMA["fields"][1]["type"]["symbols"]


@dataclass
class Batch:
    rows: pd.DataFrame
    schema_json: str
    schema_id: int
    message_type: str
    previous: pd.DataFrame | None = None


def _plain(values) -> list:
    return [v.item() if hasattr(v, "item") else v for v in values]


def _inputs(batch: Batch, seed: int):
    n = len(batch.rows)
    rng = np.random.default_rng([seed, 9, n])
    uuids = pd.Series([rng.bytes(16) for _ in range(n)], dtype=object)
    if batch.previous is None:
        prev = pd.Series([None] * n, dtype=object)
    else:
        enc = avro_codec.compile_encoder(avro_codec.parse_schema(batch.schema_json))
        out = []
        for values in batch.previous.itertuples(index=False, name=None):
            buf = bytearray()
            enc(buf, _plain(values))
            out.append(bytes(buf))
        prev = pd.Series(out, dtype=object)
    return uuids, prev, batch.rows["event_ts"].astype(np.int64)


def _row_encode(batch: Batch, uuids, prev, ts) -> list[bytes]:
    """The per-row reference path: compiled payload encoder + envelope."""
    rec = avro_codec.compile_encoder(avro_codec.parse_schema(batch.schema_json))
    env_enc = avro_codec.compile_encoder(ENVELOPE_SCHEMA)
    out = []
    for values, u, pv, t in zip(
        batch.rows.itertuples(index=False, name=None), uuids, prev, ts.tolist()
    ):
        pbuf = bytearray()
        rec(pbuf, _plain(values))
        buf = bytearray(MAGIC_BINARY)
        env_enc(buf, (u, batch.message_type, batch.schema_id, bytes(pbuf), pv, None, None, t))
        out.append(bytes(buf))
    return out


def _row_decode(blob: pd.Series, writers: dict[int, str], reader: str) -> None:
    env_dec = avro_codec.compile_decoder(ENVELOPE_SCHEMA)
    rparsed = avro_codec.parse_schema(reader)
    decs = {
        sid: avro_codec.compile_decoder(avro_codec.parse_schema(w), rparsed)
        for sid, w in writers.items()
    }
    for b in blob:
        (_u, _mt, sid, payload, *_rest), _ = env_dec(memoryview(bytes(b))[1:], 0)
        decs[int(sid)](memoryview(bytes(payload)), 0)


def _rate(rows: int, secs: float) -> float:
    return rows / secs if secs else 0.0


def measure(
    batches: list[Batch],
    blobs: list[pd.Series] | None,
    writers: dict[int, str],
    reader: str,
    seed: int,
) -> dict[str, float]:
    """Encode ``batches`` with both paths, then decode ``blobs`` (or, when
    None, the row codec's encoding of ``batches``) with both paths."""
    enc_ok = enc_rows = row_rows = 0
    enc_s = row_enc_s = 0.0
    encoded = []
    for batch in batches:
        uuids, prev, ts = _inputs(batch, seed)
        fields = wire_np.flat_field_types(avro_codec.parse_schema(batch.schema_json))
        t0 = time.perf_counter()
        res = None
        if fields is not None:
            res = wire_np.encode_pack_batch(
                batch.rows, uuids, prev, ts, fields,
                avro_codec.encode("int", _MT_SYMBOLS.index(batch.message_type)),
                avro_codec.encode("int", batch.schema_id), MAGIC_BINARY,
            )
        t1 = time.perf_counter()
        ref = _row_encode(batch, uuids, prev, ts)
        row_enc_s += time.perf_counter() - t1
        row_rows += len(ref)
        encoded.append(pd.Series(ref, dtype=object))
        if res is not None:
            if list(res) != ref:
                raise RuntimeError("wire_np encode differs from the row codec")
            enc_ok += 1
            enc_rows += len(ref)
            enc_s += t1 - t0

    rparsed = avro_codec.parse_schema(reader)
    reader_flat = wire_np.flat_field_types(rparsed)
    fast_sids = {
        sid: reader_flat
        for sid, w in writers.items()
        if reader_flat is not None and avro_codec.parse_schema(w) == rparsed
    }
    names = [f["name"] for f in rparsed["fields"]]
    dec_ok = dec_rows = row_dec_rows = 0
    dec_s = row_dec_s = 0.0
    blobs = encoded if blobs is None else blobs
    for blob in blobs:
        blob = blob.reset_index(drop=True)
        t0 = time.perf_counter()
        res = (
            wire_np.unpack_decode_batch(blob, fast_sids, _MT_SYMBOLS, names, MAGIC_BINARY)
            if fast_sids
            else None
        )
        t1 = time.perf_counter()
        _row_decode(blob, writers, reader)
        row_dec_s += time.perf_counter() - t1
        row_dec_rows += len(blob)
        if res is not None:
            dec_ok += 1
            dec_rows += len(blob)
            dec_s += t1 - t0

    return {
        "wire_np.encode_rows_per_s": _rate(enc_rows, enc_s),
        "wire_np.decode_rows_per_s": _rate(dec_rows, dec_s),
        "wire_np.encode_fastpath_ratio": enc_ok / max(1, len(batches)),
        "wire_np.decode_fastpath_ratio": dec_ok / max(1, len(blobs)),
        "avro_codec.encode_rows_per_s": _rate(row_rows, row_enc_s),
        "avro_codec.decode_rows_per_s": _rate(row_dec_rows, row_dec_s),
    }
