"""Vectorized (numpy/pyarrow) kernels for the COMMON Avro wire path.

The fused envelope UDFs (envelope.encode_pack_udf / unpack_decode_udf)
spend their task time in the per-row compiled codec: ~30-50 interpreted
Python ops per row for a 4-field payload (the r12/r13 profiles measured
envelope_roundtrip at ~23 executor-seconds for 100k rows — all of it the
row loop, guide §4.2's textbook case).  These kernels do the same
encoding with whole-batch numpy passes: zigzag and varint widths are
computed for every row at once, bytes land in ONE output buffer via
offset arithmetic, and strings move buffer-to-buffer with a gather (the
Arrow "re-slice, don't copy rows" property).

Scope — the hot, common case only, mirroring the fused UDFs' own scope:

- payload schema is a FLAT record of primitives (long/int/double/float/
  string/bytes/boolean), no unions/arrays/maps/nested records;
- envelope previous_payload / meta / encryption_type are all null;
- binary magic (no ASCII transport).

Everything else returns ``None`` and the caller falls back to the
compiled per-row codec, which stays the semantics of record.  BYTE
parity with that codec on the supported shapes is pinned by
tests/test_wire_np.py (zigzag extremes, NaN/inf/-0.0 doubles, unicode
and >127-byte strings, empty payloads); the end-to-end identity is
oracle-checked by envelope_roundtrip / topic_transport_roundtrip.
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pandas as pd

_FLAT_TYPES = {
    "long", "int", "double", "float", "string", "bytes", "boolean"
}


def flat_field_types(schema: Any) -> list[tuple[str, str]] | None:
    """[(name, primitive_type)] for a flat primitive record, else None."""
    if not isinstance(schema, dict) or schema.get("type") != "record":
        return None
    out = []
    for f in schema["fields"]:
        t = f["type"]
        if isinstance(t, dict):
            t = t.get("type")
        if not isinstance(t, str) or t not in _FLAT_TYPES:
            return None
        out.append((f["name"], t))
    return out


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------


def _is_int_dtype(dtype) -> bool:
    """numpy integer dtype; pandas extension dtypes (e.g. nullable
    Int64Dtype) are not numpy dtypes and stay on the row path."""
    return isinstance(dtype, np.dtype) and np.issubdtype(dtype, np.integer)


def _zigzag64(v: np.ndarray) -> np.ndarray:
    """int64 -> uint64 zigzag, exactly (v << 1) ^ (v >> 63)."""
    return (v.astype(np.uint64) << np.uint64(1)) ^ (
        (v >> np.int64(63)).astype(np.uint64)
    )


def _varint_len(z: np.ndarray) -> np.ndarray:
    """Byte count of the canonical unsigned-LEB128 encoding of uint64 z."""
    n = np.ones(len(z), dtype=np.int64)
    for k in range(1, 10):
        n += (z >= (np.uint64(1) << np.uint64(7 * k))).astype(np.int64)
    return n


def _write_varints(
    buf: np.ndarray, off: np.ndarray, z: np.ndarray, nlen: np.ndarray
) -> None:
    """Scatter the LEB128 bytes of each z[i] at buf[off[i]:off[i]+nlen[i]]."""
    for j in range(int(nlen.max()) if len(nlen) else 0):
        m = nlen > j
        b = ((z[m] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        b |= np.where(nlen[m] - 1 > j, np.uint8(0x80), np.uint8(0))
        buf[off[m] + j] = b


def _gather_spans(
    dst: np.ndarray,
    dst_off: np.ndarray,
    src: np.ndarray,
    src_off: np.ndarray,
    lens: np.ndarray,
) -> None:
    """dst[dst_off[i] : +lens[i]] = src[src_off[i] : +lens[i]] for all i,
    as ONE fancy-indexed assignment (the standard delta/cumsum trick)."""
    total = int(lens.sum())
    if total == 0:
        return
    nz = lens > 0
    d0, s0, ln = dst_off[nz], src_off[nz], lens[nz]
    step_d = np.ones(total, dtype=np.int64)
    step_s = np.ones(total, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(ln)[:-1]))
    step_d[starts] = d0 - np.concatenate(([0], d0[:-1] + ln[:-1] - 1))
    step_s[starts] = s0 - np.concatenate(([0], s0[:-1] + ln[:-1] - 1))
    dst[np.cumsum(step_d)] = src[np.cumsum(step_s)]


def _const_varint(v: int, bits: int = 64) -> bytes:
    n = (v << 1) ^ (v >> (bits - 1))
    out = bytearray()
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _binary_parts(
    col, as_string: bool
) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
    """(data buffer, per-row offsets, per-row lens) of a string/bytes
    object column via Arrow; None when any value is null/non-conforming
    (the caller's row path then reproduces the exact error/behavior)."""
    import pyarrow as pa

    try:
        arr = pa.array(
            col, type=pa.large_string() if as_string else pa.large_binary()
        )
    except (pa.ArrowInvalid, pa.ArrowTypeError, TypeError):
        return None
    if arr.null_count:
        return None
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int64)[
        arr.offset : arr.offset + len(arr) + 1
    ]
    data_buf = arr.buffers()[2]
    data = (
        np.frombuffer(data_buf, dtype=np.uint8)
        if data_buf is not None and len(data_buf)
        else np.zeros(0, dtype=np.uint8)
    )
    return data, offs[:-1].copy(), (offs[1:] - offs[:-1])


def encode_pack_batch(
    data: pd.DataFrame,
    uuid_s: pd.Series,
    prev: pd.Series,
    ts: pd.Series,
    field_types: list[tuple[str, str]],
    mt_bytes: bytes,
    sid_bytes: bytes,
    magic: bytes,
) -> pd.Series | None:
    """Whole-batch (payload encode + envelope pack) for the common case;
    None => caller must run the per-row path (nulls, non-null prev,
    unexpected dtypes).  Byte-identical to compile_encoder output."""
    n = len(uuid_s)
    if n == 0:
        return pd.Series([], dtype=object)
    if not prev.isna().all():
        return None

    # --- per-field byte plans -------------------------------------------
    plans = []  # (kind, payload...) in field order
    for name, t in field_types:
        col = data[name]
        if t in ("long", "int"):
            if not _is_int_dtype(col.dtype):
                return None
            z = _zigzag64(col.to_numpy().astype(np.int64, copy=False))
            ln = _varint_len(z)
            plans.append(("varint", z, ln))
        elif t == "double":
            if col.dtype != np.float64:
                return None
            raw = np.ascontiguousarray(
                col.to_numpy(), dtype="<f8"
            ).view(np.uint8).reshape(n, 8)
            plans.append(("fixedraw", raw, np.full(n, 8, dtype=np.int64)))
        elif t == "float":
            if col.dtype not in (np.float32, np.float64):
                return None
            raw = np.ascontiguousarray(
                col.to_numpy(), dtype="<f4"
            ).view(np.uint8).reshape(n, 4)
            plans.append(("fixedraw", raw, np.full(n, 4, dtype=np.int64)))
        elif t == "boolean":
            if col.dtype != np.bool_:
                return None
            raw = col.to_numpy().astype(np.uint8).reshape(n, 1)
            plans.append(("fixedraw", raw, np.full(n, 1, dtype=np.int64)))
        elif t in ("string", "bytes"):
            if col.dtype != object:
                return None
            parts = _binary_parts(col, as_string=(t == "string"))
            if parts is None:
                return None
            src, soff, slen = parts
            z = slen.astype(np.uint64) << np.uint64(1)  # zigzag(len>=0)
            ln = _varint_len(z)
            plans.append(("blob", (z, ln, src, soff, slen)))
        else:  # pragma: no cover - flat_field_types gates this
            return None

    # --- uuid / timestamp columns ---------------------------------------
    up = _binary_parts(uuid_s, as_string=False)
    if up is None:
        return None
    usrc, uoff, ulen = up
    if not (ulen == 16).all():
        return None  # row path raises the fixed-size error
    if not _is_int_dtype(ts.dtype):
        return None
    tz = _zigzag64(ts.to_numpy().astype(np.int64, copy=False))
    tlen = _varint_len(tz)

    # --- payload + envelope sizing --------------------------------------
    plen = np.zeros(n, dtype=np.int64)
    for p in plans:
        if p[0] == "blob":
            _, ln, _, _, slen = p[1]
            plen += ln + slen
        elif p[0] == "varint":
            plen += p[2]
        else:  # fixedraw
            plen += p[2]
    pz = plen.astype(np.uint64) << np.uint64(1)
    pl_ln = _varint_len(pz)
    head = len(magic) + 16 + len(mt_bytes) + len(sid_bytes)
    total = head + pl_ln + plen + 3 + tlen  # 3 = null prev/meta/enc
    out_off = np.concatenate(([0], np.cumsum(total)))
    buf = np.zeros(int(out_off[-1]), dtype=np.uint8)

    pos = out_off[:-1].copy()
    # magic byte(s)
    for j, bv in enumerate(np.frombuffer(magic, dtype=np.uint8)):
        buf[pos + j] = bv
    pos += len(magic)
    # uuid fixed(16)
    _gather_spans(buf, pos, usrc, uoff, ulen)
    pos += 16
    # message_type enum + schema_id int (constants)
    for const in (mt_bytes, sid_bytes):
        for j, bv in enumerate(np.frombuffer(const, dtype=np.uint8)):
            buf[pos + j] = bv
        pos += len(const)
    # payload length varint
    _write_varints(buf, pos, pz, pl_ln)
    pos += pl_ln
    # payload fields
    for p in plans:
        if p[0] == "varint":
            _, z, ln = p
            _write_varints(buf, pos, z, ln)
            pos += ln
        elif p[0] == "fixedraw":
            _, raw, ln = p
            w = raw.shape[1]
            buf[pos[:, None] + np.arange(w)] = raw
            pos += w
        else:
            z, ln, src, soff, slen = p[1]
            _write_varints(buf, pos, z, ln)
            pos += ln
            _gather_spans(buf, pos, src, soff, slen)
            pos += slen
    # null previous_payload / meta / encryption_type
    pos += 3  # buf is zero-initialized; union branch 0 == b"\x00"
    # timestamp
    _write_varints(buf, pos, tz, tlen)

    mv = memoryview(buf)
    return pd.Series(
        [bytes(mv[out_off[i] : out_off[i + 1]]) for i in range(n)],
        dtype=object,
    )


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------


class _Fallback(Exception):
    """Internal: batch shape outside the fast path's scope."""


def _read_varints(buf: np.ndarray, pos: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized LEB128 read at each pos; returns (uint64 acc, new pos).
    Raises _Fallback on a varint longer than the canonical 10 bytes (the
    per-row decoder's unbounded-int behavior diverges there)."""
    n = len(pos)
    acc = np.zeros(n, dtype=np.uint64)
    p = pos.copy()
    live = np.ones(n, dtype=bool)
    for j in range(10):
        if not live.any():
            break
        b = buf[p[live]]
        acc[live] |= (b & np.uint64(0x7F)).astype(np.uint64) << np.uint64(
            7 * j
        )
        p[live] += 1
        cont = (b & 0x80) != 0
        idx = np.flatnonzero(live)
        live[idx[~cont]] = False
    else:
        if live.any():
            raise _Fallback
    return acc, p


def _unzigzag(acc: np.ndarray) -> np.ndarray:
    return (
        (acc >> np.uint64(1)) ^ (np.uint64(0) - (acc & np.uint64(1)))
    ).view(np.int64)


def unpack_decode_batch(
    blob: pd.Series,
    fast_sids: dict[int, list[tuple[str, str]]],
    mt_symbols: list[str],
    reader_names: list[str],
    magic_binary: bytes,
) -> pd.DataFrame | None:
    """Whole-batch (unpack + payload decode) for the common case; None =>
    caller must run the per-row path (ASCII magic, encrypted/meta/prev
    branches, unknown or non-identity schema ids, malformed varints)."""
    import pyarrow as pa

    n = len(blob)
    if n == 0:
        return None
    try:
        arr = pa.array(blob, type=pa.large_binary())
    except (pa.ArrowInvalid, pa.ArrowTypeError):
        return None
    if arr.null_count:
        return None
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int64)[
        arr.offset : arr.offset + n + 1
    ]
    data_buf = arr.buffers()[2]
    if data_buf is None or len(data_buf) == 0:
        return None
    buf = np.frombuffer(data_buf, dtype=np.uint8)
    ends = offs[1:]

    try:
        pos = offs[:-1].copy()
        if (ends - pos).min() < 1:
            return None
        if not (buf[pos] == magic_binary[0]).all():
            return None
        pos += 1
        # uuid fixed(16)
        if ((ends - pos) < 16).any():
            return None
        uoff = pos.copy()
        pos += 16
        mt_acc, pos = _read_varints(buf, pos)
        mt_idx = _unzigzag(mt_acc)
        if (mt_idx < 0).any() or (mt_idx >= len(mt_symbols)).any():
            return None
        sid_acc, pos = _read_varints(buf, pos)
        sid = _unzigzag(sid_acc)
        uniq = np.unique(sid)
        specs = None
        for s in uniq:
            ft = fast_sids.get(int(s))
            if ft is None:
                return None
            if specs is None:
                specs = ft
            elif ft != specs:
                return None
        pl_acc, pos = _read_varints(buf, pos)
        plen = _unzigzag(pl_acc)
        if (plen < 0).any() or ((pos + plen) > ends).any():
            return None
        tail = pos + plen

        # payload fields decode sequentially from pos; the envelope tail
        # continues at payload_start + plen exactly like the row path
        cols: dict[str, Any] = {}
        fpos = pos.copy()
        for name, t in specs:
            if t in ("long", "int"):
                acc, fpos = _read_varints(buf, fpos)
                cols[f"p_{name}"] = _unzigzag(acc)
            elif t == "double":
                if ((fpos + 8) > ends).any():
                    return None
                raw = buf[fpos[:, None] + np.arange(8)]
                cols[f"p_{name}"] = raw.copy().view("<f8").ravel()
                fpos = fpos + 8
            elif t == "float":
                if ((fpos + 4) > ends).any():
                    return None
                raw = buf[fpos[:, None] + np.arange(4)]
                cols[f"p_{name}"] = raw.copy().view("<f4").ravel()
                fpos = fpos + 4
            elif t == "boolean":
                cols[f"p_{name}"] = buf[fpos] == 1
                fpos = fpos + 1
            elif t in ("string", "bytes"):
                acc, fpos = _read_varints(buf, fpos)
                slen = _unzigzag(acc)
                if (slen < 0).any() or ((fpos + slen) > ends).any():
                    return None
                new_offs = np.concatenate(
                    ([0], np.cumsum(slen))
                ).astype(np.int64)
                sbuf = np.zeros(int(new_offs[-1]), dtype=np.uint8)
                _gather_spans(sbuf, new_offs[:-1].copy(), buf, fpos, slen)
                pa_type = (
                    pa.large_string() if t == "string" else pa.large_binary()
                )
                sarr = pa.Array.from_buffers(
                    pa_type,
                    n,
                    [None, pa.py_buffer(new_offs), pa.py_buffer(sbuf)],
                )
                if t == "string":
                    # the row path's bytes.decode('utf-8') is STRICT;
                    # from_buffers skips validation, so validate here and
                    # fall back (the row path then raises properly)
                    try:
                        sarr.validate(full=True)
                    except pa.ArrowInvalid:
                        return None
                cols[f"p_{name}"] = sarr.to_pandas()
                fpos = fpos + slen
            else:  # pragma: no cover
                return None

        # envelope tail: previous_payload / meta / encryption_type unions
        pos = tail
        if ((pos + 3) > ends).any():
            return None
        if (buf[pos] != 0).any() or (buf[pos + 1] != 0).any() or (
            buf[pos + 2] != 0
        ).any():
            return None  # non-null prev/meta/enc: row path semantics
        pos += 3
        ts_acc, pos = _read_varints(buf, pos)
        ts = _unzigzag(ts_acc)
        # a varint that overran its row keeps its cursor past the row end
        # forever (reads advance monotonically): one final bound check
        # turns any cross-row misparse into a fallback, where the per-row
        # decoder raises its usual error
        if (pos > ends).any() or (fpos > tail).any():
            return None
    except (_Fallback, IndexError):
        return None

    uu = np.ascontiguousarray(buf[uoff[:, None] + np.arange(16)]).reshape(-1)
    mvu = memoryview(uu)
    out = {
        "uuid": pd.Series(
            [bytes(mvu[i * 16 : (i + 1) * 16]) for i in range(n)],
            dtype=object,
        ),
        "message_type": pd.Series(
            np.array(mt_symbols, dtype=object)[mt_idx], dtype=object
        ),
        "schema_id": sid,
        "timestamp": ts,
    }
    names = ["uuid", "message_type", "schema_id", "timestamp"] + [
        f"p_{r}" for r in reader_names
    ]
    for r in reader_names:
        out[f"p_{r}"] = cols[f"p_{r}"]
    return pd.DataFrame(out, columns=names)
