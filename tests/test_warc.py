"""WARC record source: grammar roundtrip, .warc.gz member layout,
quarantine error classes, and the no-raise corruption fuzz (the same
contract the multimodal decode_media_safe fuzz pins)."""

from __future__ import annotations

import gzip
import random

import pytest

from data_pipeline_spark.llmops import html_text, warc


def _file(doc_id=7, text="hello world\nsecond para", gz=False):
    html = html_text.wrap_in_html(doc_id, text).encode("utf-8")
    return html, warc.build_warc_file(doc_id, html, gzip_records=gz)


def test_roundtrip_plain_and_gz():
    for gz in (False, True):
        html, stream = _file(gz=gz)
        res = warc.extract_response(stream)
        assert res["n_records"] == 3
        assert res["status"] == 200
        assert res["url"] == "https://corpus.example/doc/7"
        assert res["content_type"].startswith("text/html")
        assert res["body"] == html
        assert res["warc_date"] == warc.warc_date(7)


def test_gz_layout_is_per_record_members():
    """CommonCrawl's seekable property: each record its own gzip member,
    so inflating ONE member yields exactly one parseable record."""
    _, stream = _file(gz=True)
    d = __import__("zlib").decompressobj(wbits=31)
    first = d.decompress(stream)
    # one complete record: a warcinfo header block + its payload
    heads = [h for h, _ in warc.iter_warc_records(first)]
    assert len(heads) == 1 and heads[0]["warc-type"] == "warcinfo"
    assert d.unused_data  # two more members follow


def test_record_id_is_deterministic_uuid_form():
    a, b = warc.record_id("x"), warc.record_id("x")
    assert a == b and a.startswith("<urn:uuid:") and a.endswith(">")
    assert a != warc.record_id("y")
    # version/variant nibbles
    core = a[len("<urn:uuid:"):-1].replace("-", "")
    assert core[12] == "3" and core[16] in "89ab"


@pytest.mark.parametrize(
    "mutate,err",
    [
        (lambda s: b"XARC" + s[4:], "bad_magic"),
        (lambda s: s[:40], "bad_header"),
        (lambda s: s.replace(b"Content-Length: ", b"Content-Length: x", 1),
         "bad_length"),
        (lambda s: s[:-60], "truncated_payload"),
        (lambda s: s.replace(b"HTTP/1.1 200 OK", b"NOPE 200 OK", 1),
         "bad_http"),
        (lambda s: s.replace(b"WARC-Type: response",
                             b"WARC-Type: metadata", 1),
         "no_response_record"),
    ],
)
def test_quarantine_classes_plain(mutate, err):
    _, stream = _file(gz=False)
    res, cls = warc.parse_warc_safe(mutate(stream))
    assert res is None and cls == err


def test_quarantine_bad_gzip():
    _, stream = _file(gz=True)
    res, cls = warc.parse_warc_safe(stream[:-20])
    assert res is None and cls == "bad_gzip"
    # bit-rot inside a member
    rotten = bytearray(stream)
    rotten[len(rotten) // 2] ^= 0xFF
    res, cls = warc.parse_warc_safe(bytes(rotten))
    assert res is None and cls in ("bad_gzip", "bad_magic", "bad_header",
                                   "bad_length", "truncated_payload",
                                   "bad_http", "parse_error",
                                   "no_response_record")


def test_fuzz_never_raises():
    """240 corruptions of valid streams (truncate / bit-flip / splice /
    random bytes, both layouts): parse_warc_safe must always return,
    never raise, never hang."""
    rng = random.Random(1234)
    bases = [_file(gz=False)[1], _file(gz=True)[1]]
    for i in range(240):
        base = bytearray(bases[i % 2])
        mode = i % 4
        if mode == 0:
            base = base[: rng.randrange(len(base))]
        elif mode == 1:
            for _ in range(rng.randrange(1, 6)):
                base[rng.randrange(len(base))] ^= 1 << rng.randrange(8)
        elif mode == 2:
            cut = rng.randrange(len(base))
            base = base[cut:] + base[:cut]
        else:
            base = bytearray(
                rng.getrandbits(8) for _ in range(rng.randrange(1, 400))
            )
        res, cls = warc.parse_warc_safe(bytes(base))
        assert (res is None) == bool(cls)


def test_inter_record_padding_tolerated():
    html, stream = _file(gz=False)
    padded = stream.replace(b"\r\n\r\nWARC/1.0", b"\r\n\r\n\r\nWARC/1.0")
    res = warc.extract_response(padded)
    assert res["n_records"] == 3 and res["body"] == html


def test_gate_skips_non_html_response_payloads():
    """Status and content-type reach the caller — the gate decides, the
    parser reports (a 404 or image/png response still parses)."""
    payload = warc.build_http_response(
        b"\x89PNG...", status=404, reason="Not Found",
        content_type="image/png",
    )
    rec = warc.build_warc_record(
        "response",
        {
            "WARC-Date": warc.warc_date(1),
            "WARC-Record-ID": warc.record_id("r"),
            "WARC-Target-URI": "https://x/1",
            "Content-Type": "application/http; msgtype=response",
        },
        payload,
    )
    res = warc.extract_response(rec)
    assert res["status"] == 404
    assert res["content_type"] == "image/png"
    assert res["n_records"] == 1


def test_archive_multi_capture_roundtrip():
    caps = [
        (i, html_text.wrap_in_html(i, f"text {i}\npara").encode())
        for i in (3, 4, 5)
    ]
    for gz in (False, True):
        blob = warc.build_warc_archive(caps, gzip_records=gz)
        got = list(warc.iter_responses(blob))
        assert [g["url"] for g in got] == [
            f"https://corpus.example/doc/{i}" for i in (3, 4, 5)
        ]
        assert all(g["status"] == 200 for g in got)
        assert [g["body"] for g in got] == [c[1] for c in caps]
        # 1 warcinfo + 3 requests + 3 responses
        assert len(list(warc.iter_warc_records(blob))) == 7


def test_read_warc_source_and_quarantine_row(spark, tmp_path):
    good = warc.build_warc_archive(
        [(1, b"<html>a</html>"), (2, b"<html>b</html>")], gzip_records=True
    )
    (tmp_path / "seg-0.warc.gz").write_bytes(good)
    (tmp_path / "seg-1.warc.gz").write_bytes(good[: len(good) // 2])  # rot
    rows = warc.read_warc(spark, str(tmp_path)).collect()
    ok = [r for r in rows if r.error_class == ""]
    bad = [r for r in rows if r.error_class != ""]
    assert len(ok) == 2 and {r.url for r in ok} == {
        "https://corpus.example/doc/1",
        "https://corpus.example/doc/2",
    }
    assert len(bad) == 1 and bad[0].error_class == "bad_gzip"
    assert bad[0].warc_file.endswith("seg-1.warc.gz")


def test_read_warc_midfile_corruption_is_one_quarantine_row(spark, tmp_path):
    """A PLAIN .warc truncated mid-file must not emit its leading good
    records as healthy rows — exactly one quarantine row per damaged
    file (the gzip layout fails up front; the plain layout is the case
    that used to leak partial data)."""
    plain = warc.build_warc_archive(
        [(1, b"<html>a</html>"), (2, b"<html>b</html>")], gzip_records=False
    )
    (tmp_path / "seg.warc").write_bytes(plain[: len(plain) - 40])
    rows = warc.read_warc(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert rows[0].error_class == "truncated_payload"
