"""WARC record source — the actual CommonCrawl ingest container that the
HTML -> text step (html_text.py) implies.

Implements the public WARC/1.0-1.1 format (ISO 28500; the grammar is
also republished in the IIPC spec): a WARC file is a sequence of
records, each

    WARC/1.0 CRLF
    <named-field>: <value> CRLF ...          (incl. Content-Length)
    CRLF
    <Content-Length bytes of payload>
    CRLF CRLF

CommonCrawl ships ``.warc.gz`` with EVERY RECORD its own gzip member so
readers can seek to a member and inflate one record — ``build_warc_file``
reproduces that layout with ``gzip_records=True`` and the parser
inflates member-wise with a raw ``zlib`` loop (stdlib only).

Response records carry an HTTP/1.1 message as payload; extraction gates
on ``WARC-Type: response`` + HTTP status + Content-Type before handing
the body to the HTML extractor — the decide-before-decode triage a
100 TB web ingest runs map-side, in the same mapInPandas shape as the
container probes (h264.py / ogg.py / mp3.py).

Corrupt archives must quarantine, not kill the task: ``parse_warc_safe``
returns ``(result, error_class)`` and NEVER raises — the same contract
as multimodal.decode_media_safe, pinned by a corruption fuzz test.

Reference parity: the Yelp reference has no web-archive surface; this
extends the llmops web-document family (html_text.py, textstats.py).
"""

from __future__ import annotations

import gzip
import hashlib
import zlib
from datetime import datetime, timedelta, timezone

CRLF = b"\r\n"
_EPOCH = datetime(2020, 1, 1, tzinfo=timezone.utc)


# ---------------------------------------------------------------- build

def record_id(seed: str) -> str:
    """Deterministic WARC-Record-ID (RFC 4122 urn form, version/variant
    bits patched onto an md5 of the seed — RNG-free so oracle queries
    reproduce it)."""
    h = bytearray(hashlib.md5(seed.encode()).digest())
    h[6] = (h[6] & 0x0F) | 0x30
    h[8] = (h[8] & 0x3F) | 0x80
    x = h.hex()
    return (
        f"<urn:uuid:{x[:8]}-{x[8:12]}-{x[12:16]}-{x[16:20]}-{x[20:]}>"
    )


def warc_date(doc_id: int) -> str:
    """Deterministic WARC-Date: fixed epoch + doc_id seconds."""
    return (_EPOCH + timedelta(seconds=int(doc_id))).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


def build_http_response(
    body: bytes,
    status: int = 200,
    reason: str = "OK",
    content_type: str = "text/html; charset=utf-8",
) -> bytes:
    head = (
        f"HTTP/1.1 {status} {reason}\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(body)}\r\n"
        "\r\n"
    ).encode("ascii")
    return head + body


def build_warc_record(
    warc_type: str, headers: dict, payload: bytes, version: str = "1.0"
) -> bytes:
    """Serialize one record. ``headers`` must NOT contain WARC-Type or
    Content-Length (set here); order is insertion order, stable."""
    lines = [f"WARC/{version}".encode("ascii")]
    lines.append(b"WARC-Type: " + warc_type.encode("ascii"))
    for k, v in headers.items():
        lines.append(f"{k}: {v}".encode("ascii"))
    lines.append(f"Content-Length: {len(payload)}".encode("ascii"))
    return CRLF.join(lines) + CRLF + CRLF + payload + CRLF + CRLF


def build_warc_file(
    doc_id: int,
    html: bytes,
    url: str | None = None,
    gzip_records: bool = False,
) -> bytes:
    """A minimal-but-real 3-record WARC file for one capture:
    warcinfo + request + response (the record set CommonCrawl emits per
    fetch, minus the optional metadata record).  ``gzip_records=True``
    compresses each record as its own gzip member (the .warc.gz
    seekable layout)."""
    url = url or f"https://corpus.example/doc/{doc_id}"
    date = warc_date(doc_id)
    info_payload = (
        b"software: data_pipeline_spark\r\nformat: WARC File Format 1.0\r\n"
    )
    info = build_warc_record(
        "warcinfo",
        {
            "WARC-Date": date,
            "WARC-Record-ID": record_id(f"info-{doc_id}"),
            "Content-Type": "application/warc-fields",
        },
        info_payload,
    )
    req_payload = (
        f"GET /doc/{doc_id} HTTP/1.1\r\nHost: corpus.example\r\n\r\n"
    ).encode("ascii")
    req = build_warc_record(
        "request",
        {
            "WARC-Date": date,
            "WARC-Record-ID": record_id(f"req-{doc_id}"),
            "WARC-Target-URI": url,
            "Content-Type": "application/http; msgtype=request",
        },
        req_payload,
    )
    resp = build_warc_record(
        "response",
        {
            "WARC-Date": date,
            "WARC-Record-ID": record_id(f"resp-{doc_id}"),
            "WARC-Target-URI": url,
            "Content-Type": "application/http; msgtype=response",
        },
        build_http_response(html),
    )
    records = (info, req, resp)
    if gzip_records:
        return b"".join(
            gzip.compress(r, compresslevel=1, mtime=0) for r in records
        )
    return b"".join(records)


# ---------------------------------------------------------------- parse

def gunzip_members(stream: bytes) -> bytes:
    """Inflate a concatenation of gzip members (the .warc.gz layout)
    into the plain byte stream.  Raises ValueError on gzip damage."""
    out = []
    pos = 0
    while pos < len(stream):
        d = zlib.decompressobj(wbits=31)
        try:
            out.append(d.decompress(stream[pos:]))
            d.flush()
        except zlib.error as e:
            raise ValueError(f"bad_gzip: {e}") from e
        if not d.eof:
            raise ValueError("bad_gzip: truncated member")
        consumed = len(stream) - pos - len(d.unused_data)
        if consumed <= 0:
            raise ValueError("bad_gzip: zero-length member")
        pos += consumed
    return b"".join(out)


def iter_warc_records(stream: bytes):
    """Yield ``(headers, payload)`` per record; ``headers`` keys are
    case-normalized to their canonical form via lower().  Strict:
    raises ValueError naming the defect (the _safe wrapper maps these
    to quarantine classes)."""
    if stream[:2] == b"\x1f\x8b":
        stream = gunzip_members(stream)
    pos = 0
    n = len(stream)
    while pos < n:
        # tolerate inter-record padding CRLFs
        while pos < n and stream[pos : pos + 2] == CRLF:
            pos += 2
        if pos >= n:
            return
        end = stream.find(CRLF + CRLF, pos)
        if end < 0:
            raise ValueError("bad_header: unterminated header block")
        head = stream[pos:end]
        lines = head.split(CRLF)
        if not lines[0].startswith(b"WARC/"):
            raise ValueError("bad_magic: missing WARC/ version line")
        headers: dict[str, str] = {}
        for ln in lines[1:]:
            if b":" not in ln:
                raise ValueError("bad_header: field without colon")
            k, _, v = ln.partition(b":")
            try:
                headers[k.decode("ascii").strip().lower()] = (
                    v.decode("utf-8", "replace").strip()
                )
            except UnicodeDecodeError as e:
                raise ValueError("bad_header: non-ascii field name") from e
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError) as e:
            raise ValueError("bad_length: missing/non-int Content-Length") from e
        if clen < 0:
            raise ValueError("bad_length: negative Content-Length")
        body_start = end + 4
        if body_start + clen > n:
            raise ValueError("truncated_payload")
        yield headers, stream[body_start : body_start + clen]
        pos = body_start + clen


def parse_http_response(payload: bytes):
    """-> (status, headers, body).  Raises ValueError('bad_http: ...')."""
    sep = payload.find(CRLF + CRLF)
    if sep < 0:
        raise ValueError("bad_http: no header terminator")
    head_lines = payload[:sep].split(CRLF)
    status_line = head_lines[0].split(b" ", 2)
    if len(status_line) < 2 or not status_line[0].startswith(b"HTTP/"):
        raise ValueError("bad_http: malformed status line")
    try:
        status = int(status_line[1])
    except ValueError as e:
        raise ValueError("bad_http: non-int status") from e
    headers: dict[str, str] = {}
    for ln in head_lines[1:]:
        if b":" not in ln:
            raise ValueError("bad_http: header without colon")
        k, _, v = ln.partition(b":")
        headers[k.decode("latin-1").strip().lower()] = (
            v.decode("latin-1").strip()
        )
    return status, headers, payload[sep + 4 :]


def extract_response(stream: bytes) -> dict:
    """Parse a WARC file and extract its (first) response record through
    the content-type/status gate: returns dict(url, status,
    content_type, body, n_records).  Raises ValueError (strict form)."""
    n_records = 0
    found = None
    for headers, payload in iter_warc_records(stream):
        n_records += 1
        wt = headers.get("warc-type", "")
        ct = headers.get("content-type", "")
        if found is None and wt == "response" and (
            ct.startswith("application/http")
        ):
            status, http_headers, body = parse_http_response(payload)
            found = {
                "url": headers.get("warc-target-uri", ""),
                "status": status,
                "content_type": http_headers.get("content-type", ""),
                "body": body,
                "warc_date": headers.get("warc-date", ""),
            }
    if found is None:
        raise ValueError("no_response_record")
    found["n_records"] = n_records
    return found


_ERROR_CLASSES = (
    "bad_gzip", "bad_magic", "bad_header", "bad_length",
    "truncated_payload", "bad_http", "no_response_record",
)


def parse_warc_safe(stream: bytes):
    """Quarantine wrapper: ``(result, "")`` on success, ``(None,
    error_class)`` on ANY defect — never raises (the decode_media_safe
    contract; a task-killing exception after Spark's retries kills the
    whole 100 TB job)."""
    try:
        return extract_response(stream), ""
    except ValueError as e:
        msg = str(e)
        for cls in _ERROR_CLASSES:
            if msg.startswith(cls):
                return None, cls
        return None, "parse_error"
    except Exception:  # noqa: BLE001 — quarantine boundary by design
        return None, "parse_error"


# ------------------------------------------------------------ file source

def build_warc_archive(captures, gzip_records: bool = True) -> bytes:
    """A REAL multi-capture archive: one warcinfo record followed by a
    request+response pair per capture — the layout of an actual
    CommonCrawl ``.warc.gz`` segment file.  ``captures`` is an iterable
    of (doc_id, html_bytes)."""
    captures = list(captures)
    first = captures[0][0] if captures else 0
    date = warc_date(first)
    out = [
        build_warc_record(
            "warcinfo",
            {
                "WARC-Date": date,
                "WARC-Record-ID": record_id(f"info-file-{first}"),
                "Content-Type": "application/warc-fields",
            },
            b"software: data_pipeline_spark\r\n"
            b"format: WARC File Format 1.0\r\n",
        )
    ]
    for doc_id, html in captures:
        url = f"https://corpus.example/doc/{doc_id}"
        d = warc_date(doc_id)
        out.append(
            build_warc_record(
                "request",
                {
                    "WARC-Date": d,
                    "WARC-Record-ID": record_id(f"req-{doc_id}"),
                    "WARC-Target-URI": url,
                    "Content-Type": "application/http; msgtype=request",
                },
                (
                    f"GET /doc/{doc_id} HTTP/1.1\r\n"
                    "Host: corpus.example\r\n\r\n"
                ).encode("ascii"),
            )
        )
        out.append(
            build_warc_record(
                "response",
                {
                    "WARC-Date": d,
                    "WARC-Record-ID": record_id(f"resp-{doc_id}"),
                    "WARC-Target-URI": url,
                    "Content-Type": "application/http; msgtype=response",
                },
                build_http_response(html),
            )
        )
    if gzip_records:
        return b"".join(
            gzip.compress(r, compresslevel=1, mtime=0) for r in out
        )
    return b"".join(out)


def iter_responses(stream: bytes):
    """Every response record of an archive through the HTTP gate:
    yields dict(url, status, content_type, body, warc_date).  Strict —
    wrap with parse_warc_safe-style handling for corrupt archives."""
    for headers, payload in iter_warc_records(stream):
        if headers.get("warc-type") != "response":
            continue
        if not headers.get("content-type", "").startswith("application/http"):
            continue
        status, http_headers, body = parse_http_response(payload)
        yield {
            "url": headers.get("warc-target-uri", ""),
            "status": status,
            "content_type": http_headers.get("content-type", ""),
            "body": body,
            "warc_date": headers.get("warc-date", ""),
        }


def read_warc(spark, path: str):
    """WARC FILE SOURCE: the ``.warc`` / ``.warc.gz`` files of the
    directory ``path`` (a ``pathGlobFilter``, not a glob in the path,
    which Spark would first probe as a streaming-metadata directory and
    log a stack trace for) -> one row per response record (warc_file,
    url, http_status, content_type, body binary, warc_date,
    error_class).  Files load whole via binaryFile —
    the right unit for per-record-gzipped archives, whose members are
    not splittable without an external index; CommonCrawl segments are
    ~1 GB, sized to be a task's working set — and parse map-side in one
    mapInPandas (the container-probe shape).  A corrupt archive becomes
    ONE quarantine row (error_class set, no response rows lost from
    other files) instead of a task failure.

    At 100 TB: point this at the segment listing; parallelism = number
    of files; no shuffle until the caller aggregates.
    """
    import pandas as pd

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(path)
        .select("path", "content")
    )

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                blob = bytes(content)
                frows = []  # buffered: a mid-file error discards the
                # partial rows so a damaged file is EXACTLY one
                # quarantine row, never partial data posing as complete
                try:
                    for r in iter_responses(blob):
                        frows.append(
                            (fpath, r["url"], r["status"],
                             r["content_type"], r["body"], r["warc_date"],
                             "")
                        )
                except ValueError as e:
                    cls = str(e).split(":", 1)[0]
                    frows = [(fpath, "", 0, "", b"", "",
                              cls if cls in _ERROR_CLASSES
                              else "parse_error")]
                except Exception:  # noqa: BLE001 — quarantine boundary
                    frows = [(fpath, "", 0, "", b"", "", "parse_error")]
                rows.extend(frows)
            yield pd.DataFrame(
                rows,
                columns=["warc_file", "url", "http_status", "content_type",
                         "body", "warc_date", "error_class"],
            )

    return files.mapInPandas(
        run,
        schema="warc_file string, url string, http_status long, "
        "content_type string, body binary, warc_date string, "
        "error_class string",
    )
