"""WARC/1.0 (ISO 28500) record source + sink for Common-Crawl-style pages.

The reference engine's ingestion is file-based raster readers
(/root/reference/georeader/abstract_reader.py, geotensor.py:185-219
``_vsi_path``); this engine's payload is Common-Crawl-style web pages
(BASELINE.json input_hint), whose native interchange format is WARC —
so the "source" surface here is a WARC codec implemented from the
public ISO 28500 / WARC 1.0 byte layout (warc-specifications, IIPC):

    WARC/1.0\\r\\n
    <named-field>: <value>\\r\\n ...
    \\r\\n
    <Content-Length payload bytes>
    \\r\\n\\r\\n

``response`` records carry an HTTP/1.1 response (status line + headers
+ CRLF CRLF + body) as their block, exactly like Common Crawl's
``.warc`` files; ``.warc.gz`` is one gzip member per record
(also the CC layout — members concatenate into a valid gzip stream).

Scale shape (100 TB):

- **write**: records are built with pure JVM expressions
  (``format_string``/``concat``/``length`` — no Python in the hot
  path); only the per-file concatenation groups rows, and a WARC file
  is bounded by ``records_per_file`` (CC caps files at ~1 GB), so the
  ``collect_list`` per file is bounded by construction.
- **read**: files (or ranged chunks from :mod:`georeader_spark.sources.vsi`)
  are blobs in a DataFrame column; :func:`parse_warc` fans out
  per-file via ``mapInPandas`` — one Arrow batch in, record rows out,
  no driver involvement, linear in input bytes.

Determinism: WARC-Record-ID derives from md5(url), WARC-Date formats
the instant in UTC, and the gzip members are written with ``mtime=0``
— byte-identical output for identical input, which is what lets the
DuckDB oracle twin gate the full write→read roundtrip by md5.
"""

from __future__ import annotations

import gzip
import zlib
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
    TimestampType,
)

_CRLF = "\r\n"
#: fixed warcinfo date (the file-level record carries no page instant)
_WARCINFO_DATE = "2024-01-01T00:00:00Z"
_WARCINFO_BODY = "software: georeader-spark warc writer\r\nformat: WARC File Format 1.0\r\n"


# ---------------------------------------------------------------------------
# write side — records as JVM expressions
# ---------------------------------------------------------------------------

def warc_record_col(url: Column, warc_ts: Column, html: Column) -> Column:
    """One WARC ``response`` record as a binary Column (pure JVM exprs).

    The HTTP envelope's Content-Length is the html byte count and the
    WARC Content-Length is the full HTTP block byte count, per spec —
    both computed with ``length()`` on binary (byte semantics), so
    multi-byte UTF-8 page text is counted correctly.
    """
    http_head = F.format_string(
        "HTTP/1.1 200 OK\r\n"
        "Content-Type: text/html; charset=utf-8\r\n"
        "Content-Length: %d\r\n\r\n",
        F.length(html),
    )
    payload = F.concat(F.encode(http_head, "UTF-8"), html)
    warc_head = F.format_string(
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        "WARC-Record-ID: <urn:md5:%s>\r\n"
        "WARC-Date: %s\r\n"
        "WARC-Target-URI: %s\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        "Content-Length: %d\r\n\r\n",
        F.md5(F.encode(url, "UTF-8")),
        # session timeZone is UTC (plans/session.py); WARC-Date is the
        # UTC instant with the literal Z suffix
        F.date_format(warc_ts, "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        url,
        F.length(payload),
    )
    return F.concat(
        F.encode(warc_head, "UTF-8"), payload, F.encode(F.lit(_CRLF * 2), "UTF-8")
    )


def _warcinfo_record(filename: str) -> bytes:
    body = _WARCINFO_BODY.encode()
    head = (
        f"WARC/1.0{_CRLF}"
        f"WARC-Type: warcinfo{_CRLF}"
        f"WARC-Record-ID: <urn:md5:warcinfo>{_CRLF}"
        f"WARC-Date: {_WARCINFO_DATE}{_CRLF}"
        f"WARC-Filename: {filename}{_CRLF}"
        f"Content-Type: application/warc-fields{_CRLF}"
        f"Content-Length: {len(body)}{_CRLF}{_CRLF}"
    ).encode()
    return head + body + (_CRLF * 2).encode()


def warc_files(
    pages: DataFrame,
    records_per_file: int = 100,
    compress: bool = False,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    html_col: str = "html",
    n_buckets: int = 16,
) -> DataFrame:
    """Pages → WARC files: ``(file_id long, n_records long, content binary)``.

    File population must be size-bounded (a url-hash modulo a fixed
    file count is not — hot hosts would grow files without bound), so
    records first bucket by ``xxhash64(url) % n_buckets`` and then
    ``row_number`` WITHIN each bucket — no global sort, no
    single-reducer window (the round-1 kNN funnel lesson); every file
    holds at most ``records_per_file`` records and
    ``file_id = bucket * 2^32 + row_number // records_per_file`` is
    deterministic and parallelism-independent. Plain files start with
    a ``warcinfo`` record like Common Crawl's; ``compress=True``
    writes one deterministic gzip member per record (``mtime=0``) —
    the ``.warc.gz`` layout.

    The record bytes themselves are built JVM-side
    (:func:`warc_record_col`); only the bounded per-file concatenation
    runs in Python (Arrow-batched ``applyInPandas``).
    """
    from pyspark.sql import Window

    rec = warc_record_col(F.col(url_col), F.col(ts_col), F.col(html_col))
    bucket = F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets))
    w = Window.partitionBy("_bkt").orderBy(url_col)
    d = (
        pages.select(F.col(url_col).alias("url"), rec.alias("rec"),
                     bucket.alias("_bkt"))
        .withColumn("_rn", F.row_number().over(w) - 1)
        .withColumn(
            "file_id",
            F.col("_bkt") * F.lit(1 << 32)
            + (F.col("_rn") / records_per_file).cast("long"),
        )
    )

    out_schema = StructType(
        [
            StructField("file_id", LongType()),
            StructField("n_records", LongType()),
            StructField("content", BinaryType()),
        ]
    )

    def _assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_rn")
        fid = int(pdf["file_id"].iloc[0])
        recs = [bytes(b) for b in pdf["rec"]]
        if compress:
            content = b"".join(
                gzip.compress(r, compresslevel=6, mtime=0) for r in recs
            )
        else:
            content = _warcinfo_record(f"part-{fid:05d}.warc") + b"".join(recs)
        return pd.DataFrame(
            {"file_id": [fid], "n_records": [len(recs)], "content": [content]}
        )

    return d.groupBy("file_id").applyInPandas(_assemble, out_schema)


# ---------------------------------------------------------------------------
# read side — mapInPandas record walk
# ---------------------------------------------------------------------------

PARSED_SCHEMA = StructType(
    [
        StructField("file_id", LongType()),
        StructField("rec_type", StringType()),
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("http_status", IntegerType()),
        StructField("content_type", StringType()),
        StructField("html", BinaryType()),
        # record position in the (decompressed) file byte stream —
        # the CDX index fields; for .warc.gz these index the
        # concatenated decompressed members
        StructField("offset", LongType()),
        StructField("rec_len", LongType()),
    ]
)


def _gunzip_members(buf: bytes) -> bytes:
    """Decompress a concatenation of gzip members (the .warc.gz layout)."""
    out = []
    while buf:
        o = zlib.decompressobj(31)
        out.append(o.decompress(buf))
        buf = o.unused_data
    return b"".join(out)


def _walk_records(buf: bytes):
    """Yield (header_dict, block_bytes, start, length) per WARC record.

    ``start`` is the record's first byte and ``length`` the full record
    size INCLUDING the two trailing CRLFs (the CDX length convention:
    consecutive records tile the file — offset_{k+1} = offset_k +
    length_k)."""
    pos = 0
    n = len(buf)
    while pos < n:
        # skip inter-record CRLFs
        while pos < n and buf[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            return
        start = pos
        hdr_end = buf.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError(f"truncated WARC header at byte {pos}")
        head = buf[pos:hdr_end].decode("utf-8", errors="replace")
        lines = head.split(_CRLF)
        if not lines[0].startswith("WARC/"):
            raise ValueError(f"bad WARC version line: {lines[0]!r}")
        fields = {}
        for ln in lines[1:]:
            k, _, v = ln.partition(":")
            fields[k.strip().lower()] = v.strip()
        clen = int(fields.get("content-length", "0"))
        block_start = hdr_end + 4
        block = buf[block_start : block_start + clen]
        if len(block) != clen:
            raise ValueError(
                f"truncated WARC block: want {clen}, have {len(block)}"
            )
        end = block_start + clen
        if buf[end : end + 4] == (_CRLF * 2).encode():
            end += 4
        yield fields, block, start, end - start
        pos = end


def _parse_http_response(block: bytes):
    """Split an HTTP response block → (status, content_type, body)."""
    sep = block.find(b"\r\n\r\n")
    if sep < 0:
        return None, None, block
    head = block[:sep].decode("utf-8", errors="replace")
    lines = head.split(_CRLF)
    status = None
    parts = lines[0].split(" ", 2)
    if len(parts) >= 2 and parts[0].startswith("HTTP/"):
        try:
            status = int(parts[1])
        except ValueError:
            status = None
    ctype = None
    for ln in lines[1:]:
        k, _, v = ln.partition(":")
        if k.strip().lower() == "content-type":
            ctype = v.strip()
            break
    return status, ctype, block[sep + 4 :]


def parse_warc(
    files: DataFrame, content_col: str = "content", file_col: str = "file_id"
) -> DataFrame:
    """WARC file blobs → one row per record (Arrow-batched mapInPandas).

    Handles plain ``.warc`` and member-per-record ``.warc.gz`` (sniffed
    by the gzip magic). ``response`` records get the HTTP envelope
    split off (``http_status``, ``content_type``, ``html`` = body
    bytes); other record types (warcinfo, request, metadata) surface
    with ``html`` NULL so callers can filter on ``rec_type``.

    Each input row is independent — partition-parallel, no shuffle;
    pair with :class:`georeader_spark.sources.vsi.ByteSource` ranged
    chunks to stream multi-GB files without materializing them.
    """

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in PARSED_SCHEMA.fields}
            for fid, blob in zip(pdf[file_col], pdf[content_col]):
                buf = bytes(blob)
                if buf[:2] == b"\x1f\x8b":
                    buf = _gunzip_members(buf)
                for fields, block, start, length in _walk_records(buf):
                    rtype = fields.get("warc-type", "")
                    ts = pd.Timestamp(fields["warc-date"]).tz_convert(None) \
                        if "warc-date" in fields else None
                    if rtype == "response":
                        status, ctype, body = _parse_http_response(block)
                    else:
                        status, ctype, body = None, fields.get("content-type"), None
                    rows["file_id"].append(int(fid))
                    rows["rec_type"].append(rtype)
                    rows["url"].append(fields.get("warc-target-uri"))
                    rows["warc_ts"].append(ts)
                    rows["http_status"].append(status)
                    rows["content_type"].append(ctype)
                    rows["html"].append(body)
                    rows["offset"].append(start)
                    rows["rec_len"].append(length)
            yield pd.DataFrame(rows)

    return files.mapInPandas(_parse, PARSED_SCHEMA)
