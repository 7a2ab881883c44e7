"""WARC file source: read WARC archives into the pages/record schema.

Parity with the reference's ReadWarcs/_ReadWarc splittable source
(warcio.py:46-177), re-expressed for Spark:

- file discovery + distribution: ``spark.read.format('binaryFile')`` over a
  glob (Spark schedules one task per file; a ``repartition`` after listing
  is the Reshuffle fusion-break analog, warcio.py:69),
- record iteration: a pure-Python WARC parser (no fastwarc in-sandbox)
  inside ``mapInPandas`` — gzip multi-member or plain concatenated records,
  yielding one row per record with headers map + HTTP payload + stream_pos,
- record-type filter (``response``, index.py:142) and overlong-payload
  strip (warcio.py:150-154) as options.

Two read paths:
- ``read_warcs``        — one task per file (fine at crawl scale: 100k+
  files saturate any cluster),
- ``read_warcs_split``  — intra-file byte-range splitting (_ReadWarc
  splittable-DoFn parity, warcio.py:72-177): an index pass finds gzip
  member / record start offsets, files explode into (path, start, end)
  ranges, each task seek-reads only its range. A user with a few huge
  WARCs gets full parallelism; records (incl. absolute source_offset)
  are identical to the per-file path.
The production bulk path remains the pages *table* (columnar, natively
splittable — SURVEY.md §1.1).
"""

from __future__ import annotations

import gzip
import io
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("source_file", T.StringType(), False),
        T.StructField("source_offset", T.LongType(), False),
        T.StructField("record_type", T.StringType()),
        T.StructField("record_id", T.StringType()),
        T.StructField("warc_headers", T.MapType(T.StringType(), T.StringType())),
        T.StructField("http_headers", T.MapType(T.StringType(), T.StringType())),
        T.StructField("http_content_type", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("payload_truncated", T.BooleanType(), False),
    ]
)


def iter_warc_chunks(data: bytes):
    """Yield ``(compressed_offset, plain_bytes)`` chunks of a WARC byte
    stream: one chunk per gzip member (CC convention: one record per
    member), or a single chunk for a plain file. The compressed offset is
    the reference's ``stream_pos`` (warcio.py:111-118): stable under both
    whole-file and byte-range split reads."""
    if data[:2] != b"\x1f\x8b":
        yield 0, data
        return
    import zlib

    pos, n = 0, len(data)
    while pos < n and data[pos : pos + 2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        out = []
        i = pos
        CHUNK = 1 << 20
        while i < n and not d.eof:
            out.append(d.decompress(data[i : i + CHUNK]))
            i += CHUNK
        if not d.eof:
            break  # truncated trailing member: drop (lenient)
        end = min(i, n) - len(d.unused_data)
        yield pos, b"".join(out)
        pos = end


def _plain_offsets(data: bytes, bias: int = 0) -> list[int]:
    """Plain-file record starts in a buffer (``WARC/`` magic at 0 or after
    a blank line); ``bias`` shifts offsets for windowed scans."""
    offs = []
    pos = 0
    while True:
        m = data.find(b"WARC/", pos)
        if m == -1:
            break
        if m == 0 and bias == 0 or data[max(0, m - 4) : m] in (b"\r\n\r\n", b"\n\n\r\n") or data[m - 2 : m] == b"\n\n":
            offs.append(bias + m)
        pos = m + 5
    return offs


def stream_member_offsets(f, chunk_size: int = 4 << 20) -> list[int]:
    """Split-point index from a FILE OBJECT in one sequential pass with
    BOUNDED memory (≤ ~chunk_size held at once; decompressed gzip output is
    discarded) — the fix for the whole-file ``f.read()`` the index pass
    used to pay (reference streams with 64 KiB buffers, warcio.py:111-161).

    Gzip: member start offsets (a member start is recorded only once its
    member decompresses to EOF — a truncated trailing member is dropped,
    matching ``iter_warc_chunks``). Plain: ``WARC/`` record starts found
    with an overlapping sliding window."""
    import zlib

    head = f.read(2)
    f.seek(0)
    if head != b"\x1f\x8b":
        # plain WARC: sliding window; 12-byte overlap so a "WARC/" magic
        # crossing the boundary is seen with its full 4-byte separator
        # context (5-byte magic + 4-byte "\r\n\r\n" + slack)
        offs = []
        bias = 0
        prev_tail = b""
        while True:
            chunk = f.read(chunk_size)
            if not chunk:
                break
            buf = prev_tail + chunk
            offs.extend(o for o in _plain_offsets(buf, bias - len(prev_tail)) if o >= 0)
            prev_tail = buf[-12:]
            bias += len(chunk)
        # dedupe (overlap region can be scanned twice), keep order
        seen: set[int] = set()
        return [o for o in offs if not (o in seen or seen.add(o))]

    offs = []
    d = None
    abs_fed = 0          # absolute offset just past the last byte consumed
    pending = b""        # unconsumed bytes (start of the next member)
    member_start = 0
    while True:
        if d is None:
            if len(pending) < 2:
                more = f.read(chunk_size)
                if not more:
                    break
                pending += more
            if pending[:2] != b"\x1f\x8b":
                break  # garbage tail: stop (lenient)
            member_start = abs_fed
            d = zlib.decompressobj(wbits=31)
        data = pending if pending else f.read(chunk_size)
        pending = b""
        if not data:
            break  # truncated trailing member: not recorded
        # Bounded decompress: a gzip bomb can expand ~1032:1, so an
        # unbounded d.decompress(data) could allocate ~4 GB per 4 MB chunk.
        # Drain in ≤1 MiB output slices (input left in unconsumed_tail),
        # discarding each slice, so peak allocation stays O(1 MiB).
        buf = data
        while True:
            d.decompress(buf, 1 << 20)  # output discarded — offsets only
            if d.eof or not d.unconsumed_tail:
                break
            buf = d.unconsumed_tail
        abs_fed += len(data)
        if d.eof:
            rem = d.unused_data
            abs_fed -= len(rem)
            pending = rem
            offs.append(member_start)
            d = None
    return offs


def parse_warc_stream(data: bytes, source_file: str, max_payload: Optional[int] = None,
                      offset_bias: int = 0):
    """Iterate WARC records from (possibly gzip'd) bytes.

    Yields dicts in RECORD_SCHEMA shape; ``source_offset`` is the record's
    byte position in the file (compressed member offset for gzip —
    reference stream_pos parity), plus ``offset_bias`` for split reads.
    Header parsing is lenient the way the reference's ClueWeb repair tool
    is (util.py:128-143): bad header lines are skipped, missing
    Content-Length ends the record at the next WARC/ magic.
    """
    if data[:2] == b"\x1f\x8b":
        for comp_off, plain in iter_warc_chunks(data):
            yield from parse_warc_stream(plain, source_file, max_payload,
                                         offset_bias=offset_bias + comp_off)
        return

    pos = 0
    n = len(data)
    while pos < n:
        magic = data.find(b"WARC/", pos)
        if magic == -1:
            break
        record_start = magic
        hdr_end = data.find(b"\r\n\r\n", magic)
        sep_len = 4
        if hdr_end == -1:
            hdr_end = data.find(b"\n\n", magic)
            sep_len = 2
        if hdr_end == -1:
            break
        headers: dict[str, str] = {}
        for line in data[magic:hdr_end].splitlines()[1:]:
            try:
                k, _, v = line.decode("utf-8", "replace").partition(":")
                if _:
                    headers[k.strip()] = v.strip()
            except Exception:
                continue
        try:
            clen = int(headers.get("Content-Length", ""))
        except ValueError:
            nxt = data.find(b"WARC/", hdr_end)
            clen = (nxt if nxt != -1 else n) - (hdr_end + sep_len)
        body = data[hdr_end + sep_len : hdr_end + sep_len + clen]
        pos = hdr_end + sep_len + clen

        http_headers: dict[str, str] = {}
        payload = body
        ctype = headers.get("Content-Type", "")
        if ctype.startswith("application/http"):
            he = body.find(b"\r\n\r\n")
            hs = 4
            if he == -1:
                he = body.find(b"\n\n")
                hs = 2
            if he != -1:
                for line in body[:he].splitlines()[1:]:
                    k, _, v = line.decode("utf-8", "replace").partition(":")
                    if _:
                        http_headers[k.strip()] = v.strip()
                payload = body[he + hs :]
        truncated = False
        if max_payload is not None and len(payload) > max_payload:
            payload = payload[:max_payload]
            truncated = True
        yield {
            "source_file": source_file,
            "source_offset": offset_bias + record_start,
            "record_type": headers.get("WARC-Type"),
            "record_id": headers.get("WARC-Record-ID"),
            "warc_headers": headers,
            "http_headers": http_headers,
            "http_content_type": (http_headers.get("Content-Type") or "").split(";")[0].strip() or None,
            "target_uri": headers.get("WARC-Target-URI"),
            "warc_date": headers.get("WARC-Date"),
            "payload": payload,
            "payload_truncated": truncated,
        }


def read_warcs(
    spark: SparkSession,
    glob: str,
    record_types: tuple[str, ...] = ("response",),
    max_payload: int = 1024 * 1024,
    parallelism: Optional[int] = None,
    target_split_bytes: int = 32 << 20,
) -> DataFrame:
    """ReadWarcs parity: glob → distributed record extraction.

    Implemented as range-reads over the split plan (``read_warcs_split``)
    so no task ever materializes a whole archive — the old per-file path
    loaded entire files through ``binaryFile`` ``content`` (2 GB row cap,
    whole-archive RAM spike; the reference streams with 64 KiB buffers,
    warcio.py:111-161). A directory of small files degenerates to one
    range per file, i.e. the old per-file task layout.

    The range path seek-reads through local ``open()``; on a non-local
    scheme (s3a/hdfs/...) that would fail at task time, so such globs fall
    back to ``read_warcs_whole`` (binaryFile works on any Hadoop FS)."""
    scheme = glob.split("://", 1)[0] if "://" in glob else "file"
    if scheme not in ("file", ""):
        return read_warcs_whole(spark, glob, record_types, max_payload, parallelism)
    return read_warcs_split(
        spark, glob, record_types, max_payload, target_split_bytes, parallelism
    )


def read_warcs_whole(
    spark: SparkSession,
    glob: str,
    record_types: tuple[str, ...] = ("response",),
    max_payload: int = 1024 * 1024,
    parallelism: Optional[int] = None,
) -> DataFrame:
    """Whole-file read path (one ``binaryFile`` row per archive): the
    independent oracle the split/range path is tested against, and the
    fallback for non-seekable sources. NOT for huge archives — holds one
    whole file per task (2 GB binaryFile row cap).

    The post-scan ``repartition`` is the reference's Reshuffle fusion break
    (warcio.py:69) — it spreads file payloads before the Python stage.
    """
    files = spark.read.format("binaryFile").load(glob).select("path", "content")
    if parallelism:
        files = files.repartition(parallelism)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in RECORD_SCHEMA.fields]
        for pdf in batches:
            for r in pdf.itertuples():
                rows = []
                for rec in parse_warc_stream(bytes(r.content), r.path, max_payload):
                    if record_types and rec["record_type"] not in record_types:
                        continue
                    rows.append(rec)
                yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(extract, RECORD_SCHEMA)


SPLIT_SCHEMA = "path string, start long, end long"


def _local_path(path: str) -> str:
    """file:-URI → filesystem path (sandbox is local-FS; an object-store
    deployment swaps in the FS client here)."""
    if path.startswith("file://"):
        return path[7:]
    if path.startswith("file:"):
        return path[5:]
    return path


def plan_warc_splits(spark: SparkSession, glob: str,
                     target_split_bytes: int = 32 << 20) -> DataFrame:
    """Index pass (splittable-DoFn parity, warcio.py:72-80): per file, find
    member/record start offsets and coalesce consecutive members into
    ~target_split_bytes byte ranges → (path, start, end) split rows.

    Cost note: gzip offers no random access, so indexing decompresses each
    file once — the same price the reference's restriction tracker pays to
    resync on record boundaries. The index is tiny (one row per ~32 MB) and
    cacheable; re-ingest runs read only their ranges."""
    files = spark.read.format("binaryFile").load(glob).select("path")
    # r6: binaryFile packs small files into few partitions by byte size
    # (128 MB default), so the index pass — which decompresses every file —
    # otherwise runs on one or two tasks. Round-robin the path rows across
    # the cluster; at scale (files ≫ cores) this only evens out the packing.
    files = files.repartition(spark.sparkContext.defaultParallelism)

    def index(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os as _os

        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                lp = _local_path(p)
                with open(lp, "rb") as f:
                    offs = stream_member_offsets(f)  # bounded memory
                if not offs:
                    continue
                bounds = offs + [_os.path.getsize(lp)]
                start = bounds[0]
                for a, b in zip(bounds, bounds[1:]):
                    if b - start >= target_split_bytes or b == bounds[-1]:
                        rows.append({"path": p, "start": start, "end": b})
                        start = b
            yield pd.DataFrame(rows, columns=["path", "start", "end"])

    return files.mapInPandas(index, SPLIT_SCHEMA)


def read_warcs_split(
    spark: SparkSession,
    glob: str,
    record_types: tuple[str, ...] = ("response",),
    max_payload: int = 1024 * 1024,
    target_split_bytes: int = 32 << 20,
    parallelism: Optional[int] = None,
) -> DataFrame:
    """Splittable WARC read (_ReadWarc byte-range parity, warcio.py:72-177):
    index pass → explode files into (path, start, end) ranges → range
    seek+read+parse per task. A few huge WARCs now parallelize across the
    cluster instead of one task per file; records are identical to
    ``read_warcs`` including absolute ``source_offset``."""
    splits = plan_warc_splits(spark, glob, target_split_bytes)
    splits = splits.repartition(
        parallelism or spark.sparkContext.defaultParallelism, "path", "start"
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in RECORD_SCHEMA.fields]
        for pdf in batches:
            # one output frame per range: a task holds at most one range's
            # records (≈ target_split_bytes decompressed) at a time
            for r in pdf.itertuples():
                rows = []
                with open(_local_path(r.path), "rb") as f:
                    f.seek(r.start)
                    chunk = f.read(r.end - r.start)
                for rec in parse_warc_stream(chunk, r.path, max_payload,
                                             offset_bias=int(r.start)):
                    if record_types and rec["record_type"] not in record_types:
                        continue
                    rows.append(rec)
                yield pd.DataFrame(rows, columns=cols)

    return splits.mapInPandas(extract, RECORD_SCHEMA)


def warc_records_to_pages(records: DataFrame) -> DataFrame:
    """records → the engine's pages schema (url, warc_ts, html, text, lang)."""
    return records.select(
        F.col("target_uri").alias("url"),
        F.to_timestamp(F.col("warc_date")).alias("warc_ts"),
        F.col("payload").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    ).where(F.col("url").isNotNull())


def write_warc_bytes(records: list[dict]) -> bytes:
    """Serialize records into a minimal WARC/1.0 byte stream (test fixture
    generator — the engine's own parser round-trips it)."""
    out = io.BytesIO()
    for rec in records:
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: "
            + rec.get("http_content_type", "text/html").encode()
            + b"\r\n\r\n"
            + rec["payload"]
        )
        hdr = (
            f"WARC/1.0\r\n"
            f"WARC-Type: {rec.get('record_type', 'response')}\r\n"
            f"WARC-Record-ID: {rec.get('record_id', '<urn:uuid:x>')}\r\n"
            f"WARC-Date: {rec.get('warc_date', '2021-03-01T00:00:00Z')}\r\n"
            f"WARC-Target-URI: {rec.get('target_uri', 'http://x/')}\r\n"
            f"Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(http)}\r\n\r\n"
        ).encode()
        out.write(hdr + http + b"\r\n\r\n")
    return out.getvalue()
