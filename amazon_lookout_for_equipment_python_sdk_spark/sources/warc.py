"""WARC / WET crawl-archive source + sink (stdlib only).

WARC (ISO 28500, the Common Crawl container) is the one de-facto
LLM-data format the corpus layer was missing an ingest end for: a real
crawl-to-corpus pipeline starts from ``*.warc.gz`` (raw HTTP captures)
or ``*.warc.wet.gz`` (WET — extracted-text "conversion" records), then
flows into ``operators.html.html_to_text`` → quality → dedup.  Public
format spec: https://iipc.github.io/warc-specifications/ — implemented
here with only stdlib ``gzip``/``zlib``.

Framing (both flavors share it):

- a WARC file is a concatenation of records; each record is a header
  block (``WARC/1.0\\r\\n`` + ``Name: value`` fields, terminated by a
  blank line) followed by exactly ``Content-Length`` payload bytes and
  a ``\\r\\n\\r\\n`` trailer;
- ``.warc.gz`` compresses EACH RECORD as its own gzip member and
  concatenates the members — the property that makes shard-parallel and
  record-streaming reads possible.  Python's ``gzip`` transparently
  reads concatenated members, so decompression is one pass either way.

Scale design:

- **Read**: ``binaryFile`` lists shards — parallelism = #shards, the
  intended crawl-archive contract (Common Crawl ships ~1 GB shards;
  100 TB is ~100k shards spread over the cluster).  A ``mapInPandas``
  kernel decompresses and parses records shard-local; payload bytes
  never visit the driver.
- **Write**: deterministic shard assignment (``pmod(hash64(uri))``),
  ONE repartition co-locates each shard, rows sorted by URI inside the
  shard and gzip mtime pinned to 0 so shard bytes are reproducible
  run-to-run.  Output streams route through :mod:`._fsio` — plain
  paths use local ``open()``, URI-schemed ``out_dir``s (``file://``,
  ``hdfs://``, object-store schemes) resolve via ``pyarrow.fs``, the
  executor-safe storage seam.
- **Malformed records**: the parser is tolerant — a record with a bad
  header block or a lying ``Content-Length`` yields ONE error row
  (``error`` column set, payload null), then the parser RESYNCS by
  scanning for the next ``WARC/1.`` magic, so one corrupt record never
  discards the rest of a 1 GB shard.
"""

from __future__ import annotations

import gzip
import hashlib
import re
import zlib
from collections.abc import Iterator

from . import _fsio

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: schema of ``read_warc`` — one row per WARC record (or per parse
#: error).  ``payload`` is the raw record block (HTTP response bytes
#: for ``response`` records, extracted text bytes for WET
#: ``conversion`` records); typed metadata comes from the header.
RECORD_SCHEMA = T.StructType(
    [
        T.StructField("shard_path", T.StringType(), False),
        T.StructField("record_id", T.StringType(), True),
        T.StructField("record_type", T.StringType(), True),
        T.StructField("target_uri", T.StringType(), True),
        T.StructField("warc_date", T.StringType(), True),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("n_records", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)

_MAGIC = b"WARC/1."


def _find_blank(buf, end: "int | None" = None) -> "tuple[int, int]":
    """EARLIEST blank line of either newline convention in
    ``buf[:end]`` -> (index, separator length), or (-1, 0).  The
    single home of the r12 earliest-terminator rule: probing CRLF
    over the whole buffer first mis-frames an LF-terminated header
    whose body contains a \\r\\n\\r\\n.  (Four framing sites hand-rolled
    this before r14; the one that diverged — _dechunk — was exactly
    where the rule got broken.)"""
    e_crlf = buf.find(b"\r\n\r\n", 0, end)
    e_lf = buf.find(b"\n\n", 0, end)
    if e_crlf >= 0 and (e_lf < 0 or e_crlf <= e_lf):
        return e_crlf, 4
    if e_lf >= 0:
        return e_lf, 2
    return -1, 0


def _header_value(v: str) -> str:
    """Make a header value framing-safe: CR/LF inside a value would
    inject header lines — or, as a blank line, TRUNCATE the header and
    desync the whole record (r14 review; scraped hrefs really do carry
    stray newlines).  Percent-encoding is the URI-correct escape and
    harmless for the other header values."""
    if "\r" in v or "\n" in v:
        v = v.replace("\r", "%0D").replace("\n", "%0A")
    return v


def _record_bytes(
    record_type: str,
    target_uri: str | None,
    warc_date: str,
    content_type: str,
    payload: bytes,
    record_id: str,
) -> bytes:
    """One framed WARC record (header block + payload + trailer)."""
    headers = [
        ("WARC-Type", record_type),
        ("WARC-Record-ID", record_id),
        ("WARC-Date", warc_date),
        ("Content-Type", content_type),
        ("Content-Length", str(len(payload))),
    ]
    if target_uri:
        headers.insert(3, ("WARC-Target-URI", target_uri))
    head = b"WARC/1.0\r\n" + b"".join(
        f"{k}: {_header_value(v)}\r\n".encode() for k, v in headers
    )
    return head + b"\r\n" + payload + b"\r\n\r\n"


def _payload_digest(payload: bytes) -> str:
    """md5 hex of the FULL payload — the within-shard sort tiebreaker
    and the record-id content component.  Hashing only a prefix (the
    first draft used 256 bytes) collides for records sharing a URI and
    payload prefix, violating WARC-Record-ID uniqueness (r12 ADVICE)."""
    return hashlib.md5(payload).hexdigest()


def _det_record_id(uri: str, payload_dig: str) -> str:
    """Deterministic ``urn:uuid`` from (uri, full-payload digest) —
    re-exports are byte-identical run-to-run (no wall clock, no RNG),
    and two records differing anywhere in their payloads get distinct
    ids even under the same URI."""
    h = hashlib.md5(uri.encode() + b"\x00" + payload_dig.encode()).hexdigest()
    return (
        f"<urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}>"
    )


def write_warc(
    df: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    uri_col: str = "url",
    payload_col: str = "text",
    record_type: str = "conversion",
    content_type: str = "text/plain",
    warc_date: str = "2024-01-01T00:00:00Z",
    gzipped: bool = True,
    warcinfo: bool = True,
) -> DataFrame:
    """Pack ``df`` into ``n_shards`` WARC shards under ``out_dir``;
    returns the shard manifest as a DataFrame.

    Defaults write the WET flavor (``conversion`` + ``text/plain`` —
    the extracted-text layout LLM pipelines consume); pass
    ``record_type='response'`` with HTTP bytes in ``payload_col`` for
    raw-capture WARC.  ``warc_date`` is a fixed literal by design —
    reproducible shard bytes; pass a column's collected value upstream
    if capture times matter.  Each record is its own gzip member
    (``gzipped=True``), the standard ``.warc.gz`` layout.

    ``warcinfo=True`` (default) opens each shard with a ``warcinfo``
    record naming the shard — the real WET/Common Crawl layout, so
    re-exported shards round-trip through any conforming reader;
    consumers filter ``record_type`` (or pass
    ``read_warc(record_types=[...])``).  The manifest's ``n_records``
    counts CONTENT records only.

    ``out_dir`` may be a plain local path or a URI (``file://``,
    ``hdfs://``, an object-store scheme — anything ``pyarrow.fs``
    resolves): the
    shard streams open through :mod:`._fsio`, the executor-safe
    storage seam (r12 verdict #3), so on a real cluster the shards
    land on the shared store, not executor-local disk."""
    _fsio.ensure_dir(out_dir)
    ext = "warc.gz" if gzipped else "warc"
    rows = df.select(
        F.col(uri_col).cast("string").alias("_uri"),
        F.col(payload_col).cast("binary").alias("_payload"),
        F.pmod(F.xxhash64(F.col(uri_col).cast("string")), F.lit(n_shards))
        .cast("int")
        .alias("_shard"),
    ).repartition(n_shards, "_shard")

    def pack(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one task == one hash partition; may hold several _shard values
        # only if n_shards exceeds task count — group defensively
        chunks = list(pdf_iter)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        for shard, grp in pdf.groupby("_shard", sort=True):
            # sort key = (uri, full-payload digest): uri alone leaves
            # duplicate-URI rows in shuffle arrival order, which varies
            # run-to-run and breaks the reproducible-shard-bytes claim
            # (r12 ADVICE); the digest doubles as the record-id content
            # component below, so it's computed once per row.
            grp = grp.assign(
                _dig=[
                    _payload_digest(
                        bytes(p) if p is not None else b""
                    )
                    for p in grp["_payload"]
                ]
            ).sort_values(["_uri", "_dig"], kind="mergesort")
            path = _fsio.join_path(out_dir, f"shard-{int(shard):05d}.{ext}")
            n = 0
            with _fsio.open_output(path) as fh:
                if warcinfo:
                    info_payload = (
                        f"software: sparkgraft-warc/1\r\n"
                        f"format: WARC file version 1.0\r\n"
                        f"warc-shard: {int(shard)}\r\n"
                    ).encode()
                    info = _record_bytes(
                        "warcinfo",
                        None,
                        warc_date,
                        "application/warc-fields",
                        info_payload,
                        _det_record_id(
                            f"warcinfo:{int(shard)}",
                            _payload_digest(info_payload),
                        ),
                    )
                    fh.write(
                        gzip.compress(info, mtime=0) if gzipped else info
                    )
                for uri, payload, dig in zip(
                    grp["_uri"], grp["_payload"], grp["_dig"]
                ):
                    payload = bytes(payload) if payload is not None else b""
                    rec = _record_bytes(
                        record_type,
                        uri,
                        warc_date,
                        content_type,
                        payload,
                        _det_record_id(uri or "", dig),
                    )
                    fh.write(
                        gzip.compress(rec, mtime=0) if gzipped else rec
                    )
                    n += 1
            yield pd.DataFrame(
                {
                    "shard": [int(shard)],
                    "path": [path],
                    "n_records": [n],
                    "n_bytes": [_fsio.file_size(path)],
                }
            )

    return df.sparkSession.createDataFrame(
        rows.mapInPandas(pack, schema=MANIFEST_SCHEMA).collect(),
        MANIFEST_SCHEMA,
    )


#: header blocks are tens of lines; a "header" with no terminator
#: inside this many bytes is garbage, not a header — resync instead of
#: buffering without bound.
_MAX_HEADER = 64 * 1024


class _RecordParser:
    """Incremental, memory-bounded, tolerant WARC record parser.

    ``feed(chunk)`` consumes decompressed bytes as they stream out of
    the gzip members and returns the records completed so far;
    ``finish()`` flushes the tail (an incomplete final record becomes
    an error row).  Peak buffer = one record + one feed chunk — the
    parse never needs the whole decompressed shard resident (a ~1 GB
    Common Crawl shard decompresses 3-5x; the r12 review caught the
    whole-blob first draft as a per-task memory cliff).

    Tolerance: a malformed record (bad magic, unterminated or oversized
    header, missing/invalid Content-Length, truncated body) yields ONE
    error row, then the parser RESYNCS by scanning for the next
    ``\\nWARC/1.`` marker — silently, so a multi-megabyte garbage run
    costs one row, not one per chunk.  The marker can also occur inside
    a payload, so a resync may re-enter mid-record and emit one more
    error row before locking back on — the documented tolerant-parse
    trade (exact framing needs the Content-Length chain intact)."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.buf = bytearray()
        self.base = 0  # absolute offset of buf[0] in the stream
        self.resync = False

    def _err(self, msg: str) -> dict:
        return {
            "shard_path": self.path,
            "record_id": None,
            "record_type": None,
            "target_uri": None,
            "warc_date": None,
            "content_type": None,
            "payload": None,
            "error": msg,
        }

    def feed(self, chunk: bytes) -> "list[dict]":
        self.buf.extend(chunk)
        return self._drain(final=False)

    def finish(self) -> "list[dict]":
        return self._drain(final=True)

    def reset(self) -> None:
        """Discard any partially-buffered record.  Called when the
        BYTE SOURCE desynced (e.g. a corrupt gzip member): the next
        bytes fed start at a fresh member = record boundary, so a
        pending Content-Length from the interrupted record must not
        swallow them (r14 review: it silently consumed every
        subsequent good member's records, or worse spliced their
        bytes into one error-free corrupted payload)."""
        self.base += len(self.buf)
        self.buf.clear()
        self.resync = False

    def _consume(self, n: int) -> None:
        del self.buf[:n]
        self.base += n

    def _drain(self, final: bool) -> "list[dict]":
        out: list[dict] = []
        while True:
            buf = self.buf
            if self.resync:
                # scan for the magic at ANY offset — requiring a
                # preceding newline silently lost a valid record that
                # began exactly where the garbage ended (r14 review:
                # garbage not ending in \n, or a desync landing on a
                # member boundary).  A false hit inside garbage is
                # self-correcting: its header parse fails and resync
                # continues past it — error rows, never silent loss.
                # (every entry into resync consumes past the magic it
                # failed on, so a magic at offset 0 here is always a
                # FRESH candidate — e.g. one just assembled from the
                # kept tail under byte-at-a-time feeds)
                idx = buf.find(_MAGIC)
                if idx < 0:
                    # keep a tail that may hold a partial magic prefix
                    keep = len(_MAGIC) - 1
                    self._consume(max(len(buf) - keep, 0))
                    if final:
                        self._consume(len(self.buf))
                    return out
                self._consume(idx)
                self.resync = False
                continue
            # skip inter-record padding (spec trailers / stray newlines)
            pad = 0
            while pad < len(buf) and buf[pad : pad + 1] in (b"\r", b"\n"):
                pad += 1
            if pad:
                self._consume(pad)
                buf = self.buf
            if not buf:
                return out
            if len(buf) < len(_MAGIC) and not final:
                return out  # can't tell yet
            if not buf.startswith(_MAGIC):
                out.append(
                    self._err(
                        f"no WARC magic at offset {self.base}; resynced"
                    )
                )
                self.resync = True
                continue
            head_end, sep = _find_blank(buf, _MAX_HEADER)
            if head_end < 0:
                if len(buf) >= _MAX_HEADER or final:
                    out.append(self._err("unterminated header block"))
                    if final:
                        self._consume(len(buf))
                        return out
                    # consume the failed magic BEFORE resyncing — the
                    # resync scan accepts a magic at offset 0, so
                    # leaving this one in place would re-parse it
                    # forever
                    self._consume(len(_MAGIC))
                    self.resync = True
                    continue
                return out  # header still streaming in
            head = bytes(buf[:head_end]).decode("utf-8", "replace")
            fields: dict[str, str] = {}
            for line in head.split("\n")[1:]:
                line = line.strip("\r")
                if ":" in line:
                    k, v = line.split(":", 1)
                    fields[k.strip().lower()] = v.strip()
            try:
                length = int(fields["content-length"])
                if length < 0:
                    raise ValueError
            except (KeyError, ValueError):
                out.append(self._err("missing or invalid Content-Length"))
                self._consume(head_end)
                self.resync = True
                continue
            body_start = head_end + sep
            body_end = body_start + length
            if body_end > len(buf):
                if not final:
                    return out  # body still streaming in
                out.append(
                    self._err(
                        f"Content-Length {length} overruns shard "
                        f"({len(buf) - body_start} bytes left)"
                    )
                )
                self._consume(len(buf))
                return out
            out.append(
                {
                    "shard_path": self.path,
                    "record_id": fields.get("warc-record-id"),
                    "record_type": fields.get("warc-type"),
                    "target_uri": fields.get("warc-target-uri"),
                    "warc_date": fields.get("warc-date"),
                    "content_type": fields.get("content-type"),
                    "payload": bytes(buf[body_start:body_end]),
                    "error": None,
                }
            )
            self._consume(body_end)


def _parse_records(path: str, blob: bytes) -> "list[dict]":
    """One-shot form of :class:`_RecordParser` (tests, small shards)."""
    p = _RecordParser(path)
    return p.feed(blob) + p.finish()


def _iter_gzip_stream(
    blob: bytes, chunk_in: int = 1 << 20, chunk_out: int = 1 << 20
):
    """Stream the decompressed bytes of a concatenated-member gzip blob
    as ``('data', bytes)`` chunks — memory-bounded (never the whole
    decompressed shard) and CORRUPTION-TOLERANT, which ``gzip.GzipFile``
    is not: a corrupt or truncated member there raises mid-read and
    sinks the whole task, so one flipped byte in a 1 GB crawl shard
    discarded the other ~999 MB (caught by the r13 shard-count bench
    harness's corrupt-shard pass).

    On a bad member this yields ``('error', msg)`` ONCE per desync
    event, then resyncs at the next gzip member magic (``1f 8b 08``) —
    exact for the per-record-member layout WARC prescribes, where
    member boundary == record boundary.  A false magic inside corrupt
    compressed data just fails the next decompress and the scan moves
    on silently (one error row per desync, not per candidate); a false
    magic that DOES decompress emits garbage the WARC-level parser
    already tolerates (its own magic resync)."""
    pos, n = 0, len(blob)
    desynced = False
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        tail = b""
        feed = pos
        try:
            while not d.eof:
                data = tail or blob[feed : feed + chunk_in]
                if not data:
                    yield (
                        "error",
                        f"truncated gzip member at byte {pos}",
                    )
                    return
                if not tail:
                    feed += len(data)
                out = d.decompress(data, chunk_out)
                tail = d.unconsumed_tail
                if out:
                    yield ("data", out)
        except zlib.error as e:
            if not desynced:
                yield ("error", f"corrupt gzip member at byte {pos}: {e}")
                desynced = True
            nxt = blob.find(b"\x1f\x8b\x08", pos + 1)
            if nxt < 0:
                return
            pos = nxt
            continue
        # member closed cleanly; unused_data is the start of the next one
        pos = feed - len(d.unused_data)
        desynced = False


def read_warc(
    spark: SparkSession,
    path: str,
    record_types: "list[str] | None" = None,
) -> DataFrame:
    """Read WARC/WET shards under ``path`` into :data:`RECORD_SCHEMA`.

    ``binaryFile`` lists ``*.warc`` / ``*.warc.gz`` (and
    ``*.warc.wet.gz``) — one input partition per shard, the
    crawl-archive parallelism contract — and the parse runs
    shard-local inside ``mapInPandas``.  Gzip members are detected by
    magic per shard, so mixed compressed/plain directories read fine.
    Malformed records surface as ``error`` rows, never exceptions (a
    corrupt record in a 1 GB shard must not sink the shard).

    ``record_types`` pushes the type filter INTO the parser: raw WARC
    interleaves request/response/metadata records per capture, so a
    downstream ``record_type == 'conversion'`` filter would still ship
    every dropped record's payload across the Arrow boundary — filtered
    here, those payloads never leave the parse loop (~3x less Arrow
    traffic on raw captures).  Error rows always pass (they carry no
    payload and the caller decides the tolerance policy)."""
    shards = spark.read.format("binaryFile").load(
        path, pathGlobFilter="*.warc*"
    )
    wanted = set(record_types) if record_types is not None else None

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # stream the decompressed bytes through the incremental parser
        # in 1 MiB chunks and flush completed records every few thousand
        # rows: peak task memory = compressed shard (binaryFile's
        # contract) + one record + one chunk + one emit batch — NEVER
        # the whole decompressed shard (3-5x at crawl compression).
        chunk_b, emit_rows = 1 << 20, 2048
        for pdf in batches:
            for p, content in zip(pdf["path"], pdf["content"]):
                blob = bytes(content)
                parser = _RecordParser(p)
                pending: list[dict] = []
                if blob[:2] == b"\x1f\x8b":
                    # member-aware streaming decompression: tolerant of
                    # corrupt/truncated members (GzipFile raises and
                    # would sink the task — see _iter_gzip_stream)
                    for kind, val in _iter_gzip_stream(
                        blob, chunk_in=chunk_b, chunk_out=chunk_b
                    ):
                        if kind == "data":
                            pending.extend(parser.feed(val))
                        else:
                            pending.append(parser._err(val))
                            # the NEXT member starts at a fresh record
                            # boundary — a pending Content-Length from
                            # the interrupted record must not swallow
                            # it (r14 review: silent multi-record loss)
                            parser.reset()
                        if len(pending) >= emit_rows:
                            yield pd.DataFrame(pending)
                            pending = []
                else:
                    # same feed/flush loop as the gzip branch: rows
                    # stream out instead of accumulating next to the
                    # whole blob (r14 review — the plain-shard path
                    # held blob + all parsed payload copies at once)
                    for off in range(0, len(blob), chunk_b):
                        pending.extend(
                            parser.feed(blob[off : off + chunk_b])
                        )
                        if len(pending) >= emit_rows:
                            yield pd.DataFrame(pending)
                            pending = []
                pending.extend(parser.finish())
                if pending:
                    yield pd.DataFrame(pending)

    if wanted is not None:
        inner = parse

        def parse(batches):  # noqa: F811 — typed wrapper over inner
            for pdf in inner(batches):
                keep = pdf[
                    pdf["record_type"].isin(wanted) | pdf["error"].notna()
                ]
                if len(keep):
                    yield keep

    return shards.select("path", "content").mapInPandas(
        parse, schema=RECORD_SCHEMA
    )


def _dechunk(body: bytes) -> bytes:
    """Decode an HTTP/1.1 chunked-transfer body (size-line in hex,
    chunk bytes, CRLF, ... , 0-size terminator).  Tolerant: any
    malformed size line or overrun returns what decoded so far plus
    the undecodable remainder — a truncated capture should yield its
    prefix, not nothing."""
    out = bytearray()
    pos = 0
    n = len(body)
    while pos < n:
        # EARLIEST terminator of either convention — probing CRLF over
        # the whole remaining body first mis-framed an LF-terminated
        # size line whose chunk DATA contains a \r\n (r14 review; the
        # same rule every other framing site adopted after r12)
        e_crlf = body.find(b"\r\n", pos)
        e_lf = body.find(b"\n", pos)
        if e_lf >= 0 and (e_crlf < 0 or e_lf < e_crlf):
            eol, sep = e_lf, 1
        else:
            eol, sep = e_crlf, 2
        if eol < 0:
            return bytes(out) + body[pos:]
        size_tok = body[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            return bytes(out) + body[pos:]
        if size == 0:
            break  # terminator (trailers, if any, are dropped)
        start = eol + sep
        end = start + size
        if end > n:
            out.extend(body[start:n])
            return bytes(out)
        out.extend(body[start:end])
        pos = end
        # consume the chunk-terminating CRLF/LF
        if body[pos : pos + 2] == b"\r\n":
            pos += 2
        elif body[pos : pos + 1] == b"\n":
            pos += 1
    return bytes(out)


def http_payload_body(payload: bytes | None) -> bytes | None:
    """Split an HTTP response capture (a ``response`` record's payload)
    into its body — everything after the first blank line, with
    HTTP/1.1 ``Transfer-Encoding: chunked`` bodies DECODED (Common
    Crawl captures ship them verbatim; without de-chunking the hex
    size lines corrupt the extracted HTML) and ``Content-Encoding``
    gzip/deflate bodies DECOMPRESSED (brotli is the declared seam — no
    stdlib codec).  Returns the input unchanged when no HTTP header
    block is present (WET ``conversion`` payloads are already bare
    text)."""
    if payload is None:
        return None
    if not payload.startswith(b"HTTP/"):
        return payload
    idx, sep = _find_blank(payload)
    if idx < 0:
        return b""
    head = payload[:idx].lower()
    body = payload[idx + sep:]
    if b"transfer-encoding" in head and b"chunked" in head:
        body = _dechunk(body)
    if b"content-encoding" in head:
        if b"gzip" in head and body[:2] == b"\x1f\x8b":
            # tolerant: a TRUNCATED gzip stream decompresses to its
            # prefix without error; CORRUPT data keeps what decoded so
            # far, or the raw bytes when nothing did (the caller sees
            # something, not nothing).  Loop over members: a
            # MULTI-MEMBER gzip body (concatenated streams are legal
            # Content-Encoding) was silently truncated to its first
            # member by the old single decompressobj pass (r14 review)
            parts = []
            rest = bytes(body)
            try:
                while rest[:2] == b"\x1f\x8b":
                    d = zlib.decompressobj(wbits=31)
                    parts.append(d.decompress(rest))
                    if not d.eof:
                        break  # truncated final member: prefix kept
                    rest = d.unused_data
                body = b"".join(parts)
            except zlib.error:
                # a raising decompress appends nothing, so `parts`
                # holds exactly the fully-decoded prior members
                if parts:
                    body = b"".join(parts)
        elif b"deflate" in head:
            # RFC 9110 says zlib-wrapped; plenty of real servers send
            # RAW deflate — try the wrapped form first (it has a header
            # check, so garbage fails fast), raw second.  Same tolerance
            # contract as gzip: truncated → prefix, corrupt → raw bytes.
            for wbits in (zlib.MAX_WBITS, -zlib.MAX_WBITS):
                try:
                    out = zlib.decompressobj(wbits=wbits).decompress(body)
                except zlib.error:
                    continue
                if out or not body:
                    body = out
                    break
    return body


def with_http_body(
    df: DataFrame, payload_col: str = "payload", out_col: str = "body"
) -> DataFrame:
    """Column-level :func:`http_payload_body` (Arrow-vectorized)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def _body(s: pd.Series) -> pd.Series:
        return s.map(http_payload_body)

    return df.withColumn(out_col, _body(F.col(payload_col)))


#: ``charset=`` parameter — the same grammar serves the Content-Type
#: header and the two HTML meta forms (http-equiv content=... and
#: ``<meta charset=...>``); quotes optional, token = RFC 2978 names.
_CHARSET_RE = re.compile(
    rb"""charset\s*=\s*["']?\s*([A-Za-z0-9_.:\-]+)""", re.I
)


def http_declared_charset(
    payload: bytes | None, body: bytes | None = None
) -> str | None:
    """The charset an HTTP capture DECLARES: the ``Content-Type``
    response header's ``charset=`` parameter, else a ``charset=``
    inside the first 1024 body bytes (the HTML-spec meta-sniff
    window).  None when nothing is declared — the caller picks the
    fallback.  Declaration-based by design: statistical detection
    (chardet/cchardet) is a documented swap-in seam, not a stdlib
    capability.

    ``body`` is the ALREADY transfer/content-DECODED body to meta-
    sniff (:func:`http_payload_body` output).  Header scan always
    runs on the raw payload; without ``body`` the meta window falls
    back to the raw bytes after the header — which misses a ``<meta
    charset>`` inside a chunked/gzip/deflate body (r13 ADVICE), so
    pass it when available (:func:`decode_http_text` does)."""
    if payload is None or not payload.startswith(b"HTTP/"):
        return None
    idx, sep = _find_blank(payload)
    if idx < 0:
        idx, sep = len(payload), 0  # headers-only capture
    for line in payload[:idx].split(b"\n"):
        if line.strip(b"\r").lower().startswith(b"content-type:"):
            m = _CHARSET_RE.search(line)
            if m:
                return m.group(1).decode("ascii", "replace").lower()
    window = body if body is not None else payload[idx + sep :]
    m = _CHARSET_RE.search(window[:1024])
    if m:
        return m.group(1).decode("ascii", "replace").lower()
    return None


#: byte-order marks, longest first — per the WHATWG encoding standard
#: a BOM takes PRECEDENCE over any declared charset (a UTF-8 page
#: mislabeled latin-1 but carrying its BOM decodes as UTF-8).
_BOMS = (
    (b"\xef\xbb\xbf", "utf-8-sig"),
    (b"\xff\xfe", "utf-16-le"),
    (b"\xfe\xff", "utf-16-be"),
)


#: home Unicode ranges per sniffable legacy codec — a candidate is
#: ELIGIBLE only when the text it decodes lives in its script (CJK
#: ideographs, kana, hangul, CJK punctuation).
_SNIFF_RANGES: "dict[str, tuple[tuple[int, int], ...]]" = {
    "gbk": ((0x4E00, 0x9FFF), (0x3000, 0x303F), (0xFF01, 0xFF60)),
    "big5": ((0x4E00, 0x9FFF), (0x3000, 0x303F), (0xFF01, 0xFF60)),
    "shift_jis": (
        (0x3040, 0x30FF), (0x4E00, 0x9FFF),
        (0x3000, 0x303F), (0xFF01, 0xFF9F),
    ),
    "euc-jp": ((0x3040, 0x30FF), (0x4E00, 0x9FFF), (0x3000, 0x303F)),
    "euc-kr": ((0xAC00, 0xD7A3), (0x4E00, 0x9FFF), (0x3000, 0x303F)),
}

#: high-frequency hanzi (simplified + common traditional forms) — the
#: DISTINCTIVENESS signal for gbk/big5: correctly-decoded Chinese text
#: is dominated by these; mojibake (e.g. Shift_JIS bytes mis-decoded
#: as GBK) lands on RARE ideographs and scores near zero.  Japanese/
#: Korean get kana/hangul as their distinctive ranges instead, which
#: mojibake essentially never concentrates in.
_COMMON_HANZI = frozenset(
    "的一是不了人我在有他这中大来上国个到说们为子和你地出道也时年得"
    "就那要下以生会自着去之过家学对可她里后小么心多天而能好都然没日"
    "于起还发成事只作当想看文无开手十用主行方又如前所本见经头面公同"
    "三已老从动两长知民样现分将外但身些与高意进把法此实回二理美点月"
    "明其种声全工己话儿者向情部正名定女问力机给等几很业最间新什打便"
    "位因重被走电四第门相次东政海口使教西再平真听世气信北少士师百面"
    "集符字声明页内容这里复现"
    "這個說們為來時學國會對裡後點現門開無經頭話兒問間聽氣萬與"
)


def _distinctive_frac(codec: str, codepoints: "list[int]") -> float:
    """Fraction of non-ASCII chars in the codec's language-distinctive
    set: kana for Japanese, hangul for Korean, frequent hanzi for
    Chinese — the signal that separates a right decode from a
    structurally-valid mojibake one."""
    if codec in ("shift_jis", "euc-jp"):
        hit = sum(1 for o in codepoints if 0x3040 <= o <= 0x30FF)
    elif codec == "euc-kr":
        hit = sum(1 for o in codepoints if 0xAC00 <= o <= 0xD7A3)
    else:  # gbk / big5
        hit = sum(1 for o in codepoints if chr(o) in _COMMON_HANZI)
    return hit / len(codepoints)


def _strict_decode_trimmed(sample: bytes, codec: str) -> "str | None":
    """Strict decode tolerating ONLY a truncated multibyte char at the
    sample boundary (the sniff window cuts mid-character)."""
    try:
        return sample.decode(codec)
    except UnicodeDecodeError as e:
        if e.start >= len(sample) - 3:
            try:
                return sample[: e.start].decode(codec)
            except UnicodeDecodeError:
                return None
        return None
    except LookupError:
        return None


def sniff_charset(
    body: "bytes | None", max_bytes: int = 65536
) -> "str | None":
    """Statistical charset guess for UNDECLARED non-UTF-8 bytes — the
    tiny stdlib member of the chardet/charset_normalizer family (those
    remain the documented swap-in for long-tail encodings).

    Two published signals, nothing model-based:

    - **high-byte run shape**: latin-family text (windows-1252 /
      latin-*) carries ISOLATED high bytes (one accented char between
      ASCII); CJK multibyte encodings produce runs >= 2 bytes.  Mostly
      singleton runs => None (callers fall back to windows-1252).
    - **strict-decode + script mass + DISTINCTIVENESS**: each
      candidate must strictly decode the sample (a structural filter —
      invalid byte sequences eliminate it), >= 70% of the non-ASCII
      chars it produces must land in its script's home ranges, and the
      candidates are RANKED by their language-distinctive mass (kana /
      hangul / frequent-hanzi fraction, >= 30% required) — a
      structurally-valid wrong decode (Shift_JIS bytes read as GBK)
      lands on rare ideographs and loses to the right one.

    Returns the winning codec name or None (undetermined).  Bounded
    work: only the first ``max_bytes`` are examined."""
    if not body:
        return None
    sample = body[:max_bytes]
    runs_total = runs_single = 0
    run = 0
    for b in sample:
        if b >= 0x80:
            run += 1
        elif run:
            runs_total += 1
            runs_single += run == 1
            run = 0
    if run:
        runs_total += 1
        runs_single += run == 1
    if not runs_total:
        return None  # pure ASCII — nothing to detect
    if runs_single / runs_total > 0.5:
        return None  # isolated accents — latin family, not CJK
    best_score, best = 0.0, None
    for codec, ranges in _SNIFF_RANGES.items():
        txt = _strict_decode_trimmed(sample, codec)
        if txt is None:
            continue
        non_ascii = [ord(c) for c in txt if ord(c) > 0x7F]
        if len(non_ascii) < 4:
            continue
        home = sum(
            1
            for o in non_ascii
            if any(lo <= o <= hi for lo, hi in ranges)
        )
        if home / len(non_ascii) < 0.7:
            continue
        score = _distinctive_frac(codec, non_ascii)
        if score > best_score:
            best_score, best = score, codec
    return best if best_score >= 0.3 else None


def decode_http_text(payload: bytes | None) -> "tuple[str, str] | None":
    """(text, charset_used) for an HTTP capture or bare payload.

    Decode order — the WHATWG/CCNet convention, declaration-first:

    1. a byte-order mark, which OVERRIDES any declaration (WHATWG
       encoding standard §4.2: BOM first);
    2. the DECLARED charset (header, then meta sniff), if Python knows
       the codec, with ``errors='replace'``;
    3. strict UTF-8 (most of the modern web, and a strict pass cannot
       mis-decode by accident);
    4. :func:`sniff_charset` — statistical detection for undeclared
       CJK legacy pages (r14; a windows-1252 fallback used to garble
       them into mojibake);
    5. ``windows-1252`` with replace — the superset-of-latin-1 codec
       every byte string decodes under, so the chain total.

    ``charset_used`` records which branch fired (``'utf-8-sig'``,
    ``'utf-8'``, ``'windows-1252'``, the sniffed codec, or the
    normalized declared name) — downstream quality filters routinely
    gate on it."""
    if payload is None:
        return None
    body = http_payload_body(payload)
    if body is None:
        return None
    for bom, codec in _BOMS:
        if body.startswith(bom):
            # utf-8-sig strips its BOM itself; the utf-16 codecs with
            # an explicit endianness do not, so strip it here
            start = 0 if codec == "utf-8-sig" else len(bom)
            return body[start:].decode(codec, "replace"), codec
    declared = http_declared_charset(payload, body)
    if declared:
        try:
            return body.decode(declared, "replace"), declared
        except LookupError:
            pass  # bogus codec name declared — fall through
    try:
        return body.decode("utf-8"), "utf-8"
    except UnicodeDecodeError:
        pass
    guessed = sniff_charset(body)
    if guessed:
        return body.decode(guessed, "replace"), guessed
    return body.decode("windows-1252", "replace"), "windows-1252"


def with_http_text(
    df: DataFrame,
    payload_col: str = "payload",
    text_col: str = "text",
    charset_col: str = "charset",
) -> DataFrame:
    """Column-level :func:`decode_http_text` (Arrow-vectorized): adds
    ``text`` (decoded body) and ``charset`` (the codec that produced
    it) — the step between :func:`with_http_body` and the text-quality
    layer that a UTF-8-only ``F.decode`` gets wrong on the legacy-
    charset share of any real crawl."""
    from pyspark.sql.functions import pandas_udf

    for c in (text_col, charset_col):
        if c in df.columns:
            raise ValueError(
                f"input column {c!r} collides with with_http_text output; "
                "rename it or pass different out columns"
            )

    @pandas_udf(f"struct<{text_col}:string,{charset_col}:string>")
    def _decode(s: pd.Series) -> pd.DataFrame:
        pairs = [decode_http_text(p) for p in s]
        return pd.DataFrame(
            {
                text_col: [p[0] if p else None for p in pairs],
                charset_col: [p[1] if p else None for p in pairs],
            }
        )

    tmp = "_http_text"
    if tmp in df.columns:
        raise ValueError(
            "input column '_http_text' collides with the staging column"
        )
    return (
        df.withColumn(tmp, _decode(F.col(payload_col)))
        .withColumn(text_col, F.col(tmp)[text_col])
        .withColumn(charset_col, F.col(tmp)[charset_col])
        .drop(tmp)
    )
