"""WARC (Web ARChive, ISO 28500) ingestion — the Common Crawl corpus
format — as a first-class Spark data source.

``spark.read.format("warc")`` turns a directory of ``.warc`` /
``.warc.gz`` files into a DataFrame of records with the HTTP envelope
already split off::

    spark.dataSource.register(WarcDataSource)
    df = (spark.read.format("warc")
          .option("path", "/data/cc/segment-00/*.warc.gz")
          .option("recordTypes", "response")
          .load())
    corpus = warc_to_corpus(df)   # -> (doc_id, text, meta)

Why a Python DataSource and not ``binaryFile`` + a UDF: a Common Crawl
WARC is ~1 GB gzipped; ``binaryFile`` materialises the whole file as one
row (and tops out at 2 GB), while this reader STREAMS each file through
a fixed-size decompression window and yields Arrow batches of records —
task memory is bounded by ``maxPayloadBytes`` + one batch, never by file
size.

Scale shape (100 TB = one Common Crawl snapshot):

* one input partition per file — a crawl segment lists tens of
  thousands of ~1 GB files, so the natural parallelism is already far
  wider than any executor fleet, with no shuffle anywhere;
* gzip members are NOT split within a file: Common Crawl compresses one
  member per record precisely so that rows are randomly accessible
  GIVEN the companion CDX index, but a full-corpus scan reads every
  byte anyway — per-file streaming is the optimal access pattern and
  avoids depending on index availability;
* ``maxPayloadBytes`` (default 8 MiB) truncates pathological payloads
  instead of OOMing the task; truncation is surfaced in the
  ``truncated`` column, mirroring WARC's own ``WARC-Truncated`` header
  semantics;
* malformed records (bad version line, unparseable headers, short
  payload) are quarantined per record — counted, optionally kept as
  ``warc_type='__malformed__'`` rows — a single corrupt member must
  not kill a 1000-file task (``strict=false`` default).

The format itself (public spec, ISO 28500 / WARC 1.1): each record is a
version line ``WARC/1.0|1.1`` + CRLF header lines + CRLF CRLF + exactly
``Content-Length`` payload bytes + CRLF CRLF. ``response`` records carry
an HTTP/1.x message as payload; this reader splits its status line,
headers and body (``parseHttp=true`` default).
"""

from __future__ import annotations

import glob as _glob
import gzip
import io
import os
from typing import Iterator, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

__all__ = [
    "MalformedWarcError",
    "WarcDataSource",
    "fetch_warc_by_index",
    "iter_warc_records",
    "read_cdxj",
    "read_warc",
    "read_warc_stream",
    "surt_key",
    "warc_to_corpus",
    "write_cdxj",
    "write_warc",
]

_CRLF = b"\r\n"
_MAX_HEADER_BYTES = 64 * 1024  # sanity cap: a header block past this is corrupt
_DEFAULT_MAX_PAYLOAD = 8 * 1024 * 1024


class MalformedWarcError(ValueError):
    """A record violated the WARC framing (bad version line, oversized
    or unterminated header block, payload shorter than Content-Length).
    Raised in ``strict`` mode; otherwise the record is quarantined."""


class _ChainRaw(io.RawIOBase):
    """Serve a leftover byte buffer, then delegate to the underlying
    stream — lets the parse loop resume at a resync point without a
    seekable source (gzip streams aren't)."""

    def __init__(self, head: bytes, fp):
        self._head = memoryview(head)
        self._fp = fp

    def readable(self) -> bool:
        return True

    def readinto(self, b) -> int:
        if len(self._head):
            n = min(len(b), len(self._head))
            b[:n] = self._head[:n]
            self._head = self._head[n:]
            return n
        data = self._fp.read(len(b))
        b[: len(data)] = data
        return len(data)


class _ResyncGzipRaw(io.RawIOBase):
    """Decompress concatenated gzip members (the Common Crawl
    member-per-record framing) with MEMBER-LEVEL resync: a corrupt
    member — bit-flipped deflate data, a failed CRC, a truncated tail —
    raises ONE :class:`MalformedWarcError` after first repositioning
    the internal state at the next gzip magic (``1f 8b 08``) in the
    raw bytes, so the caller's quarantine-and-resync loop continues
    with the following member instead of losing the rest of a ~1 GB
    crawl file (round 13; plain ``gzip.GzipFile`` propagates
    ``BadGzipFile``/``EOFError`` and kills the whole scan).

    Best-effort boundary: the magic scan starts from the data most
    recently FED to the decompressor — bytes an earlier feed already
    consumed cannot be rescanned, so a magic inside them is lost with
    the corrupt member. At the 1 MiB feed size that bounds the blast
    radius to ~1 MiB of members per corruption, against the whole file
    without it. ``strict`` callers keep ``gzip.GzipFile``.

    Memory bound (round 14, ADVICE r13): deflate expands up to
    ~1030:1, so decompressing a whole raw chunk unboundedly could
    buffer ~1 GiB per feed. Every ``decompress`` call therefore passes
    ``max_length`` so ``self._out`` never exceeds ``_OUT_CAP`` (1 MiB);
    unconsumed input is requeued on ``self._pending`` and drained
    incrementally by subsequent ``readinto`` calls — matching the
    bounded-reads behavior ``gzip.GzipFile`` gives the strict path.

    Resync false positives (ADVICE r13): a bare 3-byte magic occurs by
    chance ~once per 16 MB of compressed data, and each false hit costs
    one extra quarantine marker. The scan therefore also validates the
    4th header byte (FLG: RFC 1952 reserved bits 5-7 must be zero),
    cutting false positives 8×. Residual false hits still converge —
    the bogus decompressor fails and the scan resumes — so quarantine
    marker counts remain an UPPER bound on true corrupt members."""

    _MAGIC = b"\x1f\x8b\x08"
    _OUT_CAP = 1 << 20  # max buffered decompressed bytes per feed

    def __init__(self, fp):
        import zlib

        self._zlib = zlib
        self._fp = fp
        self._d = zlib.decompressobj(31)
        self._pending = b""  # raw bytes not yet fed
        self._out = b""  # decompressed, not yet served
        self._raw_eof = False

    def readable(self) -> bool:
        return True

    def _feed(self) -> None:
        """One step: feed pending/next raw chunk; on corruption, resync
        to the next magic and raise MalformedWarcError exactly once."""
        if not self._pending and not self._raw_eof:
            chunk = self._fp.read(1 << 20)
            if chunk:
                self._pending = chunk
            else:
                self._raw_eof = True
        if not self._pending:
            # raw EOF: a member still mid-stream is a truncation
            if self._d is not None and not self._d.eof:
                tail_obj, self._d = self._d, None
                try:
                    self._out += tail_obj.flush()
                except self._zlib.error:
                    pass
                raise MalformedWarcError(
                    "truncated gzip member at end of file"
                )
            self._d = None
            return
        data, self._pending = self._pending, b""
        if self._d is None:  # scanning for the next member's magic
            buf = data
            pos = 0
            while True:
                i = buf.find(self._MAGIC, pos)
                if i != -1 and i + 3 >= len(buf) and not self._raw_eof:
                    # FLG byte straddles the chunk seam: read more
                    # before judging this candidate
                    chunk = self._fp.read(1 << 20)
                    if chunk:
                        buf += chunk
                        continue
                    self._raw_eof = True
                if i == -1:
                    if self._raw_eof:
                        return  # junk to EOF: nothing more to serve
                    chunk = self._fp.read(1 << 20)
                    if not chunk:
                        self._raw_eof = True
                        return
                    # keep 3 bytes: the 4-byte magic+FLG window may
                    # straddle the chunk seam
                    buf = buf[-3:] + chunk
                    pos = 0
                    continue
                if i + 3 >= len(buf):
                    return  # header cut off at EOF: nothing to serve
                if buf[i + 3] & 0xE0:
                    # RFC 1952 reserved FLG bits set: a false magic
                    # inside member data, not a real header
                    pos = i + 1
                    continue
                data = buf[i:]
                self._d = self._zlib.decompressobj(31)
                break
        # decompress in 64 KiB sub-slices: zlib loses ALL output of the
        # call that hits the corruption, so fine slicing preserves every
        # record decoded before the bad byte (a whole-file single-member
        # gzip keeps its clean prefix instead of losing everything)
        step = 64 * 1024
        off = 0
        try:
            while off < len(data):
                budget = self._OUT_CAP - len(self._out)
                if budget <= 0:
                    # output cap reached: requeue the rest of the raw
                    # input and let readinto drain incrementally
                    # (max_length=0 would mean UNLIMITED to zlib)
                    self._pending = data[off:]
                    return
                self._out += self._d.decompress(data[off:off + step], budget)
                if self._d.eof:  # member end: CRC verified by wbits=31
                    self._pending = self._d.unused_data + data[off + step:]
                    self._d = (
                        self._zlib.decompressobj(31) if self._pending else None
                    )
                    return
                tail = self._d.unconsumed_tail
                if tail:
                    # max_length stopped mid-slice: requeue unconsumed
                    # input; out is at/near the cap, serve it first
                    self._pending = tail + data[off + step:]
                    return
                off += step
        except self._zlib.error as ex:
            # corrupt member: drop back to magic-scan state starting
            # just past the failing slice's first byte, then raise
            # exactly once so the caller can quarantine + resync
            self._pending = data[off + 1:]
            self._d = None
            raise MalformedWarcError(f"corrupt gzip member: {ex}") from ex

    def readinto(self, b) -> int:
        while not self._out:
            at_eof = self._raw_eof and not self._pending
            if at_eof and self._d is None:
                return 0
            self._feed()
        n = min(len(b), len(self._out))
        b[:n] = self._out[:n]
        self._out = self._out[n:]
        return n


def _resync_to_record(fp) -> Optional[bytes]:
    """After a framing error, scan forward for the next plausible
    record boundary — a ``WARC/`` version marker at a line start — and
    return the stream tail from that marker (``None`` at EOF). A false
    positive inside a payload just round-trips through one more
    malformed marker + rescan, so the scan converges; the cost is one
    pass over the skipped span, which a corrupt record was going to
    cost anyway.

    The buffer is seeded with a synthetic ``\\n`` (ADVICE r10): if the
    failed parse left the stream positioned exactly at a record
    boundary — preceding newline already consumed, next bytes are
    ``WARC/...`` — an empty seed would never match ``\\nWARC/`` and
    that good record would be silently skipped. The seed byte is
    stripped by the ``i + 1`` slice, so the returned tail starts at the
    marker either way."""
    buf = b"\n"
    while True:
        chunk = fp.read(1 << 20)
        if not chunk:
            return None
        buf += chunk
        i = buf.find(b"\nWARC/")
        if i != -1:
            return buf[i + 1 :]
        buf = buf[-6:]  # marker may straddle the chunk boundary


def _readline_capped(fp, cap: int) -> bytes:
    line = fp.readline(cap + 1)
    if len(line) > cap:
        raise MalformedWarcError(f"header line exceeds {cap} bytes")
    return line


def _parse_header_block(fp) -> Optional[dict]:
    """Read one ``WARC/x.y`` version line + headers. Returns None at
    clean EOF (including trailing blank lines between members)."""
    line = _readline_capped(fp, _MAX_HEADER_BYTES)
    # tolerate inter-record padding: spec says records are separated by
    # exactly CRLF CRLF, but writers disagree; skip blank lines
    while line in (_CRLF, b"\n"):
        line = _readline_capped(fp, _MAX_HEADER_BYTES)
    if not line:
        return None
    if not line.startswith(b"WARC/"):
        raise MalformedWarcError(f"expected WARC version line, got {line[:40]!r}")
    headers: dict[str, str] = {"__version__": line.strip().decode("ascii", "replace")}
    total = len(line)
    while True:
        line = _readline_capped(fp, _MAX_HEADER_BYTES)
        total += len(line)
        if total > _MAX_HEADER_BYTES:
            raise MalformedWarcError("header block exceeds sanity cap")
        if line in (_CRLF, b"\n"):
            return headers
        if not line:
            raise MalformedWarcError("EOF inside header block")
        # continuation lines (obs-fold) are appended to the last field
        if line[:1] in (b" ", b"\t") and len(headers) > 1:
            headers[last] += " " + line.strip().decode("utf-8", "replace")  # noqa: F821
            continue
        name, sep, value = line.partition(b":")
        if not sep:
            raise MalformedWarcError(f"malformed header line {line[:40]!r}")
        last = name.strip().decode("ascii", "replace").lower()
        headers[last] = value.strip().decode("utf-8", "replace")


def _split_http(payload: bytes) -> tuple[Optional[int], Optional[str], bytes]:
    """Split an HTTP/1.x message block: (status, content_type, body).
    Returns (None, None, payload) when the payload isn't HTTP."""
    if not payload.startswith(b"HTTP/"):
        return None, None, payload
    head, sep, body = payload.partition(b"\r\n\r\n")
    if not sep:
        head, sep, body = payload.partition(b"\n\n")
        if not sep:
            return None, None, payload
    lines = head.split(b"\n")
    parts = lines[0].split()
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return None, None, payload
    ctype = None
    for ln in lines[1:]:
        name, s, value = ln.partition(b":")
        if s and name.strip().lower() == b"content-type":
            ctype = value.strip().decode("utf-8", "replace")
            break
    return status, ctype, body


def iter_warc_records(
    raw,
    *,
    gzipped: bool = False,
    max_payload_bytes: int = _DEFAULT_MAX_PAYLOAD,
    strict: bool = False,
) -> Iterator[dict]:
    """Stream records from one WARC stream with bounded memory.

    Yields one dict per record: the WARC headers (lower-cased keys),
    plus ``payload`` (bytes, truncated at ``max_payload_bytes``),
    ``payload_length`` (the declared Content-Length), ``truncated`` and
    ``record_seq`` (0-based ordinal within the stream — byte offsets
    into the COMPRESSED file require the crawl's CDX index, so this
    reader does not pretend to provide them). ``gzipped`` handles both
    whole-file gzip and Common Crawl's member-per-record concatenation
    (``gzip.GzipFile`` consumes concatenated members transparently).
    The record trailer (CRLF CRLF) is absorbed by the header parser's
    blank-line skip rather than a fixed read, so writers that frame
    with a single CRLF — or none at EOF — still parse. In non-strict
    mode a framing error yields one ``{"__malformed__": <reason>}``
    marker and then RESYNCHRONISES at the next ``WARC/`` version marker
    at a line start — the skipped span is quarantined, the rest of the
    file still parses (a bad Content-Length in one member must not
    cost the remaining ~50k records of a crawl segment). Since round
    13 the same policy covers the GZIP layer: in non-strict mode a
    corrupt gzip member (bit-flipped deflate, failed CRC, truncated
    tail) is skipped member-wise (:class:`_ResyncGzipRaw`) instead of
    killing the whole file the way ``gzip.GzipFile`` would."""
    if gzipped:
        fp = gzip.GzipFile(fileobj=raw) if strict else _ResyncGzipRaw(raw)
    else:
        fp = raw
    fp = io.BufferedReader(fp, 1024 * 1024)
    seq = 0
    while True:
        try:
            headers = _parse_header_block(fp)
            if headers is None:
                return
            try:
                length = int(headers.get("content-length", ""))
            except ValueError:
                raise MalformedWarcError("missing/invalid Content-Length")
            keep = min(length, max_payload_bytes)
            payload = fp.read(keep)
            if len(payload) < keep:
                raise MalformedWarcError("payload shorter than Content-Length")
            remaining = length - keep
            while remaining > 0:  # skip the truncated tail in chunks
                skipped = len(fp.read(min(remaining, 1 << 20)))
                if skipped == 0:
                    raise MalformedWarcError("payload shorter than Content-Length")
                remaining -= skipped
        except MalformedWarcError as ex:
            if strict:
                raise
            yield {"__malformed__": str(ex), "record_seq": seq}
            seq += 1
            # resynchronise at the next record boundary instead of
            # abandoning the file: one corrupt member must not cost the
            # other ~50k records of a 1 GB crawl segment
            while True:
                try:
                    tail = _resync_to_record(fp)
                    break
                except MalformedWarcError as scan_ex:
                    # a corrupt or truncated gzip member met while
                    # scanning: quarantine it too and scan on
                    yield {"__malformed__": str(scan_ex), "record_seq": seq}
                    seq += 1
            if tail is None:
                return
            fp = io.BufferedReader(_ChainRaw(tail, fp), 1024 * 1024)
            continue
        headers["payload"] = payload
        headers["payload_length"] = length
        headers["truncated"] = length > keep
        headers["record_seq"] = seq
        seq += 1
        yield headers


_SCHEMA = (
    "record_id string, warc_type string, target_uri string, "
    "warc_date string, warc_content_type string, http_status int, "
    "http_content_type string, payload binary, payload_length bigint, "
    "truncated boolean, file string"
)


class _FilePartition(InputPartition):
    def __init__(self, paths):
        # one or many whole files per task (gzip members are never
        # split): tiny crawl segments are PACKED so the per-task Python
        # DataSource overhead is amortised — see WarcReader.partitions
        self.paths = [paths] if isinstance(paths, str) else list(paths)


class WarcDataSource(DataSource):
    """``spark.read.format("warc")`` — see module docstring.

    Options: ``path`` (file, directory or glob; comma-separated),
    ``recordTypes`` (comma-separated WARC-Type filter, e.g.
    ``response,resource``; empty = all), ``parseHttp`` (default true),
    ``maxPayloadBytes`` (default 8 MiB), ``strict`` (default false),
    ``keepMalformed`` (default true: quarantined rows appear with
    ``warc_type='__malformed__'`` so corruption is countable; false
    drops them)."""

    @classmethod
    def name(cls) -> str:
        return "warc"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema) -> "WarcReader":
        return WarcReader(self.options)


def _expand_paths(spec: str) -> list[str]:
    out: list[str] = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        if os.path.isdir(part):
            part = os.path.join(part, "*.warc*")
        hits = sorted(_glob.glob(part))
        if not hits and not os.path.isdir(part):
            raise FileNotFoundError(f"warc source: no files match {part!r}")
        out.extend(hits)
    if not out:
        raise FileNotFoundError("warc source: `path` matched no files")
    return out


class WarcReader(DataSourceReader):
    def __init__(self, options):
        # normalize to lowercase keys: the live options object is
        # case-insensitive, but a dict-splatted copy of it (the
        # streaming reader does this to override `path`) is not
        options = {str(k).lower(): v for k, v in dict(options).items()}
        if "path" not in options:
            raise ValueError("warc source requires a `path` option")
        self.paths = _expand_paths(options["path"])
        self.types = {
            t.strip().lower()
            for t in options.get("recordtypes", "").split(",")
            if t.strip()
        }
        self.parse_http = options.get("parsehttp", "true").lower() == "true"
        self.max_payload = int(options.get("maxpayloadbytes", _DEFAULT_MAX_PAYLOAD))
        self.strict = options.get("strict", "false").lower() == "true"
        self.keep_malformed = options.get("keepmalformed", "true").lower() == "true"

    def partitions(self):
        # Small-file packing (round 15, guide §6 "small files hurt
        # twice"): one task per FILE is right for ~1 GB crawl segments,
        # but a directory of tiny segments then pays the Python
        # DataSource's fixed per-task cost (worker round-trip, reader
        # pickle, batch assembly) per file — measured ~9 ms/task against
        # a 0.3 ms parse on the bench fixture. Mirror Spark's own scan
        # packing formula (spark.sql.files.maxPartitionBytes /
        # openCostInBytes / defaultParallelism): files are charged an
        # open cost, the split target is
        #   min(maxPartitionBytes, max(openCost, totalBytes/parallelism))
        # and files greedily pack (size-descending) until the target —
        # so big segments still get one task each while tiny ones share.
        # Gzip members are never split, so whole files stay the packing
        # atom; per-file record_seq/doc ids are unaffected by grouping.
        max_part, open_cost, parallelism = self._packing_conf()
        sized = []
        for p in self.paths:
            try:
                sz = os.path.getsize(p)
            except OSError:
                sz = max_part  # unstat-able file: give it its own task
            sized.append((sz + open_cost, p))
        total = sum(s for s, _ in sized)
        target = min(max_part, max(open_cost, total // max(parallelism, 1)))
        sized.sort(key=lambda t: -t[0])
        parts: list[list[str]] = []
        fills: list[int] = []
        for sz, p in sized:
            placed = False
            for i in range(len(parts)):
                if fills[i] + sz <= target:
                    parts[i].append(p)
                    fills[i] += sz
                    placed = True
                    break
            if not placed:
                parts.append([p])
                fills.append(sz)
        return [_FilePartition(ps) for ps in parts]

    @staticmethod
    def _packing_conf() -> tuple[int, int, int]:
        """(maxPartitionBytes, openCostInBytes, parallelism) from the
        active session when there is one (partitions() runs on the
        driver), Spark's documented defaults otherwise."""
        max_part, open_cost, parallelism = 128 * 1024 * 1024, 4 * 1024 * 1024, None

        def _bytes(v, dflt):
            # conf values arrive as "134217728", "134217728b" or "128MB"
            s = str(v).strip().lower()
            mult = 1
            for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                           ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                           ("b", 1)):
                if s.endswith(suf):
                    s, mult = s[: -len(suf)], m
                    break
            try:
                return int(s) * mult
            except ValueError:
                return dflt

        try:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            if spark is not None:
                max_part = _bytes(
                    spark.conf.get(
                        "spark.sql.files.maxPartitionBytes", str(max_part)
                    ),
                    max_part,
                )
                open_cost = _bytes(
                    spark.conf.get(
                        "spark.sql.files.openCostInBytes", str(open_cost)
                    ),
                    open_cost,
                )
                parallelism = spark.sparkContext.defaultParallelism
        except Exception:  # noqa: BLE001 — packing is best-effort
            pass
        if parallelism is None:
            parallelism = int(
                os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)
            )
        return max_part, open_cost, parallelism

    def read(self, partition: _FilePartition) -> Iterator:
        import pyarrow as pa

        rows: list[tuple] = []
        batch_bytes = 0

        def flush():
            nonlocal rows, batch_bytes
            if rows:
                yield pa.RecordBatch.from_pandas(
                    _rows_frame(rows), preserve_index=False
                )
            rows, batch_bytes = [], 0

        for path in partition.paths:
            gz = path.endswith(".gz")
            with open(path, "rb") as raw:
                for rec in iter_warc_records(
                    raw,
                    gzipped=gz,
                    max_payload_bytes=self.max_payload,
                    strict=self.strict,
                ):
                    if "__malformed__" in rec:
                        # quarantine row: the reason rides in `payload`
                        # (it IS the row's content), type marks it
                        # filterable
                        if self.keep_malformed:
                            rows.append(
                                (None, "__malformed__", None, None, None,
                                 None, None, rec["__malformed__"].encode(),
                                 None, False, path)
                            )
                        continue
                    wtype = rec.get("warc-type", "").lower()
                    if self.types and wtype not in self.types:
                        continue
                    payload = rec["payload"]
                    status = ctype = None
                    if self.parse_http and wtype in ("response", "revisit"):
                        status, ctype, payload = _split_http(payload)
                    rows.append(
                        (
                            rec.get("warc-record-id"),
                            wtype,
                            rec.get("warc-target-uri"),
                            rec.get("warc-date"),
                            rec.get("content-type"),
                            status,
                            ctype,
                            payload,
                            rec["payload_length"],
                            bool(rec["truncated"]),
                            path,
                        )
                    )
                    batch_bytes += len(payload) + 256
                    if len(rows) >= 256 or batch_bytes >= 16 * 1024 * 1024:
                        yield from flush()
        yield from flush()


def _rows_frame(rows):
    import pandas as pd

    return pd.DataFrame(
        rows,
        columns=[
            "record_id", "warc_type", "target_uri", "warc_date",
            "warc_content_type", "http_status", "http_content_type",
            "payload", "payload_length", "truncated", "file",
        ],
    ).astype({"http_status": "Int32", "payload_length": "Int64"})


def read_warc(spark, path: str, **options) -> DataFrame:
    """Convenience wrapper: register the source (idempotent) and load."""
    try:
        spark.dataSource.register(WarcDataSource)
    except Exception:  # already registered
        pass
    reader = spark.read.format("warc").option("path", path)
    for k, v in options.items():
        reader = reader.option(k, str(v).lower() if isinstance(v, bool) else str(v))
    return reader.load()


def warc_to_corpus(df: DataFrame, *, encoding: str = "utf-8") -> DataFrame:
    """Project WARC response rows onto the engine's enforced corpus
    shape ``(doc_id, text, meta)`` (sources/corpus.py contract):
    content-addressed stable ids over (uri, date), payload decoded as
    text with replacement (charset sniffing is a content-model concern
    — layer it on top via a mutator/text op when needed). Pure Column
    algebra; no Python in the row path beyond the source itself."""
    from gecko_spark.sources.corpus import stable_doc_id

    return (
        df.filter(F.col("warc_type") == "response")
        .select(
            stable_doc_id(F.col("target_uri"), F.col("warc_date")).alias("doc_id"),
            F.decode(F.col("payload"), encoding).alias("text"),
            F.to_json(
                F.struct(
                    F.col("target_uri").alias("uri"),
                    F.col("warc_date").alias("date"),
                    F.col("http_status").alias("status"),
                    F.col("http_content_type").alias("content_type"),
                    F.col("payload_length").alias("length"),
                    F.col("truncated"),
                )
            ).alias("meta"),
        )
    )


def write_warc(
    records: list[dict], path: str, *, member_per_record: Optional[bool] = None
) -> list[tuple[int, int]]:
    """Write records to a ``.warc`` / ``.warc.gz`` file (test fixtures,
    re-export). Each record dict: ``warc_type``, ``payload`` bytes, and
    optional ``record_id`` / ``target_uri`` / ``warc_date`` /
    ``content_type`` / extra headers under ``headers``. ``.gz`` paths
    default to Common Crawl's member-per-record framing.

    Returns per-record ``(offset, length)`` byte spans in the written
    file — under member-per-record framing these are exactly the CDX
    index's compressed-member coordinates (each span is one complete
    gzip member), feeding :func:`write_cdxj`. For the other framings
    the spans cover the UNCOMPRESSED frame and are informational."""
    gz = path.endswith(".gz")
    if member_per_record is None:
        member_per_record = gz

    def frame(seq: int, rec: dict) -> bytes:
        payload = rec["payload"]
        headers = [
            ("WARC-Type", rec.get("warc_type", "resource")),
            ("WARC-Record-ID", rec.get("record_id", f"<urn:rec:{seq}>")),
            ("WARC-Date", rec.get("warc_date", "2024-01-01T00:00:00Z")),
        ]
        if rec.get("target_uri"):
            headers.append(("WARC-Target-URI", rec["target_uri"]))
        if rec.get("content_type"):
            headers.append(("Content-Type", rec["content_type"]))
        headers.extend(rec.get("headers", {}).items())
        headers.append(("Content-Length", str(len(payload))))
        head = b"WARC/1.1\r\n" + b"".join(
            f"{k}: {v}\r\n".encode() for k, v in headers
        )
        return head + b"\r\n" + payload + b"\r\n\r\n"

    spans: list[tuple[int, int]] = []
    if gz and member_per_record:
        with open(path, "wb") as out:
            for i, rec in enumerate(records):
                member = gzip.compress(frame(i, rec))
                spans.append((out.tell(), len(member)))
                out.write(member)
    elif gz:
        with gzip.open(path, "wb") as out:
            for i, rec in enumerate(records):
                blob = frame(i, rec)
                spans.append((out.tell(), len(blob)))
                out.write(blob)
    else:
        with open(path, "wb") as out:
            for i, rec in enumerate(records):
                blob = frame(i, rec)
                spans.append((out.tell(), len(blob)))
                out.write(blob)
    return spans


# ---------------------------------------------------------------------------
# CDX index layer: selective (random-access) reads of a crawl.
#
# A full-corpus scan (WarcDataSource above) reads every byte; but the
# other production access pattern — "fetch THESE 10^6 of the crawl's
# 10^10 records" — must not. Common Crawl ships a CDXJ index per crawl:
# one line per record, `<SURT key> <14-digit timestamp> {json}`, where
# the json carries the record's (filename, offset, length) compressed-
# member coordinates. Because the member-per-record gzip framing makes
# every record an independently decompressible byte span, an indexed
# fetch is: join your keys against the index (columnar, pushdown-
# friendly), then ranged reads of exactly the members you need —
# at 100 TB the difference between reading 100 TB and reading ~0.01%.
# ---------------------------------------------------------------------------


def surt_key(url: str) -> str:
    """Minimal SURT (Sort-friendly URI Reordering Transform) key, the
    CDX line's primary sort key: scheme stripped, host lowercased and
    dot-reversed, default ports dropped — `com,example)/path`. Enough
    to build and join self-consistent indexes; byte-compatibility with
    every edge of a third-party generator's canonicalisation (www-
    stripping policy, session-param removal) is NOT promised — join on
    `url` when mixing index producers."""
    rest = url.split("://", 1)[-1]
    host, slash, path = rest.partition("/")
    host = host.rsplit("@", 1)[-1].lower()
    for p in (":80", ":443"):
        if host.endswith(p):
            host = host[: -len(p)]
    return ",".join(reversed(host.split("."))) + ")/" + path.lower()


def write_cdxj(entries: list[dict], path: str) -> None:
    """Write a CDXJ index file (plain or ``.gz``). Each entry:
    ``url``, ``filename``, ``offset``, ``length`` (ints — the spans
    :func:`write_warc` returns), optional ``timestamp`` (14-digit),
    ``status``, ``mime``, ``digest``. Lines are emitted in SURT-key
    order, the format's sort contract."""
    import json as _json

    lines = []
    for e in entries:
        key = surt_key(e["url"])
        ts = str(e.get("timestamp", "20240101000000"))
        body = {"url": e["url"], "filename": e["filename"],
                "offset": str(int(e["offset"])), "length": str(int(e["length"]))}
        for k in ("status", "mime", "digest"):
            if e.get(k) is not None:
                body[k] = str(e[k])
        lines.append(f"{key} {ts} {_json.dumps(body, sort_keys=True)}\n")
    lines.sort()
    data = "".join(lines).encode()
    if path.endswith(".gz"):
        with gzip.open(path, "wb") as out:
            out.write(data)
    else:
        with open(path, "wb") as out:
            out.write(data)


def read_cdxj(spark, path: str) -> DataFrame:
    """Load a CDXJ index as a DataFrame: ``surt_key, timestamp, url,
    filename, offset, length, status, mime, digest``. Pure Column
    parsing over ``spark.read.text`` (which handles ``.gz`` and globs
    natively) — the index scan itself is distributed and prunable."""
    from pyspark.sql import types as T

    meta = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("filename", T.StringType()),
            T.StructField("offset", T.StringType()),
            T.StructField("length", T.StringType()),
            T.StructField("status", T.StringType()),
            T.StructField("mime", T.StringType()),
            T.StructField("digest", T.StringType()),
        ]
    )
    lines = spark.read.text(path)
    j = F.from_json(F.expr("substring(value, instr(value, '{'))"), meta)
    return lines.select(
        F.split(F.col("value"), " ", 3).getItem(0).alias("surt_key"),
        F.split(F.col("value"), " ", 3).getItem(1).alias("timestamp"),
        j.url.alias("url"),
        j.filename.alias("filename"),
        j.offset.cast("bigint").alias("offset"),
        j.length.cast("bigint").alias("length"),
        j.status.cast("int").alias("status"),
        j.mime.alias("mime"),
        j.digest.alias("digest"),
    )


def fetch_warc_by_index(
    index: DataFrame,
    warc_dir: str,
    *,
    parse_http: bool = True,
    max_payload_bytes: int = _DEFAULT_MAX_PAYLOAD,
) -> DataFrame:
    """Fetch exactly the records an index selection names: ranged reads
    of individual gzip members, never a full-file scan.

    ``index`` needs ``filename``, ``offset``, ``length`` columns (a
    filtered :func:`read_cdxj` result); ``warc_dir`` roots the relative
    filenames. The fetch is ``mapInPandas`` repartitioned by filename,
    sorted by offset within each task — sequential-ish I/O per file,
    one open handle at a time, memory bounded by one member. On an
    object store the same seek+read maps to a ranged GET; a member
    that fails to decompress/parse yields a quarantine row
    (``warc_type='__malformed__'``, reason in ``payload``) instead of
    failing the task."""
    sel = index.select("filename", "offset", "length").repartition(
        F.col("filename")
    )

    def fetch(batches):
        import pandas as pd  # noqa: F401

        for pdf in batches:
            pdf = pdf.sort_values(["filename", "offset"])
            rows = []
            cur_name, cur_fp = None, None
            try:
                for fname, off, length in pdf.itertuples(index=False):
                    path = os.path.join(warc_dir, fname)
                    if fname != cur_name:
                        if cur_fp is not None:
                            cur_fp.close()
                        cur_name, cur_fp = fname, open(path, "rb")
                    cur_fp.seek(int(off))
                    member = cur_fp.read(int(length))
                    try:
                        recs = list(
                            iter_warc_records(
                                io.BytesIO(member),
                                gzipped=member[:2] == b"\x1f\x8b",
                                max_payload_bytes=max_payload_bytes,
                                strict=True,
                            )
                        )
                        if len(recs) != 1:
                            raise MalformedWarcError(
                                f"span holds {len(recs)} records, expected 1"
                            )
                        rec = recs[0]
                    except (MalformedWarcError, OSError) as ex:
                        rows.append(
                            (None, "__malformed__", None, None, None, None,
                             None, str(ex).encode(), None, False, path)
                        )
                        continue
                    wtype = rec.get("warc-type", "").lower()
                    payload = rec["payload"]
                    status = ctype = None
                    if parse_http and wtype in ("response", "revisit"):
                        status, ctype, payload = _split_http(payload)
                    rows.append(
                        (rec.get("warc-record-id"), wtype,
                         rec.get("warc-target-uri"), rec.get("warc-date"),
                         rec.get("content-type"), status, ctype, payload,
                         rec["payload_length"], bool(rec["truncated"]), path)
                    )
            finally:
                if cur_fp is not None:
                    cur_fp.close()
            if rows:
                yield _rows_frame(rows)

    return sel.mapInPandas(fetch, schema=_SCHEMA)


# ---------------------------------------------------------------------------
# Streaming ingestion: spark.readStream.format("warc")
#
# The production shape for a live crawl: segment files LAND continuously
# in a directory; each micro-batch processes exactly the files that
# arrived since the last committed offset, one input partition per new
# file, with the same streaming bounded-memory record parse as the batch
# scan. Spark's built-in streaming file sources can't read a custom
# record format, so this rides the Spark 4 DataSourceStreamReader API
# (executor-side reads — the driver only lists filenames).
# ---------------------------------------------------------------------------


class _WarcStreamReader:
    """Offset = {"seen": sorted list of processed file names} — the same
    bookkeeping Spark's own file source checkpoints (its file log). The
    offset grows with total file count; at crawl scale (tens of
    thousands of segment files) that is kilobytes per batch, and a
    compaction policy (age out files older than the landing window)
    can bound it if a deployment needs to."""

    def __init__(self, options):
        if "path" not in options:
            raise ValueError("warc stream source requires a `path` option")
        self._spec = options["path"]
        self._opts = options

    def _list(self) -> list:
        try:
            return sorted(_expand_paths(self._spec))  # full, stable paths
        except FileNotFoundError:
            return []

    def initialOffset(self) -> dict:
        return {"seen": []}

    def latestOffset(self) -> dict:
        return {"seen": self._list()}

    def partitions(self, start: dict, end: dict):
        new = sorted(set(end.get("seen", ())) - set(start.get("seen", ())))
        return [_FilePartition(p) for p in new]

    def read(self, partition):
        # identical record pipeline to the batch scan (streaming
        # partitions hold one newly-landed file each)
        yield from WarcReader(
            {**self._opts, "path": ",".join(partition.paths)}
        ).read(partition)

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


try:  # Spark 4 streaming DataSource API
    from pyspark.sql.datasource import DataSourceStreamReader as _DSSR

    class WarcStreamReader(_WarcStreamReader, _DSSR):
        pass
except ImportError:  # pragma: no cover - older pyspark
    WarcStreamReader = _WarcStreamReader  # type: ignore[misc]


def _warc_stream_reader(self, schema) -> "WarcStreamReader":
    return WarcStreamReader(self.options)


WarcDataSource.streamReader = _warc_stream_reader


def read_warc_stream(spark, path: str, **options) -> DataFrame:
    """Continuous WARC ingestion: a streaming DataFrame over a landing
    directory — each micro-batch reads exactly the newly arrived files
    (one partition per file), then flows into the engine's streaming
    operators (``streaming/stream.py``) or a ``foreachBatch`` sink.
    Same options as :func:`read_warc`.

    Caveat: ``Trigger.AvailableNow`` falls back to single-batch
    execution for Python stream sources (Spark logs the warning; the
    DataSource API exposes no SupportsTriggerAvailableNow hook) — all
    currently-listed files land in ONE batch instead of rate-limited
    batches. Correctness is unaffected: offsets still commit, and a
    restarted query reads only files that arrived since. Use the
    default processing-time trigger for incremental batch sizing."""
    try:
        spark.dataSource.register(WarcDataSource)
    except Exception:
        pass
    reader = spark.readStream.format("warc").option("path", path)
    for k, v in options.items():
        reader = reader.option(k, str(v).lower() if isinstance(v, bool) else str(v))
    return reader.load()
