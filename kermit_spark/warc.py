"""WARC export/import — the interchange format of the crawl world.

The reference stores fetched files on disk via toLocalPath
(`/root/reference/src/kermit/extensions/ext.offline.coffee`); production
crawls store WARC (ISO 28500) so archives interoperate (wget, Heritrix,
Common Crawl, warcio all speak it). This sink writes WARC/1.0 response
records and reads them back — stdlib only, no warcio dependency.

Framing: each DataFrame row is rendered to ONE complete record string
(CRLF headers, exact Content-Length over UTF-8 bytes, two trailing
CRLFs — the last supplied by the text writer's ``lineSep="\r\n"`` row
terminator) so Spark concatenates records byte-exactly — every partition becomes one valid
.warc file written in parallel, no driver funnel. Read-back parses each
file sequentially by Content-Length (never by scanning for separators),
so bodies containing literal "WARC/1.0" text round-trip fine.

Determinism: the caller passes the crawl timestamp; record ids derive
from md5(url, wave) — same crawl, same archive.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_WARC_VERSION = "WARC/1.0"

WARC_READ_SCHEMA = (
    "url string, wave int, status int, content_type string, body string"
)


def _record_uuid(url, wave, kind: str | None = None) -> str:
    """Deterministic record id from (url, wave[, kind]). ONE derivation for
    all three record families — the WET/WAT ``WARC-Refers-To`` linkage is
    exactly this function with kind=None, so the chain cannot drift."""
    import hashlib

    key = str(url) + chr(0) + str(wave) + ((chr(0) + kind) if kind else "")
    rid = hashlib.md5(key.encode()).hexdigest()
    return f"{rid[:8]}-{rid[8:12]}-{rid[12:16]}-{rid[16:20]}-{rid[20:32]}"


def _render_record(url, wave, status, content_type, body, date: str) -> str:
    payload = (
        f"HTTP/1.1 {status}\r\n"
        f"Content-Type: {content_type or 'application/octet-stream'}\r\n"
        "\r\n" + (body or "")
    )
    n = len(payload.encode("utf-8"))
    return (
        f"{_WARC_VERSION}\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date}\r\n"
        f"WARC-Record-ID: <urn:uuid:{_record_uuid(url, wave)}>\r\n"
        f"WARC-Kermit-Wave: {wave}\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {n}\r\n"
        "\r\n"
        # one CRLF here; the text writer's lineSep="\r\n" row terminator
        # supplies the second, completing the two-CRLF record framing
        f"{payload}\r\n"
    )


def write_warc(
    documents: DataFrame,
    path: str,
    date: str = "2000-01-01T00:00:00Z",
    order_cols: tuple[str, ...] = ("url",),
) -> None:
    """documents rows (url, wave, status, content_type, body) → ``path``
    as parallel .warc part files. ``date`` is the archive's WARC-Date —
    an explicit parameter, never wall-clock, so re-runs are identical.

    The render runs as an Arrow-batched mapInPandas (string assembly is
    the whole job); partition count controls file count; rows are sorted
    by ``order_cols`` WITHIN each partition so a file's record order is
    reproducible without a global sort.
    """

    _write_records(
        documents.select("url", "wave", "status", "content_type", "body"),
        lambda u, w, s, ct, b: _render_record(u, w, s, ct, b, date),
        path,
        order_cols,
    )


def _write_records(prepared: DataFrame, render_row, path: str,
                   order_cols: tuple[str, ...]) -> None:
    """Shared record sink for all three archive families: rows sorted by
    ``order_cols`` WITHIN each partition (reproducible file order, no
    global sort), each row rendered to one complete record string in an
    Arrow batch, every partition written as one part file. The
    ``lineSep="\\r\\n"`` row terminator supplies each record's second
    trailing CRLF — the framing contract _iter_records' ``+4`` advance
    depends on, kept in exactly one place."""

    cols = prepared.columns

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {"value": [render_row(*vals) for vals in zip(*(pdf[c] for c in cols))]}
            )

    (
        prepared.sortWithinPartitions(*order_cols)
        .mapInPandas(render, "value string")
        .write.mode("overwrite")
        .option("lineSep", "\r\n")
        .text(path)
    )


def _check_utf8_fidelity(fname: str, text: str) -> None:
    """Fail LOUDLY when Spark's text read lossily decoded a non-UTF-8
    archive: ``spark.read.text`` replaces undecodable byte sequences with
    U+FFFD, which silently changes byte lengths — every offset/length the
    CDX derives after the first bad byte would point at garbage, and
    ``read_warc_at`` ranged reads would return it without error. Detection
    is two-stage so the valid-UTF-8 common path pays one substring scan
    and nothing else: only when the decoded text contains U+FFFD (the
    replacement marker — rare but legal in genuine UTF-8) is the text
    re-encoded and compared against the on-disk byte size; a mismatch
    proves lossy decoding. Remote (non-file:) paths can't be stat'd from
    the executor — for those the UTF-8-only contract is documented on
    build_cdx and this check passes through."""
    if "�" not in text:
        return
    from urllib.parse import unquote, urlparse

    parsed = urlparse(fname)
    if parsed.scheme not in ("file", ""):
        return
    local = unquote(parsed.path) or fname
    try:
        size = os.path.getsize(local)
    except OSError:
        return
    if len(text.encode("utf-8")) != size:
        raise ValueError(
            f"WARC file {fname} is not valid UTF-8: the decoded text "
            f"re-encodes to {len(text.encode('utf-8'))} bytes but the file "
            f"holds {size} — byte offsets derived from this decode would be "
            "shifted. kermit_spark archives are UTF-8 by construction; "
            "foreign archives must be transcoded (or repaired) before "
            "indexing."
        )


def _iter_records(text: str):
    """Walk one WARC-family file sequentially in BYTE space, yielding
    (headers, payload, byte_offset, byte_length) per record. The buffer is
    encoded ONCE and each payload is sliced by Content-Length — O(file)
    total, where per-record ``remaining.encode()[:n]`` would be O(file²).
    The single walker serves the response (.warc), conversion (.wet) and
    metadata (.wat) readers AND the CDX indexer, so the framing contract
    (two trailing CRLFs per record) lives in exactly one place. Stops at
    the first non-record byte (trailing garbage — records are a prefix).

    BYTE-space fidelity presumes the ``text`` argument round-trips to the
    original file bytes — true for every archive this module writes (UTF-8
    throughout) and enforced for CDX indexing by _check_utf8_fidelity."""
    data = text.encode("utf-8")
    version = _WARC_VERSION.encode()
    pos = 0
    while pos < len(data):
        if not data.startswith(version, pos):
            break
        head_end = data.index(b"\r\n\r\n", pos)
        headers = {}
        for line in data[pos:head_end].decode("utf-8").split("\r\n")[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        n = int(headers["content-length"])
        body_start = head_end + 4
        payload = data[body_start:body_start + n].decode("utf-8")
        end = body_start + n + 4  # payload + its two trailing CRLFs
        yield headers, payload, pos, end - pos
        pos = end


def _parse_http_payload(raw: str) -> tuple[int, str | None, str]:
    """One response record's payload → (status, content_type, body)."""
    http_head, _, body = raw.partition("\r\n\r\n")
    status = int(http_head.split("\r\n")[0].split(" ", 1)[1])
    ctype = None
    for line in http_head.split("\r\n")[1:]:
        k, _, v = line.partition(":")
        if k.strip().lower() == "content-type":
            ctype = v.strip()
    return status, ctype, body


def _parse_file(text: str) -> list[tuple]:
    """Sequential Content-Length-driven parse of one .warc file."""
    out: list[tuple] = []
    for headers, raw, _, _ in _iter_records(text):
        status, ctype, body = _parse_http_payload(raw)
        out.append(
            (
                headers["warc-target-uri"],
                int(headers.get("warc-kermit-wave", 0)),
                status,
                ctype,
                body,
            )
        )
    return out


CDX_SCHEMA = (
    "surt_key string, url string, wave int, status int, content_type string, "
    "digest string, filename string, offset long, length long"
)


def surt_key(url) -> "F.Column":
    """Simplified SURT (Sort-friendly URI Reordering Transform) key — the
    sort key of the CDX ecosystem: lowercase, scheme dropped, host
    components reversed and comma-joined, then ``)/path?query``. Pure JVM
    (parse_url stays in codegen). Simplifications vs. the full pywb
    canonicalizer, documented deliberately: no www-stripping, no query-param
    sorting, no session-id scrubbing — the key is deterministic and
    prefix-sortable per domain, which is what partition pruning needs."""
    host = F.lower(F.parse_url(url, F.lit("HOST")))
    path = F.lower(F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("/")))
    query = F.parse_url(url, F.lit("QUERY"))
    return F.concat(
        F.array_join(F.reverse(F.split(host, r"\.")), ","),
        F.lit(")"),
        path,
        F.when(query.isNotNull(), F.concat(F.lit("?"), F.lower(query))).otherwise(
            F.lit("")
        ),
    )


def build_cdx(spark: SparkSession, path: str) -> DataFrame:
    """Scan the .warc files under ``path`` once and emit one CDX row per
    record: (surt_key, url, wave, status, content_type, digest=md5(body),
    filename, offset, length) with BYTE-exact offset/length so a consumer
    can fetch any single record with one ranged read (the Common Crawl
    cdx → HTTP Range-GET access pattern; locally, a seek+read —
    read_warc_at below). Offsets are accumulated from the same
    Content-Length walk the reader uses, never re-derived by searching.

    Store the result sorted by surt_key and partitioned/bucketed on the
    key prefix and lookups prune to one file set per domain.

    UTF-8-only contract: offsets are derived from the text AFTER Spark's
    UTF-8 decode, which round-trips byte-exactly only for valid UTF-8
    archives (everything this module writes). A foreign non-UTF-8 archive
    is rejected loudly by _check_utf8_fidelity rather than indexed with
    silently shifted offsets — transcode it first."""
    import hashlib

    files = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("filename"), "value"
    )

    def index(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for fname, text in zip(pdf["filename"], pdf["value"]):
                _check_utf8_fidelity(fname, text)
                # _iter_records walks in byte space, so its offsets/lengths
                # ARE the ranged-read coordinates — byte-exact by
                # construction
                for headers, raw, byte_pos, rec_bytes in _iter_records(text):
                    status, ctype, body = _parse_http_payload(raw)
                    rows.append(
                        (
                            headers["warc-target-uri"],
                            int(headers.get("warc-kermit-wave", 0)),
                            status,
                            ctype,
                            hashlib.md5(body.encode("utf-8")).hexdigest(),
                            fname,
                            byte_pos,
                            rec_bytes,
                        )
                    )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "url", "wave", "status", "content_type",
                        "digest", "filename", "offset", "length",
                    ],
                )

    idx = files.mapInPandas(
        index,
        "url string, wave int, status int, content_type string, "
        "digest string, filename string, offset long, length long",
    )
    return idx.select(surt_key(F.col("url")).alias("surt_key"), "*")


def write_cdx_table(cdx: DataFrame, path: str, buckets: int = 64) -> None:
    """Persist a CDX index hive-partitioned by ``kb = xxhash64(registered
    domain prefix of surt_key) % buckets`` and sorted by surt_key within
    each file. A lookup for one URL (or one domain) then touches ONE
    bucket directory — partition pruning at the path level — and parquet
    min/max stats on the sorted surt_key prune row groups inside it. At
    Common Crawl scale (10^10 records) this is the difference between a
    full index scan and a few MB read per lookup."""
    keyed = cdx.withColumn(
        "kb",
        F.pmod(F.xxhash64(F.split(F.col("surt_key"), r"\)").getItem(0)), F.lit(buckets)).cast("int"),
    )
    (
        keyed.repartition(F.col("kb"))
        .sortWithinPartitions("surt_key", "filename", "offset")
        .write.mode("overwrite")
        .partitionBy("kb")
        .parquet(path)
    )


def lookup_cdx(spark: SparkSession, path: str, urls: list[str], buckets: int = 64) -> DataFrame:
    """Resolve URLs against a stored CDX table: returns the matching index
    rows (surt_key, url, ..., filename, offset, length) reading ONLY the
    buckets those URLs hash into. The bucket predicate is computed
    driver-side from the same surt/hash recipe write_cdx_table used, so
    Spark's scan plans `PartitionFilters: kb IN (...)` — untouched buckets
    contribute zero files. Feed the result to ``read_warc_at`` for the
    records themselves."""
    probe = spark.createDataFrame([(u,) for u in urls], "url string").select(
        "url", surt_key(F.col("url")).alias("surt_key")
    )
    keys = [
        (r["url"], r["surt_key"], r["kb"])
        for r in probe.withColumn(
            "kb",
            F.pmod(
                F.xxhash64(F.split(F.col("surt_key"), r"\)").getItem(0)),
                F.lit(buckets),
            ).cast("int"),
        ).collect()
    ]
    want_kb = sorted({kb for _, _, kb in keys})
    want_surt = sorted({s for _, s, _ in keys})
    idx = spark.read.parquet(path)
    return idx.filter(F.col("kb").isin(want_kb)).filter(
        F.col("surt_key").isin(want_surt)
    )


def read_warc_at(spark: SparkSession, cdx: DataFrame) -> DataFrame:
    """Random-access fetch: given CDX rows (filename, offset, length),
    return exactly those records as (url, wave, status, content_type,
    body) — each record read with ONE seek+read of ``length`` bytes, never
    a file scan. This is the ranged-GET access path archives serve at
    scale (an object store serves ``Range: bytes=offset-``); rows are
    grouped by filename within each task so a file is opened once per
    batch. Scales with |requested records|, independent of archive size."""

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for fname, grp in pdf.groupby("filename", sort=True):
                local = fname[len("file:"):] if fname.startswith("file:") else fname
                grp = grp.sort_values("offset")
                with open(local, "rb") as f:
                    for off, ln in zip(grp["offset"], grp["length"]):
                        f.seek(int(off))
                        rec = f.read(int(ln)).decode("utf-8")
                        parsed = _parse_file(rec)
                        if parsed:
                            rows.extend(parsed)
            if rows:
                yield pd.DataFrame(
                    rows, columns=["url", "wave", "status", "content_type", "body"]
                )

    return cdx.select("filename", "offset", "length").mapInPandas(
        fetch, WARC_READ_SCHEMA
    )


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Parse .warc files back to (url, wave, status, content_type, body).

    One task per file (wholetext read); parsing walks records by
    Content-Length, so record payloads may contain anything.
    """
    files = spark.read.text(path, wholetext=True)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for text in pdf["value"]:
                rows.extend(_parse_file(text))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["url", "wave", "status", "content_type", "body"]
                )

    return files.mapInPandas(parse, WARC_READ_SCHEMA)


# ---------------------------------------------------------------------------
# WET — the extracted-text conversion sibling of the response archive
# (Common Crawl ships crawl text as WARC-Type: conversion records in .wet
# files; text-pipeline consumers read those instead of raw WARC). Same
# framing discipline as write_warc: one complete record string per row,
# parallel part files, explicit date, ids derived from (url, wave) so the
# conversion record's WARC-Refers-To matches the response record write_warc
# produced for the same row.
# ---------------------------------------------------------------------------

WET_READ_SCHEMA = "url string, wave int, text string"


def wet_text(spans) -> "F.Column":
    """Visible text of an interleaved document, as one newline-joined
    string in span order: text-span bodies and link anchor text (what a
    text extractor keeps), media/resource refs dropped. Whitespace-only
    entries contribute nothing. Pure JVM expression — no Python on the
    extraction path."""
    visible = F.transform(
        spans,
        lambda s: F.when(s["kind"].isin("text", "link"), s["text"]),
    )
    return F.array_join(
        F.filter(visible, lambda t: t.isNotNull() & (F.trim(t) != "")),
        "\n",
    )


def _render_wet_record(url, wave, text, date: str) -> str:
    body = text or ""
    n = len(body.encode("utf-8"))
    return (
        f"{_WARC_VERSION}\r\n"
        "WARC-Type: conversion\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date}\r\n"
        f"WARC-Record-ID: <urn:uuid:{_record_uuid(url, wave, 'wet')}>\r\n"
        f"WARC-Refers-To: <urn:uuid:{_record_uuid(url, wave)}>\r\n"
        f"WARC-Kermit-Wave: {wave}\r\n"
        "Content-Type: text/plain\r\n"
        f"Content-Length: {n}\r\n"
        "\r\n"
        f"{body}\r\n"
    )


def write_wet(
    documents: DataFrame,
    path: str,
    date: str = "2000-01-01T00:00:00Z",
    order_cols: tuple[str, ...] = ("url",),
) -> None:
    """documents rows (url, wave, spans) → ``path`` as parallel .wet part
    files of WARC/1.0 conversion records. Text derivation (wet_text) runs
    JVM-side; only the record assembly is an Arrow batch."""
    _write_records(
        documents.select("url", "wave", wet_text(F.col("spans")).alias("text")),
        lambda u, w, t: _render_wet_record(u, w, t, date),
        path,
        order_cols,
    )


def _parse_wet_file(text: str) -> list[tuple]:
    """Sequential Content-Length-driven parse of one .wet/.wat file
    (conversion/metadata records carry their payload directly — no HTTP
    head)."""
    return [
        (
            headers["warc-target-uri"],
            int(headers.get("warc-kermit-wave", 0)),
            raw,
        )
        for headers, raw, _, _ in _iter_records(text)
    ]


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """Parse .wet files back to (url, wave, text) — one task per file."""
    files = spark.read.text(path, wholetext=True)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for text in pdf["value"]:
                rows.extend(_parse_wet_file(text))
            if rows:
                yield pd.DataFrame(rows, columns=["url", "wave", "text"])

    return files.mapInPandas(parse, WET_READ_SCHEMA)


def documents_from_warc(
    spark: SparkSession,
    path: str,
    num_partitions: int = 32,
    **parse_kwargs,
) -> DataFrame:
    """Re-extraction REPLAY: parse an archived crawl's raw bodies back into
    documents rows without a single re-fetch — the Common Crawl workflow of
    running a new/improved extractor over old WARCs. Key columns
    (url_hash, host, p) are re-derived from the archived URL exactly as the
    live fetch path derives them, so replayed rows are drop-in rows of the
    same documents table (wave comes from the archive record; rank/depth
    are not archived and replay as 0; a NULL body archives as zero bytes,
    so it replays as "" — an empty spans array where the live parse of a
    null-body HTML row yields null). ``parse_kwargs`` pass through to
    parse_documents (html_meta/sniff_content), which is the point: replay
    with better extraction settings than the original crawl had.

    CAUTION: ``num_partitions`` must equal the target crawl's
    ``config.num_partitions`` or the re-derived ``p`` column silently
    disagrees with the live partitioning and the drop-in claim above
    breaks — replaying into an existing crawl should go through
    ``Crawler.replay_documents``, which passes its own config's value."""
    from .functions.urls import host_of, host_salt, url_hash
    from .parse import parse_documents

    raw = read_warc(spark, path)
    host = host_of(F.col("url"))
    fetched = raw.select(
        url_hash(F.col("url")).alias("url_hash"),
        F.col("url"),
        host.alias("host"),
        # host_salt IS the live partitioning recipe (frontier.partition_of
        # delegates to the same hash) — reuse keeps replay/live equivalence
        # structural rather than copy-paste
        host_salt(host, num_partitions).alias("p"),
        F.col("wave"),
        F.lit(0).alias("rank"),
        F.lit(0).alias("depth"),
        F.col("status"),
        F.col("content_type"),
        F.col("body"),
    )
    return parse_documents(fetched, **parse_kwargs)


# ---------------------------------------------------------------------------
# WAT — the metadata sibling (Common Crawl's third archive face): one
# WARC-Type: metadata record per fetch whose payload is canonical JSON
# (sorted keys, no whitespace — byte-deterministic) carrying the fetch
# facts and the ordered outlink list. Consumers build link graphs from WAT
# without touching bodies.
# ---------------------------------------------------------------------------

WAT_READ_SCHEMA = (
    "url string, wave int, status int, content_type string, outlinks array<string>"
)


def wat_outlinks(spans) -> "F.Column":
    """Ordered raw outlink refs of a document (link/resource/media span
    targets, document order) — pure JVM expression."""
    return F.transform(
        F.filter(
            spans, lambda s: s["kind"].isin("link", "resource", "media")
        ),
        lambda s: s["media_ref"],
    )


def _render_wat_record(url, wave, status, content_type, outlinks, date: str) -> str:
    import json

    body = json.dumps(
        {
            "content_type": content_type,
            # null spans (e.g. a null-body HTML row) carry no outlinks
            "outlinks": [] if outlinks is None else [x for x in outlinks],
            "status": int(status),
            "url": url,
        },
        sort_keys=True,
        separators=(",", ":"),
    )
    n = len(body.encode("utf-8"))
    return (
        f"{_WARC_VERSION}\r\n"
        "WARC-Type: metadata\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date}\r\n"
        f"WARC-Record-ID: <urn:uuid:{_record_uuid(url, wave, 'wat')}>\r\n"
        f"WARC-Refers-To: <urn:uuid:{_record_uuid(url, wave)}>\r\n"
        f"WARC-Kermit-Wave: {wave}\r\n"
        "Content-Type: application/json\r\n"
        f"Content-Length: {n}\r\n"
        "\r\n"
        f"{body}\r\n"
    )


def write_wat(
    documents: DataFrame,
    path: str,
    date: str = "2000-01-01T00:00:00Z",
    order_cols: tuple[str, ...] = ("url",),
) -> None:
    """documents rows (url, wave, status, content_type, spans) → ``path``
    as parallel .wat part files. Outlink derivation runs JVM-side; null
    spans columns (a null-body HTML row parses to null spans) coalesce to
    an empty outlink list instead of failing the task."""
    _write_records(
        documents.select(
            "url", "wave", "status", "content_type",
            F.coalesce(
                wat_outlinks(F.col("spans")), F.array().cast("array<string>")
            ).alias("outlinks"),
        ),
        lambda u, w, s, ct, ol: _render_wat_record(u, w, s, ct, ol, date),
        path,
        order_cols,
    )


def read_wat(spark: SparkSession, path: str) -> DataFrame:
    """Parse .wat files back to (url, wave, status, content_type,
    outlinks) — one task per file, JSON payloads length-framed like every
    other record family here."""
    import json

    files = spark.read.text(path, wholetext=True)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for text in pdf["value"]:
                for url, wave, body in _parse_wet_file(text):
                    doc = json.loads(body)
                    rows.append(
                        (
                            doc["url"],
                            wave,
                            doc["status"],
                            doc["content_type"],
                            doc["outlinks"],
                        )
                    )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["url", "wave", "status", "content_type", "outlinks"],
                )

    return files.mapInPandas(parse, WAT_READ_SCHEMA)


# ---------------------------------------------------------------------------
# Foreign/binary WARC ingestion (r4 VERDICT #5). Everything above is the
# engine's OWN archive face: UTF-8 text by construction, written and read
# through Spark's text source, offsets derived post-decode (and guarded by
# _check_utf8_fidelity). Real-world archives — Common Crawl's .warc.gz —
# violate both assumptions: each record is its own gzip MEMBER
# (concatenated members = one valid gzip stream, but ranged access needs
# the member's compressed offset/length), and bodies are arbitrary bytes
# (images, latin-1 HTML, truncated junk). This section ingests those:
#
#   * byte-space record walker (no decode anywhere near the framing),
#   * per-member gzip walk with COMPRESSED offsets/lengths — exactly the
#     coordinates a Common Crawl CDX stores for HTTP Range-GET access,
#   * binaryFile-source readers (one row per archive file, content:binary),
#   * a per-record-gzip writer so the engine can also EMIT CC-framed
#     archives (and tests can synthesize foreign corpora deterministically).
#
# The bodies surface as BINARY columns — decoding is the consumer's choice
# (charset sniffing is content policy, not archive framing).
# ---------------------------------------------------------------------------

WARC_BINARY_READ_SCHEMA = (
    "url string, wave int, status int, content_type string, body binary"
)

_GZIP_MAGIC = b"\x1f\x8b"


def _iter_gzip_members(data: bytes):
    """Walk concatenated gzip members, yielding (decompressed_bytes,
    member_offset, member_compressed_length). Stops at the first byte that
    is not a gzip magic (trailing garbage / truncation — members are a
    prefix), the same tolerance contract as the text walker.

    Streaming decompress in bounded chunks via ``memoryview`` slices: a
    ``decompress(data[pos:])`` per member would COPY the whole remaining
    file per member (and ``unused_data`` copies it again) — O(members ×
    filesize) memcpy, quadratic on a real per-record-gzip part file with
    ~10^4-10^5 members. Chunked feeding keeps the walk O(filesize) with
    the residual ``unused_data`` copy bounded by one chunk."""
    import zlib

    mv = memoryview(data)
    chunk_size = 1 << 20
    pos = 0
    while pos < len(data) - 1:
        if data[pos:pos + 2] != _GZIP_MAGIC:
            break
        obj = zlib.decompressobj(wbits=31)
        out: list[bytes] = []
        fed = 0
        try:
            while not obj.eof and pos + fed < len(data):
                chunk = mv[pos + fed: pos + fed + chunk_size]
                out.append(obj.decompress(chunk))
                fed += len(chunk)
        except zlib.error:  # corrupt member: records are a prefix
            break
        if not obj.eof:  # truncated member (partial download)
            break
        consumed = fed - len(obj.unused_data)
        if consumed <= 0:
            break
        yield b"".join(out), pos, consumed
        pos += consumed


def _iter_plain_records_bytes(data: bytes):
    """Byte-space twin of _iter_records: walk WARC records by
    Content-Length without ANY text decode on the framing path. WARC
    headers are decoded latin-1 (byte-preserving for any 8-bit header
    value; the spec says headers are UTF-8, but a lossy foreign header
    must not shift framing); payloads stay raw bytes.

    Tolerance contract (this walker INGESTS FOREIGN archives): a record
    whose header block is truncated before its blank line, or that lacks
    a parseable Content-Length, ends the walk — the valid record prefix
    is yielded rather than crashing the task on a partial download."""
    version = _WARC_VERSION.encode()
    pos = 0
    while pos < len(data):
        if not data.startswith(version, pos):
            break
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:  # truncated header: yield the prefix, stop
            break
        headers = {}
        for line in data[pos:head_end].decode("latin-1").split("\r\n")[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            n = int(headers["content-length"])
        except (KeyError, ValueError):  # malformed foreign record
            break
        body_start = head_end + 4
        if body_start + n > len(data):  # payload cut off mid-record
            break
        payload = data[body_start:body_start + n]
        end = body_start + n + 4  # payload + its two trailing CRLFs
        yield headers, payload, pos, end - pos
        pos = end


def _iter_records_bytes(data: bytes):
    """Unified byte-space walker: a gzip archive yields one record per
    MEMBER with the member's COMPRESSED (offset, length) — the ranged-read
    coordinates of the .warc.gz ecosystem; a plain archive yields records
    with their uncompressed coordinates. Either way (headers, payload
    bytes, byte_offset, byte_length)."""
    if data[:2] == _GZIP_MAGIC:
        for raw, off, ln in _iter_gzip_members(data):
            for headers, payload, _, _ in _iter_plain_records_bytes(raw):
                yield headers, payload, off, ln
        return
    yield from _iter_plain_records_bytes(data)


def _responses(records):
    """Only ``response`` records carry a fetched page. Foreign archives
    (Common Crawl) open with a warcinfo record — no target URI — and
    interleave request/metadata records whose payload is no HTTP response;
    the binary readers skip them rather than crash the task."""
    for rec in records:
        if rec[0].get("warc-type", "").lower() == "response":
            yield rec


def _parse_http_payload_bytes(raw: bytes) -> tuple[int, str | None, bytes]:
    """One response record's raw payload → (status, content_type,
    body_bytes). The HTTP head is ASCII-framed by spec; latin-1 decode
    keeps any 8-bit header byte-preserving."""
    http_head, _, body = raw.partition(b"\r\n\r\n")
    head_lines = http_head.decode("latin-1").split("\r\n")
    status = int(head_lines[0].split(" ", 1)[1].split(" ")[0])
    ctype = None
    for line in head_lines[1:]:
        k, _, v = line.partition(":")
        if k.strip().lower() == "content-type":
            ctype = v.strip()
    return status, ctype, body


def _render_record_bytes(url, wave, status, content_type, body: bytes,
                         date: str) -> bytes:
    """Binary twin of _render_record: the full record as bytes, INCLUDING
    both trailing CRLFs (no text-writer lineSep here to supply the second
    one)."""
    body = body if body is not None else b""
    payload = (
        f"HTTP/1.1 {status}\r\n"
        f"Content-Type: {content_type or 'application/octet-stream'}\r\n"
        "\r\n"
    ).encode("latin-1") + body
    head = (
        f"{_WARC_VERSION}\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date}\r\n"
        f"WARC-Record-ID: <urn:uuid:{_record_uuid(url, wave)}>\r\n"
        f"WARC-Kermit-Wave: {wave}\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(payload)}\r\n"
        "\r\n"
    ).encode("latin-1")
    return head + payload + b"\r\n\r\n"


def write_warc_gz(
    documents: DataFrame,
    path: str,
    date: str = "2000-01-01T00:00:00Z",
    order_cols: tuple[str, ...] = ("url",),
) -> None:
    """Common-Crawl-framed sink: (url, wave, status, content_type,
    body:binary) rows → ``path`` as parallel part-*.warc.gz files, each
    record its OWN gzip member (zlib wbits=31 — mtime 0, so re-runs are
    byte-identical; python's gzip module would stamp wall-clock). One file
    per partition, rows sorted by ``order_cols`` within the partition —
    the same parallel, reproducible layout as the text sink, but carrying
    arbitrary byte bodies. Spark has no binary-line sink, so each task
    writes its part file directly (posix locally; at cluster scale the
    same code targets a fuse/NFS mount, or swap the open() for an object-
    store client — the record bytes are sink-agnostic)."""
    import shutil
    import zlib

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    cols = ["url", "wave", "status", "content_type", "body"]
    prepared = documents.select(*cols).sortWithinPartitions(*order_cols)

    def write_part(idx: int, rows) -> Iterator[int]:
        out = None
        n = 0
        for row in rows:
            if out is None:
                out = open(os.path.join(path, f"part-{idx:05d}.warc.gz"), "wb")
            rec = _render_record_bytes(
                row["url"], row["wave"], row["status"], row["content_type"],
                bytes(row["body"]) if row["body"] is not None else b"", date,
            )
            obj = zlib.compressobj(9, zlib.DEFLATED, 31)
            out.write(obj.compress(rec) + obj.flush())
            n += 1
        if out is not None:
            out.close()
        yield n

    prepared.rdd.mapPartitionsWithIndex(write_part).sum()


def read_warc_binary(spark: SparkSession, path: str) -> DataFrame:
    """Parse foreign/binary archives (.warc or per-record-gzip .warc.gz)
    back to (url, wave, status, content_type, body:binary). One row per
    file via the binaryFile source — framing walks raw bytes, so latin-1
    HTML, images, or any other byte payload round-trips bit-exactly."""
    files = spark.read.format("binaryFile").load(path).select("content")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for data in pdf["content"]:
                for headers, raw, _, _ in _responses(_iter_records_bytes(bytes(data))):
                    status, ctype, body = _parse_http_payload_bytes(raw)
                    rows.append(
                        (
                            headers["warc-target-uri"],
                            int(headers.get("warc-kermit-wave", 0)),
                            status,
                            ctype,
                            body,
                        )
                    )
            if rows:
                yield pd.DataFrame(
                    rows, columns=["url", "wave", "status", "content_type", "body"]
                )

    return files.mapInPandas(parse, WARC_BINARY_READ_SCHEMA)


def build_cdx_binary(spark: SparkSession, path: str) -> DataFrame:
    """CDX over foreign/binary archives: one row per record with byte-TRUE
    coordinates — for a .warc.gz the (offset, length) of the record's gzip
    MEMBER inside the compressed file (the Common Crawl cdx convention:
    a consumer Range-GETs exactly those bytes and gunzips one member);
    for a plain .warc the record's uncompressed coordinates. digest =
    md5 of the raw HTTP body BYTES. Same schema as build_cdx, so
    write_cdx_table / lookup_cdx work unchanged."""
    import hashlib

    files = spark.read.format("binaryFile").load(path).select(
        F.col("path").alias("filename"), "content"
    )

    def index(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for fname, data in zip(pdf["filename"], pdf["content"]):
                for headers, raw, off, ln in _responses(_iter_records_bytes(bytes(data))):
                    status, ctype, body = _parse_http_payload_bytes(raw)
                    rows.append(
                        (
                            headers["warc-target-uri"],
                            int(headers.get("warc-kermit-wave", 0)),
                            status,
                            ctype,
                            hashlib.md5(body).hexdigest(),
                            fname,
                            off,
                            ln,
                        )
                    )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "url", "wave", "status", "content_type",
                        "digest", "filename", "offset", "length",
                    ],
                )

    idx = files.mapInPandas(
        index,
        "url string, wave int, status int, content_type string, "
        "digest string, filename string, offset long, length long",
    )
    return idx.select(surt_key(F.col("url")).alias("surt_key"), "*")


def read_warc_at_binary(spark: SparkSession, cdx: DataFrame) -> DataFrame:
    """Ranged binary fetch: given CDX rows (url, filename, offset, length)
    from build_cdx_binary, return exactly those records as (url, wave,
    status, content_type, body:binary) — one seek+read of ``length``
    bytes per RANGE; a gzip member is gunzipped after the ranged read
    (the Range-GET + gunzip access pattern of the .warc.gz ecosystem).
    Scales with |requested records|, independent of archive size.

    Two contracts a foreign archive forces (a member may hold MORE THAN
    ONE record — e.g. a whole-file single-stream gzip indexes every
    record at the member's coordinates):
      * each distinct (filename, offset, length) range is read and
        parsed ONCE, however many CDX rows point at it;
      * only the REQUESTED urls within the range are returned — a lookup
        for one URL in a multi-record member yields that record, not the
        member's whole contents."""

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in batches:
            rows: list[tuple] = []
            for fname, grp in pdf.groupby("filename", sort=True):
                local = fname[len("file:"):] if fname.startswith("file:") else fname
                with open(local, "rb") as f:
                    for (off, ln), want in grp.groupby(
                        ["offset", "length"], sort=True
                    )["url"]:
                        wanted = set(want)
                        f.seek(int(off))
                        blob = f.read(int(ln))
                        if blob[:2] == _GZIP_MAGIC:
                            blob = zlib.decompress(blob, wbits=31)
                        for headers, raw, _, _ in _responses(_iter_plain_records_bytes(blob)):
                            url = headers["warc-target-uri"]
                            if url not in wanted:
                                continue
                            status, ctype, body = _parse_http_payload_bytes(raw)
                            rows.append(
                                (
                                    url,
                                    int(headers.get("warc-kermit-wave", 0)),
                                    status,
                                    ctype,
                                    body,
                                )
                            )
            if rows:
                yield pd.DataFrame(
                    rows, columns=["url", "wave", "status", "content_type", "body"]
                )

    return cdx.select("url", "filename", "offset", "length").mapInPandas(
        fetch, WARC_BINARY_READ_SCHEMA
    )


def documents_from_warc_binary(
    spark: SparkSession,
    path: str,
    num_partitions: int = 32,
    default_charset: str = "utf-8",
    **parse_kwargs,
) -> DataFrame:
    """Re-extraction replay over FOREIGN/binary archives (.warc.gz or
    binary .warc) — the actual Common Crawl workflow: point the engine's
    extractor at archives it did not write. Mirrors documents_from_warc
    (same key re-derivation, same parse_documents hand-off) with the
    decode step a real-world archive needs:

      * charset comes from the record's Content-Type parameter
        (``text/html; charset=latin-1``) when declared;
      * undeclared text decodes as ``default_charset`` first and falls
        back to latin-1 — byte-preserving for any 8-bit content, so a
        mislabeled body never crashes the replay (it parses as the
        garbled text a browser would have shown);
      * non-text payloads pass through latin-1 (codepoints 0-255 = the
        original bytes, the same convention parse_documents' sniff path
        documents), where the non-HTML content_type routes them to a
        single media span rather than the tokenizer.

    The decode rides the SAME Arrow batch as the record parse — no extra
    Python hop beyond the one the binary reader already is."""
    import re as _re

    from .functions.urls import host_of, host_salt, url_hash
    from .parse import parse_documents

    files = spark.read.format("binaryFile").load(path).select("content")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        charset_re = _re.compile(r"charset=([\w.\-]+)", _re.IGNORECASE)

        def decode(body: bytes, ctype: str | None) -> str:
            m = charset_re.search(ctype or "")
            if m:
                try:
                    return body.decode(m.group(1), errors="replace")
                except LookupError:
                    pass  # unknown charset label -> fall through
            try:
                return body.decode(default_charset)
            except (UnicodeDecodeError, LookupError):
                return body.decode("latin-1")

        for pdf in batches:
            rows: list[tuple] = []
            for data in pdf["content"]:
                for headers, raw, _, _ in _responses(_iter_records_bytes(bytes(data))):
                    status, ctype, body = _parse_http_payload_bytes(raw)
                    rows.append(
                        (
                            headers["warc-target-uri"],
                            int(headers.get("warc-kermit-wave", 0)),
                            status,
                            ctype,
                            decode(body, ctype),
                        )
                    )
            if rows:
                yield pd.DataFrame(
                    rows, columns=["url", "wave", "status", "content_type", "body"]
                )

    raw = files.mapInPandas(parse, WARC_READ_SCHEMA)
    host = host_of(F.col("url"))
    fetched = raw.select(
        url_hash(F.col("url")).alias("url_hash"),
        F.col("url"),
        host.alias("host"),
        host_salt(host, num_partitions).alias("p"),
        F.col("wave"),
        F.lit(0).alias("rank"),
        F.lit(0).alias("depth"),
        F.col("status"),
        # foreign archives carry full media types with parameters
        # ("text/html; charset=latin-1"); parse_documents routes on the
        # bare type (the charset already served its purpose in decode)
        F.trim(F.split(F.col("content_type"), ";").getItem(0)).alias(
            "content_type"
        ),
        F.col("body"),
    )
    return parse_documents(fetched, **parse_kwargs)
