"""Benchmark-owned, seeded CloudFront standard-log input generator.

The program ships its own generator (`cflog2otel_spark.sources.generator`),
but a benchmark that used it would let a program change alter the workload.
This module keeps the same distributions -- about half the rows on one hot
distribution, about 5% `-` nulls on the nullable fields, the same status mix
and a log-normal time-taken -- and writes the lines two ways:

* as tab-separated text lines, which the DuckDB oracle reads, and
* tokenized to the program's input-hint schema
  ``(doc_id string, tokens array<int32>, n_tok int32, source string)``,
  one UTF-8 byte per token, as parquet, which the program reads.

Inputs are cached under the work directory by (workload, seed, size), so a
second run with the same seed reuses them, and their digest is reported.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DISTRIBUTIONS = [
    "EMLHOTDISTRIB",
    "EABCD1EXAMPLE",
    "EABCD2EXAMPLE",
    "EABCD3EXAMPLE",
    "EABCD4EXAMPLE",
    "EABCD5EXAMPLE",
]
URI_STEMS = ["/index.html", "/favicon.ico", "/", "/api/v1/items", "/api/v1/users"]
EDGES = ["LAX1", "SEA19-C1", "SEA19-C2", "IAD12", "FRA2"]
METHODS = ["GET", "GET", "GET", "POST", "HEAD"]
USER_AGENTS = [
    "Mozilla/5.0%20(Windows%20NT%2010.0;%20Win64;%20x64)",
    "curl/7.55.1",
    "Mozilla/5.0%20(Macintosh;%20Intel%20Mac%20OS%20X)",
]
CONTENT_TYPES = ["text/html", "application/json", "image/x-icon"]

# 2024-03-01T00:00:00Z
BASE_EPOCH = 1709251200


@dataclass(frozen=True)
class InputSet:
    """One generated input: its parquet file, its text lines and a digest."""

    rows: int
    parquet: str
    lines: str
    digest: str


def _pick(rng: np.random.Generator, options: list[str], n: int) -> np.ndarray:
    return np.asarray(options, dtype=object)[rng.integers(0, len(options), n)]


def _nully(rng: np.random.Generator, values: np.ndarray) -> np.ndarray:
    out = values.copy()
    out[rng.integers(0, 100, len(values)) < 5] = "-"
    return out


def make_lines(
    seed: int,
    n_rows: int,
    start_epoch: int,
    span_seconds: int,
    file_key: int,
) -> tuple[list[str], list[str]]:
    """(lines, sources) for one log object's worth of rows.

    Every timestamp falls in [start_epoch, start_epoch + span_seconds).
    `file_key` names the object, so two calls with different keys yield
    distinct sources even over the same hour.
    """
    rng = np.random.default_rng([seed, file_key])
    n = n_rows
    hot = rng.integers(0, 100, n) < 50
    dist = np.where(hot, DISTRIBUTIONS[0], _pick(rng, DISTRIBUTIONS[1:], n))
    roll = rng.integers(0, 100, n)
    status = np.select(
        [roll < 60, roll < 65, roll < 70, roll < 85], [200, 301, 302, 404], 502
    )
    ts = start_epoch + rng.integers(0, span_seconds, n)
    time_taken = np.round(np.exp(rng.integers(0, 1000, n) / 250.0) / 22.0, 3)
    sc_bytes = rng.integers(0, 50000, n) + 100
    cs_bytes = rng.integers(0, 2000, n) + 20
    c_port = rng.integers(0, 64000, n) + 1024
    content_len = rng.integers(0, 10000, n)
    ip_tail = rng.integers(0, 255, n)
    req_id = rng.integers(0, 36**8, n)
    edge = _pick(rng, EDGES, n)
    method = _pick(rng, METHODS, n)
    stem = _pick(rng, URI_STEMS, n)
    ua = _pick(rng, USER_AGENTS, n)
    result = np.where(status >= 500, "Error", _pick(rng, ["Hit", "Miss", "RefreshHit"], n))
    proto = _pick(rng, ["https", "http"], n)
    version = _pick(rng, ["HTTP/2.0", "HTTP/1.1"], n)
    ctype = _pick(rng, CONTENT_TYPES, n)
    referer = _nully(rng, np.full(n, "http://www.example.com/", dtype=object))
    ssl_p = _nully(rng, np.full(n, "TLSv1.2", dtype=object))
    ssl_c = _nully(rng, np.full(n, "ECDHE-RSA-AES128-GCM-SHA256", dtype=object))
    xhh_null = rng.integers(0, 100, n) < 5

    day = ts // 86400
    sec = ts % 86400
    dates = day.astype("datetime64[D]").astype(str).tolist()
    hours = (sec // 3600).tolist()
    clocks = [
        f"{h:02d}:{m:02d}:{s:02d}"
        for h, m, s in zip(hours, ((sec // 60) % 60).tolist(), (sec % 60).tolist())
    ]
    hosts = [f"{d.lower()}.cloudfront.net" for d in dist.tolist()]
    tts = [repr(t) for t in time_taken.tolist()]
    req_ids = [np.base_repr(r, 36) for r in req_id.tolist()]
    xhh = np.where(xhh_null, "-", np.asarray(hosts, dtype=object)).tolist()
    lines = [
        "\t".join(f)
        for f in zip(
            dates, clocks, edge.tolist(), map(str, sc_bytes.tolist()),
            [f"192.0.2.{x}" for x in ip_tail.tolist()], method.tolist(), hosts,
            stem.tolist(), map(str, status.tolist()), referer.tolist(),
            ua.tolist(), ["-"] * n, ["-"] * n, result.tolist(), req_ids, xhh,
            proto.tolist(), map(str, cs_bytes.tolist()), tts, ["-"] * n,
            ssl_p.tolist(), ssl_c.tolist(), result.tolist(), version.tolist(),
            ["-"] * n, ["-"] * n, map(str, c_port.tolist()), tts,
            result.tolist(), ctype.tolist(), map(str, content_len.tolist()),
            ["-"] * n, ["-"] * n,
        )
    ]
    fk = f"{file_key:06d}S{seed % 100000:05d}"
    sources = [
        f"logs/{d}.{dt}-{h:02d}.{fk}.gz" for d, dt, h in zip(dist.tolist(), dates, hours)
    ]
    return lines, sources


def tokenize(lines: list[str], sources: list[str], doc_prefix: str) -> pa.Table:
    """Lines -> the input-hint table, one int32 token per UTF-8 byte."""
    encoded = [s.encode("utf-8") for s in lines]
    lengths = np.fromiter((len(b) for b in encoded), dtype=np.int32, count=len(encoded))
    offsets = np.zeros(len(encoded) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    flat = np.frombuffer(b"".join(encoded), dtype=np.uint8).astype(np.int32)
    tokens = pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat))
    doc_ids = [f"{doc_prefix}:{i:08d}" for i in range(len(lines))]
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.string()),
            "tokens": tokens,
            "n_tok": pa.array(lengths),
            "source": pa.array(sources, pa.string()),
        },
        schema=pa.schema(
            [
                pa.field("doc_id", pa.string(), nullable=False),
                pa.field("tokens", pa.list_(pa.int32()), nullable=False),
                pa.field("n_tok", pa.int32(), nullable=False),
                pa.field("source", pa.string(), nullable=False),
            ]
        ),
    )


def write_input(
    path: str, lines: list[str], sources: list[str], doc_prefix: str
) -> str:
    """Write `<path>.parquet` and `<path>.tsv.gz` (line TAB source); return
    the sha256 of the text, which determines the parquet file."""
    table = tokenize(lines, sources, doc_prefix)
    tmp = path + ".parquet.tmp"
    pq.write_table(table, tmp, row_group_size=16_384)
    os.replace(tmp, path + ".parquet")
    text = "".join(f"{ln}\t{src}\n" for ln, src in zip(lines, sources)).encode()
    with open(path + ".tsv.gz.tmp", "wb") as fh:
        fh.write(gzip.compress(text, compresslevel=1, mtime=0))
    os.replace(path + ".tsv.gz.tmp", path + ".tsv.gz")
    return hashlib.sha256(text).hexdigest()


def cached_input(
    cache_dir: str,
    workload: str,
    seed: int,
    n_rows: int,
    n_hours: int = 4,
    rows_per_file: int = 10_000,
) -> InputSet:
    """One batch input of `n_rows` rows over `n_hours` hours, cached by
    (workload, seed, size)."""
    base = os.path.join(cache_dir, f"{workload}-s{seed}-n{n_rows}")
    meta = base + ".json"
    if os.path.exists(meta):
        with open(meta) as fh:
            d = json.load(fh)
        return InputSet(d["rows"], base + ".parquet", base + ".tsv.gz", d["digest"])
    os.makedirs(cache_dir, exist_ok=True)
    lines: list[str] = []
    sources: list[str] = []
    for k, start in enumerate(range(0, n_rows, rows_per_file)):
        chunk = min(rows_per_file, n_rows - start)
        ln, src = make_lines(seed, chunk, BASE_EPOCH, n_hours * 3600, file_key=k)
        lines += ln
        sources += src
    digest = write_input(base, lines, sources, f"{workload}-{seed}")
    with open(meta + ".tmp", "w") as fh:
        json.dump({"rows": n_rows, "digest": digest}, fh)
    os.replace(meta + ".tmp", meta)
    return InputSet(n_rows, base + ".parquet", base + ".tsv.gz", digest)


def digest(paths: list[str]) -> str:
    """sha256 over the text of the given `.tsv.gz` files, in order."""
    h = hashlib.sha256()
    for p in paths:
        with gzip.open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()
