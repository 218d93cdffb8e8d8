"""Seeded input generation.

Every input is a pure function of its seed: pages come from
``pargraph_spark.synth`` (per-row seeded), link graphs are extracted from
those pages with the engine's own pure-Python kernels
(``functions.extract`` + ``urlnorm``), and task graphs come from a
``random.Random(seed)``. Files are written with pyarrow, so the program
under test only ever sees finished files.
"""

from __future__ import annotations

import operator
import os
import random
import struct
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from pargraph_spark import synth
from pargraph_spark.functions.extract import extract_text_and_links
from pargraph_spark.functions.urlnorm import normalize_url

PAGES_ARROW_SCHEMA = pa.schema([
    ("url", pa.string()),
    # isAdjustedToUTC=true, which Spark reads back as TimestampType
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])
EDGES_ARROW_SCHEMA = pa.schema([("src", pa.int64()), ("dst", pa.int64())])


def page_rows(n_pages: int, seed: int, indices) -> list[dict]:
    """Rows of the given page indices of an n_pages universe (1-2 rows
    each: ~2% of pages carry a second, later crawl)."""
    rows: list[dict] = []
    for i in indices:
        rows.extend(synth.page_rows_for_index(i, n_pages, seed))
    return rows


def write_pages(rows: list[dict], path: str, n_files: int) -> None:
    """Pages parquet split into ``n_files`` files, so the scan has as many
    input partitions as a Spark-written drop would."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // n_files)
    for f in range(n_files):
        chunk = rows[f * step:(f + 1) * step]
        if chunk:
            table = pa.Table.from_pylist(chunk, schema=PAGES_ARROW_SCHEMA)
            pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))


# The engine's vertex id of a url is F.xxhash64(url): xxHash64 of its UTF-8
# bytes with Spark's seed 42, as a signed long. Computed here so setup
# needs no Spark job; a drift from Spark's ids fails the recrawl checks.
_M = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
                           0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M, 31) * _P1 & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i <= n - 32:
            for j in range(4):
                v[j] = _round(v[j], struct.unpack_from("<Q", data, i + 8 * j)[0])
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        h = (_rotl(h ^ _round(0, struct.unpack_from("<Q", data, i)[0]), 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        h = (_rotl(h ^ (struct.unpack_from("<I", data, i)[0] * _P1 & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = _rotl(h ^ (data[i] * _P5 & _M), 11) * _P1 & _M
        i += 1
    h ^= h >> 33
    h = h * _P2 & _M
    h ^= h >> 29
    h = h * _P3 & _M
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def vertex_id(url: str) -> int:
    return xxhash64(url.encode("utf-8"))


@dataclass
class UrlGraph:
    """A link graph as the engine defines it: latest crawl per url, links
    resolved and normalized, self-loops dropped, (src, dst) distinct."""
    edges: set[tuple[str, str]]    # distinct (src_url, dst_url)
    vertices: set[str]             # crawled urls and every link target

    def id_edges(self) -> list[tuple[int, int]]:
        return sorted((vertex_id(s), vertex_id(d)) for s, d in self.edges)

    def id_vertices(self) -> list[int]:
        return sorted(vertex_id(u) for u in self.vertices)


def extract_graph(rows: list[dict]) -> UrlGraph:
    latest: dict[str, dict] = {}
    for r in rows:
        cur = latest.get(r["url"])
        if cur is None or (r["warc_ts"], r["html"]) > (cur["warc_ts"], cur["html"]):
            latest[r["url"]] = r
    edges: set[tuple[str, str]] = set()
    for url, r in latest.items():
        _, hrefs = extract_text_and_links(r["html"])
        for href in hrefs:
            dst = normalize_url(href, url)
            if dst is not None and dst != url:
                edges.add((url, dst))
    vertices = set(latest) | {d for _, d in edges}
    return UrlGraph(edges, vertices)


def write_edges(edges: list[tuple[int, int]], path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-len(edges) // n_files) or 1
    for f in range(n_files):
        chunk = edges[f * step:(f + 1) * step]
        if chunk:
            table = pa.table({"src": [s for s, _ in chunk], "dst": [d for _, d in chunk]},
                             schema=EDGES_ARROW_SCHEMA)
            pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))


def write_table(columns: dict[str, list], path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(columns), os.path.join(path, "part-00000.parquet"))


# ---- Dask dict task graphs ------------------------------------------------

def mix(*xs: int) -> int:
    return (sum(xs) * 31 + 7) % 1_000_003


def layered_dag(rng: random.Random, n_tasks: int, width: int) -> tuple[dict, list[str]]:
    """``n_tasks`` tasks in layers of ``width``; each task past the first
    layer depends on 1-3 random tasks of the layer before."""
    dsk: dict = {}
    prev: list[str] = []
    for layer in range(-(-n_tasks // width)):
        cur = [f"d{layer}-{i}" for i in range(min(width, n_tasks - layer * width))]
        for i, key in enumerate(cur):
            if not prev:
                dsk[key] = (mix, i)
            else:
                dsk[key] = (mix, *rng.sample(prev, rng.randint(1, 3)))
        prev = cur
    return dsk, prev


def tree_reduce(rng: random.Random, n_leaves: int) -> tuple[dict, str]:
    """Map over ``n_leaves`` seeded inputs, then a binary tree of adds."""
    dsk: dict = {f"m0-{i}": (mix, rng.randrange(1_000_003)) for i in range(n_leaves)}
    level, keys = 0, [f"m0-{i}" for i in range(n_leaves)]
    while len(keys) > 1:
        level += 1
        nxt = []
        for j in range(0, len(keys), 2):
            key = f"r{level}-{j // 2}"
            dsk[key] = (operator.add, *keys[j:j + 2]) if j + 1 < len(keys) else (mix, keys[j])
            nxt.append(key)
        keys = nxt
    return dsk, keys[0]


def chain(rng: random.Random, depth: int) -> tuple[dict, str]:
    """An unrolled iterative loop: step i depends on step i-1 only."""
    dsk: dict = {"c0": (mix, rng.randrange(1_000_003))}
    for i in range(1, depth):
        dsk[f"c{i}"] = (mix, f"c{i - 1}")
    return dsk, f"c{depth - 1}"
