"""Seeded generators for the benchmark's pages tables.

Each workload is a Common-Crawl-shaped pages table ``(url, warc_ts, html,
text, lang)`` written as parquet with pyarrow. The feeds inside it are
replicas of the sample feed (``fixtures.SAMPLE_FEED_CSV``), so the
expected outputs are known exactly and do not depend on the seed. The
seed moves everything else: the noise text, which pages are near-misses,
which GTFS pages carry older re-crawls, the timestamps and the row order.

Page kinds:

- feed page: ``#gtfs-file: <file> feed=<id>`` followed by the CSV file;
- older re-crawl: the same url with an older ``warc_ts`` and a stale
  body (the first half of the rows); the detector's newest-crawl-wins
  collapse must drop it, or the output changes;
- header-mismatch page: a marker line and a CSV header that lacks
  required columns, under a ``junk-*`` feed id; it must be rejected;
- near-miss page: starts with ``#gtfs-file:`` (so it passes the JVM
  prefilter and reaches the pandas UDF) but its marker line does not
  match, so the UDF detects nothing; its body is a GTFS file repeated
  (an archived or mirrored copy);
- noise page: incompressible text.
"""

from __future__ import annotations

import base64
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gtfs2lc_spark import fixtures

CONNECTIONS_PER_FEED = fixtures.SAMPLE_FEED_CONNECTIONS  # 3,472
TRIPLES_PER_FEED = 29_992  # N-Triples lines per sample feed (oracle-checked)

BASE_TS = 1_768_435_200  # 2026-01-15T00:00:00Z, seconds
DAY = 86_400

# first lines that pass the ``startswith('#gtfs-file:')`` prefilter but
# not the detector's marker regex ``^#gtfs-file:\s+(\S+)\s+feed=(\S+)$``
NEAR_MISS_TEMPLATES = (
    "#gtfs-file: {f} mirror={k}",
    "#gtfs-file: {f}",
    "#gtfs-file: {f} feed={k} (archived copy)",
    "#gtfs-file:{f} feed={k}",
)

# noise text length in bytes, [lo, hi)
NOISE_LEN = (200, 800)
# a near-miss page carries [lo, hi) copies of a sample CSV body (about
# 0.2-2.4 KB each): long pages, so the detector's pandas UDF does real
# work on each one it is handed
NEAR_MISS_COPIES = (12, 48)

# headers missing required columns (extraction.REQUIRED_COLS)
BAD_HEADERS = {
    "stop_times.txt": "trip,arrives,departs,stop,seq",
    "trips.txt": "route,service,trip,headsign",
}


@dataclass(frozen=True)
class Workload:
    name: str
    fmt: str  # job.py --format
    feeds: int  # feeds in the pages table every timed job reads
    noise_pages: int
    near_miss_pages: int
    recrawl_share: float  # share of feed pages that also have older crawls
    bad_header_pages: int
    history_feeds: int = 0  # incremental only: feeds already in history
    history_snapshots: int = 0

    def feed_ids(self) -> list[str]:
        return [f"feed-{i:04d}" for i in range(self.feeds)]

    def history_chunks(self) -> list[list[str]]:
        """Feed ids of each seeded history snapshot, in commit order."""
        ids = self.feed_ids()[: self.history_feeds]
        n = self.history_snapshots
        size = -(-len(ids) // n)
        return [ids[i * size : (i + 1) * size] for i in range(n)]

    @property
    def expected_connections(self) -> int:
        """lc:Connections one timed job writes."""
        return (self.feeds - self.history_feeds) * CONNECTIONS_PER_FEED

    @property
    def expected_lines(self) -> int:
        """Data lines one timed job writes (header excluded)."""
        if self.fmt == "ntriples":
            return self.feeds * TRIPLES_PER_FEED
        return self.expected_connections

    def scaled(self, scale: float) -> "Workload":
        """The same shape with every count multiplied by ``scale``
        (at least one of each kind); used by the tests."""

        def s(n: int) -> int:
            return max(1, round(n * scale)) if n else 0

        feeds = s(self.feeds)
        hist = min(s(self.history_feeds), feeds - 1) if self.history_feeds else 0
        return Workload(
            self.name, self.fmt, feeds, s(self.noise_pages), s(self.near_miss_pages),
            self.recrawl_share, s(self.bad_header_pages), hist,
            min(self.history_snapshots, hist),
        )


WORKLOADS = {
    "crawl_sparse": Workload(
        "crawl_sparse", "ntriples", feeds=2, noise_pages=40_000,
        near_miss_pages=10_000, recrawl_share=0.5, bad_header_pages=12,
    ),
    "incremental_recrawl": Workload(
        "incremental_recrawl", "jsonld", feeds=32, noise_pages=2_000,
        near_miss_pages=200, recrawl_share=0.25, bad_header_pages=4,
        history_feeds=16, history_snapshots=2,
    ),
}


def _feed_text(fid: str, fname: str, csv_text: str) -> str:
    return f"{fixtures.GTFS_MARKER} {fname} feed={fid}\n{csv_text}"


def _stale(csv_text: str) -> str:
    lines = [ln for ln in csv_text.split("\n") if ln.strip()]
    keep = 1 + (len(lines) - 1) // 2
    return "\n".join(lines[:keep]) + "\n"


def _random_texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> pa.Array:
    """``n`` incompressible strings (base64 of random bytes) of length
    in [lo, hi), built straight into an Arrow buffer."""
    lengths = rng.integers(lo, hi, n)
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(lengths, out=offsets[1:])
    total = int(offsets[-1])
    raw = rng.integers(0, 1 << 63, -(-total // 8) + 1, dtype=np.int64).tobytes()
    data = base64.b64encode(raw[: -(-total // 4) * 3])[:total]
    return pa.LargeStringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(data)
    ).cast(pa.string())


def pages_table(w: Workload, seed: int, feed_ids: list[str] | None = None) -> pa.Table:
    """The workload's pages table for ``seed``; ``feed_ids`` overrides
    the feeds it carries (the incremental workload's seeding run)."""
    rng = np.random.default_rng(seed)
    feed_ids = w.feed_ids() if feed_ids is None else feed_ids
    urls: list[str] = []
    ts: list[int] = []
    texts: list[str] = []
    langs: list[str] = []

    for fid in feed_ids:
        for fname, csv_text in fixtures.SAMPLE_FEED_CSV.items():
            url = fixtures.page_url(fid, fname)
            newest = BASE_TS + int(rng.integers(0, DAY))
            urls.append(url)
            ts.append(newest)
            texts.append(_feed_text(fid, fname, csv_text))
            langs.append("en")
            if rng.random() < w.recrawl_share:
                for age in range(1, int(rng.integers(1, 3)) + 1):
                    urls.append(url)
                    ts.append(newest - age * DAY - int(rng.integers(0, DAY)))
                    texts.append(_feed_text(fid, fname, _stale(csv_text)))
                    langs.append("en")

    for k in range(w.bad_header_pages):
        fname = sorted(BAD_HEADERS)[k % len(BAD_HEADERS)]
        body = fixtures.SAMPLE_FEED_CSV[fname].split("\n", 1)[1]
        urls.append(fixtures.page_url(f"junk-{k}", fname))
        ts.append(BASE_TS + int(rng.integers(0, DAY)))
        texts.append(f"{fixtures.GTFS_MARKER} {fname} feed=junk-{k}\n{BAD_HEADERS[fname]}\n{body}")
        langs.append("en")

    n_syn = w.noise_pages + w.near_miss_pages
    files = sorted(fixtures.SAMPLE_FEED_CSV)
    templates = rng.integers(0, len(NEAR_MISS_TEMPLATES), w.near_miss_pages)
    copies = rng.integers(*NEAR_MISS_COPIES, w.near_miss_pages)
    near_miss = []
    for k, (t, n) in enumerate(zip(templates, copies)):
        fname = files[k % len(files)]
        body = fixtures.SAMPLE_FEED_CSV[fname].split("\n", 1)[1]
        near_miss.append(
            NEAR_MISS_TEMPLATES[t].format(f=fname, k=k) + "\n" + body * int(n)
        )
    syn_text = pa.concat_arrays([
        _random_texts(rng, w.noise_pages, *NOISE_LEN),
        pa.array(near_miss, pa.string()),
    ])
    syn_urls = pa.array(
        [f"https://www.example.com/p/{int(x):x}/{i}" for i, x in
         enumerate(rng.integers(0, 1 << 40, n_syn))]
    )
    syn_ts = BASE_TS + rng.integers(-30 * DAY, DAY, n_syn)
    syn_lang = np.array(["en", "de", "fr", "nl"])[rng.integers(0, 4, n_syn)]

    text = pa.concat_arrays([pa.array(texts, pa.string()), syn_text])
    table = pa.table(
        {
            "url": pa.concat_arrays([pa.array(urls, pa.string()), syn_urls]),
            "warc_ts": pa.array(
                np.concatenate([np.array(ts, np.int64), syn_ts]) * 1_000_000,
                pa.timestamp("us", tz="UTC"),
            ),
            "html": text.cast(pa.binary()),  # the fetched bytes; no copy
            "text": text,
            "lang": pa.concat_arrays(
                [pa.array(langs, pa.string()), pa.array(syn_lang, pa.string())]
            ),
        }
    )
    return table.take(pa.array(rng.permutation(table.num_rows)))


def write_pages(table: pa.Table, path: str, n_files: int = 8) -> int:
    """Write ``table`` as ``n_files`` parquet files; returns bytes on disk."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    total = 0
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows == 0:
            break
        f = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(part, f)
        total += os.path.getsize(f)
    return total
