"""Output checks, run outside the timed window.

Each check reads what a job left on disk and compares it with a value
that does not come from the engine under test: the DuckDB oracle
(``oracle.sql_triples``, the ``gtfs_triples`` gate's oracle) for the
triple set, and the generator's replica arithmetic for the counts.
"""

from __future__ import annotations

import glob
import json
import os
import re
from functools import lru_cache

from gtfs2lc_spark import job

_NT_LINE = re.compile(
    r'^<([^>]*)> <([^>]*)> (?:<([^>]*)>|"((?:[^"\\]|\\.)*)"(?:\^\^<[^>]*>)?) \.$'
)
_NT_UNESCAPE = {"\\\\": "\\", '\\"': '"', "\\n": "\n", "\\r": "\r"}


@lru_cache(maxsize=1)
def oracle_triples() -> frozenset[tuple[str, str, str]]:
    """The sample feed's (subj, pred, obj) set, computed by DuckDB."""
    import duckdb

    from gtfs2lc_spark import oracle

    con = duckdb.connect()
    try:
        return frozenset(con.sql(oracle.sql_triples()).fetchall())
    finally:
        con.close()


def _part_lines(out_dir: str):
    for part in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(part, encoding="utf-8") as f:
            for line in f:
                yield line.rstrip("\n")


def _header_ok(out_dir: str, fmt: str) -> bool:
    with open(os.path.join(out_dir, "_header.txt"), encoding="utf-8") as f:
        return f.read() == job.format_header(fmt) + "\n"


def check_ntriples(out_dir: str, expected_lines: int) -> list[str]:
    """Line count equals ``expected_lines`` and the distinct triple set
    equals the oracle's (replicated feeds share default URIs, so every
    replica maps onto the same triples). Returns the problems found."""
    problems = []
    if not _header_ok(out_dir, "ntriples"):
        problems.append("N-Triples version header missing or wrong")
    n = 0
    seen = set()
    for line in _part_lines(out_dir):
        n += 1
        m = _NT_LINE.match(line)
        if m is None:
            problems.append(f"malformed N-Triples line: {line[:120]!r}")
            break
        s, p, iri, lit = m.groups()
        if iri is None:
            iri = re.sub(r"\\[\\\"nr]", lambda e: _NT_UNESCAPE[e.group(0)], lit)
        seen.add((s, p, iri))
    if n != expected_lines:
        problems.append(f"{n} N-Triples lines, expected {expected_lines}")
    oracle = oracle_triples()
    if seen != oracle:
        problems.append(
            f"triple set differs from the oracle: {len(seen - oracle)} extra, "
            f"{len(oracle - seen)} missing"
        )
    return problems


def check_jsonld_delta(out_dir: str, snapshot_dir: str, expected: int) -> list[str]:
    """The JSON-LD delta holds ``expected`` Connection records and the
    committed snapshot's ``_metrics.json`` counts the same rows."""
    problems = []
    if not _header_ok(out_dir, "jsonld"):
        problems.append("JSON-LD @context header missing or wrong")
    n = 0
    for line in _part_lines(out_dir):
        if json.loads(line).get("@type") != "Connection":
            problems.append(f"not a Connection record: {line[:120]!r}")
            break
        n += 1
    if n != expected:
        problems.append(f"{n} JSON-LD connections, expected {expected}")
    metrics_path = os.path.join(snapshot_dir, "_metrics.json")
    if not os.path.exists(metrics_path):
        problems.append(f"no committed snapshot at {snapshot_dir}")
    else:
        with open(metrics_path) as f:
            total = json.load(f)["total_rows"]
        if total != expected:
            problems.append(f"snapshot total_rows {total}, expected {expected}")
    return problems


def output_files(out_dir: str) -> tuple[int, int]:
    """(files, bytes) a text job wrote: part files plus the header."""
    paths = glob.glob(os.path.join(out_dir, "part-*")) + [
        os.path.join(out_dir, "_header.txt")
    ]
    paths = [p for p in paths if os.path.exists(p)]
    return len(paths), sum(os.path.getsize(p) for p in paths)
