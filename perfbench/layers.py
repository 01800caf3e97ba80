"""The traced run: one pass through the job, one span per layer.

Each span calls one layer's public function, as ``job.run`` composes
them, and materializes the layer's output at its boundary (the way
``extract_entities`` materializes detected pages), so the layer's Spark
work runs inside its span. A span's Spark figures come from the status
store: every stage whose id lies between the stage-id watermarks taken
at the span's start and end. Row counts are taken after the pass, on the
materialized boundaries, so counting never runs inside a span.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gtfs2lc_spark import extraction, job, pipeline
from gtfs2lc_spark.checkpoint import HistoryStore
from gtfs2lc_spark.fixtures import GTFS_MARKER
from gtfs2lc_spark.materialize import materialize

from .checks import output_files

LAYERS = (
    "extraction.detect",
    "extraction.entities",
    "pipeline.services",
    "pipeline.rules",
    "pipeline.connections",
    "checkpoint.history",
    "sinks.write",
)

# (metric, unit, better) reported for every layer
LAYER_METRICS = (
    ("wall_s", "s", "lower"),
    ("busy_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("rows_in", "rows", "higher"),
    ("rows_out", "rows", "higher"),
    ("shuffle_write_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"),
    ("tasks", "count", "lower"),
    ("task_skew", "ratio", "lower"),
)

EXTRA_METRICS = (
    ("extraction.detect.udf_rows", "rows", "lower"),
    ("extraction.detect.hit_ratio", "ratio", "higher"),
    ("extraction.detect.recrawl_dropped", "rows", "higher"),
    ("extraction.entities.rejected_pages", "count", "higher"),
    ("pipeline.connections.fanout", "ratio", "higher"),
    ("checkpoint.history.read_rows", "rows", "lower"),
    ("checkpoint.history.diff_s", "s", "lower"),
    ("checkpoint.history.commit_s", "s", "lower"),
    ("sinks.write.bytes", "bytes", "lower"),
    ("sinks.write.files", "count", "lower"),
    ("trace.unattributed_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
)


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """Every per-layer metric the traced run reports: (name, unit, better)."""
    out = [(f"{layer}.{m}", unit, better) for layer in LAYERS for m, unit, better in LAYER_METRICS]
    return out + list(EXTRA_METRICS)


class StageLog:
    """Stage figures from Spark's status store, read over py4j."""

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _stage_list(self):
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def watermark(self) -> int:
        """Id of the newest stage so far (the list is newest first)."""
        stages = self._stage_list()
        return stages.head().stageId() if stages.nonEmpty() else -1

    def between(self, lo: int, hi: int) -> dict[str, float]:
        """Summed figures of the stages with lo < id <= hi."""
        tot = dict.fromkeys(("busy_s", "cpu_s", "gc_s", "shuffle_write_bytes",
                             "spill_bytes", "tasks"), 0.0)
        skew = 1.0
        it = self._stage_list().iterator()
        while it.hasNext():
            s = it.next()
            if not lo < s.stageId() <= hi:
                continue
            tot["busy_s"] += s.executorRunTime() / 1e3
            tot["cpu_s"] += s.executorCpuTime() / 1e9
            tot["gc_s"] += s.jvmGcTime() / 1e3
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            tot["tasks"] += s.numCompleteTasks()
            if s.numCompleteTasks() > 1:
                skew = max(skew, self._task_skew(s.stageId(), s.attemptId()))
        tot["task_skew"] = skew
        return tot

    def _task_skew(self, stage_id: int, attempt: int) -> float:
        """Slowest ÷ median task run time of one stage."""
        times = []
        it = self._store.taskList(stage_id, attempt, 1 << 30).iterator()
        while it.hasNext():
            m = it.next().taskMetrics()
            if m.isDefined():
                times.append(m.get().executorRunTime())
        med = statistics.median(times) if times else 0
        return max(times) / med if med > 0 else 1.0


@dataclass
class Span:
    layer: str
    wall_s: float
    first_stage: int  # watermark at the start (exclusive)
    last_stage: int  # watermark at the end (inclusive)


@dataclass
class Tracer:
    log: StageLog
    spans: list[Span] = field(default_factory=list)

    def run(self, layer: str, fn):
        lo = self.log.watermark()
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
        self.spans.append(Span(layer, wall, lo, self.log.watermark()))
        return out


def _materialize_all(ents: dict[str, DataFrame]) -> dict[str, DataFrame]:
    return {k: materialize(v, k) for k, v in ents.items()}


def traced_pass(spark: SparkSession, args, with_counts: bool) -> tuple[dict, dict]:
    """Run the job described by ``args`` (a ``job.parse_args`` namespace)
    layer by layer. Returns (metrics, job.run-like summary). The metrics
    hold each span's time and stage figures, ``trace.unattributed_s`` and
    ``traced_s`` (the whole pass); with ``with_counts`` also the row
    counts, taken after the pass."""
    tr = Tracer(StageLog(spark))
    t0 = time.perf_counter()
    pages = spark.read.parquet(args.pages)
    detected = tr.run(
        "extraction.detect",
        lambda: materialize(extraction.detect_pages(pages), "detected-pages"),
    )
    e = tr.run(
        "extraction.entities",
        lambda: _materialize_all(extraction.entities_from_detected(detected)),
    )
    services = tr.run(
        "pipeline.services",
        lambda: materialize(pipeline.expand_services(e["calendar"], e["calendar_dates"]), "services"),
    )
    rules = tr.run(
        "pipeline.rules",
        lambda: materialize(
            pipeline.stop_times_to_rules(e["stop_times"], e["trips"], e["routes"], e["stops"]),
            "rules",
        ),
    )
    conns = tr.run(
        "pipeline.connections",
        lambda: materialize(
            pipeline.rules_to_connections(
                rules, services, args.feed_tz, salt_n=args.salt or None
            ),
            "connections",
        ),
    )
    m: dict[str, float] = {}
    delta = snap = None
    if args.history:
        store = HistoryStore(spark, args.history)
        had_history = bool(store.snapshots())

        def history():
            a = time.perf_counter()
            d = materialize(store.differential(conns), "j7-delta")
            b = time.perf_counter()
            s = store.commit(d, {"format": args.format, "output": args.output})
            m["checkpoint.history.diff_s"] = b - a
            m["checkpoint.history.commit_s"] = time.perf_counter() - b
            return d, s

        delta, snap = tr.run("checkpoint.history", history)

    def write():
        out = job.build_outputs(delta if delta is not None else conns, args.format,
                                None, args.join_and_sort)
        out.write.mode("overwrite").text(args.output)
        header = job.format_header(args.format)
        if header is not None:
            with open(f"{args.output}/_header.txt", "w") as f:
                f.write(header + "\n")

    tr.run("sinks.write", write)
    traced_s = time.perf_counter() - t0

    for sp in tr.spans:
        m[f"{sp.layer}.wall_s"] = sp.wall_s
        for k, v in tr.log.between(sp.first_stage, sp.last_stage).items():
            m[f"{sp.layer}.{k}"] = v
    m["trace.unattributed_s"] = traced_s - sum(sp.wall_s for sp in tr.spans)
    m["traced_s"] = traced_s
    summary = {"snapshot": snap.metrics if snap else None}
    if not with_counts:
        return m, summary

    # ---- counts on the materialized boundaries (outside every span) ----
    prefiltered = pages.where(F.col("text").startswith(GTFS_MARKER))
    udf_rows = prefiltered.count()
    hits = (
        prefiltered.select(extraction.detect_gtfs("text").alias("g"))
        .where(F.col("g.gtfs_file").isNotNull())
        .count()
    )
    n_detected = detected.count()
    used_pages = _union_urls(e.values()).distinct().count()
    n_rules = rules.count()
    n_conns = conns.count()
    written = delta.count() if delta is not None else n_conns
    files, nbytes = output_files(args.output)
    m.update({
        "extraction.detect.rows_in": pages.count(),
        "extraction.detect.rows_out": n_detected,
        "extraction.detect.udf_rows": udf_rows,
        "extraction.detect.hit_ratio": hits / udf_rows if udf_rows else 0.0,
        "extraction.detect.recrawl_dropped": hits - n_detected,
        "extraction.entities.rows_in": n_detected,
        "extraction.entities.rows_out": sum(df.count() for df in e.values()),
        "extraction.entities.rejected_pages": n_detected - used_pages,
        "pipeline.services.rows_in": e["calendar"].count() + e["calendar_dates"].count(),
        "pipeline.services.rows_out": services.count(),
        "pipeline.rules.rows_in": e["stop_times"].count(),
        "pipeline.rules.rows_out": n_rules,
        "pipeline.connections.rows_in": n_rules,
        "pipeline.connections.rows_out": n_conns,
        "pipeline.connections.fanout": n_conns / n_rules if n_rules else 0.0,
        "sinks.write.rows_in": written,
        "sinks.write.rows_out": spark.read.text(os.path.join(args.output, "part-*")).count(),
        "sinks.write.bytes": nbytes,
        "sinks.write.files": files,
    })
    if args.history:
        m["checkpoint.history.rows_in"] = n_conns
        m["checkpoint.history.rows_out"] = written
        read = store.load(before_snapshot=snap.snapshot_id) if had_history else None
        m["checkpoint.history.read_rows"] = read.count() if read is not None else 0
    return m, summary


def _union_urls(dfs) -> DataFrame:
    dfs = [df.select("url") for df in dfs]
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out

