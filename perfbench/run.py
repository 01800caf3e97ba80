"""Benchmark of record: a seeded pages table in, Linked Connections files out.

    python3 perfbench/run.py --workload crawl_sparse --seed 1 --seconds 10 --trace 0

Run from the repository root. One run, in one fresh ``local[nproc]``
session built by ``session.build_session`` (as the job CLI builds it):

1. set-up: start the session, generate the inputs and, for
   ``incremental_recrawl``, seed the history;
2. cold job: the first ``job.run`` of the session (``cold_job_s``);
3. timed window: warm ``job.run`` repetitions, one at a time, until about
   ``--seconds`` of job time is measured; ``job_s`` is the first of them,
   the session's second ``job.run``, whatever the window's length;
4. with ``--trace 1``, three more pairs of an untraced ``job.run`` and a
   pass that calls each layer's public function in turn
   (perfbench/layers.py); per-layer figures are their medians.

Every job's output is checked after it ends, outside the timed window; a
job that raises or fails its check counts in ``failed``. Working files
live in ``.perfbench_work/`` under the repository root and are removed at
exit. The second-to-last stdout line is the run's artifact (host, versions,
input sizes, raw samples); the last line is the result.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from gtfs2lc_spark import job  # noqa: E402
from perfbench import checks, layers  # noqa: E402
from perfbench import workloads as wl  # noqa: E402

HOST_NOTE = (
    "BENCH_r0*.json and the BASELINE.md figures are local[32] numbers from a "
    "128 GiB host; they do not compare to these figures."
)

END_TO_END = {
    "setup_s": "s",
    "cold_job_s": "s",
    "job_s": "s",
    "connections_per_s": "1/s",
    "peak_rss_mb": "MB",
}

TRACED_PASSES = 3  # traced passes per --trace 1 run; the median counts


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="job time to measure in the timed window")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply every input count (the tests run at 0.05)")
    return ap.parse_args(argv)


# ---------------------------------------------------------------------------
# host
# ---------------------------------------------------------------------------

def _meminfo_mb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) // 1024
    raise KeyError(key)


def configure_host(work: Path) -> dict:
    """Size the session to the host it runs on and keep every file it
    writes under ``work``. Returns the host block of the artifact."""
    nproc = len(os.sched_getaffinity(0))
    ram_mb = _meminfo_mb("MemTotal")
    # a quarter of RAM, 1-6 GiB, in 256 MiB steps: never more than the host has
    heap_mb = max(1024, min(6144, ram_mb // 4)) // 256 * 256
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_SHUFFLE": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    tempfile.tempdir = str(tmp)
    return {"nproc": nproc, "ram_mb": ram_mb, "driver_heap_mb": heap_mb,
            "master": f"local[{nproc}]", "shuffle_partitions": nproc,
            "note": HOST_NOTE}


def _steal_s() -> float:
    """Steal time so far: CPU time the host's vCPUs lost to other guests."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except (OSError, IndexError):
        return False


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

class Bench:
    def __init__(self, w: wl.Workload, seed: int, work: Path):
        self.w = w
        self.seed = seed
        self.work = work
        self.pages = str(work / "pages")
        self.out = str(work / "out")
        self.history = str(work / "history")
        self.pristine = str(work / "history-seeded")
        self.spark = None
        self.jvm = None
        self.attempted = 0
        self.failed = 0
        self.peak_rss_mb = 0.0
        self.inputs: dict = {}
        self.timings: dict = {}

    # -- set-up -------------------------------------------------------------

    def setup(self) -> float:
        from gtfs2lc_spark.session import build_session

        t0 = time.perf_counter()
        self.spark = build_session(app_name="gtfs2lc-perfbench")
        session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark.sparkContext._gateway.proc
        t0 = time.perf_counter()
        self._generate()
        generate_s = time.perf_counter() - t0
        self.timings.update(session_s=session_s, generate_s=generate_s)
        return session_s + generate_s

    def _generate(self) -> None:
        w = self.w
        table = wl.pages_table(w, self.seed)
        self.inputs = {
            "pages": table.num_rows,
            "bytes": wl.write_pages(table, self.pages),
            "feeds": w.feeds,
            "noise_pages": w.noise_pages,
            "near_miss_pages": w.near_miss_pages,
            "bad_header_pages": w.bad_header_pages,
            "expected_connections": w.expected_connections,
            "expected_lines": w.expected_lines,
        }
        if w.history_feeds:
            seed_pages = self.pages + "-seed"
            first = w.history_chunks()[0]
            t = wl.pages_table(w, self.seed, feed_ids=first)
            wl.write_pages(t, seed_pages)
            self.inputs.update(history_feeds=w.history_feeds,
                               history_snapshots=w.history_snapshots,
                               seed_pages=t.num_rows)

    def seed_history(self) -> float:
        """Commit history snapshots 1..K-1 (snapshot 0 is the cold job's).
        Replicated feeds differ only in feed_id, so snapshot k is snapshot
        0's pairs under chunk k's feed ids, committed through the store."""
        from pyspark.sql import functions as F

        from gtfs2lc_spark.checkpoint import HistoryStore

        t0 = time.perf_counter()
        store = HistoryStore(self.spark, self.history)
        chunks = self.w.history_chunks()
        base = store.load()
        first = {fid: i for i, fid in enumerate(chunks[0])}
        for chunk in chunks[1:]:
            mapping = self.spark.createDataFrame(
                [(fid, chunk[i]) for fid, i in first.items() if i < len(chunk)],
                "feed_id string, new_id string",
            )
            pairs = base.join(F.broadcast(mapping), "feed_id").select(
                F.col("new_id").alias("feed_id"), "unique_id", "service_date"
            )
            store.commit(pairs, {"seeded_from": 0})
        shutil.rmtree(self.pristine, ignore_errors=True)
        shutil.copytree(self.history, self.pristine)
        return time.perf_counter() - t0

    # -- jobs ---------------------------------------------------------------

    def _args(self, pages: str, fresh: bool = False):
        argv = ["--pages", pages, "--output", self.out, "--format", self.w.fmt]
        if self.w.history_feeds:
            argv += ["--history", self.history] + (["--fresh"] if fresh else [])
        return job.parse_args(argv)

    def _check(self, result: dict, connections: int, snapshot_id: int | None) -> list[str]:
        if self.w.fmt == "ntriples":
            return checks.check_ntriples(self.out, self.w.expected_lines)
        snap = result.get("snapshot") or {}
        problems = []
        if snap.get("snapshot_id") != snapshot_id:
            problems.append(f"committed snapshot {snap.get('snapshot_id')}, expected {snapshot_id}")
        snap_dir = os.path.join(self.history, f"snapshot={snapshot_id}")
        return problems + checks.check_jsonld_delta(self.out, snap_dir, connections)

    def _sample_rss(self) -> None:
        total = sum(_hwm_mb(p) for p in _process_tree(self.jvm.pid))
        self.peak_rss_mb = max(self.peak_rss_mb, total)

    def attempt(self, fn, connections: int, snapshot_id: int | None = None) -> tuple[float, bool]:
        """Time ``fn`` (one job), then check its output untimed.
        Returns (wall seconds, passed)."""
        gc.collect()  # drop the previous job's DataFrames before timing
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:  # a failed job is a counted outcome, not a crash
            traceback.print_exc()
            self.failed += 1
            return time.perf_counter() - t0, False
        wall = time.perf_counter() - t0
        self._sample_rss()
        problems = self._check(result, connections, snapshot_id)
        for p in problems:
            print(f"check failed: {p}", file=sys.stderr)
        self.failed += bool(problems)
        return wall, not problems

    def _restore_history(self) -> None:
        if self.w.history_feeds:
            shutil.rmtree(self.history, ignore_errors=True)
            shutil.copytree(self.pristine, self.history)

    def cold_job(self) -> float:
        w = self.w
        if w.history_feeds:
            # the first seeding run: chunk 0 into an empty history
            n = len(w.history_chunks()[0]) * wl.CONNECTIONS_PER_FEED
            wall, _ = self.attempt(
                lambda: job.run(self.spark, self._args(self.pages + "-seed", fresh=True)),
                n, snapshot_id=0,
            )
        else:
            wall, _ = self.attempt(
                lambda: job.run(self.spark, self._args(self.pages)),
                w.expected_connections,
            )
        return wall

    def warm_job(self, fn=None) -> tuple[float, bool]:
        """One warm job over the workload's pages, checked: ``fn``, or by
        default an untraced ``job.run``."""
        self._restore_history()
        args = self._args(self.pages)
        return self.attempt(
            fn or (lambda: job.run(self.spark, args)), self.w.expected_connections,
            snapshot_id=self.w.history_snapshots if self.w.history_feeds else None,
        )

    def window(self, seconds: float) -> list[tuple[float, bool]]:
        """Warm timed jobs until about ``seconds`` of job time is
        measured (the last one starts only if it is expected to end less
        than half a job past the mark)."""
        samples: list[tuple[float, bool]] = []
        while True:
            samples.append(self.warm_job())
            measured = sum(s for s, _ in samples)
            typical = statistics.median(s for s, _ in samples)
            if measured + typical / 2 >= seconds:
                return samples

    def traced(self) -> dict:
        """Per-layer metrics: the median of ``TRACED_PASSES`` traced
        passes for every time and stage figure; row counts from the
        first pass. Each traced pass follows an untraced ``job.run``, and
        ``trace.overhead_s`` is the median difference within a pair, so
        both sides of it stand at about the same point of the warm-up."""
        args = self._args(self.pages)
        passes: list[dict] = []

        def run(with_counts: bool, untraced_s: float):
            m, summary = layers.traced_pass(self.spark, args, with_counts)
            m["trace.overhead_s"] = m.pop("traced_s") - untraced_s
            passes.append(m)
            return summary

        for i in range(TRACED_PASSES):
            untraced_s, _ = self.warm_job()
            self.warm_job(lambda: run(i == 0, untraced_s))
        out = dict(passes[0])
        for k in passes[0]:
            vals = [p[k] for p in passes if k in p]
            if len(vals) == len(passes):
                out[k] = statistics.median(vals)
        # a layer the workload does not run reports zeros
        for name, _, _ in layers.per_layer_metrics():
            out.setdefault(name, 0.0)
        return out

    # -- teardown -----------------------------------------------------------

    def close(self) -> None:
        """Stop the session, the JVM and its Python workers, and wait for
        each to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        tree = _process_tree(self.jvm.pid)
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        # the JVM exits when its stdin closes
        self.jvm.stdin.close()
        try:
            self.jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait()
        deadline = time.time() + 30
        for pid in tree:
            while _running(pid) and time.time() < deadline:
                time.sleep(0.1)
            if _running(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        self.spark = None


def _versions(spark) -> dict:
    import pandas
    import pyarrow

    return {
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def main(argv: list[str] | None = None) -> int:
    a = parse_args(argv)
    w = wl.WORKLOADS[a.workload]
    if a.scale != 1.0:
        w = w.scaled(a.scale)
    work = ROOT / ".perfbench_work" / f"{w.name}-{os.getpid()}"
    host = configure_host(work)
    steal0 = _steal_s()
    bench = Bench(w, a.seed, work)
    try:
        setup_s = bench.setup()
        versions = _versions(bench.spark)
        cold_s = bench.cold_job()
        if w.history_feeds:
            seed_s = bench.seed_history()
            bench.timings["seed_history_s"] = seed_s
            setup_s += seed_s
        samples = bench.window(a.seconds)
        # the first warm job: a fixed point on the warm-up curve, however
        # many jobs the window fits (later ones are faster by warm-up alone)
        job_s = samples[0][0]
        per_layer = bench.traced() if a.trace else {}
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass

    artifact = {
        "artifact": "perfbench", "workload": w.name, "seed": a.seed,
        "seconds": a.seconds, "trace": a.trace, "host": host, "versions": versions,
        "inputs": bench.inputs, "setup": bench.timings,
        "cold_job_s": cold_s, "job_s_samples": [s for s, _ in samples],
        "run_s": time.perf_counter() - T_START,
        "steal_s": _steal_s() - steal0,
    }
    if a.trace:
        metrics = {name: {"value": per_layer[name], "unit": unit}
                   for name, unit, _ in layers.per_layer_metrics()}
    else:
        values = {
            "setup_s": setup_s,
            "cold_job_s": cold_s,
            "job_s": job_s,
            "connections_per_s": w.expected_connections / job_s,
            "peak_rss_mb": bench.peak_rss_mb,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(artifact))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
