"""Shared machinery of the workloads: the Spark process, the call
recorder, store-file accounting and the per-layer roll-up."""

from __future__ import annotations

import os
import statistics
import subprocess
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from inputs import exact_topk
from tracing import Harvester

PACKAGE = "photo_vector_search_spark."
WRITES = ("build", "write", "compact")  # call kinds whose new store files are counted
TICKS = os.sysconf("SC_CLK_TCK")


def start_spark():
    """The package's own session factory (``local[$SPARK_GRAFT_CPUS]``);
    returns the session and the seconds it took to come up."""
    from photo_vector_search_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _proc_status(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _jvm_process() -> subprocess.Popen | None:
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of this driver process, the
    Spark JVM and its Python workers."""
    jvm = _jvm_process()
    pids = [os.getpid()] + (_descendants(jvm.pid) if jvm else [])
    return sum(_proc_status(p, "VmHWM") for p in pids) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    jvm = _jvm_process()
    spark.stop()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if jvm is not None:
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()


class StoreFiles:
    """Files under the stores root, identified by (device, inode, mtime):
    a file that was not there at the previous scan is a file written."""

    def __init__(self, root: Path):
        self.root = root
        self._seen = self._scan()

    def _scan(self) -> dict[tuple[int, int, int], int]:
        out = {}
        for dirpath, _dirs, files in os.walk(self.root):
            for name in files:
                try:
                    st = os.stat(os.path.join(dirpath, name))
                except FileNotFoundError:
                    continue
                out[(st.st_dev, st.st_ino, st.st_mtime_ns)] = st.st_size
        return out

    def written(self) -> int:
        """Bytes of files created since the previous call."""
        now = self._scan()
        new = sum(size for key, size in now.items() if key not in self._seen)
        self._seen = now
        return new

    def total_bytes(self) -> int:
        return sum(self._seen.values())

    def data_files(self, store: str) -> int:
        """Parquet files of the store at path ``store`` and of its side
        tables (``store.*``)."""
        name = Path(store).name
        return sum(
            sum(1 for _ in entry.rglob("*.parquet"))
            for entry in self.root.iterdir()
            if entry.name == name or entry.name.startswith(name + ".")
        )


def stolen_ticks() -> int:
    """Clock ticks the hypervisor took from this machine's CPUs (the steal
    column of /proc/stat): host noise that slows every call it overlaps."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _force(result):
    if hasattr(result, "collect"):
        return result.collect()
    return result


class Recorder:
    """Times calls into the package from outside it.

    Every call is forced (a DataFrame is collected inside the timed
    region) and its Spark job count taken from the scheduler's job id
    counter, traced or not. In traced mode the call also runs under its own
    job group and its counters are harvested right after it returns, outside
    the timed region."""

    def __init__(self, spark, files: StoreFiles, traced: bool):
        self.files = files
        self.traced = traced
        self.harvester = Harvester(spark)
        self.calls: list[dict] = []
        self.harvest_s = 0.0

    def call(self, fn, *args, kind: str, stores=(), items: int = 1, **kwargs):
        """Time one call into the package; returns its forced result."""
        return self._timed(fn.__name__, fn.__module__.removeprefix(PACKAGE), kind, stores,
                           items, lambda run: run(fn, args, kwargs))

    def build_all(self, builds) -> None:
        """Time independent store builds, run at once in one thread each, as
        one ``session`` entry. ``builds`` holds (fn, args, kwargs) triples."""
        def run_all(run):
            with ThreadPoolExecutor(len(builds)) as pool:
                for future in [pool.submit(run, *b) for b in builds]:
                    future.result()

        name = "+".join(fn.__name__ for fn, _, _ in builds)
        self._timed(name, "session", "build", (), len(builds), run_all)

    def _timed(self, name, layer, kind, stores, items, body):
        if kind in WRITES:
            self.files.written()
        h = self.harvester
        group = f"perfbench-{len(self.calls)}-{name}"

        def run(fn, args, kwargs):
            # the job group is a property of the thread that runs the call
            if self.traced:
                h.tag(group, layer)
            try:
                return _force(fn(*args, **kwargs))
            finally:
                if self.traced:
                    h.untag()

        if self.traced:
            h.skip_executions()
        j0 = h.next_job_id()
        e0 = time.time()
        s0 = stolen_ticks()
        t0 = time.perf_counter()
        result = body(run)
        wall = time.perf_counter() - t0
        s1 = stolen_ticks()
        e1 = time.time()
        rec = {
            "fn": name, "layer": layer, "kind": kind, "wall_s": wall,
            "jobs": h.next_job_id() - j0, "items": items,
            "rows": len(result) if isinstance(result, list) else 0,
            "steal_s": (s1 - s0) / TICKS,
        }
        if kind in WRITES:
            rec["bytes_written"] = self.files.written()
        if self.traced:
            t = time.perf_counter()
            rec.update(h.harvest(group, j0, j0 + rec["jobs"], e0, e1))
            rec["files_present"] = sum(self.files.data_files(s) for s in stores)
            self.harvest_s += time.perf_counter() - t
        self.calls.append(rec)
        return result

    def walls(self, fn: str) -> list[float]:
        return [c["wall_s"] for c in self.calls if c["fn"] == fn]


def ranked(rows) -> list[tuple]:
    """BM25-family result rows as (query_id, doc_id, score to 6 decimals),
    in the order returned: the form two answers are compared in."""
    out = []
    for r in rows:
        d = r.asDict()
        score = d["bm25"] if "bm25" in d else d["score"]
        out.append((d.get("query_id"), d["doc_id"], round(float(score), 6)))
    return out


def batch_recalls(spark, path: str, queries, vectors, ids, k: int, nprobe: int) -> list[float]:
    """Recall@k of each of ``queries`` answered in one ``ivf_sq8_batch_topk``
    call (equal to one ``ivf_sq8_topk`` per query) over the store at
    ``path``, against the exact top-k of ``vectors``. Used by the output
    checks, where it widens the recall sample for one call."""
    from photo_vector_search_spark.operators.sq import ivf_sq8_batch_topk

    qdf = spark.createDataFrame(list(enumerate(queries)), "query_id long, query_vec array<double>")
    got = defaultdict(set)
    for r in ivf_sq8_batch_topk(spark, path, qdf, k=k, nprobe=nprobe).collect():
        got[r["query_id"]].add(r["vec_id"])
    return [len(got[i] & set(exact_topk(vectors, ids, q, k))) / k
            for i, q in enumerate(queries)]


def typical_latency(rec: Recorder, kinds: tuple[str, ...]) -> float:
    """Geometric mean over call types of each type's median wall: one
    figure per workload that does not shift when a run ends after a
    different number of calls of each type."""
    by_fn = defaultdict(list)
    for c in rec.calls:
        if c["kind"] in kinds:
            by_fn[c["fn"]].append(c["wall_s"])
    return statistics.geometric_mean(statistics.median(v) for v in by_fn.values())


SERVING_READS = ("read", "batch")
LAYERS = (
    "session", "operators.bm25_store", "operators.sq", "operators.index_maintenance",
    "operators.late_interaction", "operators.fusion", "pipelines.embed",
    "operators.knn", "operators.dedup",
)
READ_LAYERS = (
    "operators.bm25_store", "operators.sq", "operators.index_maintenance",
    "operators.late_interaction", "operators.fusion",
)
WRITE_LAYERS = ("operators.bm25_store", "operators.index_maintenance")
BASE_KINDS = (
    "calls", "wall_s", "driver_s", "jobs", "tasks", "task_s", "cpu_s", "gc_s",
    "input_bytes", "shuffle_bytes", "failed_tasks",
)


def layer_metrics(setup: Recorder, loop: Recorder, jvm_start_s: float) -> dict[str, float]:
    """``<layer>.<kind>`` roll-up of traced calls: set-up calls under
    ``session``, timed-loop calls under the module they live in."""
    agg = {layer: defaultdict(float) for layer in LAYERS}
    reads = {layer: defaultdict(float) for layer in READ_LAYERS}
    for rec, by_module in ((setup, False), (loop, True)):
        for c in rec.calls:
            layer = c["layer"] if by_module else "session"
            if layer not in agg:
                raise RuntimeError(f"call {c['fn']} sits in unlisted layer {layer}")
            a = agg[layer]
            a["calls"] += 1 if by_module else c["items"]  # a set-up entry holds the builds
            a["wall_s"] += c["wall_s"]
            a["driver_s"] += c["wall_s"] - c["job_s"]
            for k in BASE_KINDS[3:]:  # the harvested counters
                a[k] += c[k]
            a["bytes_written"] += c.get("bytes_written", 0)
            if by_module and c["kind"] in SERVING_READS and layer in reads:
                r = reads[layer]
                r["files_read"] += c["files_read"]
                r["files_present"] += c["files_present"]
                r["rows_scanned"] += c["rows_scanned"]
                r["rows"] += c["rows"]
    out = {}
    for layer in LAYERS:
        for kind in BASE_KINDS:
            out[f"{layer}.{kind}"] = agg[layer][kind]
    for layer in READ_LAYERS:
        r = reads[layer]
        out[f"{layer}.files_read_ratio"] = (
            r["files_read"] / r["files_present"] if r["files_present"] else 0.0)
        out[f"{layer}.rows_scanned_per_result"] = (
            r["rows_scanned"] / r["rows"] if r["rows"] else 0.0)
    for layer in WRITE_LAYERS:
        out[f"{layer}.bytes_written"] = agg[layer]["bytes_written"]
    out["session.jvm_start_s"] = jvm_start_s
    out["session.store_build_s"] = agg["session"]["wall_s"]
    return out


def jobs_per_call(rec: Recorder) -> dict[str, list[int]]:
    out = defaultdict(list)
    for c in rec.calls:
        out[c["fn"]].append(c["jobs"])
    return dict(out)
