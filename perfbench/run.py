"""Repository benchmark: store serving and store maintenance on Spark.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run is one process: it starts the
package's Spark session (``local[N]``, N = usable cores), builds its inputs
from ``--seed``, sets up the workload's stores, runs the workload's closed
loop for ``--seconds`` (whole rounds, at least one), checks the outputs
outside the timed region, stops Spark and waits for it. The last line of
stdout is one JSON object; lines before it are a readable report.

``--trace 0`` reports the end-to-end metrics, measured with no job groups
set. ``--trace 1`` runs the same work with a job group per call, harvests
the Spark status stores after each call and reports per-layer metrics.
Everything the run writes goes under ``.perfbench_work/`` in the checkout
and is removed at exit. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE_DIR = ROOT / "photo_vector_search_spark"
DRIVER_MEMORY = "2g"
# functions that share a layer with others; a single-function layer's
# jobs / calls already is its per-call job count
FUNCTIONS = (
    "bm25_store_topk", "bm25_store_batch_topk", "rm3_store_batch_topk",
    "upsert_bm25_store", "delete_from_bm25_store", "live_bm25_topk", "compact_bm25_store",
    "upsert_ivf_sq8_store", "delete_from_ivf_sq8_store", "live_ivf_sq8_topk",
    "compact_ivf_sq8_store",
)
UNITS = {
    "setup_s": "s", "query_p50_s": "s", "ops_per_s": "1/s", "queries_per_s": "1/s",
    "recall_at_k": "ratio", "write_amp": "ratio", "space_amp": "ratio",
    "peak_rss_mb": "MB",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("serve", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: Path) -> None:
    """Pin cores and keep every scratch byte inside the checkout. Python
    workers import the package from the checkout root, wherever the run
    was launched from."""
    for d in ("local", "tmp", "staging"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=str(work / "local"),
        SPARK_GRAFT_STAGING_DIR=str(work / "staging"),
        TMPDIR=str(work / "tmp"),
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={work / 'warehouse'} "
            f"--driver-java-options -Djava.io.tmpdir={work / 'tmp'} pyspark-shell"
        ),
    )
    sys.path.insert(0, str(ROOT))
    os.chdir(work)


def run(args, work: Path) -> dict:
    import pyspark

    import harness
    import ingest
    import serve
    from inputs import N_DOCS, SF, Corpus

    module = {"serve": serve, "ingest": ingest}[args.workload]
    (work / "stores").mkdir()
    spark, jvm_start_s = harness.start_spark()
    files = harness.StoreFiles(work / "stores")
    corpus = Corpus(spark, args.seed)
    w = module.Workload(spark, corpus, work)
    setup_rec = harness.Recorder(spark, files, args.trace == 1)
    w.setup(setup_rec)
    setup_s = time.perf_counter() - T_START

    rec = harness.Recorder(spark, files, args.trace == 1)
    t0 = time.perf_counter()
    w.loop(rec, args.seconds)
    loop_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    wrong, recall = w.check()
    check_s = time.perf_counter() - t0
    files.written()
    busy = sum(c["wall_s"] for c in rec.calls)
    e2e = {
        "setup_s": setup_s,
        **w.metrics(rec),
        "ops_per_s": len(rec.calls) / busy,
        "recall_at_k": recall,
        "write_amp": w.write_amp(setup_rec, rec),
        "space_amp": files.total_bytes() / w.user_bytes(),
        "peak_rss_mb": harness.peak_rss_mb(),
    }
    t0 = time.perf_counter()
    harness.stop_spark(spark)
    stop_s = time.perf_counter() - t0

    jobs = harness.jobs_per_call(rec)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)), "spark": pyspark.__version__,
        "sf": SF, "corpus_docs": N_DOCS, "jvm_start_s": round(jvm_start_s, 3),
        "build_s": {c["fn"]: round(c["wall_s"], 3) for c in setup_rec.calls},
        "loop_s": round(loop_s, 3), "check_s": round(check_s, 3), "stop_s": round(stop_s, 3),
        "calls": len(rec.calls),
        "jobs_per_call": {fn: sorted(set(v)) for fn, v in jobs.items()},
        "steal_s": round(sum(c["steal_s"] for c in rec.calls), 2),
        "wall_p50_s": {fn: round(statistics.median(rec.walls(fn)), 3) for fn in jobs},
    }
    if args.trace:
        metrics = harness.layer_metrics(setup_rec, rec, jvm_start_s)
        for fn in FUNCTIONS:
            metrics[f"fn.{fn}.jobs_per_call"] = max(jobs.get(fn, [0]))
        metrics["trace.harvest_s"] = setup_rec.harvest_s + rec.harvest_s
        metrics["trace.ops_per_s"] = e2e["ops_per_s"]
        units = {k: _layer_unit(k) for k in metrics}
    else:
        metrics, units = e2e, UNITS
    return {
        "report": report,
        "correct": wrong == 0,
        "attempted": len(rec.calls),
        "failed": min(wrong, len(rec.calls)),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def _layer_unit(name: str) -> str:
    kind = name.rsplit(".", 1)[1]
    if kind == "ops_per_s":
        return "1/s"
    if kind.endswith("_s"):
        return "s"
    if kind.endswith("_bytes") or kind == "bytes_written":
        return "bytes"
    if kind.endswith("_ratio") or kind.endswith("_per_result"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    args = _args(argv)
    if not (PACKAGE_DIR / "__init__.py").is_file():
        print(f"perfbench: package not found at {PACKAGE_DIR}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    cwd = os.getcwd()
    try:
        _environment(work)
        out = run(args, work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass
    for key, value in out.pop("report").items():
        print(f"# {key}: {json.dumps(value)}")
    for name, m in out["metrics"].items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
