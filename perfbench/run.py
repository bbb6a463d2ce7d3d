"""Benchmark for the search_replica_spark engine.

    python3 perfbench/run.py --workload {search,cdc} --seed N --seconds S --trace {0,1}

Generates the workload's inputs from the seed, drives the engine's public
entry points on local[nproc] with default engine settings, checks every
answer, and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` opens a span around every engine call and
reports the per-layer metrics instead (see workloads.py for both sets).

Every run works in its own directory ``perfbench/_runs/<run id>/``: inputs,
indexes, Spark local and temp files. Indexes and scratch files are removed
at the end; ``record.json`` (run record: nproc, loadavg before and after,
versions, commit, workload descriptors, phase end times, raw and normalised
percentiles with their sample counts, failures) and, when traced,
``spans.json`` stay. A traced run reports its tracing overhead against the
latest untraced record of the same workload and seed.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import platform
import shutil
import sys
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def git_commit() -> str | None:
    """HEAD of the checkout, read from .git if there is one (no subprocess)."""
    head = ROOT / ".git" / "HEAD"
    if not head.is_file():
        return None
    ref = head.read_text().strip()
    if not ref.startswith("ref: "):
        return ref
    p = ROOT / ".git" / ref[5:]
    if p.is_file():
        return p.read_text().strip()
    packed = ROOT / ".git" / "packed-refs"
    if packed.is_file():
        for line in packed.read_text().splitlines():
            if line.endswith(" " + ref[5:]):
                return line.split()[0]
    return None


def stop(spark, gateway) -> None:
    """Stop Spark and wait until its JVM (and with it the Python workers) has exited."""
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def untraced_baseline(workload: str, seed: int) -> dict | None:
    recs = []
    for p in (HERE / "_runs").glob(f"{workload}-s{seed}-t0-*/record.json"):
        rec = json.loads(p.read_text())
        if rec.get("correct"):
            recs.append(rec)
    return max(recs, key=lambda r: r["started"])["metrics"] if recs else None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("search", "cdc"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "search_replica_spark" / "__init__.py").is_file():
        print(f"search_replica_spark not found next to {HERE.name}/", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{uuid.uuid4().hex[:6]}"
    run_dir = HERE / "_runs" / run_id
    tmp = run_dir / "tmp"
    local = run_dir / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    # Spark's Python workers import the engine from the checkout, whatever
    # the cwd; Spark and Python scratch files stay inside the run directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    sys.path[:0] = [str(ROOT), str(HERE)]

    import pyspark

    import workloads as W
    from search_replica_spark.session import get_spark
    from tracer import Tracer

    nproc = os.cpu_count() or 1
    record = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "started": time.time(),
        "nproc": nproc, "loadavg_before": os.getloadavg(),
        "python": platform.python_version(), "spark": pyspark.__version__,
        "commit": git_commit(),
    }
    prepare, workload = W.WORKLOADS[args.workload]
    t0 = time.perf_counter()
    with ThreadPoolExecutor(1) as pool:
        # input generation is pure Python and pyarrow: it overlaps the JVM start
        inputs = pool.submit(prepare, args.seed, str(run_dir))
        spark = get_spark(f"perfbench-{args.workload}", cores=nproc, extra={
            "spark.local.dir": str(local),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        })
        record["spark_start_s"] = time.perf_counter() - t0
        gateway = spark.sparkContext._gateway
        try:
            inputs = inputs.result()
        except BaseException:
            stop(spark, gateway)
            raise
    record["prepare_s"] = time.perf_counter() - t0
    # inputs and oracle live for the whole run: keep their objects out of the
    # garbage collector's passes during the timed engine calls
    gc.freeze()
    try:
        tracer = Tracer(spark.sparkContext, run_id, bool(args.trace))
        run = W.Run(spark, tracer, str(run_dir), args.seed, args.seconds, bool(args.trace))
        workload(run, inputs)
        e2e, detail = W.end_to_end(run)
        record.update(run.record)
        record["percentiles"] = detail
        if args.trace:
            metrics = W.per_layer(run)
            record["traced_metrics"] = e2e
            record["layer_detail"] = W.layer_detail(run)
            base = untraced_baseline(args.workload, args.seed)
            record["trace_overhead"] = None if base is None else {
                k: e2e[k]["value"] / base[k]["value"] - 1.0 for k in e2e if k in base}
            tracer.dump(str(run_dir / "spans.json"))
        else:
            metrics = e2e
    finally:
        t_stop = time.perf_counter()
        stop(spark, gateway)
        record["stop_s"] = time.perf_counter() - t_stop
        for d in ("index", "tmp", "spark-local"):
            shutil.rmtree(run_dir / d, ignore_errors=True)
        for p in run_dir.glob("*.parquet"):
            shutil.rmtree(p) if p.is_dir() else p.unlink()

    bad = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
    if bad:
        print(f"metrics without a value: {bad}; failures: {run.failures}", file=sys.stderr)
        return 1
    record["loadavg_after"] = os.getloadavg()
    record["wall_s"] = time.perf_counter() - t0
    record["failures"] = run.failures
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }
    record.update({"correct": result["correct"], "metrics": metrics})
    (run_dir / "record.json").write_text(json.dumps(record, indent=1, default=str))
    print(f"run record: {run_dir / 'record.json'}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
