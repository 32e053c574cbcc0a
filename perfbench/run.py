"""Benchmark of baguetter_spark: ingest, hot search and cold selective search.

    python3 perfbench/run.py --workload broad --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed``; the
last line of stdout is the JSON result.  ``--trace 0`` measures the
end-to-end metrics; ``--trace 1`` runs the traced pipeline with Spark's event
log on and reports the per-layer metrics.  See BENCHMARK.json for the
workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / "perfbench" / ".work"


def host_record(workload: str, seed: int) -> dict:
    import pyarrow
    import pyspark

    src = hashlib.sha256()
    for p in sorted((ROOT / "baguetter_spark").rglob("*.py")):
        src.update(p.relative_to(ROOT).as_posix().encode())
        src.update(p.read_bytes())
    head = ROOT / ".git" / "HEAD"
    rev = None
    if head.exists():
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            ref_file = ROOT / ".git" / ref[5:]
            rev = ref_file.read_text().strip() if ref_file.exists() else None
        else:
            rev = ref
    return {
        "workload": workload,
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "ram_bytes": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "git_revision": rev,
        "source_sha256": src.hexdigest(),
    }


def make_session(host: dict, event_log_dir: Path | None):
    """local[nproc], nproc shuffle partitions, a driver heap of a quarter of
    RAM (at most 8 GiB) and no initial-heap floor."""
    from pyspark.sql import SparkSession

    nproc = host["nproc"]
    heap_mb = max(1024, min(8192, host["ram_bytes"] // 4 // 2**20))
    b = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.default.parallelism", str(nproc))
        .config("spark.driver.memory", f"{heap_mb}m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", str(WORK / "warehouse"))
        # row groups of 64 KiB: a small saved index then has many row
        # groups, as a large one does at the default 128 MiB, so the posting
        # scan's row-group pruning has groups to skip
        .config("spark.hadoop.parquet.block.size", str(64 * 1024))
    )
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        # one uncompressed JSON file; plan strings are capped because every
        # adaptive re-plan of a deep maintenance plan is logged in full
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir.as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.sql.maxPlanStringLength", "100000")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM it launched and wait for it to exit;
    Spark's Python worker daemon ends with the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway server exits on end of input
        proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine is imported from the checkout, by this process and by the
    # Spark Python workers it starts
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    import baguetter_spark  # noqa: F401  (fails outside a full checkout)

    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")

    WORK.mkdir(parents=True, exist_ok=True)
    host = host_record(args.workload, args.seed)
    run_dir = WORK / f"run-{os.getpid()}"
    log_dir = run_dir / "eventlog" if args.trace else None
    # temporary files of this process, of the JVMs spark-submit starts, of
    # Spark and of its Python workers stay inside the checkout
    tmp_dir = run_dir / "tmp"
    tmp_dir.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp_dir)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp_dir}", "-XX:-UsePerfData"]))
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    tempfile.tempdir = None
    try:
        t0 = time.perf_counter()
        spark = make_session(host, log_dir)
        t_session = time.perf_counter() - t0
        try:
            if args.trace:
                outcome = workloads.traced(spark, args.workload, args.seed, run_dir)
            else:
                outcome = workloads.measure(spark, args.workload, args.seed, args.seconds, run_dir)
        finally:
            stop_session(spark)
        if args.trace:
            t0 = time.perf_counter()
            outcome = workloads.fold_trace(outcome, log_dir)
            outcome["report"]["fold_s"] = time.perf_counter() - t0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    report = {"host": host, "session_start_s": t_session, **outcome.get("report", {})}
    (WORK / "results").mkdir(exist_ok=True)
    (WORK / "results" / f"{args.workload}-{args.seed}-trace{args.trace}-{int(time.time())}.json").write_text(
        json.dumps({"report": report, "metrics": outcome["metrics"]}, indent=1)
    )
    print(json.dumps({"report": report}), flush=True)
    result = {
        "correct": outcome["failed"] == 0,
        "attempted": outcome["attempted"],
        "failed": outcome["failed"],
        "metrics": outcome["metrics"],
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
