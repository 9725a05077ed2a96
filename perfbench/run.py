"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_full --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run from the root of a checkout. It generates the workload's inputs from
``--seed``, sets up a ``local[<nproc>]`` Spark session, times the
workload's unit, checks its outputs, prints a report and, as the last
line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones. Everything the run writes
goes under ``.perfbench_work/`` in the checkout. See
``perfbench/README.md`` for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

from measure import become_subreaper, stop_descendants  # noqa: E402
from workloads import CURATION_LEGS  # noqa: E402  (no Spark import)

WORKLOADS = ("ingest_full", "curation_queries")

# name -> unit; every workload reports every one of these
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "output_f1": "frac",
    "ops_ok_frac": "frac",
}

PER_LAYER = {
    "trace.wall_s": "s",
    "pipeline.scan_s": "s",
    "pipeline.parse_s": "s",
    "pipeline.store_s": "s",
    "pipeline.other_s": "s",
    "pipeline.scaling_eff_1to4": "frac",
    "sources.list_s": "s",
    "sources.files_scanned": "count",
    "sources.bytes_scanned_frac": "frac",
    "sources.dup_rows": "count",
    **{
        f"stages.{s}_us_per_row": "us"
        for s in ("to_pandas", "scrub", "decode", "langid", "ppl", "textstats", "from_pandas")
    },
    "stages.python_share": "frac",
    "executor.rows_created": "count",
    "executor.rows_omitted": "count",
    "executor.rows_issue": "count",
    "sinks.recover_s": "s",
    "sinks.validate_s": "s",
    "sinks.write_kept_s": "s",
    "sinks.kept_bytes": "bytes",
    "sinks.bytes_written_per_row": "bytes",
    "lineage.write_audit_s": "s",
    "lineage.write_metrics_s": "s",
    "lineage.advance_marker_s": "s",
    "lineage.commit_s": "s",
    "lineage.audit_bytes": "bytes",
    "lineage.marker_bytes": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.slot_idle_frac": "frac",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.parse_task_skew": "ratio",
    **{f"spark.{p}.jobs": "count" for p in ("scan", "parse", "store")},
    **{f"spark.{p}.task_s": "s" for p in ("scan", "parse", "store")},
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    **{f"operators.{leg}.s": "s" for leg in CURATION_LEGS},
    **{f"operators.{leg}.jobs": "count" for leg in CURATION_LEGS},
}


# A unit that lost more than this share of the host's CPU time to other
# guests (hypervisor steal in /proc/stat) is measured once more in a
# fresh JVM, and the less disturbed attempt is kept. Both are recorded
# in the result's info["attempts"].
MAX_STEAL = 0.05
MAX_ATTEMPTS = 2


def _program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "gobulk_spark", "pipeline.py")) and os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    )


def _prepare_env() -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the work directory (set before the JVM is launched). The scratch
    dirs start empty in every run, so nothing builds up across runs."""
    for sub in ("tmp", "spark-local", "out"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
        os.makedirs(os.path.join(WORK, sub))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the launcher JVM spark-submit starts first gets no driver options
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
    )
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def _git_commit() -> str | None:
    try:
        r = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if r.returncode != 0:
        return None
    return r.stdout.strip() or None


def _tree_digest() -> str:
    """Content hash of the program files (the checkout may not be a git
    repository)."""
    import hashlib

    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "gobulk_spark"))):
        paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def host_record(java: str | None) -> dict:
    import pyarrow
    import pyspark

    mem_kb = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 1024**2, 2) if mem_kb else None,
        "java": java,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "git_commit": _git_commit(),
        "program_digest": _tree_digest(),
    }


def _steal(run) -> float:
    return max(u["steal_frac"] for u in run.info["units"])


def run_one(workload: str, seed: int, trace: bool) -> dict | None:
    """One measured run; None if the workload could not be set up (a
    timed operation that raises is a failed check, not a missing run)."""
    import workloads as wl

    fn = {"ingest_full": wl.ingest_full, "curation_queries": wl.curation_queries}[workload]
    t0 = time.perf_counter()
    attempts = []
    while True:
        run = wl.Run(
            workload=workload,
            seed=seed,
            trace=trace,
            work=WORK,
            cores=len(os.sched_getaffinity(0)),
        )
        if trace:  # one event log per traced run
            shutil.rmtree(wl.event_dir(run), ignore_errors=True)
            os.makedirs(wl.event_dir(run))
        try:
            values = fn(run)
        except Exception:  # noqa: BLE001 - set-up failed: the run has no result
            import traceback

            traceback.print_exc()
            return None
        attempts.append((run, values))
        # the timed unit is the first in a fresh JVM, so a disturbed one
        # can only be measured again in another JVM
        if trace or _steal(run) <= MAX_STEAL or len(attempts) == MAX_ATTEMPTS:
            break
    run, values = min(attempts, key=lambda a: _steal(a[0]))
    run.info["attempts"] = [
        {"steal_frac": _steal(r), "wall_s": r.info["units"][0]["wall_s"]} for r, _ in attempts
    ]
    names = PER_LAYER if trace else END_TO_END
    if not trace:
        values["ops_ok_frac"] = 1 - len(run.failures) / max(1, run.attempted)
    metrics = {}
    for name, unit in names.items():
        if name not in values:
            if not trace:
                run.check(False, f"metric {name} missing")
                continue
            values[name] = 0  # the layer does no work in this workload
        metrics[name] = {"value": float(values[name]), "unit": unit}
    return {
        "workload": workload,
        "seed": seed,
        "trace": int(trace),
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "failures": run.failures,
        "metrics": metrics,
        "info": run.info,
        "run_s": round(time.perf_counter() - t0, 3),
        "host": host_record(run.info.pop("java", None)),
    }


def _report(res: dict) -> None:
    print(f"== {res['workload']} seed={res['seed']} trace={res['trace']} "
          f"correct={res['correct']} ({res['attempted'] - res['failed']}/{res['attempted']} checks)")
    for name, m in res["metrics"].items():
        print(f"  {name:40s} {m['value']:>16.6g} {m['unit']}")
    for f in res["failures"]:
        print(f"  FAILED: {f}")
    sys.stdout.flush()


def _run_all(args) -> int:
    """Each workload in its own process (own JVM), then one merged line.
    A workload that produced no result counts as one failed operation;
    the others are still run and reported, and the exit code is 1."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print("\n".join(lines))
            print(f"== {w}: no result (exit {r.returncode})")
            sys.stderr.write(r.stderr[-4000:])
            merged.update(correct=False, attempted=merged["attempted"] + 1, failed=merged["failed"] + 1)
            code = 1
            continue
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{w}.{k}"] = v
    print(json.dumps(merged))
    return code


def main(argv=None) -> int:
    """Run, then stop every process the run left behind — on every path
    out, a raised exception and an argument error included."""
    become_subreaper()
    try:
        return _main(argv)
    finally:
        sys.stdout.flush()
        left = stop_descendants()
        if left:
            sys.stderr.write(f"perfbench: stopped {len(left)} leftover process(es): {left}\n")


def _main(argv) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    # one cold unit is timed whatever its length (see README.md)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _program_present():
        sys.stderr.write(f"perfbench: the program (gobulk_spark/, __spark_entry__.py) is not under {ROOT}\n")
        return 2
    if args.workload == "all":
        return _run_all(args)
    _prepare_env()
    res = run_one(args.workload, args.seed, bool(args.trace))
    if res is None:
        return 1  # the workload raised: no result
    _report(res)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(res, f, indent=1)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
