"""The benchmark's workloads, run against the program's public API.

Each workload function takes a ``Run`` (seed, trace flag, work
directory) and returns a result: the end-to-end metrics with tracing
off, or the per-layer metrics with tracing on, plus the outcome of its
output checks.

A run times exactly one unit: the first pipeline run (or leg pass) in a
freshly set up session, so it includes the Spark JVM's compile and
class-loading work for that code — what a one-shot ``spark-submit`` job
pays. An operation that raises is recorded as a failed check, and the
run goes on to report its metrics.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

from measure import RssPeak, cpu_ticks, descendant_pids, dir_bytes, tree_cpu_s, wait_gone

# ingest_full: 64 shards x 64 rows of the seeded image+caption corpus
INGEST_ROWS = 4096
# curation_queries: documents table size and the legs of one pass
N_DOCS = 500
CURATION_LEGS = (
    "flagship_quality_filter",
    "minhash_lsh_candidates",
    "ngram_jaccard_pairs",
    "simhash_near_dups",
    "repetition_stats",
)
N_SETUPS = 5  # set-up cycles after the JVM launch; setup_s is their median
F1_FLOOR = 0.99


@dataclass
class Run:
    workload: str
    seed: int
    trace: bool
    work: str
    cores: int
    failures: list[str] = field(default_factory=list)
    attempted: int = 0
    info: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok

    def raised(self, what: str, exc: BaseException) -> None:
        """Count an operation that raised as a failed check."""
        traceback.print_exc(file=sys.stderr)
        self.check(False, f"{what} raised {type(exc).__name__}: {exc}")


# --------------------------------------------------------------------------
# session set-up
# --------------------------------------------------------------------------


def _warm_workers(batches):
    """Executor-side warm-up: start the Python worker, import the
    package and fit the lazy model singletons."""
    import pandas as pd

    from gobulk_spark.models import langid, perplexity

    langid.predict(pd.Series(["warm up the models"]))
    perplexity.score(pd.Series(["warm up the models"]))
    yield from batches


def session_conf(run: Run) -> dict[str, str]:
    tmp = os.path.join(run.work, "tmp")
    conf = {
        # heap for the driver (= the local executor); the rest of the
        # host's memory is left to the Python workers. The heap is fixed
        # (-Xms = spark.driver.memory, fixed young generation): a heap
        # that G1 grows in a run grows at timing-dependent moments, and
        # the JVM's peak RSS then varied by 400 MB from run to run.
        "spark.driver.memory": "4g",
        "spark.driver.extraJavaOptions": f"-Xms4g -Xmn512m -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(run.work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if run.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir(run),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def event_dir(run: Run) -> str:
    return os.path.join(run.work, "eventlog")


def _ship_zip(run: Run) -> str:
    from gobulk_spark import deploy

    path = os.path.join(run.work, "gobulk_spark-bench.zip")
    return deploy.write_zip(deploy.package_payload(), path)


def setup_session(run: Run, master: str, prepare, cycles: int = N_SETUPS):
    """Set the session up ``1 + cycles`` times and keep the last one.

    One cycle: start a SparkContext, ship the package (a zip added with
    addPyFile, which ``deploy.ship`` then finds and leaves alone), start
    and warm the Python workers, and run ``prepare`` (input cache check
    or state restore). The first cycle of a run also launches the JVM;
    it is recorded in ``info["first_cycle_s"]`` and left out of the
    returned median, which is taken over the other ``cycles``."""
    from pyspark import cloudpickle

    from gobulk_spark.session import get_spark

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    times, spark = [], None
    for _ in range(1 + cycles):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(master, app_name=f"perfbench-{run.workload}", extra_conf=session_conf(run))
        spark.sparkContext.setLogLevel("ERROR")
        spark.sparkContext.addPyFile(_ship_zip(run))
        n = spark.sparkContext.defaultParallelism
        spark.range(n * 8, numPartitions=n).mapInPandas(
            _warm_workers, schema="id long"
        ).write.mode("overwrite").format("noop").save()
        prepare()
        times.append(time.perf_counter() - t0)
    run.info["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    run.info.setdefault("first_cycle_s", []).append(round(times[0], 3))
    run.info.setdefault("setup_cycles_s", []).extend(round(t, 3) for t in times[1:])
    return spark, statistics.median(times[1:]) if cycles else times[0]


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM and every
    process it started (the Python workers) have exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    pids = descendant_pids(proc.pid)
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    wait_gone(pids, timeout_s=30)


# --------------------------------------------------------------------------
# timed units
# --------------------------------------------------------------------------


class Unit:
    """Wall, CPU and peak RSS of one timed unit."""

    def __enter__(self):
        self.ticks0 = cpu_ticks()
        self.cpu0 = tree_cpu_s()
        self.rss = RssPeak().start()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self.t0
        self.cpu_s = tree_cpu_s() - self.cpu0
        self.peak_rss_mb = self.rss.stop()
        self.peak_jvm_rss_mb = self.rss.peak_largest_mb
        steal, total = (b - a for a, b in zip(self.ticks0, cpu_ticks()))
        self.steal_frac = steal / total if total else 0.0
        return False


# --------------------------------------------------------------------------
# ingest_full
# --------------------------------------------------------------------------

PIPELINE_SPANS = (
    ("gobulk_spark.sources.manifest", "run_scan_set"),
    ("gobulk_spark.sources.manifest", "commit_manifest"),
    ("gobulk_spark.lineage", "write_audit"),
    ("gobulk_spark.lineage", "write_metrics"),
    ("gobulk_spark.lineage", "advance_marker"),
    ("gobulk_spark.lineage", "commit_phase"),
)
NEXT_PHASE = {"scan": "pipeline.parse", "parse": "pipeline.store", "store": None}
# a first import only creates, omits and flags rows (no update/delete)
ACTION_METRICS = {
    "create": "rows_created",
    "omit": "rows_omitted",
    "issue": "rows_issue",
}


def _trace_pipeline(tracer) -> None:
    """Wrap the module functions ``run_pipeline`` calls; each phase
    commit moves the job-group scope on to the next phase."""
    import importlib

    for mod_name, attr in PIPELINE_SPANS:
        mod = importlib.import_module(mod_name)
        after = None
        if attr == "commit_phase":

            def after(args, kwargs):
                phase = kwargs.get("phase", args[2] if len(args) > 2 else None)
                tracer.set_scope(NEXT_PHASE.get(phase))

        short = mod_name.split(".")[-1]
        tracer.wrap(mod, attr, f"{short}.{attr}", after=after)


def _pipeline_unit(run: Run, spark, source: str, out_dir: str, tracer=None, label="") -> dict:
    from gobulk_spark.config import PipelineConfig
    from gobulk_spark.pipeline import run_pipeline
    from gobulk_spark.sinks import ParquetKeptSink

    from spans import TimedSink

    shutil.rmtree(out_dir, ignore_errors=True)
    cfg = PipelineConfig(source_path=source, out_dir=out_dir, run_id="bench")
    sink = TimedSink(ParquetKeptSink(out_dir), tracer) if tracer else None
    if tracer:
        tracer.set_scope("pipeline.scan")
    summary = None
    with Unit() as u:
        try:
            summary = run_pipeline(spark, cfg, sink=sink)
        except Exception as e:  # noqa: BLE001 - a failed operation
            run.raised(f"{label}run_pipeline", e)
    if tracer:
        tracer.set_scope(None)
    unit = {
        "wall_s": u.wall_s,
        "cpu_s": u.cpu_s,
        "peak_rss_mb": u.peak_rss_mb,
        "peak_jvm_rss_mb": u.peak_jvm_rss_mb,
        "steal_frac": u.steal_frac,
        "summary": summary,
        "out_dir": out_dir,
    }
    if summary is None:
        return unit
    phases = {p: summary["phases"][p]["wall_s"] for p in ("scan", "parse", "store")}
    other = u.wall_s - sum(phases.values())
    # same-run attribution: the phase walls come from the summary of the
    # very run whose wall this is, so they and the run's own total must
    # fit inside it (the summary's clock is time.time(); allow for that)
    run.check(summary.get("status") == "completed", f"{label}pipeline status {summary.get('status')}")
    run.check(other >= 0, f"{label}phase walls {phases} exceed the run wall {u.wall_s:.3f}")
    run.check(
        sum(phases.values()) <= summary["wall_s"] + 0.01 <= u.wall_s + 0.02,
        f"{label}phases {sum(phases.values()):.3f} <= summary wall {summary['wall_s']:.3f}"
        f" <= run wall {u.wall_s:.3f} does not hold",
    )
    unit.update(phases=phases, other_s=other)
    return unit


def _read_parquet_dir(path: str):
    """A partitioned parquet directory (``key=value`` levels) as pandas."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()


def _check_ingest(run: Run, out_dir: str, labels_dir: str) -> dict:
    """keep/drop F1 and scrubbed-caption match against the reference
    labeler on the same corpus; store action counts from the audit. The
    run's outputs are read back with pyarrow, not through Spark."""
    from gobulk_spark import lineage

    from inputs import read_labels

    golden = read_labels(labels_dir)
    # duplicates are flagged per shard by the labeler; re-flag across
    # the whole corpus (first image_id per content hash wins)
    first = golden.groupby("content_hash")["image_id"].transform("min")
    golden["keep"] = golden["keep"] & (golden["image_id"] == first)
    audit = _read_parquet_dir(lineage.audit_dir(out_dir))
    kept = _read_parquet_dir(lineage.kept_dir(out_dir))
    # scan-phase duplicate omits and store-phase decisions cover
    # disjoint ids: together, one audit row per source row
    run.check(
        audit["image_id"].is_unique and len(audit) == len(golden),
        "audit does not decide every source row exactly once",
    )
    counts = audit.loc[audit["wphase"] == "store", "action"].value_counts().to_dict()
    m = golden.merge(audit[["image_id", "action"]], on="image_id", how="left")
    sk = m["action"].isin(["create", "update"])
    tp = int((sk & m["keep"]).sum())
    fp = int((sk & ~m["keep"]).sum())
    fn = int((~sk & m["keep"]).sum())
    f1 = 2 * tp / max(2 * tp + fp + fn, 1)
    run.check(f1 >= F1_FLOOR, f"keep/drop F1 {f1:.4f} < {F1_FLOOR}")
    ks = kept.merge(golden[["image_id", "scrubbed_caption"]], on="image_id")
    run.check(
        len(ks) == len(kept) and bool((ks["caption"] == ks["scrubbed_caption"]).all()),
        "scrubbed captions differ from the reference",
    )
    return {"f1": f1, "actions": {str(k): int(v) for k, v in counts.items()}, "kept_rows": len(kept)}


def ingest_full(run: Run) -> dict:
    from inputs import ensure_image_corpus

    procs = max(1, min(4, run.cores))
    t0 = time.perf_counter()
    corpus = ensure_image_corpus(run.work, INGEST_ROWS, run.seed, procs)
    run.info["inputs_s"] = round(time.perf_counter() - t0, 3)
    master = f"local[{run.cores}]"

    def prepare():
        ensure_image_corpus(run.work, INGEST_ROWS, run.seed, procs)

    spark, setup_s = setup_session(run, master, prepare)
    out_root = os.path.join(run.work, "out")
    tracer = None
    if run.trace:
        from spans import Tracer

        tracer = Tracer(spark.sparkContext)
        _trace_pipeline(tracer)
    unit = _pipeline_unit(run, spark, corpus["source"], os.path.join(out_root, "ingest"), tracer)
    t0 = time.perf_counter()
    chk = {"f1": 0.0, "actions": {}}
    if unit["summary"] is not None:
        try:
            chk = _check_ingest(run, unit["out_dir"], corpus["labels"])
        except Exception as e:  # noqa: BLE001 - a failed operation
            run.raised("output check", e)
    run.info["checks_s"] = round(time.perf_counter() - t0, 3)
    out = {
        "setup_s": setup_s,
        "wall_s": unit["wall_s"],
        "rows_per_s": corpus["rows"] / unit["wall_s"],
        "cpu_s": unit["cpu_s"],
        "peak_rss_mb": unit["peak_rss_mb"],
        "output_f1": chk["f1"],
    }
    run.info["units"] = [{k: v for k, v in unit.items() if k not in ("summary", "out_dir")}]
    run.info["actions"] = chk["actions"]
    if not run.trace or unit["summary"] is None:
        stop_spark(spark)
        return out if not run.trace else {"trace.wall_s": unit["wall_s"]}
    return _ingest_layers(run, spark, tracer, unit, corpus, chk)


def _ingest_layers(run: Run, spark, tracer, unit: dict, corpus: dict, chk: dict) -> dict:
    from gobulk_spark import lineage

    import stagebench
    import spans as tr

    scan = unit["summary"]["phases"]["scan"]
    rows = corpus["rows"]
    out_dir = unit["out_dir"]
    m = {
        "trace.wall_s": unit["wall_s"],
        "pipeline.scan_s": unit["phases"]["scan"],
        "pipeline.parse_s": unit["phases"]["parse"],
        "pipeline.store_s": unit["phases"]["store"],
        "pipeline.other_s": unit["other_s"],
        "sources.list_s": tracer.total_s("manifest.run_scan_set"),
        "sources.files_scanned": scan["source_files_scanned"],
        "sources.bytes_scanned_frac": scan["source_bytes_scanned"] / max(1, scan["source_bytes_total"]),
        "sources.dup_rows": scan["n_dups"],
        "sinks.recover_s": tracer.total_s("sinks.recover"),
        "sinks.validate_s": tracer.total_s("sinks.validate"),
        "sinks.write_kept_s": tracer.total_s("sinks.write"),
        "sinks.kept_bytes": dir_bytes(lineage.kept_dir(out_dir)),
        "sinks.bytes_written_per_row": dir_bytes(out_dir) / rows,
        "lineage.write_audit_s": tracer.total_s("lineage.write_audit"),
        "lineage.write_metrics_s": tracer.total_s("lineage.write_metrics"),
        "lineage.advance_marker_s": tracer.total_s("lineage.advance_marker"),
        "lineage.commit_s": tracer.total_s("lineage.commit_phase") + tracer.total_s("manifest.commit_manifest"),
        "lineage.audit_bytes": dir_bytes(lineage.audit_dir(out_dir)),
        "lineage.marker_bytes": dir_bytes(lineage.marker_root(out_dir)),
    }
    for action, name in ACTION_METRICS.items():
        m[f"executor.{name}"] = chk["actions"].get(action, 0)
    tracer.unwrap_all()

    # stage costs, single-threaded in this process
    us = stagebench.measure(corpus["source"])
    for name, v in us.items():
        m[f"stages.{name}_us_per_row"] = v
    m["stages.python_share"] = (sum(us.values()) * rows / run.cores / 1e6) / max(
        unit["phases"]["parse"], 1e-9
    )

    # scaling: a warm local[N] run, then the same import on local[1]
    warm = _pipeline_unit(run, spark, corpus["source"], os.path.join(run.work, "out", "scale-n"), label="warm: ")
    spark.stop()
    spark1, _ = setup_session(run, "local[1]", lambda: None, cycles=0)
    one = _pipeline_unit(run, spark1, corpus["source"], os.path.join(run.work, "out", "scale-1"), label="local[1]: ")
    stop_spark(spark1)
    if warm["summary"] is not None and one["summary"] is not None:
        m["pipeline.scaling_eff_1to4"] = one["wall_s"] / warm["wall_s"] / run.cores
    run.info["scaling"] = {"local1_wall_s": one["wall_s"], "localN_warm_wall_s": warm["wall_s"]}

    roll = tr.rollup(tr.read_events(event_dir(run)))
    m.update(_spark_metrics(roll, lambda g: g.startswith("pipeline."), unit["wall_s"], run.cores))
    for phase in ("scan", "parse", "store"):
        r = tr.sum_groups(roll, lambda g, p=phase: g.startswith(f"pipeline.{p}"))
        m[f"spark.{phase}.jobs"] = r["jobs"]
        m[f"spark.{phase}.task_s"] = r["task_s"]
    parse_stages = [
        t for g, ts in roll["stage_tasks"].items() if g.startswith("pipeline.parse") for t in ts
    ]
    m["spark.parse_task_skew"] = tr.task_skew(parse_stages)
    return m


def _spark_metrics(roll: dict, match, wall_s: float, cores: int) -> dict:
    import spans as tr

    r = tr.sum_groups(roll, match)
    out = {f"spark.{k}": v for k, v in r.items()}
    out["spark.slot_idle_frac"] = 1 - r["task_s"] / (wall_s * cores)
    return out


# --------------------------------------------------------------------------
# curation_queries
# --------------------------------------------------------------------------


def _leg_builders() -> dict:
    import __spark_entry__ as entry

    return {name: getattr(entry, f"q_{name}") for name in CURATION_LEGS}


def _leg_order(seed: int) -> list[str]:
    import random

    legs = list(CURATION_LEGS)
    random.Random(seed).shuffle(legs)
    return legs


def _run_legs(run: Run, spark, tables_dir: str, order: list[str], tracer=None) -> dict:
    from gobulk_spark.operators.dedup import release_pins

    builders = _leg_builders()
    legs, results = {}, {}
    with Unit() as u:
        for name in order:
            if tracer:
                tracer.set_scope(f"leg.{name}")
            t0 = t1 = time.perf_counter()
            try:
                with tracer.span("build") if tracer else nullcontext():
                    df = builders[name](spark, tables_dir)
                t1 = time.perf_counter()
                with tracer.span("execute") if tracer else nullcontext():
                    results[name] = df.toArrow()
            except Exception as e:  # noqa: BLE001 - a failed operation
                run.raised(f"{name}", e)
            t2 = time.perf_counter()
            legs[name] = {"build_s": t1 - t0, "execute_s": t2 - t1, "s": t2 - t0}
            release_pins()
        if tracer:
            tracer.set_scope(None)
    return {
        "wall_s": sum(l["s"] for l in legs.values()),
        "cpu_s": u.cpu_s,
        "peak_rss_mb": u.peak_rss_mb,
        "peak_jvm_rss_mb": u.peak_jvm_rss_mb,
        "steal_frac": u.steal_frac,
        "legs": legs,
        "results": results,
    }


def _canon_rows(df) -> list[str]:
    """Order-insensitive row keys: columns sorted by name, floats to 9
    decimals, one repr per row."""
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(
            repr(tuple(round(v, 9) if isinstance(v, float) else v for v in row))
        )
    return out


def _dtype_families(df) -> dict[str, str]:
    fam = {"i": "i", "u": "i"}
    return {c: fam.get(df[c].dtype.kind, df[c].dtype.kind) for c in df.columns}


def _check_curation(run: Run, tables: dict, results: dict) -> float:
    """Oracle legs must match ``oracle_sql()`` in DuckDB (row count,
    column names, dtype families, order-insensitive values); the two
    legs without an oracle are checked for their row invariants.
    Returns the pooled F1 of result rows against oracle rows."""
    from collections import Counter

    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(tables['dir'], 'documents.parquet')}')"
    )
    tp = n_spark = n_oracle = 0
    n_docs = tables["rows"]["documents"]
    for name in CURATION_LEGS:
        try:
            # a leg that raised has no result: it was counted as failed
            # and its oracle rows count as missed
            sdf = results[name].to_pandas() if name in results else None
            if name not in oracles:
                if sdf is None:
                    continue
                if name == "flagship_quality_filter":
                    ok = int(sdf["n_docs"].sum()) == n_docs
                else:  # repetition_stats: one row per document
                    ok = len(sdf) == n_docs and sdf["doc_id"].nunique() == n_docs
                run.check(ok, f"{name}: row invariant")
                continue
            ddf = con.execute(oracles[name]).df()
            b = Counter(_canon_rows(ddf))
            n_oracle += sum(b.values())
            if sdf is None:
                continue
            a = Counter(_canon_rows(sdf))
            tp += sum((a & b).values())
            n_spark += sum(a.values())
            ok = (
                len(sdf) == len(ddf)
                and sorted(sdf.columns) == sorted(ddf.columns)
                and _dtype_families(sdf) == _dtype_families(ddf)
                and a == b
            )
            run.check(ok, f"{name}: differs from its DuckDB oracle")
        except Exception as e:  # noqa: BLE001 - a failed operation
            run.raised(f"{name} output check", e)
    con.close()
    if n_spark + n_oracle == 0:
        return 1.0
    return 2 * tp / (n_spark + n_oracle)


def curation_queries(run: Run) -> dict:
    from inputs import ensure_tables

    t0 = time.perf_counter()
    tables = ensure_tables(run.work, N_DOCS, run.seed)
    run.info["inputs_s"] = round(time.perf_counter() - t0, 3)
    master = f"local[{run.cores}]"
    spark, setup_s = setup_session(
        run, master, lambda: ensure_tables(run.work, N_DOCS, run.seed)
    )
    order = _leg_order(run.seed)
    run.info["leg_order"] = order
    tracer = None
    if run.trace:
        from spans import Tracer

        tracer = Tracer(spark.sparkContext)
    first = _run_legs(run, spark, tables["dir"], order, tracer)
    t0 = time.perf_counter()
    f1 = _check_curation(run, tables, first["results"])
    run.info["checks_s"] = round(time.perf_counter() - t0, 3)
    out = {
        "setup_s": setup_s,
        "wall_s": first["wall_s"],
        "rows_per_s": N_DOCS * len(order) / first["wall_s"],
        "cpu_s": first["cpu_s"],
        "peak_rss_mb": first["peak_rss_mb"],
        "output_f1": f1,
    }
    run.info["units"] = [
        {k: first[k] for k in ("wall_s", "cpu_s", "peak_rss_mb", "peak_jvm_rss_mb", "steal_frac", "legs")}
    ]
    stop_spark(spark)
    if not run.trace:
        return out
    import spans as tr

    roll = tr.rollup(tr.read_events(event_dir(run)))
    m = {"trace.wall_s": first["wall_s"]}
    build = tr.sum_groups(roll, lambda g: g.startswith("leg.") and g.endswith("/build"))
    m["operators.build_s"] = sum(l["build_s"] for l in first["legs"].values())
    m["operators.build_jobs"] = build["jobs"]
    for name in CURATION_LEGS:
        m[f"operators.{name}.s"] = first["legs"][name]["s"]
        m[f"operators.{name}.jobs"] = tr.sum_groups(roll, lambda g, n=name: g.startswith(f"leg.{n}/"))["jobs"]
    m.update(_spark_metrics(roll, lambda g: g.startswith("leg."), first["wall_s"], run.cores))
    return m
