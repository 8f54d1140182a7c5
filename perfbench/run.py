"""Closed-loop benchmark of the registered queries, with a per-query layer
ledger.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One client runs a workload's frozen query list (``workloads.py``) one query
at a time, each sent when the previous one has finished, on a
``local[nproc]`` session from ``session.get_spark``, with the engine's
default confs and driver heap.  Each query runs from the call into its
registered ``(spark, sf_dir)`` function until a JVM ``noop`` sink returns:
that is its window.  The inputs are the engine's sf0.1 test tables, the
ones ``bench.py`` and the oracle checks read (TESTDATA.md), copied byte
for byte into ``perfbench/data``.  They are the same for every ``--seed``,
which is only recorded, and the queries run in their listed order
(``workloads.py`` says why).  A run measures exactly one pass over the
list, which is equally cold in every run; it takes about ``--seconds``
(BENCHMARK.json's ``run_seconds``) on a 4-core host, and always runs whole.

After the pass, once the RSS sampler has stopped, every query that ran is
run again and compared with its DuckDB oracle by
``tools/check_oracle.py``'s ``compare``, so neither DuckDB nor the collect
counts in any metric.  A mismatch or an error counts as failed and is
reported by name.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` prints the
per-layer metrics instead: it runs one pass under the layer tracer
(``tracer.py``, with a local Spark event log) for the per-query ledger,
then untraced, traced and untraced passes in the same order, whose totals
give ``trace_overhead_frac``.  Either way a run record with the host facts
and the per-query ledger is written under ``perfbench/.records/``;
human-readable lines go to stderr and the last line of stdout is one JSON
object.

Every run works in its own directory under ``perfbench/.run/``: stage
directories, Spark local dirs, warehouse and event log.  It inherits none
of ``$SPARK_GRAFT_STAGE_DIR``, ``<repo>/.stage`` or the cwd's
``spark-warehouse``.
"""

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time

import pandas as pd  # module global: the pandas-UDF warmup's type hints resolve here

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: end-to-end metrics (``--trace 0``): name -> unit
E2E_METRICS = {
    "setup_s": "s",
    "total_query_s": "s",
    "query_p50_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

#: per-layer metrics (``--trace 1``): name -> unit
LAYER_METRICS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.load_calls": "count",
    "sources.load_s": "s",
    "sources.load_jobs": "count",
    "build.self_s": "s",
    "build.jobs": "count",
    "build.stages": "count",
    "plan.s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.core_busy_frac": "frac",
    "exec.task_cpu_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.jvm_gc_s": "s",
    "codegen.compiles": "count",
    "codegen.compile_s": "s",
    "python.worker_cpu_s": "s",
    "python.bytes_to_worker": "bytes",
    "python.bytes_from_worker": "bytes",
    "cache.pins": "count",
    "cache.persistent_rdds_after": "count",
    "cache.resident_bytes_after": "bytes",
    "stage.calls": "count",
    "stage.hit_ratio": "frac",
    "stage.build_s": "s",
    "stage.bytes_written": "bytes",
    "stage.write_amp": "frac",
    "jvm.gc_s": "s",
    "jvm.heap_after_mb": "MB",
    "trace_overhead_frac": "frac",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg: str, code: int = 2) -> None:
    log(msg)
    sys.exit(code)


def parse_args(argv: list[str]) -> argparse.Namespace:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=workloads.SCALE, help="input scale factor (smoke tests)")
    return ap.parse_args(argv)


# -- inputs -------------------------------------------------------------------


def data_dir(scale: float) -> str:
    """The directory of the input tables at ``scale``."""
    out = os.path.join(HERE, "data", f"sf{scale:g}")
    if not os.path.isdir(out):
        fail(f"no input tables at scale {scale:g}: {out} is missing")
    return out


def isolate(run_dir: str, trace: bool) -> None:
    """Point every directory Spark and the engine write to inside
    ``run_dir``, before the JVM starts."""
    for sub in ("local", "tmp", "warehouse", "stage", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    # the engine's defaults, whatever the caller's environment says
    for var in ("SPARK_GRAFT_STAGE_DIR", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_STAGE_DIR"] = os.path.join(run_dir, "stage", "setup")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file under /tmp: the JVM writes only inside the run dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    confs = {
        "spark.sql.warehouse.dir": "file://" + os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def host_facts(args: argparse.Namespace, nproc: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc,
        "loadavg_start": list(os.getloadavg()),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "seed": args.seed,
        "workload": args.workload,
        "trace": args.trace,
        "seconds": args.seconds,
    }


# -- session ------------------------------------------------------------------


def warm_up(spark, sf_dir: str, cpus: int) -> dict[str, float]:
    """The warmups ``bench.py`` runs before its first timed query: every
    table through the scan path, the Python worker pool (mapInPandas), the
    grouped-agg pandas-UDF path, the Python DataSource path and one small
    shuffle.  Returns the seconds of each step."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.pydatasource import (
        SOURCE_NAME,
        register_synthetic_source,
    )
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.tables import (
        TABLE_NAMES,
        load_table,
    )

    steps: dict[str, float] = {}

    def noop(step: str, build) -> None:
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        steps[step] = steps.get(step, 0.0) + time.perf_counter() - t0

    for name in TABLE_NAMES:
        noop("tables", lambda: load_table(spark, sf_dir, name))

    # nested functions: cloudpickle ships them by value to the workers
    def passthrough(batches):
        yield from batches

    def warm_sum(v: pd.Series) -> float:
        return float(v.sum())

    noop("map_in_pandas", lambda: spark.range(0, cpus * 4, 1, cpus).mapInPandas(passthrough, schema="id long"))
    noop(
        "grouped_agg_udf",
        lambda: spark.range(0, cpus * 4, 1, cpus)
        .withColumn("g", F.col("id") % 8)
        .groupBy("g")
        .agg(pandas_udf(warm_sum, "double")("id")),
    )
    register_synthetic_source(spark)
    noop(
        "python_datasource",
        lambda: spark.read.format(SOURCE_NAME).option("n_docs", 32).option("partitions", cpus).load(),
    )
    noop("shuffle", lambda: load_table(spark, sf_dir, "region").groupBy("r_name").count())
    return steps


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=120)


# -- measurement --------------------------------------------------------------


def release(spark) -> None:
    """``bench.py``'s between-query hygiene, outside every window."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def run_pass(spark, registry, order, sf_dir, tree, tracer=None):
    """One pass over ``order``.  Returns the windows and the errors by name."""
    windows, errors = [], {}
    for name in order:
        fn = registry[name].fn
        cpu0 = tree.cpu()
        t0 = time.perf_counter()
        try:
            if tracer is None:
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                window = time.perf_counter() - t0
            else:
                window = tracer.run_query(name, fn, sf_dir)
        except Exception as e:  # noqa: BLE001 - reported by name
            errors[name] = f"{type(e).__name__}: {str(e)[:300]}"
            window = None
        cpu = tree.cpu() - cpu0
        if window is not None:
            windows.append({"query": name, "s": window, "cpu_s": cpu})
        release(spark)
        if tracer is not None and window is not None:
            tracer.after_release(name)
    return windows, errors


class Checker:
    """Oracle comparison with ``tools/check_oracle.py``'s ``compare``, on
    DuckDB views of the tables that exist."""

    def __init__(self, spark, registry, sf_dir: str) -> None:
        spec = importlib.util.spec_from_file_location(
            "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
        )
        self.check_oracle = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.check_oracle)
        import duckdb

        from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.tables import TABLE_NAMES

        self.spark, self.registry, self.sf_dir = spark, registry, sf_dir
        self.con = duckdb.connect()
        for table in TABLE_NAMES:
            path = os.path.join(sf_dir, f"{table}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")

    def check_all(self, names: list[str]) -> dict[str, str]:
        """Run each query again and compare its output with its oracle."""
        status = {}
        for name in names:
            try:
                status[name] = self.check_oracle.compare(name, self.spark, self.con, self.sf_dir, self.registry[name])
            except Exception as e:  # noqa: BLE001 - reported by name
                status[name] = f"ERROR {type(e).__name__}: {str(e)[:300]}"
            release(self.spark)
        self.con.close()
        return status


def main(argv: list[str]) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    import procstat
    import stats
    import workloads

    sys.path.insert(0, ROOT)
    try:
        from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.registry import load_all
        from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.session import get_spark
    except ImportError as e:
        fail(f"cannot import the engine package from {ROOT}: {e}")
    if not os.path.exists(os.path.join(ROOT, "tools", "check_oracle.py")):
        fail("tools/check_oracle.py is missing; outputs cannot be checked")

    workload = workloads.WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    facts = host_facts(args, nproc)
    registry = load_all()
    missing = [q for q in workload.queries if q not in registry]
    if missing:
        fail(f"queries not registered: {missing}")
    sf_dir = data_dir(args.scale)
    input_bytes = os.path.getsize(os.path.join(sf_dir, "documents.parquet"))

    run_dir = os.path.join(HERE, ".run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir, bool(args.trace))
    order = list(workload.queries)

    def fresh_stage(tag: str) -> None:
        """Every pass starts from a new, empty stage directory."""
        os.environ["SPARK_GRAFT_STAGE_DIR"] = os.path.join(run_dir, "stage", tag)

    steal0 = procstat.steal_ticks()
    tree = procstat.TreeStats().start()
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{nproc}]")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    warmup_steps = warm_up(spark, sf_dir, nproc)
    t2 = time.perf_counter()
    layer = {"session.start_s": t1 - t0, "session.warmup_s": t2 - t1}

    passes: list[list[dict]] = []
    errors: dict[str, str] = {}
    ledger: dict = {}
    if args.trace:
        import tracer as tracing

        def traced_pass(tag: str):
            fresh_stage(tag)
            tr = tracing.Tracer(spark, tree, nproc, lambda: os.environ["SPARK_GRAFT_STAGE_DIR"], tag)
            tr.install()
            try:
                windows, errs = run_pass(spark, registry, order, sf_dir, tree, tr)
            finally:
                tr.uninstall()
            errors.update(errs)
            return tr, windows

        def untraced_pass(tag: str):
            fresh_stage(tag)
            windows, errs = run_pass(spark, registry, order, sf_dir, tree)
            errors.update(errs)
            return windows

        # the ledger comes from the first pass, as cold as an untraced
        # run's.  The overhead compares a later traced pass with the mean of
        # the untraced passes on either side of it, which cancels most of
        # the speed-up each pass gets from the one before.
        tr, traced = traced_pass("ledger")
        before = untraced_pass("untraced-before")
        _, traced_warm = traced_pass("overhead")
        after = untraced_pass("untraced-after")
        passes = [traced, before, traced_warm, after]
        untraced_s = (sum(w["s"] for w in before) + sum(w["s"] for w in after)) / 2
        layer["trace_overhead_frac"] = sum(w["s"] for w in traced_warm) / untraced_s - 1 if untraced_s else 0.0
    else:
        fresh_stage("pass")
        windows, errors = run_pass(spark, registry, order, sf_dir, tree)
        passes = [windows]
    tree.stop()
    steal1 = procstat.steal_ticks()
    # host contention during the run: the share of CPU time stolen by other
    # guests, which keeps run-to-run host drift visible in the record
    facts["steal_frac"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    t3 = time.perf_counter()
    checks = Checker(spark, registry, sf_dir).check_all([q for q in order if q not in errors])
    t4 = time.perf_counter()
    stop_session(spark)
    if args.trace:
        ledger = tr.ledger(os.path.join(run_dir, "eventlog"), input_bytes)
        layer.update(tracing.totals(ledger, nproc, input_bytes))
    shutil.rmtree(run_dir, ignore_errors=True)
    phases = {
        "prepare_s": t0 - T_START,
        "setup_s": t2 - t0,
        "passes_s": t3 - t2,
        "checks_s": t4 - t3,
        "teardown_s": time.perf_counter() - t4,
        "wall_s": time.perf_counter() - T_START,
    }

    failed = sorted(set(errors) | {q for q, s in checks.items() if not s.startswith(("OK", "ROWS-ONLY"))})
    # end-to-end metrics from the first pass, the only one an untraced run makes
    first = passes[0]
    all_windows = [w["s"] for w in first]
    e2e = {
        "setup_s": layer["session.start_s"] + layer["session.warmup_s"],
        "total_query_s": sum(all_windows),
        "query_p50_s": statistics.median(all_windows) if all_windows else 0.0,
        "cpu_s": sum(w["cpu_s"] for w in first),
        "peak_rss_mb": tree.peak_rss / 2**20,
    }
    p90 = stats.highest_supported_percentile(len(all_windows))
    extra = {"query_samples": len(all_windows), "passes": len(passes)}
    if p90 is not None:
        extra[f"query_p{p90:g}_s"] = stats.percentile(all_windows, p90)
    extra["failed_frac"] = len(failed) / len(workload.queries)

    record = {
        "host": facts,
        "order": order,
        "passes": passes,
        "checks": checks,
        "errors": errors,
        "failed": failed,
        "end_to_end": {**e2e, **extra},
        "per_layer": layer,
        "gc_dependent": list(tracing.GC_DEPENDENT) if args.trace else [],
        "ledger": ledger,
        "phases": phases,
        "warmup_steps": warmup_steps,
    }
    rec_dir = os.path.join(HERE, ".records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(
        rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    )
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)

    units = LAYER_METRICS if args.trace else E2E_METRICS
    values = layer if args.trace else e2e
    metrics = {name: {"value": float(values[name]), "unit": unit} for name, unit in units.items()}
    for name, m in metrics.items():
        log(f"{name:28s} {m['value']:.6g} {m['unit']}")
    log(f"query samples {len(all_windows)} in {len(passes)} pass(es); failed_frac {extra['failed_frac']:.3f}")
    log("phases: " + " ".join(f"{k} {v:.1f}" for k, v in phases.items()))
    for name in failed:
        log(f"FAILED {name}: {errors.get(name) or checks.get(name)}")
    log(f"run record: {os.path.relpath(rec_path, ROOT)}")
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(workload.queries),
                "failed": len(failed),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
