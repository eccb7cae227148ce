#!/usr/bin/env python3
"""Benchmark one workload of the engine; print one JSON result line.

    python3 perfbench/run.py --workload tpch_power --seed 1 --seconds 30 --trace 0

Run from the repository root.  One driver process on
``local[$SPARK_GRAFT_CPUS]`` (default: every core) runs a closed loop
with one client: each key of the workload is built with
``spec.fn(spark, sf_dir)`` and written to the ``noop`` sink before the
next key starts.  Keys run in timed passes; the seed only permutes the
key order inside each pass.  The input tables are generated once per
checkout (``datagen.py``) under ``.perfbench/``, where Spark's scratch
files also go.

A run sets up (session, operator registration, one untimed pass that
also verifies every key against its DuckDB oracle), then times passes
until ``--seconds`` have elapsed.  With ``--trace 0`` it reports the
end-to-end metrics; with ``--trace 1`` it alternates untraced and
traced passes and reports the per-layer metrics, writing spans to
``.perfbench/trace/``.  See NOTES.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SF = 0.01

WORKLOADS: dict[str, list[str]] = {
    "tpch_power": [
        "agg_q1_pricing",
        "agg_q3_shipping",
        "agg_q5_local_supplier",
        "agg_q6_forecast_revenue",
        "agg_q13_custdist",
        "agg_q18_large_orders",
        "agg_q21_waiting_supplier",
        "agg_q22_dormant_customers",
    ],
    "curate_stream": [
        "sim_pairs_bucketed",
        "cluster_kmeans_lloyd",
        "stream_tumbling_agg",
    ],
}

# Keys without an oracle: checked for a non-empty result with these columns.
ROWS_ONLY_COLUMNS: dict[str, list[str]] = {
    "sim_pairs_bucketed": ["a_id", "b_id", "cosine"],
}

FAMILIES = ("operators", "llm", "streaming")

END_TO_END_UNITS = {
    "setup_s": "s",
    "suite_s": "s",
    "query_geomean_s": "s",
    "live_mb": "MB",
}


PER_LAYER_UNITS = {
    "setup.session_s": "s",
    "setup.register_s": "s",
    "setup.warmup_s": "s",
    "tables.load_calls": "count",
    "tables.load_s": "s",
    "tables.persist_calls": "count",
    **{f"build_s.{fam}": "s" for fam in FAMILIES},
    **{f"build_jobs.{fam}": "count" for fam in FAMILIES},
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_cpu_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.cached_mb": "MB",
    "python.sent_mb": "MB",
    "python.received_mb": "MB",
    "python.rows": "count",
    "stream.batches": "count",
    "stream.input_rows": "count",
    "stream.add_batch_s": "s",
    "stream.wal_commit_s": "s",
    "stream.planning_s": "s",
    "stream.state_rows": "count",
    "stream.state_commit_s": "s",
    "stream.state_mb": "MB",
    "trace.unaccounted_s": "s",
    "trace.overhead": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def prepare_env() -> str:
    """Point every scratch path inside the checkout; return the data dir.

    Runs before pyspark is imported: the JVM reads these at launch.
    """
    import tempfile

    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local, os.path.join(WORK, "trace")):
        os.makedirs(d, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # C1-only JIT: under the default tiered JIT, pass walls keep falling
    # for 30+ s of work after the warm-up pass (C2 settling), longer
    # than a run can spend; with C1 alone they are flat from the first
    # timed pass.  Every version of the engine is measured the same way.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f'--conf "spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} '
        '-XX:-UsePerfData -XX:TieredStopAtLevel=1" pyspark-shell'
    )
    from perfbench.datagen import ensure_tables

    sf_dir = ensure_tables(os.path.join(WORK, "data"), SF)
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    # tests/parity.py caches oracle results for fixtures under this root.
    os.environ["SPARK_GRAFT_TEST_SF_DIR"] = sf_dir
    return sf_dir


def family(spec) -> str:
    parts = spec.fn.__module__.split(".")
    fam = parts[1] if len(parts) > 2 else parts[-1]
    if fam not in FAMILIES:
        raise ValueError(f"{spec.name}: module family {fam!r} not in {FAMILIES}")
    return fam


def verify(spec, pdf, sf_dir: str) -> None:
    """Raise AssertionError unless ``pdf`` is ``spec``'s correct result."""
    from tests.parity import compare_to_oracle, oracle_multiset

    if spec.sql is None:
        want = sorted(ROWS_ONLY_COLUMNS[spec.name])
        if sorted(pdf.columns) != want or len(pdf) == 0:
            raise AssertionError(
                f"{spec.name}: {len(pdf)} rows, columns "
                f"{sorted(pdf.columns)}; want >0 rows of {want}"
            )
        return
    compare_to_oracle(pdf, oracle_multiset(sf_dir, spec.name, spec.sql), spec.name)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def heap_mb_after_gc(spark) -> float:
    # Python first: collecting py4j proxies releases the JVM objects
    # they pin, which would otherwise survive until Python's next cycle.
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    # Spark's ContextCleaner frees the blocks of collected broadcasts and
    # shuffles from its own thread, polling every 100 ms; let it run,
    # then collect what it released.
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mem.getHeapMemoryUsage().getUsed() / (1024 * 1024)


class Run:
    def __init__(self, spark, specs, keys, sf_dir, tracer) -> None:
        self.spark = spark
        self.specs = specs
        self.keys = keys
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.fam = {k: family(specs[k]) for k in keys}

    def fail(self, key: str, what: str) -> None:
        self.failed += 1
        log(f"FAILED {key} ({what}):\n{traceback.format_exc()}")

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)

    def verify_pass(self) -> float:
        """Warm-up pass that also verifies every key; returns the
        seconds spent in the oracle and the comparison."""
        verify_s = 0.0
        with self.span("pass", n="verify"):
            for key in self.keys:
                spec = self.specs[key]
                self.attempted += 1
                with self.span("key", key=key):
                    t = time.perf_counter()
                    try:
                        with self.span("run", key=key):
                            pdf = spec.fn(self.spark, self.sf_dir).toPandas()
                    except Exception:
                        self.fail(key, "verify run")
                        continue
                    log(f"warm-up {key} {time.perf_counter() - t:.2f}s")
                    t = time.perf_counter()
                    try:
                        with self.span("verify", key=key):
                            verify(spec, pdf, self.sf_dir)
                    except AssertionError:
                        self.fail(key, "verify")
                    verify_s += time.perf_counter() - t
        return verify_s

    def run_key(self, key: str) -> None:
        spec = self.specs[key]
        df = spec.fn(self.spark, self.sf_dir)
        df.write.mode("overwrite").format("noop").save()

    def traced_key(self, key: str, tag: str) -> None:
        tr, spec = self.tracer, self.specs[key]
        fam = self.fam[key]
        with tr.span("build", key=key) as b:
            tr.job_group(f"{tag}:build")
            df = spec.fn(self.spark, self.sf_dir)
            tr.drain()
        tr.add(f"build_s.{fam}", b["end"] - b["start"])
        tr.add(f"build_jobs.{fam}", len(tr.job_ids(f"{tag}:build")))
        tr.add_df_analysis(df)
        with tr.span("exec", key=key) as e:
            tr.job_group(f"{tag}:exec")
            df.write.mode("overwrite").format("noop").save()
            tr.drain()
        tr.add("exec_s", e["end"] - e["start"])
        tr.add_exec_stats(tr.job_ids(f"{tag}:exec"))

    def timed_pass(self, order: list[str], n: int, traced: bool) -> dict[str, float]:
        """One pass over ``order``; returns each key's wall time."""
        times: dict[str, float] = {}
        for key in order:
            self.attempted += 1
            t = time.perf_counter()
            try:
                if traced:
                    with self.span("key", key=key):
                        self.traced_key(key, f"p{n}:{key}")
                else:
                    self.run_key(key)
            except Exception:
                self.fail(key, f"pass {n}")
            times[key] = time.perf_counter() - t
        return times


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bigdata_twitter_spark")):
        log(f"no engine source under {ROOT}: run from a full checkout")
        return 2

    sys.path.insert(0, ROOT)
    t = time.perf_counter()
    sf_dir = prepare_env()
    datagen_s = time.perf_counter() - t
    from bigdata_twitter_spark import tables

    tracer = None
    if args.trace:
        from perfbench.tracing import Tracer

        tracer = Tracer(T0)
        tracer.wrap_tables(tables)  # before the operator modules import it

    from bigdata_twitter_spark.registry import load_all_operators
    from bigdata_twitter_spark.session import get_session

    from perfbench.reduce import fail_ratio, median, quartiles, query_geomean

    keys = WORKLOADS[args.workload]
    t = time.perf_counter()
    spark = get_session(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
    )
    session_s = time.perf_counter() - t
    try:
        t = time.perf_counter()
        specs = load_all_operators()
        register_s = time.perf_counter() - t
        run = Run(spark, specs, keys, sf_dir, tracer)
        t = time.perf_counter()
        verify_s = run.verify_pass()
        warmup_s = time.perf_counter() - t - verify_s
        setup_s = time.perf_counter() - T0 - datagen_s - verify_s
        log(
            f"setup {setup_s:.2f}s (session {session_s:.2f}, register "
            f"{register_s:.2f}, warm-up {warmup_s:.2f}); verify {verify_s:.2f}s; "
            f"failed {run.failed}/{run.attempted}"
        )

        rng = random.Random(args.seed)
        walls: dict[bool, list[float]] = {False: [], True: []}
        per_key: dict[str, list[float]] = {k: [] for k in keys}
        heap: list[float] = []
        layers: list[dict[str, float]] = []
        start = time.perf_counter()
        last = 0.0
        n = 0
        # Start a pass only if it should end inside the window, judged
        # by the previous pass; a traced run needs one pass of each kind.
        while (
            n == 0
            or time.perf_counter() - start + last <= args.seconds
            or (tracer is not None and not all(walls.values()))
        ):
            order = keys[:]
            rng.shuffle(order)
            traced = tracer is not None and n % 2 == 1
            if traced:
                tracer.start(spark)
                with tracer.span("pass", n=n) as rec:
                    run.timed_pass(order, n, traced=True)
                tracer.stop()
                wall = rec["end"] - rec["start"]
                layer = tracer.take()
                layer["exec.cached_mb"] = tracer.cached_mb()
                keyed = layer.get("exec_s", 0.0) + sum(
                    layer.get(f"build_s.{f}", 0.0) for f in FAMILIES
                )
                layer["trace.unaccounted_s"] = wall - keyed
                layers.append(layer)
            else:
                t = time.perf_counter()
                times = run.timed_pass(order, n, traced=False)
                wall = time.perf_counter() - t
                for k, v in times.items():
                    per_key[k].append(v)
                log("keys " + " ".join(f"{k}={v:.3f}" for k, v in times.items()))
            walls[traced].append(wall)
            last = wall
            heap.append(heap_mb_after_gc(spark))
            log(
                f"pass {n} {'traced' if traced else 'timed'} {wall:.3f}s "
                f"heap {heap[-1]:.1f} MB order={order}"
            )
            n += 1
    finally:
        stop_spark(spark)

    q1, suite_s, q3 = quartiles(walls[False])
    log(
        f"suite_s {suite_s:.3f}s (q1 {q1:.3f}, q3 {q3:.3f}, n={len(walls[False])}); "
        f"live_mb median of {len(heap)}; fail ratio "
        f"{fail_ratio(run.failed, run.attempted):.4f} "
        f"({run.failed}/{run.attempted})"
    )
    if tracer is None:
        values = {
            "setup_s": setup_s,
            "suite_s": suite_s,
            "query_geomean_s": query_geomean(per_key),
            "live_mb": median(heap),
        }
        units = END_TO_END_UNITS
    else:
        units = PER_LAYER_UNITS
        values = {
            name: median([layer.get(name, 0.0) for layer in layers])
            for name in units
            if not name.startswith(("setup.", "trace.overhead"))
        }
        values.update({
            "setup.session_s": session_s,
            "setup.register_s": register_s,
            "setup.warmup_s": warmup_s,
            "trace.overhead": median(walls[True]) / suite_s,
        })
        tracer.dump(
            os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.json"),
            workload=args.workload,
            seed=args.seed,
            passes=layers,
        )
    for name in units:
        log(f"{name} = {values[name]:.6g} {units[name]}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            name: {"value": values[name], "unit": units[name]} for name in units
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
