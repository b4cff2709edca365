"""Seeded end-to-end benchmark of the spark_fuse_spark query catalog.

One process, Spark ``local[4]`` with an 8g driver, one closed-loop
client: a *pass* runs the workload's catalog queries in sequence, each
as ``QuerySpec.spark(spark, dir)`` followed by ``.count()``.

    python3 perfbench/run.py --workload graph_text --seed 1 --seconds 8 --trace 0

Steps of a run:

1. Inputs: ``datagen.seeded_inputs`` writes the workload's tier with a
   seeded row order under ``.perfbench-cache/`` (reused per seed).
2. Set-up, timed as ``setup_s`` from the end of step 1: import the
   package, ``create_session``, ``load_all()`` and one warm pass that
   collects every query's result (this is where the JVM warms up).
3. Oracle gate: each warm result is compared with the DuckDB oracle
   (``testing.compare_frames``).  Oracle answers are cached per (tier,
   oracle SQL); a tier's content does not depend on the seed.
4. Timed passes, back to back until ``--seconds`` have passed (at least
   one); ``pass_s`` is their median.  Every count must equal the
   oracle's row count.  A pass of either workload takes longer than
   the ``run_seconds`` in BENCHMARK.json, so there a run times exactly
   one pass.

``--trace 1`` enables the Spark UI (it is off in untraced runs), and
after step 4 runs one more pass with every builder and action call in
its own Spark job group, then reads the per-layer split from the UI
REST API (``layers.py``).  ``trace.overhead_frac`` compares that pass
with the step-4 passes of the same process, so it covers the job
groups, spans and status-tracker calls but not the cost of running the
UI, which would take an untraced baseline in a second process and so a
second set-up in every traced run.

Untraced runs report ``setup_s`` and ``pass_s``; ``peak_rss_mb`` (VmHWM
of the driver JVM) and ``failed_frac`` are printed beside them but not
gated, since the JVM's heap growth makes peak RSS vary by ~30% between
identical runs.  Host context (``nproc``, the ``/proc/stat`` steal share
over the run, input hashes, every pass time) goes on a ``context`` line;
traced runs add each query's builder and action time, jobs and executor
time there.

Every run gets its own ``TMPDIR`` and Spark local dir inside the cache
directory; both are deleted when the run ends.  The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
Exit status is non-zero when any query raised or mismatched its oracle.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import pickle
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench-cache")
CORES = 4


def _units() -> dict[str, str]:
    """Unit of every metric, as BENCHMARK.json declares it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


@dataclass(frozen=True)
class Workload:
    tier: str
    queries: tuple[str, ...]


# Two workloads that stress different layers; each is the bypass case
# for the other's mechanism (BENCHMARK.json gives the same reasons).
WORKLOADS = {
    # Small tables, cost in per-job and driver overhead: BFS rounds with a
    # checkpoint each inside the builder, a mutual kNN graph with
    # single-task stages (operators/similarity.py), exact dedup
    # (operators/dedup.py), and a pandas UDF, the only query here that
    # ships rows to Python workers.  The operators/graph.py queries cost
    # 5-8 s a pass each at this tier, more than the run budget leaves.
    "graph_text": Workload(
        tier="base",
        queries=("x_bfs_levels", "v_label_knn_graph", "d_dedup_exact",
                 "a_hash_embedding_components"),
    ),
    # x4 tier, cost in data volume: a TPC-H scan/join/shuffle query that
    # writes nothing, next to CDC queries that write parquet tables and
    # read them back (SCD1 full rewrite, merge-on-read upsert).
    "scan_write": Workload(
        tier="x4",
        queries=("q21_waiting_suppliers", "c_scd1_two_batch", "c_mor_upsert_read"),
    ),
}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class _Collected:
    """A collected result, shaped like the DataFrame ``compare_frames`` reads."""

    def __init__(self, rows, columns):
        self._rows, self.columns = rows, columns

    def collect(self):
        return self._rows


class _OracleAnswer:
    """A cached DuckDB answer, shaped like the connection ``compare_frames`` reads."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def sql(self, _query):
        return self

    def fetchall(self):
        return self._rows


def _oracle(tier: str, data_dir: str, query: str, sql: str, cache_dir: str) -> _OracleAnswer:
    from datagen import DATA_VERSION

    key = hashlib.sha256(f"{DATA_VERSION}\0{tier}\0{query}\0{sql}".encode()).hexdigest()[:32]
    path = os.path.join(cache_dir, f"{query}-{key}.pickle")
    if os.path.exists(path):
        # written by this benchmark only (below)
        with open(path, "rb") as f:
            return _OracleAnswer(*pickle.load(f))
    from spark_fuse_spark.testing import duckdb_connection

    con = duckdb_connection(data_dir)
    try:
        con.execute("SET threads = 4")
        con.execute("SET memory_limit = '3GB'")
        con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
        rel = con.sql(sql)
        answer = (list(rel.columns), rel.fetchall())
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".partial", "wb") as f:
        pickle.dump(answer, f)
    os.replace(path + ".partial", path)
    return _OracleAnswer(*answer)


def _stop_spark(spark) -> None:
    """Stop Spark and wait until the driver JVM (and with it the Python
    workers it forked) has exited; ``spark.stop()`` alone leaves the JVM
    running until this process exits."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def run(args, run_dir: str) -> dict:
    from datagen import seeded_inputs

    wl = WORKLOADS[args.workload]
    steal0, total0 = _host_cpu()
    data_dir, manifest = seeded_inputs(CACHE, wl.tier, args.seed)

    t_setup = time.perf_counter()
    from spark_fuse_spark.session import create_session

    import_s = time.perf_counter() - t_setup
    configs = {
        "spark.driver.memory": "8g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
    }
    if args.trace:
        from layers import ui_configs

        configs.update(ui_configs())
    t = time.perf_counter()
    spark = create_session(app_name=f"perfbench-{args.workload}", master=f"local[{CORES}]",
                           extra_configs=configs)
    create_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t = time.perf_counter()
        from spark_fuse_spark.catalog import load_all

        registry = load_all()
        import_s += time.perf_counter() - t
        specs = [registry[q] for q in wl.queries]

        attempted = failed = 0
        warm: dict[str, _Collected] = {}
        for spec in specs:
            attempted += 1
            try:
                df = spec.spark(spark, data_dir)
                warm[spec.name] = _Collected(df.collect(), df.columns)
            except Exception:
                failed += 1
                _log(f"{spec.name} raised in the warm pass:\n{traceback.format_exc()}")
        setup_s = time.perf_counter() - t_setup
        _log(f"set-up {setup_s:.2f}s (import {import_s:.2f}s, session {create_s:.2f}s)")

        from spark_fuse_spark.testing import compare_frames

        expected_rows: dict[str, int] = {}
        for spec in specs:
            answer = _oracle(wl.tier, data_dir, spec.name, spec.oracle, os.path.join(CACHE, "oracle"))
            expected_rows[spec.name] = len(answer.fetchall())
            if spec.name in warm:
                res = compare_frames(spec.name, warm[spec.name], answer, spec.oracle)
                if not res.ok:
                    failed += 1
                    _log(f"{spec.name} does not match its oracle: {res.detail} {res.mismatches}")

        def one_pass(tracer=None) -> float:
            nonlocal attempted, failed
            t0 = time.perf_counter()
            for spec in specs:
                attempted += 1
                try:
                    if tracer is None:
                        n = spec.spark(spark, data_dir).count()
                    else:
                        with tracer.span(spec.name, "build"):
                            df = spec.spark(spark, data_dir)
                        with tracer.span(spec.name, "action"):
                            n = df.count()
                except Exception:
                    failed += 1
                    _log(f"{spec.name} raised:\n{traceback.format_exc()}")
                    continue
                if n != expected_rows[spec.name]:
                    failed += 1
                    _log(f"{spec.name} counted {n} rows, oracle has {expected_rows[spec.name]}")
            return time.perf_counter() - t0

        passes: list[float] = []
        t_run = time.perf_counter()
        while not passes or time.perf_counter() - t_run < args.seconds:
            passes.append(one_pass())
        pass_s = statistics.median(passes)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        context = {"passes_s": passes, "peak_rss_mb": _vm_hwm_mb(jvm_pid)}
        values = {"setup_s": setup_s, "pass_s": pass_s}

        if args.trace:
            from layers import Tracer

            tracer = Tracer(spark, f"perfbench-{args.workload}", tempfile.gettempdir())
            tracer.start_pass()
            one_pass(tracer)
            tracer.end_pass()
            layers = tracer.metrics(CORES, {q for q in wl.queries if q.startswith("c_")})
            traced_pass_s = layers.pop("trace.pass_s")
            values = {
                "session.import_s": import_s,
                "session.create_s": create_s,
                **layers,
                "trace.overhead_frac": traced_pass_s / pass_s - 1.0,
            }
            context.update({"traced_pass_s": traced_pass_s, "per_query": tracer.per_query})
    finally:
        _stop_spark(spark)

    steal1, total1 = _host_cpu()
    context.update({
        "workload": args.workload, "seed": args.seed, "tier": wl.tier, "trace": args.trace,
        "failed_frac": failed / attempted,
        "nproc": os.cpu_count(),
        "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        "inputs_sha256": manifest["sha256"],
    })
    return {"context": context, "attempted": attempted, "failed": failed, "values": values}


def main() -> int:
    ap = argparse.ArgumentParser(description="spark_fuse_spark catalog benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if importlib.util.find_spec("spark_fuse_spark") is None:
        sys.stderr.write(f"spark_fuse_spark is not importable from {ROOT}\n")
        return 2

    os.makedirs(CACHE, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=CACHE)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Everything the program, Spark and the Python workers write goes
    # under the run directory; Python workers import the package from ROOT.
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ctx, values = result["context"], result["values"]
    units = _units()
    print(json.dumps({"context": ctx}, sort_keys=True))
    for name, value in values.items():
        print(f"{name} = {value:.6g} {units[name]}")
    if "setup_s" in values:
        print(f"peak_rss_mb = {ctx['peak_rss_mb']:.6g} MB")
    print(f"failed_frac = {result['failed'] / result['attempted']:.6g} "
          f"({result['failed']} of {result['attempted']})")
    correct = result["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.path[:0] = [ROOT, HERE]
    sys.exit(main())
