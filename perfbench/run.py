#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of etlutil_spark.

Run from the repository root:

    python3 perfbench/run.py --workload serve_warm --seed 1 --seconds 5 --trace 0

One driver process runs the workload's ops on ``local[nproc]`` as one
closed-loop client: each op (builder call plus collect) starts when the
previous one has returned. Inputs are the seed's re-layout of the bundled
tables (``inputs.py``); every op's result is checked against its oracle,
computed once per run in a child process and kept out of every metric.

``--trace 0`` measures: set-up, then whole passes over the ops until
``--seconds`` have passed. ``--trace 1`` splits the time by layer: one
untraced pass, then one traced pass in a fresh Spark context with the event
log on (``tracing.py``). The traced and untraced passes must agree on every
result digest, on the job count and on the exchange count.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). The line before it is a full report:
host facts, input sizes, every metric, error rate and per-op figures.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
sys.path.insert(1, str(BENCH_DIR.parent))

import inputs  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SPEC = BENCH_DIR.parent / "BENCHMARK.json"
WARMUP_OP = "q1_pricing_summary"


def canonical(cols, rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name and rows normalised and sorted, as the
    oracle-parity tests compare them."""
    from tests.helpers import _norm, _sort_key

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = [tuple(_norm(r[i]) for i in order) for r in rows]
    return [cols[i] for i in order], sorted(norm, key=_sort_key)


def mismatch(got, want) -> str | None:
    from tests.helpers import _values_equal

    if got[0] != want[0]:
        return f"columns differ: {got[0]} vs oracle {want[0]}"
    if len(got[1]) != len(want[1]):
        return f"row count {len(got[1])} vs oracle {len(want[1])}"
    for i, (a, b) in enumerate(zip(got[1], want[1])):
        if not _values_equal(a, b):
            return f"row {i} differs: {a!r} vs oracle {b!r}"[:300]
    return None


def digest(canon) -> str:
    return hashlib.sha1(repr(canon).encode()).hexdigest()


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than 21 samples,
    where that percentile would not lie above the median."""
    v = sorted(values)
    n = len(v)
    k = n - 11 if n >= 21 else n - 1
    return v[k], 100.0 * (k + 1) / n, n


def prepare(seed: int, workload) -> tuple[str, dict]:
    """Seeded layout plus oracle answers, from a child process (inputs.py)."""
    path = os.pathsep.join(filter(None, [str(BENCH_DIR.parent), os.environ.get("PYTHONPATH")]))
    child = subprocess.run(
        [sys.executable, str(BENCH_DIR / "inputs.py"), str(seed),
         str(BENCH_DIR / "data"), *{WARMUP_OP, *workloads.catalog_ops(workload)}],
        check=True, stdout=subprocess.PIPE, env={**os.environ, "PYTHONPATH": path},
    )
    return pickle.loads(child.stdout)


class Bench:
    def __init__(self, args, workload, data_dir: str, oracles: dict, work: Path):
        self.args = args
        self.workload = workload
        self.data_dir = data_dir
        self.work = work
        self.store_root = work / "stores"
        self.nproc = len(os.sched_getaffinity(0))
        for sub in ("stores", "local", "tmp", "warehouse"):
            (work / sub).mkdir(parents=True, exist_ok=True)
        os.environ["SPARK_GRAFT_STORE_DIR"] = str(self.store_root)
        os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
        os.environ["TMPDIR"] = str(work / "tmp")
        self.expected = {op: canonical(*ans) for op, ans in oracles.items()}
        self.spark = None
        self.jvm_pid = None
        self.host_facts: dict = {}
        self.attempted = 0
        self.errors: list[dict] = []
        self.warmup: list[dict] = []

    # -- session ---------------------------------------------------------
    def boot(self, extra: dict | None = None) -> float:
        from etlutil_spark.session import get_spark

        conf = {
            "spark.local.dir": str(self.work / "local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            **(extra or {}),
        }
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc, extra_conf=conf,
        )
        boot_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.jvm_pid is None:
            self.jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        return boot_s

    def setup(self, warm: bool) -> tuple[float, float]:
        """(setup_s, boot_s): boot, warm-up, and with ``warm`` one untimed
        pass over the ops, which also builds the stores they read. The
        warm-up reads every table once, which fills the loader's schema
        cache. Warm-up ops are checked and counted like timed ones. The
        streamed upsert's reference answer is computed here too, outside
        ``setup_s``."""
        from etlutil_spark.sources.testdata import TABLES, load_table

        t0 = time.perf_counter()
        boot_s = self.boot()
        self.host_facts = self.host()
        for table in TABLES:
            load_table(self.spark, table, self.data_dir)
        self.warmup = [self.run_op(WARMUP_OP, f"W-{WARMUP_OP}")]
        setup_s = time.perf_counter() - t0
        if workloads.UPSERT in self.workload.ops:
            ref = workloads.upsert_reference(self.spark, self.data_dir)
            self.expected[workloads.UPSERT] = canonical(ref.columns, ref.collect())
        if warm:
            t0 = time.perf_counter()
            self.warmup += self.run_pass("W")
            setup_s += time.perf_counter() - t0
        return setup_s, boot_s

    def max_job_id(self) -> int:
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(None)
        return jobs.head().jobId() if jobs.size() else -1

    def host(self) -> dict:
        import pyspark

        sc = self.spark.sparkContext
        return {
            "nproc": self.nproc,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            "pyspark": pyspark.__version__,
            "java": self.spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }

    def peak_rss_mb(self) -> float:
        jvm_kb = 0
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    def close(self) -> None:
        """Stop Spark and the JVM it runs in, wait for it, remove the work dir."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        shutil.rmtree(self.work, ignore_errors=True)

    # -- ops and passes ---------------------------------------------------
    def run_op(self, name: str, op_id: str, tracer=None, inspect=False) -> dict:
        from etlutil_spark.plans.inspect import exchange_count

        rec = {"op": name, "op_id": op_id}
        df = rows = None
        build = workloads.builder(name)
        if tracer:
            tracer.begin(op_id, name)
        t0, t1 = time.perf_counter(), None
        try:
            df = build(self.spark, self.data_dir)
            t1 = time.perf_counter()
            if tracer:
                tracer.collecting()
            rows = df.collect()
        except Exception as e:  # a failed op is counted; the pass goes on
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
        t2 = time.perf_counter()
        t1 = t1 or t2
        if tracer:
            tracer.end(len(rows) if rows is not None else None)
        rec.update(latency_s=t2 - t0, build_s=t1 - t0, collect_s=t2 - t1)
        self.attempted += 1
        if rows is not None:
            got = canonical(df.columns, rows)
            rec.update(rows=len(rows), digest=digest(got),
                       error=mismatch(got, self.expected[name]))
            if inspect:
                rec["final_exchanges"] = exchange_count(df)
        if rec.get("error"):
            self.errors.append({"op": name, "op_id": op_id, "error": rec["error"]})
        return rec

    def run_pass(self, tag: str, tracer=None, inspect=False) -> list[dict]:
        if self.workload.cold:
            shutil.rmtree(self.store_root)
            self.store_root.mkdir()
        return [
            self.run_op(op, f"{tag}{i:02d}-{op}", tracer, inspect)
            for i, op in enumerate(self.workload.ops)
        ]

    # -- the two run modes ------------------------------------------------
    def run_untraced(self) -> tuple[dict, dict]:
        setup_s, boot_s = self.setup(warm=not self.workload.cold)
        passes: list[list[dict]] = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < self.args.seconds:
            passes.append(self.run_pass(f"P{len(passes)}"))
        lat = [r["latency_s"] for p in passes for r in p]
        tail_s, tail_pct, n = tail(lat)
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(sum(r["latency_s"] for r in p) for p in passes),
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail_s,
            "peak_rss_mb": self.peak_rss_mb(),
            "store_bytes": tracing.tree_size(str(self.store_root))[1],
        }
        # keyed by position: ingest_cold runs each store op twice
        per_op = {
            f"{i:02d}-{op}": statistics.median(p[i]["latency_s"] for p in passes)
            for i, op in enumerate(self.workload.ops)
        }
        details = {
            "boot_s": boot_s,
            "setup_op_latency_s": {r["op_id"]: r["latency_s"] for r in self.warmup},
            "passes": len(passes),
            "pass_totals_s": [sum(r["latency_s"] for r in p) for p in passes],
            "op_tail": {"percentile": tail_pct, "samples": n},
            "op_median_latency_s": per_op,
        }
        return metrics, details

    def run_traced(self) -> tuple[dict, dict]:
        # Both compared passes follow a warm-up pass, on every workload, so
        # that tracing overhead is not confused with JIT warm-up.
        setup_s, boot_s = self.setup(warm=True)
        j0 = self.max_job_id()
        untraced = self.run_pass("U", inspect=True)
        jobs_untraced = self.max_job_id() - j0
        self.spark.stop()

        eventlog = self.work / "eventlog"
        eventlog.mkdir()
        self.boot({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        tracer = tracing.Tracer(self.spark, str(self.store_root))
        with tracer.installed():
            j0 = self.max_job_id()
            traced = self.run_pass("T", tracer, inspect=True)
            jobs_traced = self.max_job_id() - j0
            store_files, store_bytes, _ = tracing.tree_size(str(self.store_root))
        self.spark.stop()
        self.spark = None
        tracer.attribute(str(eventlog))

        pass_ops = list(tracer.ops.values())
        ex = {k: sum(op["exec"].get(k, 0.0) for op in pass_ops)
              for k in ("run_s", "cpu_s", "gc_s", "sched_delay_s", "shuffle_read_bytes",
                        "shuffle_write_bytes", "spill_bytes", "input_bytes")}
        untraced_s = sum(r["latency_s"] for r in untraced)
        traced_s = sum(r["latency_s"] for r in traced)
        store_calls = [c for op in tracer.ops.values() for c in op["store_calls"]]
        batches = [b for b in tracer.batches
                   if b["run_id"] in tracer.run_ids and b["rows"] > 0]
        metrics = {
            "session.boot_s": boot_s,
            "queries.build_s": sum(r["build_s"] for r in traced),
            "queries.build_jobs": sum(op["build_jobs"] for op in pass_ops),
            "catalyst.analysis_s": sum(op["catalyst"].get("analysis", 0.0) for op in pass_ops),
            "catalyst.optimization_s": sum(
                op["catalyst"].get("optimization", 0.0) for op in pass_ops),
            "catalyst.planning_s": sum(op["catalyst"].get("planning", 0.0) for op in pass_ops),
            "execution.jobs": sum(op["jobs"] for op in pass_ops),
            "execution.stages": sum(op["stages"] for op in pass_ops),
            "execution.tasks": sum(op["tasks"] for op in pass_ops),
            "plans.exchanges": sum(op["exchanges"] for op in pass_ops),
            "execution.task_run_s": ex["run_s"],
            "execution.task_cpu_s": ex["cpu_s"],
            "execution.gc_s": ex["gc_s"],
            "execution.sched_delay_s": ex["sched_delay_s"],
            "execution.shuffle_read_bytes": ex["shuffle_read_bytes"],
            "execution.shuffle_write_bytes": ex["shuffle_write_bytes"],
            "execution.spill_bytes": ex["spill_bytes"],
            "execution.input_bytes": ex["input_bytes"],
            "execution.core_busy": ex["run_s"] / (self.nproc * traced_s),
            "execution.task_skew": max(op["worst_skew"] for op in pass_ops),
            "collect.driver_s": sum(tracing.collect_driver_s(op) for op in pass_ops),
            "collect.rows": sum(op["rows"] for op in pass_ops),
            "operators.pin_bytes": sum(op["pin_bytes"] for op in pass_ops),
            "stores.build_s": sum(c["s"] for c in store_calls if c["kind"] == "build"),
            "stores.files": store_files,
            "stores.bytes": store_bytes,
            "stores.reuse_s": sum(c["s"] for c in store_calls if c["kind"] == "reuse"),
            "streaming.batches": len(batches),
            "streaming.batch_p50_s": statistics.median(
                b["duration_ms"].get("triggerExecution", 0) for b in batches) / 1000.0
            if batches else 0.0,
            "streaming.planning_s": sum(
                b["duration_ms"].get("queryPlanning", 0) for b in batches) / 1000.0,
            "tracing.overhead_s": traced_s - untraced_s,
        }
        neutrality = {
            "digests_equal": [r.get("digest") for r in untraced]
            == [r.get("digest") for r in traced],
            "jobs": {"untraced": jobs_untraced, "traced": jobs_traced,
                     "traced_event_log": metrics["execution.jobs"]},
            # exchanges in the ops' final DataFrames: the share of
            # plans.exchanges that an untraced pass can read without a listener
            "final_exchanges": {
                "untraced": sum(r.get("final_exchanges", 0) for r in untraced),
                "traced": sum(r.get("final_exchanges", 0) for r in traced)},
        }
        neutrality["ok"] = (
            neutrality["digests_equal"]
            and len({jobs_untraced, jobs_traced, metrics["execution.jobs"]}) == 1
            and len(set(neutrality["final_exchanges"].values())) == 1
        )
        details = {
            "setup_s": setup_s,
            "untraced_pass_s": untraced_s,
            "traced_pass_s": traced_s,
            "neutrality": neutrality,
            "ops": {"untraced": untraced, "traced": traced},
        }
        out = BENCH_DIR / "out" / f"trace-{self.args.workload}-seed{self.args.seed}.json"
        tracer.write(out, {"workload": self.args.workload, "seed": self.args.seed,
                           "metrics": metrics, **details})
        details["trace_file"] = str(out.relative_to(BENCH_DIR.parent))
        return metrics, details


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    workload = workloads.WORKLOADS[args.workload]

    t0 = time.perf_counter()
    data_dir, oracles = prepare(args.seed, workload)
    prepare_s = time.perf_counter() - t0
    work = BENCH_DIR / "work" / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    bench = Bench(args, workload, data_dir, oracles, work)
    try:
        if args.trace:
            metrics, details = bench.run_traced()
        else:
            metrics, details = bench.run_untraced()
    finally:
        bench.close()
    spec = json.loads(SPEC.read_text())["per_layer" if args.trace else "end_to_end"]
    failed = len(bench.errors)
    neutral = details.get("neutrality", {}).get("ok", True)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": bench.host_facts,
        "input": {"scale": "sf0.01", "rows": inputs.row_counts()},
        "prepare_s": prepare_s,
        "metrics": metrics,
        "error_rate": failed / bench.attempted,
        "errors": bench.errors,
        **details,
    }
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": failed == 0 and neutral,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in spec},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
