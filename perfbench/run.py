#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload bulk_rw --seed 1 --seconds 4 --trace 0

Run from the root of a checkout. Generates its corpus from a fixed seed
and its per-workload inputs from ``--seed``, starts a Spark session on
``local[<cpus>]`` with the package's defaults, builds the workload's
fixture, runs its warm-up ops, then runs ops in a closed loop with one
client until ``--seconds`` have passed. It always runs whole units of
work (one op, or one pass of a mixed workload), so at least one. Outputs
are checked outside the window. The last stdout
line is ``{"correct", "attempted", "failed", "metrics"}``: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``; the
line before it records the run's settings and versions. Everything the
run writes lives under ``.perfbench_tmp/`` (removed at exit) except the
traced run's span file under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT

from perfbench import datagen, stats  # noqa: E402
from perfbench.tracing import Tracer, layer_metrics  # noqa: E402
from perfbench.workloads import CORPUS_SEED, MIXES, WORKLOADS  # noqa: E402



@dataclass
class Context:
    spark: object
    rng: object
    cores: int
    corpus_dir: str
    corpus_rows: dict
    work_dir: str
    tmp_dir: str
    tracer: Tracer
    mix: str


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1, help="corpus scale factor (self-test: 0.001)")
    p.add_argument("--max-ops", type=int, default=0, help="stop after this many timed ops (0: no cap)")
    p.add_argument("--mix", choices=sorted(MIXES), default="hot", help="query_mix op list")
    return p.parse_args(argv)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, the JVM it launched and the JVM's Python
    workers, and wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if proc is not None:
            gateway.shutdown()
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 15
        while any(_alive(k) for k in kids) and time.monotonic() < deadline:
            time.sleep(0.1)
        for k in kids:
            if _alive(k):
                try:
                    os.kill(k, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def start_session(run_root: str, cores: int, traced: bool):
    from cassandra_analytics_spark.session import get_session

    tmp = os.path.join(run_root, "tmp")
    conf = {
        # deployment paths only: keep every file the run writes in the checkout
        "spark.local.dir": os.path.join(run_root, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_root, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
    spark = get_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run(args: argparse.Namespace, bench: dict, run_root: str) -> int:
    import numpy as np
    import pyarrow

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp)
    # Spark's Python workers import the package from the checkout root,
    # whatever the working directory; the program's own temp dirs go
    # under the run root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "spark-local")
    tempfile.tempdir = tmp

    corpus_dir = os.path.join(run_root, "corpus")
    corpus_rows = datagen.write_corpus(corpus_dir, args.sf, CORPUS_SEED)

    t0 = time.perf_counter()
    spark = start_session(run_root, cores, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        ctx = Context(
            spark=spark,
            rng=np.random.default_rng(args.seed),
            cores=cores,
            corpus_dir=corpus_dir,
            corpus_rows=corpus_rows,
            work_dir=os.path.join(run_root, "work"),
            tmp_dir=tmp,
            tracer=Tracer(spark, enabled=False),
            mix=args.mix,
        )
        os.makedirs(ctx.work_dir)
        t1 = time.perf_counter()
        wl = WORKLOADS[args.workload](ctx)
        wl.fixture()
        t2 = time.perf_counter()
        wl.warmup()
        t3 = time.perf_counter()
        setup = {"session_s": session_s, "fixture_s": t2 - t1, "warmup_s": t3 - t2}

        ctx.tracer = Tracer(spark, enabled=bool(args.trace))
        latencies: list[float] = []
        kinds: list[str] = []
        raised: set[int] = set()
        seq = 0
        first_unit = 0
        start = time.perf_counter()
        deadline = start + args.seconds
        while time.perf_counter() < deadline:
            unit = wl.next_ops()
            first_unit = first_unit or len(unit)
            for kind in unit:
                if args.max_ops and len(kinds) >= args.max_ops:
                    break
                seq += 1
                t = time.perf_counter()
                try:
                    with ctx.tracer.op(f"{args.workload}-{seq}", kind) as rec:
                        wl.run_op(kind, seq, rec)
                except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
                    traceback.print_exc()
                    raised.add(len(kinds))
                latencies.append(time.perf_counter() - t)
                kinds.append(kind)
            if args.max_ops and len(kinds) >= args.max_ops:
                break
        window_s = time.perf_counter() - start

        ctx.tracer.attach_jobs()
        bad = wl.check()
        for kind, msgs in bad.items():
            for m in msgs:
                print(f"perfbench: check failed for {kind}: {m}", file=sys.stderr)
        failed = sum(1 for i, k in enumerate(kinds) if i in raised or k in bad)
        attempted = len(kinds)
        good: dict[str, list[float]] = {}
        for i, (kind, lat) in enumerate(zip(kinds, latencies)):
            if i not in raised:
                good.setdefault(kind, []).append(lat)
        if not good:
            raise RuntimeError(f"all {len(kinds)} timed ops raised")
        good_all = [lat for lats in good.values() for lat in lats]
        tail = stats.tail_percentile(good_all)
        end_to_end = {
            "setup_s": sum(setup.values()),
            "ops_per_s": attempted / window_s,
            "latency_p50_gmean_s": stats.median_gmean(good),
            "stored_bytes_per_row": wl.stored_bytes_per_row(),
        }
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "sf": args.sf,
            "mix": args.mix if args.workload == "query_mix" else None,
            "cpus": cores,
            "defaultParallelism": spark.sparkContext.defaultParallelism,
            "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "spark_version": spark.version,
            "pyarrow_version": pyarrow.__version__,
            "python_version": platform.python_version(),
            "window_s": window_s,
            "ops": [[k, lat] for k, lat in zip(kinds, latencies)],
            "failed_frac": stats.failed_frac(attempted, failed),
            "latency_tail_s": None
            if tail is None
            else {"value": tail[1], "percentile": tail[0], "ops": len(good_all)},
            "end_to_end": end_to_end,
            "setup": setup,
        }
        if args.trace:
            layers = layer_metrics(
                ctx.tracer.ops,
                cores,
                min(first_unit, len(ctx.tracer.ops)),
                float(getattr(wl, "output_rows", 0)),
            )
            layers.update({f"setup.{k}": v for k, v in setup.items()})
            layers["mem.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
            layers["mem.py_peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
            layers["trace.overhead_frac"] = ctx.tracer.overhead_s / window_s
            values = layers
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            trace_file = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
            ctx.tracer.dump(trace_file, detail)
            detail["trace_file"] = os.path.relpath(trace_file, ROOT)
        else:
            values = end_to_end
        declared = bench["per_layer" if args.trace else "end_to_end"]
        if set(values) != {m["name"] for m in declared}:
            raise ValueError(f"metrics {sorted(values)} differ from BENCHMARK.json")
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
        print(json.dumps(detail))
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        stop_spark(spark)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "cassandra_analytics_spark", "__init__.py")):
        print(f"perfbench: no cassandra_analytics_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench_tmp")
    run_root = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(run_root)
    try:
        return run(args, bench, run_root)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
