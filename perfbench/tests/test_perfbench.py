"""Self-tests for the benchmark's own arithmetic and a one-op smoke run of
each workload at sf 0.001.

    python3 -m pytest perfbench/tests -q             # arithmetic only
    python3 -m pytest perfbench/tests -q -m slow     # the Spark runs (minutes)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.tracing import OpRecord, Span, layer_metrics  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile([]) is None
    assert stats.tail_percentile([1.0] * 10) is None
    p, v = stats.tail_percentile([float(i) for i in range(11, 0, -1)])
    assert (p, v) == (100.0 / 11, 1.0)
    p, v = stats.tail_percentile([float(i) for i in range(1, 21)])
    assert (p, v) == (50.0, 10.0)
    p, v = stats.tail_percentile([float(i) for i in range(100, 0, -1)])
    assert (p, v) == (90.0, 90.0)


def test_median_gmean_weights_each_kind_once():
    assert stats.median_gmean({"a": [3.0, 1.0, 2.0]}) == 2.0
    # 1 and 4 have geometric mean 2, however many ops each kind ran
    assert stats.median_gmean({"w": [1.0], "r": [4.0, 4.0, 4.0]}) == pytest.approx(2.0)
    assert stats.median_gmean({"w": [1.0, 3.0], "r": [8.0]}) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        stats.median_gmean({})
    with pytest.raises(ValueError):
        stats.median_gmean({"a": []})


def test_failed_frac():
    assert stats.failed_frac(5, 0) == 0.0
    assert stats.failed_frac(4, 2) == 0.5
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(3, 4)


def test_self_time_subtracts_the_union_of_children():
    assert stats.self_time((0.0, 10.0), []) == 10.0
    # overlapping children count once; parts outside the parent are clipped
    assert stats.self_time((0.0, 10.0), [(1.0, 4.0), (3.0, 6.0), (9.0, 12.0), (-5.0, -1.0)]) == 4.0
    assert stats.self_time((0.0, 10.0), [(0.0, 10.0), (2.0, 3.0)]) == 0.0


def test_metric_name_grammar():
    for ok in ("setup_s", "exec.idle_frac", "ann_pq_topk.build_s", "9x", "a-b.c_d"):
        assert stats.valid_metric_name(ok), ok
    for bad in ("", "a b", "-x", ".x", "x" * 65, "naïve", "a/b"):
        assert not stats.valid_metric_name(bad), bad
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in BENCH[key]]
    assert len(names) == len(set(names))
    assert all(stats.valid_metric_name(n) for n in names)


def _op(kind: str, jobs: list[tuple[float, float, dict]], build=None) -> OpRecord:
    rec = OpRecord(op=f"{kind}-1", kind=kind)
    rec.spans.append(Span(rec.op, "op", 0.0, 10.0))
    if build:
        rec.spans.append(Span(rec.op, "build", *build, parent="op"))
    rec.spans.append(Span(rec.op, "execute", 1.0 if build else 0.0, 9.0, parent="op"))
    for i, (a, b, counts) in enumerate(jobs):
        rec.spans.append(Span(rec.op, f"job-{i}", a, b, parent="execute", counts=counts))
    return rec


def test_layer_metrics_writer_split_and_idle():
    # sample job, exchange map job, parquet write job, digest job
    jobs = [
        (0.5, 1.0, {"executor_run_s": 1.0, "input_records": 7.0}),
        (1.0, 3.0, {"executor_run_s": 4.0, "shuffle_write_bytes": 100.0, "input_records": 7.0}),
        (3.0, 5.0, {"executor_run_s": 4.0, "shuffle_read_bytes": 100.0, "stages": 2.0}),
        (5.5, 7.0, {"executor_run_s": 1.0}),
    ]
    rec = _op("bulk_write", jobs)
    rec.writer = {"files": 4, "bytes": 1000}
    m = layer_metrics([rec], cores=4, first_unit=1, merge_output_rows=3.0)
    assert m["writer.sample_s"] == 0.5
    assert m["writer.write_s"] == 4.0
    assert m["writer.digest_s"] == 1.5
    assert m["writer.commit_s"] == 3.0
    assert m["writer.files"] == 4.0
    assert m["exec.wall_s"] == 9.0
    assert m["exec.executor_run_s"] == 10.0
    assert m["exec.idle_frac"] == pytest.approx(1.0 - 10.0 / 36.0)
    assert m["shuffle.write_bytes"] == 100.0
    assert m["scan.input_records"] == 14.0
    assert m["span.execute.self_s"] == pytest.approx(9.0 - 6.0)
    assert m["queries.build_s"] == 0.0 and m["reader.build_s"] == 0.0
    # the merge does no work without a merge_read op
    assert m["merge.input_rows"] == m["merge.output_rows"] == m["merge.rows_in_per_out"] == 0.0


def test_layer_metrics_merge_rows_come_from_the_read_scan():
    write = _op("bulk_write", [(1.0, 2.0, {"input_records": 600.0})])
    read = _op("merge_read", [(1.0, 2.0, {"input_records": 90.0}), (2.0, 3.0, {"input_records": 10.0})])
    later = _op("merge_read", [(1.0, 2.0, {"input_records": 7.0})])
    m = layer_metrics([write, read, later], cores=4, first_unit=2, merge_output_rows=40.0)
    assert m["merge.input_rows"] == 100.0
    assert m["merge.output_rows"] == 40.0
    assert m["merge.rows_in_per_out"] == 2.5
    assert m["scan.input_records"] == 350.0


def test_layer_metrics_counts_come_from_the_first_unit():
    a = _op("merge_read", [(1.0, 2.0, {"shuffle_write_bytes": 10.0, "executor_run_s": 1.0})])
    b = _op("merge_read", [(1.0, 2.0, {"shuffle_write_bytes": 14.0, "executor_run_s": 3.0})])
    m = layer_metrics([a, b], cores=4, first_unit=1)
    assert m["shuffle.write_bytes"] == 10.0
    assert m["exec.executor_run_s"] == 2.0
    with pytest.raises(ValueError):
        layer_metrics([a], cores=4, first_unit=2)


def test_layer_metrics_names_match_benchmark_json():
    rec = _op("dedup_simhash", [(2.0, 3.0, {"shuffle_write_bytes": 5.0})], build=(0.0, 1.0))
    m = layer_metrics([rec], cores=4, first_unit=1)
    assert m["queries.build_s"] == 1.0
    assert m["dedup_simhash.shuffle_write_bytes"] == 5.0
    added_by_run = {
        "setup.session_s", "setup.fixture_s", "setup.warmup_s",
        "mem.jvm_peak_rss_mb", "mem.py_peak_rss_mb", "trace.overhead_frac",
    }
    assert set(m) | added_by_run == {x["name"] for x in BENCH["per_layer"]}


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_benchmark_json_workloads_exist():
    assert {w["name"] for w in BENCH["workloads"]} <= set(WORKLOADS)


@pytest.mark.slow
def test_refuses_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    proc = _run(str(tmp_path), "--workload", "bulk_write", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


@pytest.fixture(scope="module")
def checkout(tmp_path_factory):
    """A bare checkout (package, benchmark, BENCHMARK.json) outside the repo."""
    root = tmp_path_factory.mktemp("checkout")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), root)
    for d in ("perfbench", "cassandra_analytics_spark"):
        shutil.copytree(os.path.join(ROOT, d), root / d, ignore=shutil.ignore_patterns("__pycache__"))
    return root


@pytest.mark.slow
@pytest.mark.parametrize(
    "workload,trace",
    [("bulk_write", "0"), ("merge_read", "1"), ("bulk_rw", "1"), ("query_mix", "1")],
)
def test_one_op_smoke_at_sf0001(checkout, workload, trace):
    assert workload in WORKLOADS
    proc = _run(
        str(checkout), "--workload", workload, "--seed", "5", "--seconds", "1", "--trace", trace,
        "--sf", "0.001", "--max-ops", "1",
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert (result["attempted"], result["failed"]) == (1, 0)
    key = "per_layer" if trace == "1" else "end_to_end"
    assert set(result["metrics"]) == {m["name"] for m in BENCH[key]}
    # nothing but the benchmark's own output is left in the checkout
    assert {p.name for p in checkout.iterdir()} <= {
        "BENCHMARK.json", "perfbench", "cassandra_analytics_spark", ".perfbench_out"
    }
    if trace == "1":
        assert (checkout / ".perfbench_out" / f"trace-{workload}-seed5.json").is_file()
