"""Spec-preserving ANN layout compaction (operators/ann_index.
compact_ann_index, round 15 — VERDICT r14 item 5): appends accrue one
file set per batch forever (the small-files problem on the hottest
read path); compaction rewrites the DATA files coalesced without
touching spec/codebook/centroids, and reads over the compacted layout
must resolve exactly as before."""

from __future__ import annotations

import random
import shutil

import pytest
from pyspark.sql import functions as F

from cassandra_analytics_spark.fs import list_files
from cassandra_analytics_spark.operators import layout
from cassandra_analytics_spark.operators.ann_index import (
    append_to_ann_index,
    append_to_ivf_index,
    build_ann_index,
    build_ivf_index,
    compact_ann_index,
    query_ann_index,
    query_ivf_index,
)
from cassandra_analytics_spark.operators.pq import (
    append_to_ivf_pq_index,
    append_to_pq_index,
    query_ivf_pq_index,
    query_pq_index,
    save_ivf_pq_index,
    save_pq_index,
)


def _corpus(spark, n=300, dim=16, seed=7):
    rng = random.Random(seed)
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(n)]
    return rows, spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def _halves(df):
    return (
        df.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 0),
        df.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 1),
    )


def _topk_rows(df):
    return [(r["vec_id"], round(r["cosine_sim"], 12)) for r in df.collect()]


def test_compact_ivf_pq_layout_roundtrip(spark, tmp_path):
    """The richest layout (cell-partitioned + codes + residuals + two
    sidecars): build on half, append the other half (extra file sets),
    compact — file count drops to one per cell, sidecar bytes are
    untouched, and a probe-all query returns the identical top-k."""
    rows, df = _corpus(spark)
    first, second = _halves(df)
    q = rows[0][1]
    path = str(tmp_path / "ivfpq")
    save_ivf_pq_index(
        first, path, num_centroids=4, m=4, ks=16,
        sample_size=200, iterations=5, seed=42, residuals=True,
    )
    append_to_ivf_pq_index(second, path)
    append_to_ivf_pq_index(second.limit(0), path)  # empty batch: legal
    before_rows = _topk_rows(
        query_ivf_pq_index(spark, path, q, k=10, num_probes=4)
    )
    spec_files = sorted(list_files(spark, f"{path}_spec"))
    cb_files = sorted(list_files(spark, f"{path}_codebook"))
    cent_files = sorted(list_files(spark, f"{path}_centroids"))

    stats = compact_ann_index(spark, path)
    assert stats["format"] == "ivf-pq-v1"
    assert stats["files_after"] < stats["files_before"]
    # exactly one data file per cell directory
    n_cells = spark.read.parquet(path).select("cell").distinct().count()
    assert stats["files_after"] == n_cells
    # sidecars untouched (same file listing — never rewritten)
    assert sorted(list_files(spark, f"{path}_spec")) == spec_files
    assert sorted(list_files(spark, f"{path}_codebook")) == cb_files
    assert sorted(list_files(spark, f"{path}_centroids")) == cent_files
    # the probe resolves identically over the compacted layout
    after_rows = _topk_rows(
        query_ivf_pq_index(spark, path, q, k=10, num_probes=4)
    )
    assert after_rows == before_rows
    # appends still work against the untouched spec/codebook
    append_to_ivf_pq_index(second.limit(3), path)


def test_compact_flat_pq_layout_roundtrip(spark, tmp_path):
    rows, df = _corpus(spark, n=200)
    first, second = _halves(df)
    q = rows[0][1]
    path = str(tmp_path / "pq")
    save_pq_index(
        first, path, m=4, ks=16, sample_size=200, iterations=5, seed=42
    )
    append_to_pq_index(second, path)
    before_rows = _topk_rows(query_pq_index(spark, path, q, k=10))
    stats = compact_ann_index(spark, path, files_per_partition=2)
    assert stats["format"] == "pq-v1"
    # unpartitioned layout: files_per_partition IS the file count
    assert stats["files_after"] == 2
    assert _topk_rows(query_pq_index(spark, path, q, k=10)) == before_rows


def test_compact_ivf_and_lsh_layouts_roundtrip(spark, tmp_path):
    rows, df = _corpus(spark, n=200)
    first, second = _halves(df)
    q = rows[0][1]

    ivf = str(tmp_path / "ivf")
    build_ivf_index(first, ivf, num_centroids=4, quantize=True)
    append_to_ivf_index(second, ivf)
    before = _topk_rows(query_ivf_index(spark, ivf, q, k=10, num_probes=4))
    stats = compact_ann_index(spark, ivf)
    assert stats["format"] == "ivf-v1"
    assert stats["files_after"] < stats["files_before"]
    assert (
        _topk_rows(query_ivf_index(spark, ivf, q, k=10, num_probes=4))
        == before
    )

    lsh = str(tmp_path / "lsh")
    build_ann_index(first, lsh, num_planes=4)
    append_to_ann_index(second, lsh)
    before = _topk_rows(query_ann_index(spark, lsh, q, k=10))
    stats = compact_ann_index(spark, lsh)
    assert stats["format"] == "ann-lsh-v1"
    assert stats["files_after"] < stats["files_before"]
    assert _topk_rows(query_ann_index(spark, lsh, q, k=10)) == before


def _build(fmt, df, path):
    if fmt == layout.LSH:
        build_ann_index(df, path, num_planes=4)
    elif fmt == layout.IVF:
        build_ivf_index(df, path, num_centroids=2)
    elif fmt == layout.PQ:
        save_pq_index(df, path, m=4, ks=8, sample_size=40, iterations=3)
    else:
        save_ivf_pq_index(
            df, path, num_centroids=2, m=4, ks=8, sample_size=40,
            iterations=3,
        )


def _layout_ops(fmt, spark, df, path):
    """The query and append entry points of one format, plus compaction."""
    q = [0.5] * 8
    query, append = {
        layout.LSH: (
            lambda: query_ann_index(spark, path, q, k=3),
            lambda: append_to_ann_index(df, path),
        ),
        layout.IVF: (
            lambda: query_ivf_index(spark, path, q, k=3),
            lambda: append_to_ivf_index(df, path),
        ),
        layout.PQ: (
            lambda: query_pq_index(spark, path, q, k=3),
            lambda: append_to_pq_index(df, path),
        ),
        layout.IVF_PQ: (
            lambda: query_ivf_pq_index(spark, path, q, k=3),
            lambda: append_to_ivf_pq_index(df, path),
        ),
    }[fmt]
    return {
        "query": query,
        "append": append,
        "compact": lambda: compact_ann_index(spark, path),
    }


# a well-formed spec of a format the query/append path does not read
# (query_ivf_index also reads IVF-PQ layouts, so IVF gets an LSH spec)
_OTHER_FORMAT = {
    layout.LSH: layout.IVF,
    layout.IVF: layout.LSH,
    layout.PQ: layout.IVF_PQ,
    layout.IVF_PQ: layout.PQ,
}


@pytest.mark.parametrize("fmt", layout.FORMATS)
def test_spec_refusals_are_one_named_error(spark, tmp_path, fmt):
    """A missing spec, a two-row spec and a spec of another format are
    refused with the same LayoutSpecError by every query, append and
    compaction of each format — before anything is read or written."""
    _, df = _corpus(spark, n=40, dim=8)
    path = str(tmp_path / "idx")
    _build(fmt, df, path)
    spec_dir = layout.spec_path(path)
    saved = str(tmp_path / "saved_spec")
    shutil.copytree(spec_dir, saved)
    spec_row = spark.read.parquet(saved).collect()[0]
    ops = _layout_ops(fmt, spark, df, path)

    def put_spec(rows, schema):
        shutil.rmtree(spec_dir, ignore_errors=True)
        spark.createDataFrame(rows, schema).write.parquet(spec_dir)

    for op_name, op in ops.items():
        shutil.rmtree(spec_dir)
        with pytest.raises(layout.LayoutSpecError, match="no persisted spec"):
            op()
        put_spec([spec_row, spec_row], layout.SPEC_SCHEMA[fmt])
        with pytest.raises(layout.LayoutSpecError, match="found 2"):
            op()
        # compaction reads all four formats, so it gets an unknown one
        other = "future-v9" if op_name == "compact" else _OTHER_FORMAT[fmt]
        put_spec([(other,)], "format string")
        with pytest.raises(
            layout.LayoutSpecError, match=f"has layout format '{other}'"
        ):
            op()
    # refusals touched nothing: with the spec restored the layout serves
    shutil.rmtree(spec_dir)
    shutil.copytree(saved, spec_dir)
    assert ops["query"]().count() > 0
    assert ops["compact"]()["format"] == fmt


def test_compact_refusals_and_spec_stash_discipline(spark, tmp_path):
    """files_per_partition < 1 -> loud; the mid-compaction stash state
    (spec renamed aside) is refused by a concurrent read and recovers
    by restoring the stash."""
    _, df = _corpus(spark, n=50)
    with pytest.raises(ValueError, match="files_per_partition"):
        compact_ann_index(spark, str(tmp_path / "any"), files_per_partition=0)

    # mid-compaction state: spec stashed aside -> reads refuse loudly
    from cassandra_analytics_spark.fs import rename_path

    path = str(tmp_path / "pq2")
    save_pq_index(df, path, m=4, ks=16, sample_size=100, seed=42)
    spec, stash = layout.spec_path(path), layout.stash_path(path)
    assert rename_path(spark, spec, stash)
    with pytest.raises(layout.LayoutSpecError, match="no persisted spec"):
        query_pq_index(spark, path, [0.0] * 16, k=3)
    # operator recovery: restore the stash, reads work again
    assert rename_path(spark, stash, spec)
    assert query_pq_index(spark, path, [1.0] * 16, k=3).count() == 3


def test_stream_survives_mid_life_layout_compaction(spark, tmp_path):
    """Maintenance integration: a running semantic-dedup stream's IVF-PQ
    layout can be compacted BETWEEN triggers (the daily-ingest shape:
    appends accrue small files, an off-peak compaction rewrites them)
    and the stream keeps publishing the correct pairs afterwards — the
    spec/codebook survive byte-identical, so the frozen-codebook append
    contract and the cached-codebook geometry check both still hold."""
    import random as _random

    from cassandra_analytics_spark.streaming.semantic_stream import (
        collected_semantic_pairs,
        process_semantic_batch,
    )

    rng = _random.Random(3)
    dim = 8
    base_a = [1.0] + [0.0] * (dim - 1)
    base_b = [0.0] * (dim - 1) + [1.0]
    rows = []
    for i in range(60):
        if i % 3 == 0:
            v = [x + rng.uniform(-0.01, 0.01) for x in base_a]
        elif i % 3 == 1:
            v = [x + rng.uniform(-0.01, 0.01) for x in base_b]
        else:
            v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids = [(0, base_a), (1, base_b)]

    ivf = str(tmp_path / "ivfpq")
    cache: dict = {}
    kwargs = dict(
        index_path=ivf,
        pairs_out=str(tmp_path / "pairs"),
        centroids=centroids,
        threshold=0.98,
        pq={"m": 4, "ks": 16, "sample_size": 60, "seed": 1},
        codebook_cache=cache,
    )
    process_semantic_batch(df.filter("vec_id < 20"), 0, **kwargs)
    process_semantic_batch(
        df.filter("vec_id >= 20 AND vec_id < 40"), 1, **kwargs
    )
    # off-peak maintenance between triggers
    stats = compact_ann_index(spark, ivf)
    assert stats["format"] == "ivf-pq-v1"
    assert stats["files_after"] < stats["files_before"]
    # the stream continues: trigger 2 appends + publishes as usual
    process_semantic_batch(df.filter("vec_id >= 40"), 2, **kwargs)

    got = {
        (r.a, r.b, round(r.cosine_sim, 9))
        for r in collected_semantic_pairs(spark, kwargs["pairs_out"])
        .dropDuplicates(["a", "b"])
        .collect()
    }
    # one-shot reference over the SAME corpus (standard float math)
    from cassandra_analytics_spark.operators.pq import (
        pq_pairs_from_cells,
        save_ivf_pq_index,
    )

    ref_path = str(tmp_path / "ref")
    save_ivf_pq_index(
        df, ref_path, centroids=centroids, m=4, ks=16,
        sample_size=60, seed=1, residuals=True,
    )
    want = {
        (r.a, r.b, round(r.cosine_sim, 9))
        for r in pq_pairs_from_cells(
            spark.read.parquet(ref_path),
            _load_cb(spark, ref_path),
            0.98,
        ).collect()
    }
    assert got == want and len(want) > 50


def _load_cb(spark, index_path):
    spec = layout.read_spec(spark, index_path, (layout.IVF_PQ,))
    return layout.read_codebook(spark, index_path, spec)
