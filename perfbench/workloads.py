"""The workloads: what set-up builds, what one op is, and how its output
is checked.

Each workload is a closed loop with one client: the next op starts when
the previous one has returned, as a bulk job or an analytic query waits
for its result. The seed picks write timestamps, the update, delete and
TTL key subsets, and the query order; the base corpus is fixed.
"""

from __future__ import annotations

import contextlib
import dataclasses
import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20240101
PK, CK = ["l_orderkey"], ["l_linenumber"]
_BASE_WRITETIME = 1_700_000_000_000_000  # microseconds

# The 31 headline names of the historical bench.py, pinned here so edits
# there cannot change this workload.
HEADLINE = (
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "agg_cube_status",
    "agg_distinct_suppliers",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "q17_small_quantity_revenue",
    "q18_large_volume_customers",
    "q9_product_type_profit",
    "q21_waiting_suppliers",
    "join_semi_open_orders",
    "setop_except_customers",
    "asof_purchase_click",
    "range_join_error_bursts",
    "window_topk_orders_per_customer",
    "window_running_revenue",
    "window_range_frame_revenue",
    "topk_global_orders",
    "events_hourly_stats",
    "events_sessionize",
    "lww_latest_events",
    "partition_size_orders",
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "cosine_topk_embeddings",
    "text_token_stats",
    "lang_id_heuristic",
    "text_pii_scrub",
    "text_tfidf_search",
)
# build halves run in set-up; the op is the probe
PROBES = ("ann_ivf_quantized_topk", "ann_pq_topk")
# the queries that exercise the repo-owned kernels (operators.dedup,
# text, pq, ann_index) plus the heaviest relational one; with PROBES
# they are the benchmark's default pass
HOT = ("dedup_simhash", "dedup_minhash_lsh", "text_tfidf_search", "q21_waiting_suppliers")
MIXES = {"hot": HOT + PROBES, "full": HEADLINE + PROBES}


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _batch_parquet_bytes(batch_dir: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(batch_dir, "*.parquet")))


class Workload:
    """One workload over a shared run context ``ctx`` (spark session,
    paths, seeded rng, cores). ``next_ops`` returns the next unit of work:
    one op, or for bulk_rw and query_mix one whole pass."""

    name = ""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.rng: np.random.Generator = ctx.rng

    def fixture(self) -> None:
        pass

    def warmup(self) -> None:
        """Ops run inside set-up, before the timed window."""
        raise NotImplementedError

    def next_ops(self) -> list[str]:
        return [self.name]

    def run_op(self, kind: str, seq: int, rec) -> None:
        raise NotImplementedError

    def check(self) -> dict[str, list[str]]:
        """Failures by op kind, found outside the timed window."""
        raise NotImplementedError

    def stored_bytes_per_row(self) -> float:
        raise NotImplementedError


class BulkWrite(Workload):
    """Each op commits sf-scale ``lineitem`` as one new batch of a fresh
    table: token, range-partition sort, parquet staging, digest job and
    atomic commit. ``operators.merge`` and ``queries`` do no work."""

    name = "bulk_write"

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        from cassandra_analytics_spark.catalog import load_table

        self.df = load_table(self.spark, ctx.corpus_dir, "lineitem")
        self.results = []
        self.writetime = _BASE_WRITETIME + int(self.rng.integers(0, 10**12))

    def warmup(self) -> None:
        # measured on 4 cores: op latency falls 11.9, 3.4, 2.9 s and is
        # 2.3-2.5 s from the fourth op on
        for seq in range(3):
            self.run_op(self.name, seq, None)

    def run_op(self, kind: str, seq: int, rec) -> None:
        from cassandra_analytics_spark.sinks.bulk_writer import bulk_write

        with self.ctx.tracer.span(rec, "execute"):
            res = bulk_write(
                self.df,
                os.path.join(self.ctx.work_dir, f"bw-{len(self.results):05d}"),
                PK,
                CK,
                # one writetime for every op, so each op writes the same bytes
                write_timestamp_micros=self.writetime,
                num_partitions=self.ctx.cores,
            )
        self.results.append(res)
        if rec is not None:
            rec.writer = {"files": res.num_files, "bytes": _batch_parquet_bytes(res.batch_dir)}

    def check(self) -> dict[str, list[str]]:
        import json

        from cassandra_analytics_spark.sinks.bulk_writer import verify_digests

        bad = []
        want = self.ctx.corpus_rows["lineitem"]
        for res in self.results:
            with open(res.manifest_path) as f:
                rows = json.load(f)["num_rows"]
            if not verify_digests(res.batch_dir):
                bad.append(f"{res.batch_dir}: digest mismatch")
            if rows != want:
                bad.append(f"{res.batch_dir}: manifest num_rows {rows} != {want}")
        return {self.name: bad} if bad else {}

    def stored_bytes_per_row(self) -> float:
        return sum(_batch_parquet_bytes(r.batch_dir) for r in self.results) / sum(
            r.num_rows for r in self.results
        )


class MergeRead(Workload):
    """Set-up commits a multi-batch table; each op reads it back through
    the LWW compaction-merge with partition-tombstone and TTL purge at a
    fixed clock. The writer does no work in the timed window."""

    name = "merge_read"
    TTL_S = 3_600
    # share of the corpus's orders whose lineitem rows form the base
    # batch: half of sf 0.1 gives about 500 000 versions, which keeps a
    # bulk_rw run inside the benchmark's time budget
    ORDER_SHARE = 0.5

    def fixture(self) -> None:
        from cassandra_analytics_spark.sinks.bulk_writer import WriteMode, bulk_write

        ctx, rng = self.ctx, self.rng
        self.table = os.path.join(ctx.work_dir, "merge_table")
        base = pq.read_table(
            os.path.join(ctx.corpus_dir, "lineitem.parquet"),
            filters=[("l_orderkey", "<", int(ctx.corpus_rows["orders"] * self.ORDER_SHARE))],
        )
        n = base.num_rows
        wt = _BASE_WRITETIME + int(rng.integers(0, 10**12))
        step = lambda: int(rng.integers(10**6, 10**9))  # noqa: E731

        # (input file, writetime, ttl, partition delete) per batch: the
        # check recomputes the merge from these, not from the writer's files
        self.inputs: list[tuple[str, int, int | None, bool]] = []

        def commit(table: pa.Table, tag: str, writetime: int, ttl=None, delete=False) -> None:
            path = os.path.join(ctx.work_dir, f"in-{tag}.parquet")
            pq.write_table(table, path)
            bulk_write(
                self.spark.read.parquet(path), self.table, PK, CK,
                mode=WriteMode.DELETE_PARTITION if delete else WriteMode.APPEND,
                write_timestamp_micros=writetime, ttl_seconds=ttl,
                num_partitions=ctx.cores,
            )
            self.inputs.append((path, writetime, ttl, delete))

        commit(base, "base", wt)
        qty = base.column("l_quantity").to_numpy()
        price = base.column("l_extendedprice").to_numpy()
        for u in range(3):
            wt += step()
            idx = np.sort(rng.choice(n, size=n // 5, replace=False))
            upd = base.take(pa.array(idx))
            upd = upd.set_column(
                upd.schema.get_field_index("l_quantity"), "l_quantity",
                pa.array(np.mod(qty[idx] + u, 50.0) + 1.0),
            )
            upd = upd.set_column(
                upd.schema.get_field_index("l_extendedprice"), "l_extendedprice",
                pa.array(np.round(price[idx] + (u + 1) * 0.25, 2)),
            )
            commit(upd, f"upd{u}", wt)
            if u == 1:
                # partition deletes land between the second and third
                # update, so third-update rows of deleted partitions live
                wt += step()
                keys = np.unique(base.column("l_orderkey").to_numpy())
                dead = np.sort(rng.choice(keys, size=int(len(keys) * 0.09), replace=False))
                commit(pa.table({"l_orderkey": pa.array(dead)}), "del", wt, delete=True)
        wt += step()
        idx = np.sort(rng.choice(n, size=n // 20, replace=False))
        commit(base.take(pa.array(idx)), "ttl", wt, ttl=self.TTL_S)
        # the read clock: every TTL'd row has expired
        self.now_micros = wt + 2 * self.TTL_S * 1_000_000

    def read(self):
        from cassandra_analytics_spark.sinks.bulk_writer import read_bulk_table

        return read_bulk_table(self.spark, self.table, PK, CK, now_micros=self.now_micros)

    def warmup(self) -> None:
        """Two reads: on 4 cores, with a fixture twice this size, the
        first after the fixture's writes took 10.7 s and the second
        4.4 s, against 3.1-3.9 s after. The first is collected for the
        check; the second goes through the noop sink like a timed op."""
        self.value_cols = pq.read_schema(self.inputs[0][0]).names
        self.merged = self.read().select(*self.value_cols).toArrow()
        self.run_op(self.name, 0, None)

    def run_op(self, kind: str, seq: int, rec) -> None:
        with self.ctx.tracer.span(rec, "build"):
            df = self.read()
        self.ctx.tracer.plan(rec, df)
        with self.ctx.tracer.span(rec, "execute"):
            noop(df)

    def check(self) -> dict[str, list[str]]:
        """Row count and an order-insensitive value hash of the merged
        read collected in warm-up, against the same LWW,
        partition-tombstone and TTL outcome computed by DuckDB from the
        fixture's input files. Every op reads the same table with the
        same clock. The fixture gives every key at most one version per
        writetime, so the newest version wins without a value
        tiebreak."""
        import duckdb

        value_cols = self.value_cols
        canon = ", ".join(f"epoch_us({c})" if c == "l_shipdate" else c for c in value_cols)
        versions = " UNION ALL BY NAME ".join(
            f"SELECT *, {wt}::BIGINT AS writetime, "
            f"{'NULL' if ttl is None else ttl}::INTEGER AS ttl, "
            f"{repr('partition') if delete else 'NULL'} AS tombstone FROM '{path}'"
            for path, wt, ttl, delete in self.inputs
        )
        con = duckdb.connect()
        con.execute(f"SET threads TO {self.ctx.cores}")
        con.execute(
            f"""
            CREATE VIEW v AS SELECT *,
              CASE WHEN tombstone IS NULL AND ttl IS NOT NULL
                        AND writetime + ttl::BIGINT * 1000000 <= {self.now_micros}
                   THEN 'row' ELSE tombstone END AS kind
            FROM ({versions})
            """
        )
        expected = con.execute(
            f"""
            WITH pt AS (SELECT l_orderkey, max(writetime) AS pt_wt FROM v
                        WHERE kind = 'partition' GROUP BY 1),
                 rt AS (SELECT l_orderkey, l_linenumber, max(writetime) AS rt_wt FROM v
                        WHERE kind = 'row' GROUP BY 1, 2),
                 live AS (
                   SELECT v.* FROM v
                   LEFT JOIN pt USING (l_orderkey)
                   LEFT JOIN rt USING (l_orderkey, l_linenumber)
                   WHERE kind IS NULL
                     AND (pt_wt IS NULL OR writetime > pt_wt)
                     AND (rt_wt IS NULL OR writetime > rt_wt)),
                 won AS (SELECT * FROM live QUALIFY row_number() OVER (
                   PARTITION BY l_orderkey, l_linenumber ORDER BY writetime DESC) = 1)
            SELECT count(*), sum(hash({canon})::HUGEINT) FROM won
            """
        ).fetchone()
        merged = self.merged  # noqa: F841 (scanned by duckdb)
        got = con.execute(f"SELECT count(*), sum(hash({canon})::HUGEINT) FROM merged").fetchone()
        con.close()
        self.output_rows = int(got[0])
        if tuple(got) != tuple(expected):
            return {self.name: [f"merged (rows, hash) {tuple(got)} != duckdb {tuple(expected)}"]}
        return {}

    def stored_bytes_per_row(self) -> float:
        from cassandra_analytics_spark.sinks.bulk_writer import committed_batches

        batches = committed_batches(self.table)
        return sum(_batch_parquet_bytes(b) for b in batches) / sum(
            pq.read_metadata(f).num_rows for b in batches for f in glob.glob(os.path.join(b, "*.parquet"))
        )


class BulkRW(Workload):
    """The writer and the reader in one closed loop: set-up builds the
    ``merge_read`` table, and each pass is one ``bulk_write`` op then one
    ``merge_read`` op, each as in its own workload. Both paths share the
    JVM's warm-up, so one run times every layer of both within the
    benchmark's time budget."""

    name = "bulk_rw"

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.writer = BulkWrite(ctx)
        self.reader = MergeRead(ctx)
        self.parts = {w.name: w for w in (self.writer, self.reader)}

    def fixture(self) -> None:
        self.reader.fixture()

    def warmup(self) -> None:
        # the fixture's six writes warm the writer up; one full-size write
        # more brings it to its steady latency
        self.writer.run_op(BulkWrite.name, 0, None)
        self.reader.warmup()

    def next_ops(self) -> list[str]:
        return list(self.parts)

    def run_op(self, kind: str, seq: int, rec) -> None:
        self.parts[kind].run_op(kind, seq, rec)

    def check(self) -> dict[str, list[str]]:
        return {**self.writer.check(), **self.reader.check()}

    @property
    def output_rows(self) -> int:
        return self.reader.output_rows

    def stored_bytes_per_row(self) -> float:
        return self.writer.stored_bytes_per_row()


class QueryMix(Workload):
    """Each op is one registered query at sf scale, forced through the
    noop sink. The ``hot`` mix (the default) is the four ``HOT`` queries
    plus the probe halves of the two persisted-layout ANN queries, whose
    builds run in set-up; the ``full`` mix adds the 31 headline queries.
    A pass runs every op once in seeded order after clearing the
    operator caches."""

    name = "query_mix"

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        from cassandra_analytics_spark.queries import REGISTRY, _ensure_loaded

        _ensure_loaded()
        self.registry = REGISTRY
        self.names = list(MIXES[ctx.mix])
        self.probes = {}

    def fixture(self) -> None:
        from cassandra_analytics_spark.queries.llm import EXTENDED_SPLITS

        before = set(glob.glob(os.path.join(self.ctx.tmp_dir, "cas_qivf_*")))
        for name in PROBES:
            # the layouts live under the run's temp dir, removed at exit
            build, probe, _cleanup = EXTENDED_SPLITS[name](self.spark, self.ctx.corpus_dir)
            build()
            self.probes[name] = probe
        (layout,) = set(glob.glob(os.path.join(self.ctx.tmp_dir, "cas_qivf_*"))) - before
        # the query vector (vec_id 0) is left out of the indexed corpus
        self.layout_bytes_per_row = _dir_bytes(layout) / (self.ctx.corpus_rows["embeddings"] - 1)

    def next_ops(self) -> list[str]:
        from cassandra_analytics_spark.operators._cache import clear_operator_caches

        clear_operator_caches()
        self.spark.catalog.clearCache()
        return [self.names[i] for i in self.rng.permutation(len(self.names))]

    def run_op(self, kind: str, seq: int, rec) -> None:
        with self.ctx.tracer.span(rec, "build"):
            if kind in self.probes:
                df = self.probes[kind]()
            else:
                df = self.registry[kind].fn(self.spark, self.ctx.corpus_dir)
        self.ctx.tracer.plan(rec, df)
        with self.ctx.tracer.span(rec, "execute"):
            noop(df)

    def warmup(self) -> None:
        """Runs every op's query twice before the window. The first run
        is the correctness check, ``testing.compare_query`` on the run's
        own corpus: the same query on the same data as its op, collected
        instead of sent to the noop sink (queries without an oracle get
        its rows-only check). For an ANN query the registered form would
        build the layout again, so its probe over the set-up layout is
        compared against the query's oracle. The second run is one pass
        as the window runs it. On 4 cores a query's latency falls over its
        first few runs: after the check alone, the first timed pass was
        10-20% slower than the next four, and its latency_p50_gmean_s
        spread 0.23 IQR/median over five seeds, against 0.08-0.15 over
        five and ten seeds after the extra pass."""
        from cassandra_analytics_spark.testing import compare_query

        self.bad: dict[str, list[str]] = {}
        for name in self.names:
            with self._registered_as_probe(name):
                res = compare_query(name, self.spark, self.ctx.corpus_dir)
            if not res.ok:
                self.bad[name] = [str(res)]
        for kind in self.next_ops():
            self.run_op(kind, 0, None)

    @contextlib.contextmanager
    def _registered_as_probe(self, name: str):
        """While open, the registry entry of an ANN query ``name`` runs
        its probe over the set-up layout, so ``compare_query`` checks the
        op's own output; other names are left as they are."""
        if name not in self.probes:
            yield
            return
        entry = self.registry[name]
        probe = self.probes[name]
        self.registry[name] = dataclasses.replace(entry, fn=lambda _spark, _sf_dir: probe())
        try:
            yield
        finally:
            self.registry[name] = entry

    def check(self) -> dict[str, list[str]]:
        return self.bad

    def stored_bytes_per_row(self) -> float:
        """Bytes per vector of the IVF-SQ8 layout that set-up persisted."""
        return self.layout_bytes_per_row


WORKLOADS = {w.name: w for w in (BulkWrite, MergeRead, BulkRW, QueryMix)}
