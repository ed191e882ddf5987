"""100x soak of the index-accelerated kNN JOIN at a REAL query-set size
(VERDICT r12 item 8: the r11 soak used 8 queries; this runs 1,000) —
pins the routing-table broadcast and the per-query top-k window at
scale, float / use_codes / (round 14) use_pq paths, with exactness at
probe-all checked against the brute-force join for every query.

Round-13 history: the routing table used to carry (qid, cell,
query_vec, norm, sum) per PROBED cell (~70 MB at this shape; ~690 MB
at 10k queries), r13 thinned phase 1 to (qid, cell) pairs + a
one-row-per-query payload, and r13 ADVICE flagged that the use_codes
phase-2 rescore reintroduced the fat worse (survivor-fan x full query
vector ≈ 5+ GB broadcast at this shape). Round 14 fixed that (the fan
is thin (qid, cell, id); the payload joins AFTER the corpus join) and
added use_pq — this soak measures both.

A PRODUCTION-PROBE section (num_probes=8 of 128) records each path's
byte fingerprint at the realistic operating point, where the scan cut
(1 byte/dim for SQ8, m bytes/vector for PQ) actually shows — at
probe-all the scored set is |corpus| x |queries| and the top-k window
exchange dominates every path identically (the r13 lesson).

Usage: python scripts/soak_knn_join_100x.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from cassandra_analytics_spark.operators.layout import read_centroids
from cassandra_analytics_spark.session import get_session
from cassandra_analytics_spark.stage_metrics import delta, stage_totals

SRC = "/root/testdata/sf0.1/embeddings.parquet"
COPIES = 100
N_QUERIES = 1000
NUM_CENTROIDS = 128
K = 10


def main() -> int:
    from cassandra_analytics_spark.operators.ann_index import (
        build_ivf_index,
        ivf_knn_join,
    )
    from cassandra_analytics_spark.operators.similarity import knn_join

    spark = get_session(
        app_name="soak-knn-join-100x",
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.read.parquet(SRC).select("vec_id", "embedding")
    off = int(base.agg(F.max("vec_id")).collect()[0][0]) + 1
    corpus = base.select(
        "vec_id", "embedding",
        F.explode(F.sequence(F.lit(0), F.lit(COPIES - 1))).alias("__copy"),
    ).select(
        (F.col("vec_id") + F.col("__copy") * F.lit(off)).alias("vec_id"),
        "embedding",
    ).repartition(32)  # the 1-file source would otherwise explode into
    # ONE partition and single-thread every downstream scan
    corpus = corpus.cache()
    n = corpus.count()
    # 1k queries: the corpus's own vectors (distinct embeddings so the
    # duplicate structure doesn't collapse the ranking), perturbation-free
    queries = (
        base.limit(N_QUERIES)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    nq = queries.count()
    print(f"corpus {n} rows, {nq} queries, {NUM_CENTROIDS} cells",
          flush=True)

    work = tempfile.mkdtemp(prefix="knn-soak-")
    try:
        from cassandra_analytics_spark.operators.pq import save_ivf_pq_index

        path = os.path.join(work, "ivf")
        t0 = time.time()
        build_ivf_index(
            corpus, path, num_centroids=NUM_CENTROIDS,
            assignment="vectorized", quantize=True,
        )
        print(f"SQ8 index built in {time.time() - t0:.1f}s", flush=True)
        # the IVF-PQ layout shares the SQ8 layout's coarse centroids so
        # the three paths route identically (cells are comparable)
        cents = read_centroids(spark, path)
        pq_path = os.path.join(work, "ivfpq")
        t0 = time.time()
        save_ivf_pq_index(
            corpus, pq_path, centroids=cents, m=16, ks=256,
            sample_size=20_000, iterations=15, seed=42,
        )
        print(f"IVF-PQ index built in {time.time() - t0:.1f}s", flush=True)

        arms = (
            ("float", path, {}),
            ("use_codes", path, {"use_codes": True}),
            ("use_pq", pq_path, {"use_pq": True}),
        )
        runs = {}
        for label, p, kw in arms:
            before = stage_totals(spark)
            t0 = time.time()
            got = {
                (r.qid, r.vec_id, round(r.cosine_sim, 9))
                for r in ivf_knn_join(
                    queries, p, k=K, num_probes=NUM_CENTROIDS, **kw
                ).collect()
            }
            wall = time.time() - t0
            d = delta(before, stage_totals(spark))
            runs[label] = (got, wall, d)
            print(f"[{label}] probe-all kNN join: {wall:.1f}s "
                  f"({len(got)} result rows)", flush=True)
            if d:
                for key in ("input_bytes", "shuffle_write_bytes"):
                    print(f"  [{label}] {key}: {d[key]:,}", flush=True)

        # production-probe section: num_probes=8 of 128 — the byte
        # fingerprint at the realistic operating point; the float
        # partial-probe result is the reference the reduced-byte paths
        # are compared against (rescore windows can differ in edge
        # cases at partial probes, so overlap is REPORTED, not gated)
        partial = {}
        for label, p, kw in arms:
            before = stage_totals(spark)
            t0 = time.time()
            got = {
                (r.qid, r.vec_id)
                for r in ivf_knn_join(
                    queries, p, k=K, num_probes=8, **kw
                ).collect()
            }
            wall = time.time() - t0
            d = delta(before, stage_totals(spark))
            partial[label] = got
            print(f"[{label}] probes=8/128 kNN join: {wall:.1f}s", flush=True)
            if d:
                for key in ("input_bytes", "input_records",
                            "shuffle_write_bytes"):
                    print(f"  [{label}] probes=8 {key}: {d[key]:,}",
                          flush=True)
        for label in ("use_codes", "use_pq"):
            inter = len(partial[label] & partial["float"])
            print(f"[{label}] probes=8 overlap vs float: "
                  f"{inter}/{len(partial['float'])}", flush=True)

        t0 = time.time()
        want = {
            (r.qid, r.vec_id, round(r.cosine_sim, 9))
            for r in knn_join(queries, corpus, k=K, query_id="qid").collect()
        }
        print(f"brute-force oracle in {time.time() - t0:.1f}s", flush=True)

        ok = True
        for label, (got, _, _) in runs.items():
            match = got == want
            ok = ok and match
            print(f"[{label}] exact vs brute force at probe-all: {match}",
                  flush=True)
        print("PASS" if ok else "FAIL", flush=True)
        return 0 if ok else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
