"""Soak the streaming semantic-dedup path over many micro-batches: N
batches of embeddings with planted near-dup groups spanning batch
boundaries, in-batch duplicates, empty batches, and a mid-run RESTART
(fresh StreamingQuery over the same checkpoint + layout).

Checks after the stream drains:
1. Kappa equality — streamed pair set == one-shot semantic_dedup_pairs
   over the full corpus (same codebook, same threshold);
2. layout integrity — exactly one row per distinct id (no replay
   duplication under clean processing), spec intact;
3. removal-verdict equality with the one-shot path.

Usage: python scripts/soak_semantic_stream.py [n_batches]
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> int:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 25
    dim, per_batch = 16, 40

    from cassandra_analytics_spark.operators.layout import IVF, read_spec
    from cassandra_analytics_spark.operators.similarity import (
        removal_verdicts,
        semantic_dedup_pairs,
    )
    from cassandra_analytics_spark.session import get_session
    from cassandra_analytics_spark.streaming.semantic_stream import (
        collected_semantic_pairs,
        run_semantic_dedup_stream,
    )

    spark = get_session(app_name="soak-semantic")
    spark.sparkContext.setLogLevel("ERROR")
    rng = random.Random(11)

    # codebook: 4 well-separated axes; groups cluster around two of them
    cents = []
    for c in range(4):
        v = [0.0] * dim
        v[c * (dim // 4)] = 1.0
        cents.append((c, v))

    def batch_rows(b: int):
        if b % 7 == 6:
            return []  # empty batch
        rows = []
        for i in range(per_batch):
            vid = b * per_batch + i
            if i % 4 == 0:  # group A near-dup (cross-batch)
                base = cents[0][1]
            elif i % 4 == 1:  # group B near-dup
                base = cents[1][1]
            else:
                base = [rng.gauss(0.0, 1.0) for _ in range(dim)]
            rows.append(
                (vid, [x + rng.uniform(-0.005, 0.005) for x in base])
            )
        if b % 5 == 2:  # in-batch duplicate id, smaller vector loses
            rows.append((rows[0][0], [x * 0.5 for x in rows[0][1]]))
        return rows

    tmp = tempfile.mkdtemp(prefix="soak-semantic-")
    src = os.path.join(tmp, "in")
    schema = "vec_id long, embedding array<double>"
    all_rows: dict[int, list[float]] = {}

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = run_semantic_dedup_stream(
            stream,
            index_path=os.path.join(tmp, "ivf"),
            pairs_out=os.path.join(tmp, "pairs"),
            centroids=cents,
            threshold=0.98,
            checkpoint_dir=os.path.join(tmp, "ckpt"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    t0 = time.time()
    restart_at = n_batches // 2
    for b in range(n_batches):
        rows = batch_rows(b)
        for vid, vec in rows:
            all_rows[vid] = vec  # greatest-vector-wins mirrors max()
        for vid, vec in rows:
            if vec < all_rows[vid]:
                continue
            all_rows[vid] = vec
        df = spark.createDataFrame(rows or [], schema)
        df.coalesce(1).write.mode("append").parquet(src)
        if b == restart_at:
            drain()  # first query run ends here = the restart point
    drain()  # second query (fresh object, same checkpoint) drains the rest
    wall = time.time() - t0

    corpus = spark.createDataFrame(list(all_rows.items()), schema)
    got = {
        (r.a, r.b, round(r.cosine_sim, 9))
        for r in collected_semantic_pairs(spark, os.path.join(tmp, "pairs"))
        .dropDuplicates(["a", "b"])
        .collect()
    }
    want = {
        (r.a, r.b, round(r.cosine_sim, 9))
        for r in semantic_dedup_pairs(corpus, cents, threshold=0.98).collect()
    }
    ok_pairs = got == want
    layout = spark.read.parquet(os.path.join(tmp, "ivf"))
    n_layout = layout.count()
    n_distinct = layout.select("vec_id").distinct().count()
    spec = read_spec(spark, os.path.join(tmp, "ivf"), (IVF,))
    v_got = {
        tuple(r)
        for r in removal_verdicts(
            collected_semantic_pairs(spark, os.path.join(tmp, "pairs"))
            .dropDuplicates(["a", "b"])
        ).collect()
    }
    v_want = {
        tuple(r)
        for r in removal_verdicts(
            semantic_dedup_pairs(corpus, cents, threshold=0.98)
        ).collect()
    }

    print(
        f"batches={n_batches} wall={wall:.0f}s corpus={len(all_rows)} "
        f"pairs={len(want)} kappa_equal={ok_pairs} "
        f"layout_rows={n_layout} distinct_ids={n_distinct} "
        f"verdicts_equal={v_got == v_want} spec={spec['assignment']}"
    )
    shutil.rmtree(tmp, ignore_errors=True)
    return 0 if (ok_pairs and v_got == v_want and n_layout == n_distinct) else 1


if __name__ == "__main__":
    raise SystemExit(main())
