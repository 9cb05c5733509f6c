"""One-off XL HNSW-crossover measurement (round-8 follow-on to the IVF XL
axis in tools/crossover_xl.py).

Extends the per-round `hnsw_crossover` protocol cell (bench.py) one axis
point further: 4M x 64 clustered, batched-beam search over m=16 /
ef_construction=96 partition-local graphs, Q=512 serving batch — the
question is whether the round-8 "batched beam beats exact BLAS at serving
batch sizes" verdict HOLDS AS n GROWS (exact wall is linear in n; the
probed beam touches a ~constant fraction).  Probe fraction is held at the
1M axis' ~2.3% (probe 24 of 1024 lists).  Run manually on an otherwise-
idle machine; the result is recorded (with host calibration) in
BENCH_PROTOCOL's recorded dict / BASELINE.md rather than re-measured per
round — a 4M m=16 build costs ~15 min and would dominate the driver's
bench budget.

Usage: python tools/hnsw_crossover_xl.py [n_base] [n_lists] [n_queries]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    n_lists = int(sys.argv[2]) if len(sys.argv) > 2 else 1024
    n_q = int(sys.argv[3]) if len(sys.argv) > 3 else 512

    import numpy as np
    from pyspark.sql import functions as F

    from hnsw_spark.operators.evaluation import mean_recall, recall_table
    from hnsw_spark.operators.hnsw_graph import build_hnsw_index
    from hnsw_spark.operators.knn import knn_exact
    from hnsw_spark.session import get_spark
    from hnsw_spark.sources.synthetic import synthetic_vectors

    spark = get_spark(app_name="hnsw_crossover_xl",
                      extra_conf={"spark.driver.memory": "48g"})

    x = np.random.RandomState(0).rand(1024, 1024)
    t0 = time.time(); x @ x; calib_ms = round((time.time() - t0) * 1000, 1)

    t0 = time.time()
    big = (
        synthetic_vectors(spark, n, 64, seed=17, distribution="clustered")
        .repartition(64)
        .persist()
    )
    big.count()
    gen_s = time.time() - t0
    xq = big.filter(F.col("vec_id") < n_q).cache()
    xq.count()

    t0 = time.time()
    idx = build_hnsw_index(
        big, n_lists=n_lists, m=16, ef_construction=96, metric="cosine"
    )
    idx.index_df = idx.index_df.repartition(64, "list_id").cache()
    idx.index_df.count()
    build_s = time.time() - t0

    exact_walls = []
    for _ in range(3):
        t0 = time.time()
        knn_exact(
            big, xq, k=10, metric="cosine", strategy="local_merge"
        ).write.format("noop").mode("overwrite").save()
        exact_walls.append(time.time() - t0)
    exact_df = knn_exact(
        big, xq, k=10, metric="cosine", strategy="local_merge"
    ).cache()
    exact_df.count()

    curve = []
    for n_probe, ef in ((24, 96), (48, 160)):
        walls = []
        for _ in range(2):
            t0 = time.time()
            idx.search(
                xq, k=10, n_probe=n_probe, ef_search=ef, dispatch="beam"
            ).write.format("noop").mode("overwrite").save()
            walls.append(time.time() - t0)
        r = mean_recall(
            recall_table(
                idx.search(xq, k=10, n_probe=n_probe, ef_search=ef,
                           dispatch="beam"),
                exact_df,
            )
        ).collect()[0]["mean_recall"]
        curve.append(
            {"n_probe": n_probe, "ef_search": ef,
             "hnsw_wall_best_s": round(min(walls), 3),
             "recall_at_10": round(float(r), 4),
             "speedup_vs_exact": round(min(exact_walls) / min(walls), 2)}
        )
        print(json.dumps(curve[-1]), flush=True)

    out = {
        "n_base": n, "dim": 64, "distribution": "clustered",
        "n_lists": n_lists, "m": 16, "ef_construction": 96,
        "n_queries": n_q, "beam": "batched",
        "calib_matmul_1024_ms": calib_ms,
        "gen_wall_s": round(gen_s, 1),
        "build_wall_s": round(build_s, 1),
        "exact_wall_best_s": round(min(exact_walls), 3),
        "exact_walls_s": [round(w, 2) for w in exact_walls],
        "curve": curve,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
