"""Phase-level wall breakdown for s09_kmeans / s14_pq_adc_topk (guide
§1): time each driver action of the Lloyd trajectory separately, plus
total executor task time from the stage metrics, so driver/Catalyst/
Janino cost (wall - executor/32) is visible per phase.

Usage: python tools/kmeans_phase_probe.py [sf_dir] [passes]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kaylee_spark.session import get_spark  # noqa: E402
from kaylee_spark.sources import load_table  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("kmeans_phase_probe")
    spark.sparkContext.setLogLevel("ERROR")

    from kaylee_spark.operators.similarity import (
        _kmeans_argmin,
        _kmeans_distances,
        _lloyd_update,
        kmeans_lattice,
    )
    from kaylee_spark.operators.skew import pin_width

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    print(f"n_embeddings={n}")

    dim, k = 64, 5
    dims = list(range(dim))

    # warmup pass at sf0.001 (bench methodology: codegen warm)
    warm = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    vw = kmeans_lattice(warm, dim).cache()
    seeds = vw.orderBy("vec_id").limit(k).collect()
    cents = [(j, [r[f"x{i}"] for i in dims]) for j, r in enumerate(seeds)]
    cents = _lloyd_update(vw, cents, dims)
    vw.unpersist()
    spark.catalog.clearCache()

    for p in range(passes):
        spark.catalog.clearCache()
        t = {}
        t0 = time.perf_counter()
        emb = load_table(spark, sf_dir, "embeddings")
        with pin_width(emb):
            v = kmeans_lattice(emb, dim).cache()
            seeds = v.orderBy("vec_id").limit(k).collect()
            t["lattice+seed"] = time.perf_counter() - t0

            cents = [(j, [r[f"x{i}"] for i in dims]) for j, r in enumerate(seeds)]
            t1 = time.perf_counter()
            cents = _lloyd_update(v, cents, dims)
            t["update1"] = time.perf_counter() - t1
            t1 = time.perf_counter()
            cents = _lloyd_update(v, cents, dims)
            t["update2"] = time.perf_counter() - t1

            t1 = time.perf_counter()
            dists = _kmeans_distances(v, cents, dims)
            cluster, mind = _kmeans_argmin(cents)
            out = dists.select(
                "vec_id", cluster.alias("cluster"), mind.alias("dist_sq")
            ).cache()
            out.count()
            t["final_assign"] = time.perf_counter() - t1
            t1 = time.perf_counter()
            out.write.format("noop").mode("overwrite").save()
            t["noop_write"] = time.perf_counter() - t1
            v.unpersist()
            out.unpersist()
        t["TOTAL"] = time.perf_counter() - t0
        print(f"pass {p}: " + "  ".join(f"{k_}={v_:.3f}" for k_, v_ in t.items()))

    spark.stop()


if __name__ == "__main__":
    main()
