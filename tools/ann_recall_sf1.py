"""knn_graph recall-at-density report (VERDICT r15 directive 2): at
sf1 (tools/gen_sf.py, 20k 64-dim vectors — the density where the r15
occupancy cap excluded 53% of vectors from direct pairing), measure
recall@5 of the production graph against brute-force ground truth,
with the default occupancy guard (density-adaptive refinement, r16)
and without any cap, for both hash families; plus the
semantic_clusters label agreement between capped and uncapped runs.

Ground truth: exact cosine top-5 for a deterministic 2,000-query
sample (vec_id % 10 == 0) over the full corpus via knn_bruteforce
(vectorized BLAS path). Writes ANN_RECALL_SF1.json.

Usage: python tools/ann_recall_sf1.py [sf1_dir]   (default .sf1data)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

K = 5
SAMPLE_MOD = 10


def main() -> int:
    sf1_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, ".sf1data")
    if not os.path.exists(os.path.join(sf1_dir, "embeddings.parquet")):
        print(f"run tools/gen_sf.py 1.0 {sf1_dir} first", file=sys.stderr)
        return 2

    from pyspark.sql import functions as F

    from toshokan_spark.session import local_session, session_cpus

    cpus = session_cpus()
    spark = local_session(
        "toshokan_spark_ann_recall_sf1",
        cpus,
        {
            "spark.sql.shuffle.partitions": str(max(cpus * 2, 8)),
            "spark.driver.memory": "8g",
        },
    )

    from toshokan_spark.operators import similarity

    emb = spark.read.parquet(
        os.path.join(sf1_dir, "embeddings.parquet")).persist()
    n_corpus = emb.count()
    queries = emb.filter(F.col("vec_id") % SAMPLE_MOD == 0)

    t0 = time.time()
    exact = similarity.knn_bruteforce(
        emb, queries, k=K, vectorized=True
    ).select("query_id", "neighbor_id").persist()
    exact.count()
    t_exact = round(time.time() - t0, 1)

    def graph_recall(**kw) -> dict:
        ds: dict = {}
        t = time.time()
        g = similarity.knn_graph(emb, k=K, drop_stats=ds, **kw)
        g = g.join(
            F.broadcast(exact.select("query_id").distinct()), "query_id"
        ).select("query_id", "neighbor_id").persist()
        g.count()
        rep = similarity.knn_recall_report(g, exact, k=K)
        mean = rep.agg(F.avg("recall").alias("m")).collect()[0]["m"]
        out = {
            "mean_recall_at_5": round(float(mean), 4),
            "wall_sec": round(time.time() - t, 1),
            "drop_stats": ds,
        }
        g.unpersist()
        return out

    report = {
        "metric": "knn_graph_recall_at_density",
        "sf1_dir_note": "tools/gen_sf.py sf=1.0; 20k 64-dim vectors, "
                        "10 gaussian clusters (the sf0.1 shape x10)",
        "n_corpus": n_corpus,
        "n_queries_sampled": exact.select("query_id").distinct().count(),
        "k": K,
        "ground_truth": {"method": "knn_bruteforce vectorized",
                         "wall_sec": t_exact},
        "configs": {},
    }
    for fam in ("lcg", "xxhash"):
        report["configs"][f"{fam}_default_cap1000_refined"] = graph_recall(
            num_planes=8, hash_family=fam)
        report["configs"][f"{fam}_uncapped"] = graph_recall(
            num_planes=8, hash_family=fam, max_bucket_occupancy=None)
        # the recall lever at fixed planes: radius-2 multiprobe
        # (1 + 8 + 28 = 37 probes)
        report["configs"][f"{fam}_cap1000_refined_radius2"] = graph_recall(
            num_planes=8, hash_family=fam, multiprobe_radius=2)
    report["configs"]["lcg_uncapped_radius2"] = graph_recall(
        num_planes=8, hash_family="lcg", max_bucket_occupancy=None,
        multiprobe_radius=2)

    # semantic_clusters label agreement, capped (default) vs uncapped —
    # the cluster-level view of the same question
    t = time.time()
    capped = similarity.semantic_clusters(
        emb, k=K, min_score=0.3, num_planes=8, hash_family="lcg")
    uncapped = similarity.semantic_clusters(
        emb, k=K, min_score=0.3, num_planes=8, hash_family="lcg",
        max_bucket_occupancy=None)
    both = capped.alias("a").join(
        uncapped.alias("b"), "vec_id").select(
        (F.col("a.cluster_id") == F.col("b.cluster_id"))
        .cast("int").alias("same"))
    agree = both.agg(F.avg("same")).collect()[0][0]
    report["semantic_clusters_label_agreement_capped_vs_uncapped"] = {
        "fraction_identical_labels": round(float(agree), 4),
        "wall_sec": round(time.time() - t, 1),
    }

    out_path = os.path.join(REPO, "ANN_RECALL_SF1.json")
    with open(out_path, "w") as f:
        json.dump(report, f, indent=2)
        f.write("\n")
    print(json.dumps(report, indent=2))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
