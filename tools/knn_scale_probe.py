"""knn_graph scale probe beyond sf1 (VERDICT r16 directive 3 — the
round's one `perf_weak`): the r16 sf1 probe measured ×11.43 wall at
10× data and ATTRIBUTED it to sf1 being the first scale where the
density-adaptive refinement round triggers (sf0.1 never enters it).

The first r17 probe run REFUTED the plateau hypothesis: sf1→sf2 wall
was 3.44× at 2× data (radius 1, fixed num_planes=8) — candidate
volume at fixed P is Θ(n²/2^P), so the superlinearity is the fixed-P
LSH density law, not a one-time refinement activation. The fix is
scale-adaptive P (`num_planes=None` → `_auto_planes`: occupancy
target 100, one plane per corpus doubling), and this probe measures
it: for each scale it runs fixed P=8 and auto P in the SAME session
(radius 1; plus auto at radius 2 for the recall-lever costing) and
reports recall@5 against brute-force ground truth on a 10% query
sample, so the wall ratios and the recall cost of the extra planes
are both measurements.

The sf4 point exists because sf2 alone cannot separate the two
hypotheses: the gaussian-cluster corpus (10 clusters, σ=0.35) has
within-cluster angular diameters below the plane family's
resolution, so each cluster's signature-degenerate core grows
linearly with n and the occupancy guard transitions the join from
the quadratic under-cap regime into the capped ~n·cap regime
somewhere between sf1 and sf2 — the plateau, if the cap analysis is
right, is only visible PAST the transition (sf2→sf4 under auto P).

Usage: python tools/knn_scale_probe.py [--only TAG] [sf1] [sf2] [sf4]
(defaults .sf1data / .sf2data / .sf4data; generate with
tools/gen_sf.py). --only re-runs a single scale and merges into the
existing KNN_SCALE_PROBE.json (the probe is additive across
invocations; ratios are recomputed from the merged map). At sf4 the
expensive fixed8 configuration runs once (not best-of-2) and auto_r2
is skipped — noted in the artifact.
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
    args = sys.argv[1:]
    only = None
    if args and args[0] == "--only":
        only = args[1]
        args = args[2:]
    sf1_dir = args[0] if len(args) > 0 else os.path.join(REPO, ".sf1data")
    sf2_dir = args[1] if len(args) > 1 else os.path.join(REPO, ".sf2data")
    sf4_dir = args[2] if len(args) > 2 else os.path.join(REPO, ".sf4data")
    scales = [
        ("sf0.1", "/root/testdata/sf0.1", 1.0),
        ("sf1", sf1_dir, 10.0),
        ("sf2", sf2_dir, 20.0),
        ("sf4", sf4_dir, 40.0),
    ]
    if only is not None:
        scales = [s for s in scales if s[0] == only]
        if not scales:
            print(f"unknown scale tag {only}", file=sys.stderr)
            return 2
    for _tag, d, _r in scales[1:]:
        if not os.path.exists(os.path.join(d, "embeddings.parquet")):
            print(f"missing {d} — run tools/gen_sf.py first",
                  file=sys.stderr)
            return 2

    from pyspark.sql import functions as F

    from toshokan_spark.session import local_session, session_cpus

    cpus = session_cpus()
    spark = local_session(
        "toshokan_spark_knn_scale_probe",
        cpus,
        {
            "spark.sql.shuffle.partitions": str(max(cpus * 2, 8)),
            "spark.driver.memory": "8g",
        },
    )

    from toshokan_spark.operators import similarity

    def run_scale(tag: str, sf_dir: str, ratio: float, out: dict) -> None:
        emb = spark.read.parquet(
            os.path.join(sf_dir, "embeddings.parquet")).persist()
        n = emb.count()
        queries = emb.filter(F.col("vec_id") % SAMPLE_MOD == 0)
        exact = similarity.knn_bruteforce(
            emb, queries, k=K, vectorized=True
        ).select("query_id", "neighbor_id").persist()
        exact.count()
        qset = F.broadcast(exact.select("query_id").distinct())

        def one(label: str, planes, radius: int, runs: int = 2) -> None:
            key = f"{tag}_{label}"
            best, stats, edges = -1.0, {}, 0
            try:
                for _ in range(runs):
                    ds: dict = {}
                    t0 = time.time()
                    g = similarity.knn_graph(
                        emb, k=K, num_planes=planes, hash_family="lcg",
                        multiprobe_radius=radius, drop_stats=ds,
                    )
                    g.write.format("noop").mode("overwrite").save()
                    dt = time.time() - t0
                    if best < 0 or dt < best:
                        best, stats = dt, ds
                        last = g
                edges = last.count()
                sampled = last.join(qset, "query_id").select(
                    "query_id", "neighbor_id")
                rep = similarity.knn_recall_report(sampled, exact, k=K)
                recall = float(
                    rep.agg(F.avg("recall").alias("m")).collect()[0]["m"])
            except Exception as e:  # pragma: no cover - probe resilience
                out[key] = {"error": str(e)[:300]}
                print(f"{key}: FAILED {e}", file=sys.stderr)
                return
            out[key] = {
                "sec": round(best, 3), "data_ratio": ratio, "n": n,
                "edges": edges, "recall_at_5": round(recall, 4),
                "drop_stats": stats,
            }
            print(f"{key}: {out[key]['sec']}s  edges={edges}  "
                  f"recall={out[key]['recall_at_5']}  {stats}")

        if tag == "sf4":
            # fixed8 at sf4 is the quadratic regime's endpoint — one
            # run bounds the probe's wall cost; auto_r2 is skipped
            # (the radius costing has three scales already)
            one("fixed8_r1", 8, 1, runs=1)
            one("auto_r1", None, 1)
        else:
            one("fixed8_r1", 8, 1)
            one("auto_r1", None, 1)
            one("auto_r2", None, 2)
        exact.unpersist()
        emb.unpersist()

    # warmup on the smallest scale
    wemb = spark.read.parquet(
        os.path.join(scales[0][1], "embeddings.parquet"))
    similarity.knn_graph(wemb, k=K, num_planes=8, hash_family="lcg")\
        .write.format("noop").mode("overwrite").save()

    out: dict = {}
    out_path = os.path.join(REPO, "KNN_SCALE_PROBE.json")
    if only is not None and os.path.exists(out_path):
        # additive mode: merge this scale into the existing map
        with open(out_path) as f:
            out = json.load(f).get("entries", {})
    for tag, d, ratio in scales:
        run_scale(tag, d, ratio, out)

    doc = {"metric": "knn_graph_scale_probe", "cpus": cpus,
           "note": ("best-of-2 per config (sf4 fixed8: single run), "
                    "one session per invocation; fixed8 = the "
                    "declared-entry configuration (num_planes=8), auto "
                    "= num_planes=None (_auto_planes, occupancy target "
                    "100); recall@5 vs brute force on the vec_id%10==0 "
                    "query sample"),
           "entries": out}
    for cfg in ("fixed8_r1", "auto_r1", "auto_r2"):
        for a, b, dr in (("sf0.1", "sf1", 10.0), ("sf1", "sf2", 2.0),
                         ("sf2", "sf4", 2.0)):
            ka, kb = f"{a}_{cfg}", f"{b}_{cfg}"
            if ka in out and kb in out and "sec" in out[ka] \
                    and "sec" in out[kb]:
                doc[f"ratio_{ka}_to_{kb}"] = {
                    "wall": round(out[kb]["sec"] / out[ka]["sec"], 2),
                    "data": dr,
                }
    with open(os.path.join(REPO, "KNN_SCALE_PROBE.json"), "w") as f:
        json.dump(doc, f, indent=2)
        f.write("\n")
    print(json.dumps({k: v for k, v in doc.items()
                      if k.startswith("ratio_")}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
