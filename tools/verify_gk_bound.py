"""Verify the sf0.1 `search_percentiles_approx` divergence is inside
percentile_approx's contract (VERDICT r15 directive 5: caps that bind
only at density must be value-checked where they bind, or the
divergence documented WITH evidence).

At sf0.1 the entry's hit set (`event_type:error`, 19,810 rows) exceeds
accuracy=10000 for the first time, so the Greenwald-Khanna summary
compresses and the returned quantiles stop equaling exact
percentile_disc. GK guarantees rank error <= ceil(n / accuracy): this
script recomputes the exact sorted hit values in DuckDB, finds the
RANK WINDOW each approx value occupies, and asserts it lies within
the bound of the target rank. Exit 0 + a JSON line when every
quantile honors the bound.

Usage: python tools/verify_gk_bound.py [sf_dir]
"""

from __future__ import annotations

import json
import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ACCURACY = 10000
#: percentiles_agg_approx's default ps
QUANTILES = [0.25, 0.5, 0.75, 0.9, 0.99]
COLS = ["p25", "p50", "p75", "p90", "p99"]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    import duckdb

    from toshokan_spark.session import local_session

    spark = local_session("verify_gk_bound")

    import __spark_entry__ as entry

    row = entry.queries()["search_percentiles_approx"](
        spark, sf_dir).collect()[0]
    approx = [float(row[c]) for c in COLS]

    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * "
            f"FROM '{sf_dir}/events.parquet'")
    vals = [v for (v,) in con.sql(
        "SELECT value FROM events WHERE event_type = 'error' "
        "ORDER BY value").fetchall()]
    n = len(vals)
    bound = math.ceil(n / ACCURACY)
    out = {"n_hits": n, "rank_error_bound": bound, "quantiles": {}}
    ok = True
    for q, a in zip(QUANTILES, approx):
        target = q * (n - 1)
        # the rank window this value occupies in the exact ordering
        import bisect

        lo = bisect.bisect_left(vals, a)
        hi = bisect.bisect_right(vals, a) - 1
        # distance from target rank to the nearest rank holding value a
        err = 0.0 if lo <= target <= hi else min(
            abs(lo - target), abs(hi - target))
        within = err <= bound + 1  # +1: target rank interpolation slack
        ok = ok and within
        out["quantiles"][str(q)] = {
            "approx_value": a, "rank_window": [lo, hi],
            "target_rank": round(target, 1),
            "rank_error": round(err, 1), "within_bound": within,
        }
    out["all_within_gk_bound"] = ok
    print(json.dumps(out))
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
