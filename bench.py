"""Benchmark harness: runs every queries() entry at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric", "value" (total sec), "unit", "queries"
(the N slowest, sized to fit the recorder's 2000-char stdout tail),
"n_queries", "sf"}. The FULL per-query map is written to
BENCH_LOCAL.json (committed per-round as BENCH_LOCAL_r{N}.json).

Each query is forced through full materialization with the noop sink
(count() would let Catalyst prune the projected columns and
under-report the work). One untimed warmup query runs first (JVM/
codegen warm), then every query runs at least twice and reports the
best run: the host shows episodic multi-second CPU-steal bursts, and
best-of-N keeps a burst that lands mid-query from being recorded as
the query's cost. Entries whose first run exceeds HEAVY_SECS get a
third run — a burst long enough to span two runs of a heavy query
otherwise stands as the recorded number (round-5 recorded
dedup_minhash_char at ~2x its real warm cost that way).

Best-of-N still cannot reject a SUSTAINED stall spanning all runs of
adjacent queries (r14: kmeans_embeddings recorded 23.7 s, 8x its real
cost, plus four embeddings-family neighbors drifted the same way), so
after the suite every entry whose recorded best exceeds its bound
(the committed bench-gate bound floor x 2.5, else 2.5x its last
committed per-round map value) is re-measured in a FRESH pass; both
numbers are recorded and the final map takes the min.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    from toshokan_spark.session import local_session, session_cpus

    cpus = session_cpus()
    spark = local_session(
        "toshokan_spark_bench",
        cpus,
        {
            "spark.sql.shuffle.partitions": str(max(cpus * 2, 8)),
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            # 222 queries in one JVM: the ContextCleaner's reference-
            # tracking queue (broadcasts, shuffles, cached blocks) drains
            # lazily by default and its backlog taxes late queries; a
            # periodic full GC bounds it (see BENCH_REMEASURE_r14.json —
            # the r13 1.14x late-suite drift reverted in a fresh session
            # with identical code).
            "spark.cleaner.periodicGC.interval": "2min",
        },
    )

    import __spark_entry__ as entry

    HEAVY_SECS = 2.0  # first-run threshold that earns a third run

    qs = entry.queries()

    # Untimed warmup: the first measured query otherwise pays one-off JVM
    # classloading + codegen compilation that no later query pays.
    try:
        warm = next(iter(qs.values()))
        warm(spark, sf_dir).write.format("noop").mode("overwrite").save()
    except Exception as e:
        print(f"# warmup failed: {e}", file=sys.stderr)

    results: dict[str, float] = {}
    raw_runs: dict[str, list[float]] = {}
    total = 0.0
    for qi, (name, fn) in enumerate(qs.items()):
        # Session hygiene every 25 queries: the r9 driver bench showed
        # the dedup family +30-60% with ZERO code changes — the one
        # variable was suite size (137 one-session queries vs 104).
        # Accumulated JVM pressure (broadcast/shuffle cleanup lag, old
        # codegen classes, tenured-heap growth) taxes late queries;
        # clearing the SQL cache and forcing one full GC at a fixed
        # cadence keeps a query's recorded cost independent of its
        # position in the suite, without per-query session restarts
        # (141 JVM starts would add ~45 min of pure startup).
        if qi and qi % 25 == 0:
            try:
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
        best = -1.0
        runs: list[float] = []
        n_runs = 2
        i = 0
        while i < n_runs:
            t0 = time.time()
            try:
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
            except Exception as e:  # keep the bench line parseable on errors
                print(f"# {name} failed: {e}", file=sys.stderr)
                dt = -1.0
                runs.append(dt)
                break
            runs.append(round(dt, 3))
            best = dt if best < 0 else min(best, dt)
            if i == 0 and dt > HEAVY_SECS:
                n_runs = 3
            i += 1
        # raw per-run times let a reader tell "one CPU-steal burst"
        # (one slow run, one fast) from a real plan regression (all
        # runs slow) — best-of-N alone hides that distinction
        raw_runs[name] = runs
        results[name] = round(best, 3)
        if best > 0:
            total += best

    # ---- post-suite stall re-measure (VERDICT r14 directive 1) ----
    # Best-of-N cannot reject a host I/O stall that spans EVERY run of
    # adjacent queries (r14 recorded kmeans_embeddings at 23.7 s — 8x
    # its real warm cost — because all three runs sat in one sustained
    # stall). After the suite, any entry whose recorded best exceeds
    # its bound — the committed bench-gate bound (FLOOR x MULTIPLIER,
    # tests/test_bench_gate.py) or 2.5x its last committed per-round
    # map value — gets a FRESH best-of-2 pass here, minutes away from
    # the original stall window. Both numbers are recorded
    # ("remeasured" in the artifact + a headline count); the final map
    # takes the min, since for a fixed plan the lower wall time is
    # strictly closer to the query's true cost.
    bounds: dict[str, float] = {}
    drift_bounds: dict[str, float] = {}
    try:
        import glob
        import re as _re

        maps = sorted(
            glob.glob(os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "BENCH_LOCAL_r*.json")),
            key=lambda p: int(_re.search(r"r(\d+)", p).group(1)),
        )
        if maps:
            with open(maps[-1]) as f:
                prior = json.load(f).get("queries", {})
            for n, v in prior.items():
                if isinstance(v, (int, float)) and v > 0:
                    bounds[n] = 2.5 * float(v)
        # drift trigger (VERDICT r15 directive 3): the 2.5x stall bound
        # let nine 1.5-1.9x drifts on byte-identical code into the r15
        # sealed map. Any entry >1.5x its best COMMITTED per-round map
        # value (min across all sealed maps — "what this plan has
        # proven it can do on this host") also gets the fresh pass; an
        # absolute 0.1 s slack keeps sub-noise entries (0.05 -> 0.09 s)
        # from burning re-measure slots.
        best_committed: dict[str, float] = {}
        for mp in maps:
            with open(mp) as f:
                for n, v in json.load(f).get("queries", {}).items():
                    if isinstance(v, (int, float)) and v > 0:
                        b = best_committed.get(n)
                        best_committed[n] = (
                            float(v) if b is None else min(b, float(v)))
        for n, b in best_committed.items():
            drift_bounds[n] = max(1.5 * b, b + 0.1)
    except Exception as e:
        print(f"# prior-map bounds unavailable: {e}", file=sys.stderr)
    try:
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "bench_gate", os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "tests", "test_bench_gate.py"))
        gate = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(gate)
        for n, floor in gate.FLOORS.items():
            b = floor * gate.MULTIPLIER
            bounds[n] = max(bounds.get(n, 0.0), b)
    except Exception as e:
        print(f"# gate bounds unavailable: {e}", file=sys.stderr)

    def _trigger(n: str) -> float:
        """The tightest bound this entry exceeds (inf if none)."""
        cands = [b for b in (bounds.get(n), drift_bounds.get(n))
                 if b is not None]
        return min(cands) if cands else float("inf")

    suspects = sorted(
        (n for n, v in results.items()
         if v > 0 and v > _trigger(n)),
        key=lambda n: -(results[n] / _trigger(n)),
    )[:40]  # slowest-excess first; cap the extra passes (raised from
    # 20 with the r16 drift trigger — a re-measure is a cheap
    # best-of-2, and 9 drifts + real stalls must all fit)
    remeasured: dict[str, dict] = {}
    if suspects:
        try:
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        for name in suspects:
            fresh = -1.0
            f_runs: list[float] = []
            for _ in range(2):
                t0 = time.time()
                try:
                    qs[name](spark, sf_dir).write.format("noop").mode(
                        "overwrite").save()
                    dt = time.time() - t0
                except Exception as e:
                    print(f"# remeasure {name} failed: {e}",
                          file=sys.stderr)
                    break
                f_runs.append(round(dt, 3))
                fresh = dt if fresh < 0 else min(fresh, dt)
            if fresh > 0:
                remeasured[name] = {
                    "recorded": results[name],
                    "fresh": round(fresh, 3),
                    "bound": round(_trigger(name), 3),
                    "trigger": ("stall" if name in bounds
                                and results[name] > bounds[name]
                                else "drift"),
                    "runs": f_runs,
                }
                if fresh < results[name]:
                    total -= results[name] - fresh
                    results[name] = round(fresh, 3)

    # Raw per-run times go to stderr on their own line: the harness that
    # records the bench keeps only the last ~2000 chars of output and
    # parses the final JSON line, so the headline line must stay compact
    # (embedding "runs" in it overflowed that buffer and the round-4
    # bench was recorded as unparsed).
    print(json.dumps({"metric": "bench_raw_runs", "runs": raw_runs}), file=sys.stderr)

    # The FULL per-query map goes to a committed artifact file — with
    # 77+ entries it no longer fits the recorder's 2000-char stdout
    # tail (round 6's 77-query headline line came back `parsed: null`).
    local_path = os.environ.get(
        "SPARK_GRAFT_BENCH_LOCAL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"),
    )
    try:
        with open(local_path, "w") as f:
            json.dump(
                {
                    "metric": "total_query_wall_seconds",
                    "value": round(total, 3),
                    "unit": "sec",
                    "queries": results,
                    "raw_runs": raw_runs,
                    "remeasured": remeasured,
                    "sf": sf,
                },
                f,
                indent=2,
            )
            f.write("\n")
    except OSError as e:
        print(f"# could not write {local_path}: {e}", file=sys.stderr)

    # Headline stdout line: total + only the N slowest queries, shrunk
    # until the line is guaranteed to fit the 2000-char tail buffer.
    # FAILED queries (recorded as -1.0) sort to the BOTTOM of the
    # slowest list, so they must be surfaced explicitly — without the
    # "failed" key a broken round's headline would look green.
    failed = sorted(n for n, v in results.items() if v < 0)
    slowest = sorted(results.items(), key=lambda kv: -kv[1])
    # n_slow counts DOWN to 0 inclusive: the n_slow == 0 iteration
    # builds a queries-free headline that always fits, so `line` is
    # bound even when results is empty or every variant overflows
    n_slow = min(15, len(slowest))
    while True:
        line = json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": round(total, 3),
                "unit": "sec",
                "sf": sf,
                "n_queries": len(results),
                "n_failed": len(failed),
                "failed": failed[:10],
                "n_remeasured": len(remeasured),
                "full_map": os.path.basename(local_path),
                "queries": dict(sorted(slowest[:n_slow])),
            }
        )
        if len(line) <= 1800 or n_slow == 0:
            break
        n_slow -= 1
    print(line)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
