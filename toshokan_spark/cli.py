"""CLI with the reference's command surface
(`/root/reference/src/args.rs:129-132`: create | drop | index | merge
| search, plus the same flag names where they still make sense).

    python -m toshokan_spark.cli create  <config.yaml|json>
    python -m toshokan_spark.cli drop    <index>
    python -m toshokan_spark.cli index   <index> <file.jsonl|kafka://..> [--stream] [--commit-interval 30]
    python -m toshokan_spark.cli merge   <index>
    python -m toshokan_spark.cli delete  <index> <query>   # extra: delete-by-query tombstone
    python -m toshokan_spark.cli alter   <config.yaml|json> # extra: additive schema evolution
    python -m toshokan_spark.cli alias   <alias> <index> [--drop]  # extra: atomic re-point (blue/green reindex)
    python -m toshokan_spark.cli reindex <src> <dst>        # extra: live-row copy (materializes pending deletes)
    python -m toshokan_spark.cli search  <index> <query> [--limit 1] [--facet-by F] [--histogram-interval S]
                                         [--stats-field F] [--percentiles-field F [--approx [--approx-accuracy N]]]
                                         [--cardinality-by F [--cardinality-sketch-only]]
                                         [--top-hits-per F --order-by F [--top-k 3]] [--collapse-by F --order-by F]
                                         [--extended-stats-field F] [--histogram-field F --histogram-bin W]
                                         [--range-field F --range-edges 0,10,100]
                                         [--panel-facet F --panel-stats F [--panel-bin W]]  # one-scan composed panel
                                         [--composite-by F1,F2 [--composite-after V1,V2] [--composite-size N]]
                                         [--rare-terms F [--rare-max N]] [--filters 'a=Q;b=Q'] [--multi-terms F1,F2]
                                         [--pipeline-interval S --pipeline-value F [--moving-window N]]
                                         [--bucket-script 'N=EXPR'] [--bucket-selector EXPR]
                                         [--bucket-sort 'C:desc[,C2]' [--bucket-from N --bucket-size N]]
                                         [--sort-by F[:desc] --tiebreak F [--after SORTV,TIEV]]  # search_after keyset paging
                                         [--weighted-avg V,W] [--mad-field F] [--adjacency 'a=Q;b=Q']
                                         [--histogram-auto N] [--percentile-ranks F=V1,V2]
                                         [--sample-rate R --sample-by F]  # deterministic sampler for any panel
    python -m toshokan_spark.cli vacuum  <index>   # extra: orphaned-segment cleanup
    python -m toshokan_spark.cli stats   <index>   # extra: segments + zone maps, manifest-only
    python -m toshokan_spark.cli curate  <index> [--url-field F --block-domains D1,D2] [--dsir-target Q] [--output DIR]  # extra: curation recipe

The Postgres ``--db`` flag becomes ``--catalog <dir>`` (env
``TOSHOKAN_CATALOG``, default ``./.toshokan``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from toshokan_spark.catalog import FsCatalog
from toshokan_spark.storage import join_path
from toshokan_spark.config import IndexConfig


def _spark():
    from toshokan_spark.session import local_session

    return local_session("toshokan_spark")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="toshokan_spark")
    p.add_argument("--catalog", default=os.environ.get("TOSHOKAN_CATALOG", ".toshokan"))
    sub = p.add_subparsers(dest="cmd", required=True)

    pc = sub.add_parser("create")
    pc.add_argument("config_path")

    pd = sub.add_parser("drop")
    pd.add_argument("index")

    pi = sub.add_parser("index")
    pi.add_argument("index")
    pi.add_argument("input")
    pi.add_argument("--stream", action="store_true")
    # reference default 30 s (`src/args.rs:71-79`)
    pi.add_argument("--commit-interval", type=float, default=30.0)
    pi.add_argument("--alerts-dir", default=None,
                    help="with --stream: percolate each micro-batch "
                         "against the index's registered standing "
                         "queries (see the `percolator` command) and "
                         "append (id, query_id, batch_id) matches as "
                         "Parquet here")

    pm = sub.add_parser("merge")
    pm.add_argument("index")
    pm.add_argument("--cluster-by", default=None, metavar="F",
                    help="range-clustered compaction: rewrite the index "
                         "into --clusters value-disjoint segments on this "
                         "field so manifest zone maps prune range/equality "
                         "queries (one-dimensional ZORDER analog)")
    pm.add_argument("--clusters", type=int, default=4)
    pm.add_argument("--approx-bounds", action="store_true",
                    help="approx_percentile split bounds (the 100 TB "
                         "default — bounds only steer placement)")

    pa = sub.add_parser(
        "alter",
        help="additive schema evolution: append new fields to an "
             "existing index (old segments null-fill them at read)",
    )
    pa.add_argument("config_path")

    pr = sub.add_parser(
        "reindex",
        help="copy every live row of one index into another (pending "
             "deletes materialize into the copy); pair with 'alias' "
             "for a zero-downtime blue/green rebuild",
    )
    pr.add_argument("src")
    pr.add_argument("dst")
    pr.add_argument("--at-version", type=int, default=None, metavar="V",
                    help="read src AS OF catalog version V — the "
                         "snapshot-restore path: rows deleted after the "
                         "snapshot come back in the copy")

    pal = sub.add_parser(
        "alias",
        help="point an alias at an index (atomic re-point — the "
             "blue/green reindex swap); --drop removes it",
    )
    pal.add_argument("alias")
    pal.add_argument("index", nargs="?", default=None)
    pal.add_argument("--drop", action="store_true")

    prl = sub.add_parser(
        "rollover",
        help="ES rollover: when the index behind ALIAS exceeds "
             "--max-docs rows or --max-segments segments, create the "
             "next -NNNNNN generation with the same config and "
             "atomically re-point the alias (manifest reads only; "
             "older generations stay queryable via <base>-*)",
    )
    prl.add_argument("alias")
    prl.add_argument("--max-docs", type=int, default=None)
    prl.add_argument("--max-segments", type=int, default=None)

    pdel = sub.add_parser(
        "delete",
        help="record a delete-by-query tombstone: every read masks "
             "matching rows immediately; a merge materializes the "
             "delete physically (GDPR-style removal)",
    )
    pdel.add_argument("index")
    pdel.add_argument("query")

    pv = sub.add_parser("vacuum")
    pv.add_argument("index")
    # in-flight write guard: dirs younger than this survive (0 = reap all)
    pv.add_argument("--min-age", type=float, default=900.0)

    pst = sub.add_parser("stats")
    pst.add_argument("index")

    ps = sub.add_parser("search")
    ps.add_argument("index")
    ps.add_argument("query")
    # reference default limit 1 (`src/args.rs:120-126`)
    ps.add_argument("--limit", type=int, default=1)
    # rank matches by BM25 of the query's term literals against FIELD
    # (the reference's relevance ordering, globally re-ranked)
    ps.add_argument("--score-field", default=None)
    ps.add_argument("--param", action="append", default=None,
                    metavar="NAME=VALUE",
                    help="ES search template: substitute {{NAME}} "
                         "placeholders in the query (repeatable; plain "
                         "substitution like _search/template — quote "
                         "structure in the template itself)")
    ps.add_argument("--more-like-this", default=None, metavar="SEED_ID",
                    help="instead of running the query, return the "
                         "documents most similar to the given seed doc "
                         "id (BM25 over the seed's characteristic "
                         "terms, commit-time stats); --mlt-field picks "
                         "the text field (default: first text field)")
    ps.add_argument("--mlt-field", default=None)
    ps.add_argument("--span-near", default=None, metavar="F:A,B,SLOP[,ordered]",
                    help="Lucene span_near proximity over the hit set: "
                         "keep hits where terms A and B occur within SLOP "
                         "intervening tokens of field F (either order "
                         "unless ',ordered'); prints each hit with its "
                         "minimum span_gap")
    # -- ES relevance-query family (VERDICT r14 directive 3): QUERY is
    # the organic/positive free text, scored BM25 over --score-field
    # (default: the first text field); top --limit by score ----------
    ps.add_argument("--pinned", default=None, metavar="ID1,ID2[,..]",
                    help="ES pinned query: the listed ids rank first in "
                         "LIST order (matching or not), then the organic "
                         "QUERY matches minus the pinned set")
    ps.add_argument("--boosting", default=None, metavar="NEG[:FACTOR]",
                    help="ES boosting query: rank by QUERY relevance, "
                         "DEMOTING (not excluding) hits that also match "
                         "the NEG terms by FACTOR (default 0.5)")
    ps.add_argument("--rank-feature", default=None,
                    metavar="F[:FN[:PIVOT]]",
                    help="ES rank_feature: QUERY relevance plus a "
                         "monotone function of numeric field F — FN one "
                         "of saturation (default; PIVOT defaults to the "
                         "corpus mean), log, sigmoid")
    ps.add_argument("--distance-feature", default=None,
                    metavar="F:PIVOT[:ORIGIN]",
                    help="ES distance_feature: QUERY relevance plus "
                         "pivot/(pivot+|F-origin|) — full boost at "
                         "ORIGIN (default 0), half at PIVOT away")
    # -- ES aggregation additions (same directive): panels over the
    # hit set, like --facet-by / --stats-field -----------------------
    ps.add_argument("--matrix-stats", default=None, metavar="F1,F2[,..]",
                    help="ES matrix_stats: pairwise covariance and "
                         "correlation over 2+ numeric fields of the hit "
                         "set (one row per ordered pair)")
    ps.add_argument("--top-metrics", default=None,
                    metavar="SORT:M1[,M2..][:asc]",
                    help="ES top_metrics: the metric values carried by "
                         "the top document by SORT (desc unless ':asc'); "
                         "per --top-metrics-by bucket, else whole hit set")
    ps.add_argument("--top-metrics-by", default=None, metavar="GROUP")
    ps.add_argument("--rate", default=None, metavar="month|day|hour",
                    help="ES rate aggregation: per calendar bucket of "
                         "the index time_field, the --rate-field sum "
                         "(default doc count) normalized to a "
                         "per---rate-unit rate by the bucket's ACTUAL "
                         "length")
    ps.add_argument("--rate-field", default=None)
    ps.add_argument("--rate-unit", type=int, default=86400,
                    metavar="SECONDS")
    ps.add_argument("--change-point", default=None,
                    metavar="month|day|hour",
                    help="ES change_point: detect where the bucketed "
                         "series of --change-point-field (default doc "
                         "count) over the index time_field changes — "
                         "step_change / spike / dip / stationary, "
                         "exact least-squares form")
    ps.add_argument("--change-point-field", default=None)
    ps.add_argument("--frequent-item-sets", default=None,
                    metavar="GROUP:ITEM[:MINSUP]",
                    help="ES frequent_item_sets (sizes 1-2, exact): "
                         "GROUP values are transactions of distinct "
                         "ITEM values; report sets with support >= "
                         "MINSUP (default 0.1)")
    ps.add_argument("--facet-by", default=None,
                    help="instead of hits, print top facet values of this "
                         "field over the hit set (terms aggregation)")
    ps.add_argument("--facet-k", type=int, default=10)
    ps.add_argument("--facet-order", choices=["count", "value"],
                    default="count",
                    help="terms-agg ranking: by hit count (default) or "
                         "by the --facet-value sub-metric sum")
    ps.add_argument("--facet-value", default=None, metavar="F",
                    help="also sum this numeric field per facet (and "
                         "rank by it under --facet-order value)")
    ps.add_argument("--histogram-interval", type=int, default=None,
                    help="instead of hits, print a date histogram of the hit "
                         "set over the index time_field at this interval "
                         "(seconds)")
    ps.add_argument("--stats-field", default=None,
                    help="instead of hits, print count/min/max/sum/avg of "
                         "this numeric field over the hit set (a match-all "
                         "query answers from the manifest's additive stats "
                         "without scanning any data)")
    ps.add_argument("--extended-stats-field", default=None,
                    help="instead of hits, print the stats panel plus "
                         "sum-of-squares / variance / stddev of this field")
    ps.add_argument("--histogram-field", default=None,
                    help="instead of hits, print a fixed-width numeric "
                         "histogram of this field (requires --histogram-bin)")
    ps.add_argument("--histogram-bin", type=float, default=None,
                    help="bucket width for --histogram-field")
    ps.add_argument("--range-field", default=None,
                    help="instead of hits, print counts per user-defined "
                         "bucket of this field (requires --range-edges)")
    ps.add_argument("--range-edges", default=None,
                    help="comma-separated ascending bucket edges for "
                         "--range-field, e.g. 0,10,100")
    ps.add_argument("--percentiles-field", default=None,
                    help="instead of hits, print discrete p25/p50/p75/p90/"
                         "p99 of this numeric field over the hit set")
    ps.add_argument("--approx", action="store_true",
                    help="with --percentiles-field: use percentile_approx "
                         "(Greenwald-Khanna, O(accuracy) memory, rank error "
                         "<= n/accuracy) instead of exact percentile_disc — "
                         "the corpus-scale path; exact when the hit count "
                         "fits the summary")
    ps.add_argument("--approx-accuracy", type=int, default=10000,
                    help="GK summary size for --approx (default 10000)")
    ps.add_argument("--cardinality-by", default=None,
                    help="instead of hits, print exact distinct count + KMV "
                         "estimate of this field over the hit set")
    ps.add_argument("--cardinality-sketch-only", action="store_true",
                    help="with --cardinality-by: KMV estimate only — skips "
                         "the exact-distinct side so the plan never shuffles "
                         "the raw key space (the 100 TB path)")
    ps.add_argument("--panel-facet", default=None, metavar="F",
                    help="composed one-scan panel: facet counts by F plus "
                         "--panel-stats histogram/stats/percentiles via "
                         "GROUPING SETS (one data scan for the whole panel)")
    ps.add_argument("--panel-stats", default=None, metavar="F",
                    help="numeric field for the composed panel's histogram/"
                         "stats sections (requires --panel-facet)")
    ps.add_argument("--panel-bin", type=float, default=50.0,
                    help="histogram bucket width for --panel-stats "
                         "(default 50)")
    ps.add_argument("--collapse-by", default=None, metavar="F",
                    help="ES field collapsing: keep only the best hit per "
                         "distinct value of F (best by --order-by desc, "
                         "ties by the first schema field), each annotated "
                         "with its group's inner-hit count; the collapsed "
                         "list honours --limit")
    ps.add_argument("--top-hits-per", default=None,
                    help="instead of a global limit, print the top hits "
                         "WITHIN each value of this field (requires "
                         "--order-by)")
    ps.add_argument("--order-by", default=None,
                    help="numeric field ranking hits for --top-hits-per "
                         "(descending; ties by the first schema field)")
    ps.add_argument("--top-k", type=int, default=3)
    ps.add_argument("--suggest-field", default=None, metavar="F",
                    help="completion suggester: print the top corpus "
                         "tokens of text field F extending "
                         "--suggest-prefix, ranked by document frequency")
    ps.add_argument("--suggest-prefix", default=None, metavar="P")
    ps.add_argument("--suggest-k", type=int, default=10)
    ps.add_argument("--spell-field", default=None, metavar="F",
                    help="term suggester ('did you mean'): corrections "
                         "for --spell-term from field F's vocabulary, "
                         "ranked (edit distance, df desc)")
    ps.add_argument("--spell-term", default=None, metavar="T")
    ps.add_argument("--spell-max-dist", type=int, default=2)
    ps.add_argument("--phrase-suggest-field", default=None, metavar="F",
                    help="ES phrase suggester: correct the whole "
                         "--phrase-suggest-text using per-word vocabulary "
                         "candidates ranked by the corpus bigram language "
                         "model (the sequence-aware 'did you mean')")
    ps.add_argument("--phrase-suggest-text", default=None, metavar="T")
    ps.add_argument("--phrase-suggest-k", type=int, default=3)
    ps.add_argument("--sibling-interval", type=int, default=None,
                    metavar="S",
                    help="sibling pipeline aggs: max/min/avg/sum_bucket "
                         "over the S-second date histogram of "
                         "--sibling-value (one summary row)")
    ps.add_argument("--sibling-value", default=None, metavar="F")
    ps.add_argument("--boxplot-field", default=None, metavar="F",
                    help="ES boxplot agg: quartiles (exact), min/max, IQR "
                         "and the 1.5*IQR whiskers of numeric field F over "
                         "the hit set (one summary row)")
    ps.add_argument("--string-stats-field", default=None, metavar="F",
                    help="ES string_stats: length moments + Shannon entropy "
                         "of field F's character distribution over the hit "
                         "set")
    ps.add_argument("--t-test", default=None, metavar="F;QA;QB",
                    help="ES t_test agg (Welch's): t statistic of numeric "
                         "field F between the populations matching queries "
                         "QA and QB (engine query syntax, ';'-separated), "
                         "computed in one conditional-aggregation scan over "
                         "the hit set")
    ps.add_argument("--diversify-by", default=None, metavar="F",
                    help="ES diversified_sampler: the top --sample-size "
                         "hits by (--order-by desc, first schema field) "
                         "with at most --diversify-max per distinct value "
                         "of F (requires --order-by)")
    ps.add_argument("--diversify-max", type=int, default=1)
    ps.add_argument("--sample-size", type=int, default=100)
    ps.add_argument("--cumulative-cardinality", default=None, metavar="F",
                    help="ES cumulative_cardinality: exact distinct count "
                         "of field F accumulated over --cum-interval-second "
                         "buckets of the index time_field (first-seen "
                         "decomposition — no per-bucket sketch unions)")
    ps.add_argument("--cum-interval", type=int, default=86400, metavar="S")
    ps.add_argument("--ks-test", default=None, metavar="F;QA;QB;W",
                    help="two-sample Kolmogorov-Smirnov D between the "
                         "field-F distributions of queries QA and QB on a "
                         "shared width-W grid (one conditional scan)")
    ps.add_argument("--slice", default=None, metavar="I:M",
                    help="ES sliced scroll: return slice I of M by the "
                         "doc-id hash — M workers with distinct I values "
                         "partition the hit set exactly (parallel export)")
    ps.add_argument("--explain-top", type=int, default=None, metavar="K",
                    help="with --score-field: instead of hits, print the "
                         "ES _explain breakdown of the top K BM25 hits — "
                         "one row per (doc, query term) with tf/dl/df/idf "
                         "and the term's contribution")
    ps.add_argument("--runtime-field", action="append", default=None,
                    metavar="NAME=EXPR",
                    help="ES runtime mapping: define NAME as a Spark SQL "
                         "expression over the hit frame, usable by every "
                         "panel flag (repeatable; computed in codegen at "
                         "query time, never materialized in the index)")
    ps.add_argument("--significant-terms", default=None, metavar="F",
                    help="instead of hits, print the JLH-significant terms "
                         "of text field F in the hit set vs the whole index "
                         "(background df from the commit-time stats "
                         "parquets — no corpus re-scan)")
    ps.add_argument("--sig-k", type=int, default=10)
    ps.add_argument("--sig-min-doc", type=int, default=1)
    ps.add_argument("--composite-by", default=None, metavar="F1,F2",
                    help="composite aggregation: page through distinct "
                         "key tuples in ascending key order (resumable "
                         "terms pagination; see --composite-after)")
    ps.add_argument("--composite-after", default=None, metavar="V1,V2",
                    help="resume cursor: the last key tuple of the "
                         "previous page (values match --composite-by "
                         "arity; numeric fields parsed as numbers)")
    ps.add_argument("--composite-size", type=int, default=10)
    ps.add_argument("--rare-terms", default=None, metavar="F",
                    help="rare-terms aggregation: every F value in at "
                         "most --rare-max hits (exact long-tail terms)")
    ps.add_argument("--rare-max", type=int, default=1)
    ps.add_argument("--filters", default=None, metavar="NAME=Q;NAME=Q",
                    help="filters aggregation: N named query buckets "
                         "counted in ONE scan (';'-separated name=query "
                         "pairs in the search language)")
    ps.add_argument("--multi-terms", default=None, metavar="F1,F2",
                    help="multi-terms aggregation: top --facet-k "
                         "composite-key buckets by descending count")
    ps.add_argument("--pipeline-interval", type=int, default=None,
                    metavar="SECONDS",
                    help="pipeline aggregations: date histogram of "
                         "--pipeline-value plus derivative / cumulative "
                         "sum / trailing --moving-window moving average")
    ps.add_argument("--pipeline-value", default=None, metavar="F")
    ps.add_argument("--moving-window", type=int, default=3)
    ps.add_argument("--histogram-fill-empty", action="store_true",
                    help="ES min_doc_count:0 — emit gap buckets with "
                         "zero counts so the series is contiguous")
    ps.add_argument("--serial-diff-lag", type=int, default=None,
                    help="add ES serial_diff (lag-N difference) to the "
                         "--pipeline-interval frame")
    ps.add_argument("--moving-fn", default=None, metavar="F",
                    help="ES moving_fn: the six built-in window "
                         "functions (sum/min/max/unweightedAvg/stdDev/"
                         "linearWeightedAvg) of F's per-bucket sum over "
                         "a --pipeline-interval date histogram; window "
                         "is the --moving-window buckets BEFORE each "
                         "bucket (ES shift 0), shifted by "
                         "--moving-shift")
    ps.add_argument("--moving-shift", type=int, default=0)
    ps.add_argument("--normalize", default=None, metavar="F",
                    help="ES normalize: percent_of_sum / rescale_0_1 / "
                         "rescale_0_100 / mean / z-score of F's "
                         "per-bucket sum across a --pipeline-interval "
                         "date histogram (softmax excluded: exp is not "
                         "bit-stable cross-engine)")
    ps.add_argument("--bucket-script", default=None, metavar="N=EXPR[;...]",
                    help="bucket_script pipeline stage: add computed "
                         "metric columns (SQL over the bucket metrics) "
                         "before --bucket-selector/--bucket-sort")
    ps.add_argument("--bucket-selector", default=None, metavar="EXPR",
                    help="HAVING-style pipeline stage over --facet-by / "
                         "--histogram-interval buckets: keep buckets where "
                         "this SQL boolean over the bucket columns holds "
                         "(e.g. 'n_hits >= 10')")
    ps.add_argument("--bucket-sort", default=None, metavar="SPEC",
                    help="bucket_sort pipeline stage: order buckets by "
                         "'COL[:asc|desc][,...]', truncated by "
                         "--bucket-from/--bucket-size")
    ps.add_argument("--bucket-from", type=int, default=0)
    ps.add_argument("--bucket-size", type=int, default=None)
    ps.add_argument("--sample-rate", type=float, default=None,
                    help="sampler aggregation (ES sampler analog): run "
                         "every requested aggregation over a DETERMINISTIC "
                         "hash sample of the hit set — same rows every run, "
                         "rate increases only ADD rows (requires "
                         "--sample-by)")
    ps.add_argument("--sample-by", default=None, metavar="F",
                    help="key field for --sample-rate hashing")
    ps.add_argument("--percentile-ranks", default=None, metavar="F=V1,V2",
                    help="percentile-ranks aggregation: the percentage "
                         "of hit-set F values at or below each probe "
                         "(the inverse of --percentiles-field; exact, "
                         "one conditional-agg pass)")
    ps.add_argument("--histogram-auto", type=int, default=None,
                    metavar="N",
                    help="auto-interval date histogram: pick the "
                         "smallest ladder interval giving at most N "
                         "epoch-aligned buckets over the hit set")
    ps.add_argument("--weighted-avg", default=None, metavar="V,W",
                    help="weighted-average aggregation: sum(V*W)/sum(W) "
                         "over the hit set, decimal-exact moments")
    ps.add_argument("--mad-field", default=None, metavar="F",
                    help="median-absolute-deviation of F over the hit "
                         "set (exact percentile_disc medians)")
    ps.add_argument("--adjacency", default=None, metavar="NAME=Q;NAME=Q",
                    help="adjacency-matrix aggregation: N named buckets "
                         "+ every pairwise intersection, ONE scan")
    ps.add_argument("--sort-by", dest="search_sort", default=None,
                    metavar="F[:desc]",
                    help="deterministic hit ordering by this field "
                         "(':desc' for descending; ties by nothing — "
                         "pick a unique field for total order)")
    ps.add_argument("--fields", default=None,
                    help="comma-separated output projection; pruned all "
                         "the way into the parquet scan's ReadSchema")
    ps.add_argument("--after", default=None, metavar="SORTV,TIEV",
                    help="search_after keyset pagination: the previous "
                         "page's last (sort, tiebreak) values; needs "
                         "--sort-by and --tiebreak. Compiles to a range "
                         "prune BEFORE the top-k cut — page N costs "
                         "page-1 money")
    ps.add_argument("--tiebreak", default=None, metavar="F",
                    help="unique ascending tiebreak field for --after")
    ps.add_argument("--highlight", default=None, metavar="F",
                    help="emit hits with this field's positive query "
                         "words <em>-wrapped (word-boundary, "
                         "case-insensitive)")
    ps.add_argument("--highlight-frag", type=int, default=None,
                    metavar="N",
                    help="trim the highlighted field to an N-char "
                         "fragment around the first match")
    ps.add_argument("--at-version", type=int, default=None,
                    help="time-travel: run against the index snapshot "
                         "at this retained manifest version (see "
                         "'stats' for the retained range)")

    pe = sub.add_parser(
        "explain",
        help="show manifest pruning decisions and the physical plan for a query",
    )
    pe.add_argument("index")
    pe.add_argument("query")

    pvi = sub.add_parser(
        "verify",
        help="index integrity check (fsck): manifested segments exist "
             "and match their manifest row counts, zone maps are "
             "consistent, stats parquets present, orphan seg-* dirs "
             "listed; exit 1 when findings exist",
    )
    pvi.add_argument("index")
    pvi.add_argument("--no-count", action="store_true",
                     help="skip the per-segment parquet row counts "
                          "(manifest/storage checks only, no Spark)")

    pls = sub.add_parser(
        "list",
        help="every index and alias with segment/row/pending-delete "
             "counts — manifest reads only, no Spark session",
    )

    psn = sub.add_parser(
        "snapshot",
        help="copy an index's current state (config, manifest "
             "metadata, pending deletes, segment data + stats) into a "
             "self-contained directory any catalog can restore from",
    )
    psn.add_argument("index")
    psn.add_argument("dest")

    prs = sub.add_parser(
        "restore",
        help="register a snapshot directory into this catalog "
             "(optionally under --as NAME beside a live original); "
             "pending deletes restore with it",
    )
    prs.add_argument("snapshot_dir")
    prs.add_argument("--as", dest="as_name", default=None)
    prs.add_argument("--path", default=None,
                     help="data path for the restored index (default: "
                          "derived from the snapshot's path and --as)")

    pan = sub.add_parser(
        "analyze",
        help="ES _analyze: show how a text analyzes under a field's "
             "tokenizer (or an explicit --tokenizer), one token per "
             "output element",
    )
    pan.add_argument("index")
    pan.add_argument("field_or_text")
    pan.add_argument("text", nargs="?", default=None)
    pan.add_argument("--tokenizer", default=None,
                     choices=["default", "raw", "whitespace", "en_stem"])

    pfc = sub.add_parser(
        "fields",
        help="ES _field_caps: every declared field's type, tokenizer, "
             "fast flag and whether commit-time stats exist for it",
    )
    pfc.add_argument("index")

    pms = sub.add_parser(
        "msearch",
        help="ES _msearch: run a file of queries (one per line, or "
             "JSON lines {query, limit}) against an index in ONE "
             "session — amortizes JVM startup across the batch; "
             "output lines are tagged with the 0-based query number",
    )
    pms.add_argument("index")
    pms.add_argument("file")
    pms.add_argument("--limit", type=int, default=1,
                     help="default per-query limit (JSON lines may "
                          "override)")

    pcn = sub.add_parser(
        "count",
        help="ES _count: the number of documents matching a query. "
             "Match-all answers from the manifest alone (zero data "
             "scan, delete-aware only when no tombstones are pending)",
    )
    pcn.add_argument("index")
    pcn.add_argument("query", nargs="?", default="*")
    pcn.add_argument("--at-version", type=int, default=None)

    pvq = sub.add_parser(
        "validate",
        help="ES _validate/query: parse a query against an index's "
             "schema without running it; prints the parsed tree or "
             "the error",
    )
    pvq.add_argument("index")
    pvq.add_argument("query")

    pp = sub.add_parser(
        "percolator",
        help="manage standing queries (ES percolator): register a "
             "query id, --drop one, or --list the registered set",
    )
    pp.add_argument("index")
    pp.add_argument("query_id", nargs="?", default=None)
    pp.add_argument("query", nargs="?", default=None)
    pp.add_argument("--drop", default=None, metavar="QUERY_ID")
    pp.add_argument("--list", action="store_true", dest="list_monitors")

    ppc = sub.add_parser(
        "percolate",
        help="match a JSONL batch of documents against the index's "
             "registered standing queries (search REVERSED — the "
             "alerting primitive); prints one (doc, query_id) line "
             "per match",
    )
    ppc.add_argument("index")
    ppc.add_argument("file")
    ppc.add_argument("--id-field", default=None,
                     help="document field echoed per match (default: "
                          "the index's first schema field)")

    pu = sub.add_parser(
        "curate",
        help="run the curation recipe over an ingested index: canonicalize"
        " -> dedup -> quality gate -> CCNet thinning -> optional DSIR rank"
        " -> leakage-safe split -> sequence packing",
    )
    pu.add_argument("index")
    pu.add_argument("--id-field", default="doc_id")
    pu.add_argument("--text-field", default="text")
    pu.add_argument("--source-field", default=None,
                    help="shard/grouping field (default: whole index is one shard)")
    pu.add_argument("--url-field", default=None,
                    help="URL front gate: canonical-URL dedup (and the "
                    "--block-domains blocklist) runs on this field BEFORE "
                    "any text stage; undeclared fields resolve from "
                    "_dynamic")
    pu.add_argument("--block-domains", default=None,
                    help="comma-separated registered domains dropped by "
                    "the URL front gate (needs --url-field)")
    pu.add_argument("--fractions", default="train=0.8,valid=0.1,test=0.1")
    pu.add_argument("--seq-len", type=int, default=2048)
    pu.add_argument("--n-buckets", type=int, default=3)
    pu.add_argument("--tail-rate", type=float, default=0.1)
    pu.add_argument("--jaccard-k", type=int, default=3)
    pu.add_argument("--jaccard-threshold", type=float, default=0.5)
    pu.add_argument("--dedup-method", choices=["jaccard", "minhash"],
                    default="jaccard",
                    help="near-dup pair generator: exact co-shingle"
                    " jaccard, or banded MinHash-LSH (the scale path)")
    pu.add_argument("--quality-model", default=None,
                    help="trained (idx, w) weight-table parquet: adds the"
                    " hashed-feature classifier gate after the Gopher rules")
    pu.add_argument("--quality-model-dim", type=int, default=4096)
    pu.add_argument("--train-quality-query", default=None, metavar="Q",
                    help="train the hashed classifier IN-pipeline: query "
                    "matches are the positive seed, the gate keeps docs "
                    "with strictly positive model evidence (pseudo-label "
                    "expansion; excludes --quality-model)")
    pu.add_argument("--train-quality-threshold", type=float, default=None,
                    help="absolute prob cut (>=) overriding the strict "
                    "positive-evidence gate")
    pu.add_argument("--ensemble-threshold", type=float, default=None,
                    help="rank-fusion quality-ensemble gate: keep docs whose"
                    " fused normalized rank over (length, diversity, -mean"
                    " word length) is >= this threshold in [0,1]")
    pu.add_argument("--dsir-target", default=None,
                    help="index query selecting the DSIR target subset"
                    " (adds a log_weight column to the output)")
    pu.add_argument("--repeat-budget", type=int, default=None,
                    help="token budget for train-split epoch repetition "
                         "(data-constrained regime; scarce sources repeat)")
    pu.add_argument("--mixture-alpha", type=float, default=0.5,
                    help="mixing temperature for the repetition plan")
    pu.add_argument("--curriculum-stages", type=int, default=None,
                    help="order the train stream easy-first into this many "
                         "difficulty stages before packing")
    pu.add_argument("--seed", type=int, default=0)
    pu.add_argument("--output", default=None,
                    help="write per-split documents + packed sequences here")

    a = p.parse_args(argv)
    catalog = FsCatalog(a.catalog)

    # every index-addressed command accepts an alias (resolved once,
    # BEFORE any dispatch, so ingest/merge/delete through an alias work
    # exactly like search; a concurrent re-point flips between whole
    # commands, never mid-plan)
    if getattr(a, "index", None) is not None and a.cmd != "alias":
        a.index = catalog.resolve(a.index)

    if a.cmd == "create":
        with open(a.config_path, encoding="utf-8") as f:
            text = f.read()
        if a.config_path.endswith((".yaml", ".yml")):
            config = IndexConfig.from_yaml(text)
        else:
            config = IndexConfig.from_dict(json.loads(text))
        from toshokan_spark.maintenance import create_index

        create_index(catalog, config)
        print(f"created index {config.name}")
        return 0

    if a.cmd == "drop":
        from toshokan_spark.maintenance import drop_index

        drop_index(catalog, a.index)
        print(f"dropped index {a.index}")
        return 0

    if a.cmd == "index":
        spark = _spark()
        if a.input.startswith("kafka://"):
            from toshokan_spark.sources.kafka import kafka_batch, kafka_stream

            if a.stream:
                from toshokan_spark.streaming import stream_index

                lines = kafka_stream(spark, a.input)
                q = stream_index(
                    lines,
                    catalog,
                    a.index,
                    checkpoint_dir=join_path(a.catalog, "checkpoints", a.index),
                    commit_interval=f"{a.commit_interval} seconds",
                    alerts_dir=a.alerts_dir,
                )
                q.awaitTermination()
                return 0
            lines = kafka_batch(spark, a.input)
            from toshokan_spark.indexer import index_batch

            entry = index_batch(spark, catalog, a.index, lines=lines)
        else:
            from toshokan_spark.indexer import index_batch

            src = a.input if a.input != "-" else None
            if src is None:
                from toshokan_spark.sources.jsonl import read_stdin

                entry = index_batch(spark, catalog, a.index, lines=read_stdin(spark))
            else:
                entry = index_batch(spark, catalog, a.index, jsonl_path=src)
        print(f"committed segment {entry.id} ({entry.num_rows} rows)" if entry else "empty batch")
        return 0

    if a.cmd == "reindex":
        from toshokan_spark.maintenance import reindex

        spark = _spark()
        entry = reindex(
            spark, catalog, catalog.resolve(a.src), catalog.resolve(a.dst),
            at_version=a.at_version,
        )
        if entry is None:
            print("reindexed 0 live rows (nothing committed)")
        else:
            print(f"reindexed into segment {entry.id} ({entry.num_rows} rows)")
        return 0

    if a.cmd == "rollover":
        if a.max_docs is None and a.max_segments is None:
            print("error: rollover needs --max-docs and/or --max-segments",
                  file=sys.stderr)
            return 2
        from toshokan_spark.catalog import CatalogError
        from toshokan_spark.maintenance import rollover

        try:
            rolled, old, new = rollover(
                catalog, a.alias, max_docs=a.max_docs,
                max_segments=a.max_segments,
            )
        except CatalogError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        if rolled:
            print(f"rolled over {a.alias}: {old} -> {new}")
        else:
            print(f"conditions not met; {a.alias} stays on {old}")
        return 0

    if a.cmd == "alias":
        if a.drop:
            catalog.drop_alias(a.alias)
            print(f"dropped alias {a.alias}")
        else:
            if a.index is None:
                print("error: alias needs an index (or --drop)",
                      file=sys.stderr)
                return 2
            catalog.set_alias(a.alias, a.index)
            print(f"alias {a.alias} -> {a.index}")
        return 0

    if a.cmd == "alter":
        with open(a.config_path, encoding="utf-8") as f:
            text = f.read()
        if a.config_path.endswith((".yaml", ".yml")):
            config = IndexConfig.from_yaml(text)
        else:
            config = IndexConfig.from_dict(json.loads(text))
        catalog.update_index(config)
        print(f"altered index {config.name} "
              f"({len(config.fields)} fields)")
        return 0

    if a.cmd == "delete":
        from toshokan_spark.query_sql import render_query_sql

        # fail fast on syntax AND compilation before recording: a
        # tombstone that parses but cannot compile against the schema
        # would brick every read and merge of the index (a text
        # render: no Spark session needed)
        render_query_sql(a.query, catalog.get_index(a.index))
        d = catalog.add_delete(a.index, a.query)
        print(f"recorded delete {d.id}: {a.query}")
        return 0

    if a.cmd == "merge":
        spark = _spark()
        if a.cluster_by:
            from toshokan_spark.maintenance import cluster_merge_segments

            entries = cluster_merge_segments(
                spark, catalog, a.index, a.cluster_by,
                n_clusters=a.clusters,
                exact_bounds=not a.approx_bounds,
            )
            if not entries:
                print("clustered: pending deletes wiped every row; "
                      "segments removed")
            else:
                for e in entries:
                    lo, hi = (e.field_stats or {}).get(
                        a.cluster_by, (None, None))
                    print(f"clustered segment {e.id} ({e.num_rows} rows, "
                          f"{a.cluster_by} in [{lo}, {hi}])")
            return 0
        from toshokan_spark.maintenance import merge_segments

        entry = merge_segments(spark, catalog, a.index)
        if entry is None:
            print("merged: pending deletes wiped every row; segments removed")
        else:
            print(f"merged into segment {entry.id} ({entry.num_rows} rows)")
        return 0

    if a.cmd == "vacuum":
        # no Spark session needed: pure storage-listing cleanup
        from toshokan_spark.maintenance import vacuum

        deleted = vacuum(catalog, a.index, min_age_seconds=a.min_age)
        print(f"vacuumed {len(deleted)} orphaned segment(s)"
              + (": " + ", ".join(deleted) if deleted else ""))
        return 0

    if a.cmd == "stats":
        # no Spark session: everything prints from the manifest alone
        from datetime import datetime, timezone

        config = catalog.get_index(a.index)

        def render(field, v):
            if field == config.time_field:  # stored as epoch micros
                return datetime.fromtimestamp(
                    v / 1_000_000, tz=timezone.utc
                ).strftime("%Y-%m-%dT%H:%M:%SZ")
            return v

        # one manifest snapshot: segments and deletes of one version
        _ver, segs, dels = catalog.snapshot(a.index)
        total = sum(s.num_rows for s in segs)
        vs = catalog.versions(a.index)
        tt = f", versions v{vs[0]}..v{vs[-1]}" if vs else ""
        dd = f", {len(dels)} pending delete(s)" if dels else ""
        print(f"{a.index}: {len(segs)} segment(s), {total} row(s){tt}{dd}")
        for d in dels:
            print(f"  delete {d.id}: {d.query}")
        for s in segs:
            days = f" days={s.min_day}..{s.max_day}" if s.min_day else ""
            zm = ""
            if s.field_stats:
                zm = " zones=" + ",".join(
                    f"{k}:[{render(k, v[0])}..{render(k, v[1])}]"
                    for k, v in sorted(s.field_stats.items())
                )
            bl = ""
            if s.token_blooms:
                bl = " blooms=" + ",".join(
                    f"{k}({v['m'] // 8}B)" for k, v in sorted(s.token_blooms.items())
                )
            print(f"  {s.file_name} rows={s.num_rows}{days}{zm}{bl}")
        return 0

    if a.cmd == "search" and a.param:
        # ES _search/template: plain {{NAME}} substitution, applied
        # before any query parsing; unresolved placeholders are an
        # error (a half-filled template silently matching everything
        # is worse than failing)
        import re as _re

        for spec in a.param:
            name, sep, value = spec.partition("=")
            if not sep or not name:
                print("error: --param wants NAME=VALUE", file=sys.stderr)
                return 2
            a.query = a.query.replace("{{" + name + "}}", value)
        left = _re.findall(r"\{\{(\w+)\}\}", a.query)
        if left:
            print(f"error: unresolved template params: {sorted(set(left))}",
                  file=sys.stderr)
            return 2

    if a.cmd == "search" and (
        "," in a.index or any(ch in a.index for ch in "*?[")
    ):
        # ES index-pattern search: logs-*,metrics — plain hits only
        # (panels aggregate one schema; run them per index). Flags
        # the pattern path cannot honor must ERROR, not silently
        # print plain hits as if the aggregation ran (ADVICE r13).
        _pattern_unsupported = [
            flag for flag, val in (
                ("--facet-by", a.facet_by),
                ("--facet-value", a.facet_value),
                ("--histogram-interval", a.histogram_interval),
                ("--stats-field", a.stats_field),
                ("--extended-stats-field", a.extended_stats_field),
                ("--histogram-field", a.histogram_field),
                ("--range-field", a.range_field),
                ("--percentiles-field", a.percentiles_field),
                ("--cardinality-by", a.cardinality_by),
                ("--top-hits-per", a.top_hits_per),
                ("--collapse-by", a.collapse_by),
                ("--significant-terms", a.significant_terms),
                ("--panel-facet", a.panel_facet),
                ("--composite-by", a.composite_by),
                ("--rare-terms", a.rare_terms),
                ("--filters", a.filters),
                ("--multi-terms", a.multi_terms),
                ("--pipeline-interval", a.pipeline_interval),
                ("--moving-fn", a.moving_fn),
                ("--normalize", a.normalize),
                ("--weighted-avg", a.weighted_avg),
                ("--mad-field", a.mad_field),
                ("--adjacency", a.adjacency),
                ("--histogram-auto", a.histogram_auto),
                ("--percentile-ranks", a.percentile_ranks),
                ("--suggest-field", a.suggest_field),
                ("--spell-field", a.spell_field),
                ("--sibling-interval", a.sibling_interval),
                ("--boxplot-field", a.boxplot_field),
                ("--string-stats-field", a.string_stats_field),
                ("--t-test", a.t_test),
                ("--diversify-by", a.diversify_by),
                ("--cumulative-cardinality", a.cumulative_cardinality),
                ("--ks-test", a.ks_test),
                ("--phrase-suggest-field", a.phrase_suggest_field),
                ("--score-field", a.score_field),
                ("--more-like-this", a.more_like_this),
                ("--span-near", a.span_near),
                ("--pinned", a.pinned),
                ("--boosting", a.boosting),
                ("--rank-feature", a.rank_feature),
                ("--distance-feature", a.distance_feature),
                ("--matrix-stats", a.matrix_stats),
                ("--top-metrics", a.top_metrics),
                ("--rate", a.rate),
                ("--change-point", a.change_point),
                ("--frequent-item-sets", a.frequent_item_sets),
                ("--order-by", a.order_by),
                ("--fields", a.fields),
                ("--slice", a.slice),
            ) if val
        ]
        if _pattern_unsupported:
            print(
                "error: index patterns return plain hits only; "
                f"{', '.join(_pattern_unsupported)} aggregate one "
                "schema — run them against a single index",
                file=sys.stderr,
            )
            return 2
        from toshokan_spark.search import multi_search_df, prettify_doc

        spark = _spark()
        try:
            df, names = multi_search_df(
                spark, catalog, a.index, a.query,
                limit=a.limit, at_version=a.at_version,
            )
        except ValueError as e:
            # --at-version over a 2+-index pattern is ambiguous (whose
            # version?); surface the CLI convention, not a traceback
            print(f"error: {e}", file=sys.stderr)
            return 2
        configs = {n: catalog.get_index(n) for n in names}
        for r in df.collect():
            d = r.asDict(recursive=True)
            idx = d.pop("_index")
            doc = {
                k: v for k, v in d.items()
                if k in {f.name for f in configs[idx].fields}
                or k == "_dynamic"
            }
            print(json.dumps(
                {"_index": idx,
                 "doc": json.loads(prettify_doc(doc, configs[idx]))},
                sort_keys=True, separators=(",", ":")))
        return 0

    if a.cmd == "search":
        spark = _spark()
        agg_mode = (a.facet_by or a.histogram_interval or a.stats_field
                    or a.percentiles_field or a.cardinality_by
                    or a.top_hits_per or a.collapse_by
                    or a.extended_stats_field
                    or a.histogram_field or a.range_field
                    or a.significant_terms or a.panel_facet
                    or a.composite_by or a.rare_terms or a.filters
                    or a.multi_terms or a.pipeline_interval
                    or a.moving_fn or a.normalize
                    or a.weighted_avg or a.mad_field or a.adjacency
                    or a.histogram_auto or a.percentile_ranks
                    or a.suggest_field or a.spell_field
                    or a.sibling_interval or a.boxplot_field
                    or a.string_stats_field or a.t_test or a.diversify_by
                    or a.cumulative_cardinality or a.ks_test
                    or a.phrase_suggest_field or a.matrix_stats
                    or a.top_metrics or a.rate or a.change_point
                    or a.frequent_item_sets)
        if agg_mode:
            from toshokan_spark.search import (
                cardinality_agg,
                date_histogram,
                extended_stats_agg,
                facet_counts,
                histogram_agg,
                manifest_stats,
                percentiles_agg,
                range_agg,
                search_df,
                stats_agg,
                top_hits_per_group,
            )

            def _emit(rows):
                for r in rows:
                    print(json.dumps(r.asDict(), sort_keys=True,
                                     separators=(",", ":"), default=str))

            # the hit-set plan is built lazily: a match-all stats panel
            # is answered from the manifest alone, and must not even
            # construct a scan over the data files
            _hits_plan: list = []

            def _panel_fields():
                """Every single-field name the requested panels will
                reference on the hit frame."""
                names = [
                    a.facet_by, a.facet_value, a.stats_field,
                    a.extended_stats_field, a.histogram_field,
                    a.range_field, a.percentiles_field, a.cardinality_by,
                    a.top_hits_per, a.collapse_by, a.order_by, a.mad_field,
                    a.rare_terms, a.pipeline_value, a.sample_by,
                    a.suggest_field, a.spell_field, a.sibling_value,
                    a.boxplot_field, a.string_stats_field, a.diversify_by,
                    a.cumulative_cardinality, a.phrase_suggest_field,
                    (a.t_test or "").split(";")[0].strip() or None,
                    (a.ks_test or "").split(";")[0].strip() or None,
                    a.panel_facet, a.panel_stats, a.significant_terms,
                    a.top_metrics_by, a.rate_field,
                    a.change_point_field,
                ]
                if a.frequent_item_sets:
                    names.extend(
                        x.strip()
                        for x in a.frequent_item_sets.split(":")[:2])
                for grouped in (a.multi_terms, a.composite_by,
                                a.matrix_stats):
                    if grouped:
                        names.extend(x.strip() for x in grouped.split(","))
                if a.top_metrics:
                    sort_f, _, rest = a.top_metrics.partition(":")
                    names.append(sort_f.strip())
                    names.extend(
                        m.strip()
                        for m in rest.split(":")[0].split(",") if m.strip()
                    )
                if a.weighted_avg:
                    names.extend(
                        x.strip() for x in a.weighted_avg.split(","))
                if a.percentile_ranks:
                    names.append(a.percentile_ranks.partition("=")[0].strip())
                return [n for n in names if n]

            def hits_df():
                if not _hits_plan:
                    df = search_df(spark, catalog, a.index, a.query,
                                   limit=None, at_version=a.at_version)
                    # runtime fields FIRST: a runtime name then looks
                    # declared to the _dynamic routing below (ES
                    # runtime mappings shadow dynamic lookups too);
                    # pure codegen expressions, never materialized
                    for spec in (a.runtime_field or []):
                        name, _, expr = spec.partition("=")
                        if not expr:
                            raise SystemExit(
                                "error: --runtime-field wants NAME=EXPR")
                        from pyspark.sql import functions as SF

                        df = df.withColumn(name.strip(), SF.expr(expr))
                    # unqualified -> _dynamic routing, the same rule
                    # the query compiler applies (SURVEY §2.4): a
                    # panel over a field the schema never declared
                    # reads it from the _dynamic remainder map (one
                    # narrow map-extract projection) instead of
                    # failing analysis
                    if "_dynamic" in df.columns:
                        from pyspark.sql import functions as SF

                        for n in _panel_fields():
                            if n not in df.columns:
                                # map values are JSON-rendered
                                # fragments; '$' decodes the scalar
                                # (strings unquoted, numbers as text)
                                df = df.withColumn(
                                    n,
                                    SF.get_json_object(
                                        SF.col("_dynamic").getItem(n), "$"
                                    ),
                                )
                    if a.sample_rate is not None:
                        if not a.sample_by:
                            raise SystemExit(
                                "error: --sample-rate requires --sample-by")
                        from toshokan_spark.operators.sampling import (
                            sample_by_hash,
                        )

                        df = sample_by_hash(df, a.sample_rate, a.sample_by)
                    _hits_plan.append(df)
                return _hits_plan[0]

            if a.stats_field:
                # match-all: the panel is pure manifest arithmetic —
                # zero data scans (falls back to the scan on manifests
                # that predate the additive stats)
                out = None
                if a.query.strip() == "*":
                    out = manifest_stats(
                        spark, catalog, catalog.get_index(a.index),
                        a.stats_field, at_version=a.at_version,
                    )
                if out is None:
                    out = stats_agg(hits_df(), a.stats_field)
                _emit(out.collect())
            if a.extended_stats_field:
                _emit(extended_stats_agg(hits_df(), a.extended_stats_field)
                      .collect())
            if a.histogram_field:
                if a.histogram_bin is None:
                    print("error: --histogram-field requires --histogram-bin",
                          file=sys.stderr)
                    return 2
                # match-all at the recorded width: manifest-only (zero
                # data scans); anything else falls back to the scan
                out = None
                if a.query.strip() == "*":
                    from toshokan_spark.search import manifest_histogram

                    out = manifest_histogram(
                        spark, catalog, catalog.get_index(a.index),
                        a.histogram_field, a.histogram_bin,
                        at_version=a.at_version,
                    )
                if out is None:
                    out = histogram_agg(
                        hits_df(), a.histogram_field, a.histogram_bin)
                _emit(out.orderBy("bucket_lo").collect())
            if a.range_field:
                if not a.range_edges:
                    print("error: --range-field requires --range-edges",
                          file=sys.stderr)
                    return 2
                edges = [float(x) for x in a.range_edges.split(",")]
                _emit(range_agg(hits_df(), a.range_field, edges)
                      .orderBy("bucket_idx").collect())
            if a.percentiles_field:
                if a.approx:
                    from toshokan_spark.search import percentiles_agg_approx

                    _emit(percentiles_agg_approx(
                        hits_df(), a.percentiles_field,
                        accuracy=a.approx_accuracy,
                    ).collect())
                else:
                    _emit(percentiles_agg(hits_df(), a.percentiles_field)
                          .collect())
            if a.cardinality_by:
                _emit(cardinality_agg(
                    hits_df(), a.cardinality_by,
                    sketch_only=a.cardinality_sketch_only,
                ).collect())
            if a.panel_facet:
                if not a.panel_stats:
                    print("error: --panel-facet requires --panel-stats",
                          file=sys.stderr)
                    return 2
                from toshokan_spark.search import panel_agg

                _emit(panel_agg(
                    hits_df(), a.panel_facet, a.panel_stats, a.panel_bin
                ).orderBy("section", "facet", "bucket_lo").collect())
            if a.composite_by:
                from toshokan_spark.search import composite_agg

                keys = [k.strip() for k in a.composite_by.split(",")]
                after = None
                if a.composite_after is not None:
                    config = catalog.get_index(a.index)
                    kinds = {f.name: f.type for f in config.fields}
                    vals = a.composite_after.split(",")
                    if len(vals) != len(keys):
                        print("error: --composite-after arity != "
                              "--composite-by", file=sys.stderr)
                        return 2
                    after = tuple(
                        float(v) if kinds.get(k) == "number" else v
                        for k, v in zip(keys, vals)
                    )
                _emit(composite_agg(
                    hits_df(), keys, size=a.composite_size, after=after
                ).collect())
            if a.rare_terms:
                from toshokan_spark.search import rare_terms_agg

                out = rare_terms_agg(hits_df(), a.rare_terms,
                                     max_doc_count=a.rare_max)
                _emit(out.orderBy("n_hits", a.rare_terms).collect())
            if a.filters:
                from toshokan_spark.search import filters_agg

                named = {}
                for pair in a.filters.split(";"):
                    name, _, q = pair.partition("=")
                    if not q:
                        print("error: --filters wants NAME=QUERY pairs",
                              file=sys.stderr)
                        return 2
                    named[name.strip()] = q
                _emit(filters_agg(
                    hits_df(), catalog.get_index(a.index), named
                ).collect())
            if a.multi_terms:
                from toshokan_spark.search import multi_terms_agg

                keys = [k.strip() for k in a.multi_terms.split(",")]
                _emit(multi_terms_agg(
                    hits_df(), keys, k=a.facet_k
                ).collect())
            if a.pipeline_interval and not (
                a.pipeline_value or a.moving_fn or a.normalize
            ):
                print("error: --pipeline-interval requires "
                      "--pipeline-value (or --moving-fn/--normalize)",
                      file=sys.stderr)
                return 2
            if a.pipeline_interval and a.pipeline_value:
                from toshokan_spark.search import pipeline_histogram_agg

                config = catalog.get_index(a.index)
                _emit(pipeline_histogram_agg(
                    hits_df(), config.time_field, a.pipeline_interval,
                    a.pipeline_value, moving_window=a.moving_window,
                    serial_diff_lag=a.serial_diff_lag,
                ).orderBy("bucket_epoch").collect())
            if a.moving_fn:
                if not a.pipeline_interval:
                    print("error: --moving-fn requires "
                          "--pipeline-interval", file=sys.stderr)
                    return 2
                from toshokan_spark.search import moving_fn_agg

                config = catalog.get_index(a.index)
                _emit(moving_fn_agg(
                    hits_df(), config.time_field, a.pipeline_interval,
                    a.moving_fn, window=a.moving_window,
                    shift=a.moving_shift,
                ).orderBy("bucket_epoch").collect())
            if a.normalize:
                if not a.pipeline_interval:
                    print("error: --normalize requires "
                          "--pipeline-interval", file=sys.stderr)
                    return 2
                from toshokan_spark.search import (
                    date_histogram,
                    normalize_agg,
                )

                config = catalog.get_index(a.index)
                _emit(normalize_agg(
                    date_histogram(hits_df(), config.time_field,
                                   a.pipeline_interval, a.normalize),
                    "total_value", "bucket_epoch",
                ).orderBy("bucket_epoch").collect())
            if a.percentile_ranks:
                from toshokan_spark.search import percentile_ranks_agg

                fld, _, vs = a.percentile_ranks.partition("=")
                if not vs:
                    print("error: --percentile-ranks wants F=V1,V2,...",
                          file=sys.stderr)
                    return 2
                probes = [float(x) for x in vs.split(",")]
                _emit(percentile_ranks_agg(hits_df(), fld.strip(), probes)
                      .orderBy("value").collect())
            if a.histogram_auto:
                from toshokan_spark.search import auto_date_histogram

                config = catalog.get_index(a.index)
                _emit(auto_date_histogram(
                    hits_df(), config.time_field,
                    target_buckets=a.histogram_auto,
                ).orderBy("bucket_epoch").collect())
            if a.weighted_avg:
                from toshokan_spark.search import weighted_avg_agg

                parts = [x.strip() for x in a.weighted_avg.split(",")]
                if len(parts) != 2:
                    print("error: --weighted-avg wants VALUE,WEIGHT",
                          file=sys.stderr)
                    return 2
                _emit(weighted_avg_agg(hits_df(), parts[0], parts[1])
                      .collect())
            if a.mad_field:
                from toshokan_spark.search import mad_agg

                _emit(mad_agg(hits_df(), a.mad_field).collect())
            if a.adjacency:
                from toshokan_spark.search import adjacency_matrix_agg

                named = {}
                for pair in a.adjacency.split(";"):
                    name, _, q = pair.partition("=")
                    if not q:
                        print("error: --adjacency wants NAME=QUERY pairs",
                              file=sys.stderr)
                        return 2
                    named[name.strip()] = q
                _emit(adjacency_matrix_agg(
                    hits_df(), catalog.get_index(a.index), named
                ).collect())
            if a.collapse_by:
                if not a.order_by:
                    print("error: --collapse-by requires --order-by",
                          file=sys.stderr)
                    return 2
                from toshokan_spark.search import collapse_agg

                config = catalog.get_index(a.index)
                id_col = config.fields[0].name
                _emit(collapse_agg(
                    hits_df(), a.collapse_by, a.order_by, id_col,
                    limit=a.limit,
                ).collect())
            if a.top_hits_per:
                if not a.order_by:
                    print("error: --top-hits-per requires --order-by",
                          file=sys.stderr)
                    return 2
                from toshokan_spark.search import prettify_doc

                config = catalog.get_index(a.index)
                id_col = config.fields[0].name
                out = top_hits_per_group(
                    hits_df(), a.top_hits_per, a.top_k,
                    order_col=a.order_by, id_col=id_col,
                )
                for r in sorted(
                    out.collect(),
                    key=lambda r: (str(r[a.top_hits_per]),
                                   r["rank_in_group"]),
                ):
                    d = r.asDict(recursive=True)
                    rank = d.pop("rank_in_group")
                    print(json.dumps(
                        {"rank_in_group": rank,
                         "doc": json.loads(prettify_doc(d, config))},
                        sort_keys=True, separators=(",", ":")))
            if a.suggest_field:
                if a.suggest_prefix is None:
                    print("error: --suggest-field requires "
                          "--suggest-prefix", file=sys.stderr)
                    return 2
                from toshokan_spark.search import suggest_completions

                _emit(suggest_completions(
                    hits_df(), a.suggest_field, a.suggest_prefix,
                    k=a.suggest_k,
                ).collect())
            if a.spell_field:
                if a.spell_term is None:
                    print("error: --spell-field requires --spell-term",
                          file=sys.stderr)
                    return 2
                from toshokan_spark.search import spell_correct

                _emit(spell_correct(
                    hits_df(), a.spell_field, a.spell_term,
                    max_dist=a.spell_max_dist,
                ).collect())
            if a.sibling_interval:
                if not a.sibling_value:
                    print("error: --sibling-interval requires "
                          "--sibling-value", file=sys.stderr)
                    return 2
                from toshokan_spark.search import sibling_bucket_aggs

                config = catalog.get_index(a.index)
                if config.time_field is None:
                    print("error: index has no time_field",
                          file=sys.stderr)
                    return 2
                _emit(sibling_bucket_aggs(
                    hits_df(), config.time_field, a.sibling_interval,
                    a.sibling_value,
                ).collect())
            if a.phrase_suggest_field:
                if not a.phrase_suggest_text:
                    print("error: --phrase-suggest-field requires "
                          "--phrase-suggest-text", file=sys.stderr)
                    return 2
                from toshokan_spark.search import phrase_suggest

                _emit(phrase_suggest(
                    hits_df(), a.phrase_suggest_field,
                    a.phrase_suggest_text, k=a.phrase_suggest_k,
                ).collect())
            if a.boxplot_field:
                from toshokan_spark.search import boxplot_agg

                _emit(boxplot_agg(hits_df(), a.boxplot_field).collect())
            if a.string_stats_field:
                from toshokan_spark.search import string_stats_agg

                _emit(string_stats_agg(
                    hits_df(), a.string_stats_field).collect())
            if a.t_test:
                parts = a.t_test.split(";")
                if len(parts) != 3:
                    print("error: --t-test wants F;QUERY_A;QUERY_B",
                          file=sys.stderr)
                    return 2
                from toshokan_spark.search import t_test_agg

                _emit(t_test_agg(
                    hits_df(), parts[0].strip(), parts[1], parts[2],
                    catalog.get_index(a.index),
                ).collect())
            if a.cumulative_cardinality:
                from toshokan_spark.search import cumulative_cardinality_agg

                config = catalog.get_index(a.index)
                if config.time_field is None:
                    print("error: index has no time_field",
                          file=sys.stderr)
                    return 2
                _emit(cumulative_cardinality_agg(
                    hits_df(), config.time_field, a.cum_interval,
                    a.cumulative_cardinality,
                ).orderBy("bucket_epoch").collect())
            if a.ks_test:
                parts = a.ks_test.split(";")
                if len(parts) != 4:
                    print("error: --ks-test wants F;QUERY_A;QUERY_B;WIDTH",
                          file=sys.stderr)
                    return 2
                from toshokan_spark.search import ks_test_agg

                _emit(ks_test_agg(
                    hits_df(), parts[0].strip(), parts[1], parts[2],
                    catalog.get_index(a.index), float(parts[3]),
                ).collect())
            if a.diversify_by:
                if not a.order_by:
                    print("error: --diversify-by requires --order-by",
                          file=sys.stderr)
                    return 2
                from toshokan_spark.search import diversified_sampler_agg

                config = catalog.get_index(a.index)
                id_field = config.fields[0].name
                _emit(diversified_sampler_agg(
                    hits_df(), a.diversify_by, a.order_by, id_field,
                    max_per_group=a.diversify_max,
                    shard_size=a.sample_size,
                ).collect())
            if a.significant_terms:
                from toshokan_spark.indexer import stats_path, text_stat_fields
                from toshokan_spark.search import significant_terms_from_stats

                config = catalog.get_index(a.index)
                toks = dict(text_stat_fields(config))
                if a.significant_terms not in toks:
                    print("error: --significant-terms needs a scalar text "
                          "field", file=sys.stderr)
                    return 2
                paths = [
                    stats_path(config, s.file_name)
                    for s in catalog.segments(a.index,
                                              at_version=a.at_version)
                ]
                if not paths:
                    print("error: index has no segments (nothing to "
                          "compare against)", file=sys.stderr)
                    return 2
                out = significant_terms_from_stats(
                    spark, hits_df(), a.significant_terms, paths,
                    a.significant_terms, tokenizer=toks[a.significant_terms],
                    k=a.sig_k, min_doc_count=a.sig_min_doc,
                )
                _emit(out.collect())
            if a.matrix_stats:
                from toshokan_spark.search import matrix_stats_agg

                flds = [x.strip() for x in a.matrix_stats.split(",")
                        if x.strip()]
                if len(flds) < 2:
                    print("error: --matrix-stats wants 2+ numeric fields",
                          file=sys.stderr)
                    return 2
                try:
                    out = matrix_stats_agg(hits_df(), flds)
                except ValueError as e:
                    print(f"error: {e}", file=sys.stderr)
                    return 2
                _emit(out.collect())
            if a.top_metrics:
                from pyspark.sql import functions as SF

                from toshokan_spark.search import top_metrics_agg

                parts = a.top_metrics.split(":")
                ascending = parts[-1].strip() == "asc"
                if ascending:
                    parts = parts[:-1]
                if len(parts) != 2 or not parts[0].strip():
                    print("error: --top-metrics wants "
                          "SORT:M1[,M2..][:asc]", file=sys.stderr)
                    return 2
                sort_f = parts[0].strip()
                metrics = [m.strip() for m in parts[1].split(",")
                           if m.strip()]
                if not metrics:
                    print("error: --top-metrics wants >=1 metric",
                          file=sys.stderr)
                    return 2
                config = catalog.get_index(a.index)
                df = hits_df()
                group = a.top_metrics_by
                if group is None:
                    # no bucket field: the whole hit set is ONE bucket
                    # (ES top_metrics outside a terms agg)
                    group = "__all"
                    df = df.withColumn(group, SF.lit(0))
                out = top_metrics_agg(
                    df, group, sort_f, metrics, config.fields[0].name,
                    descending=not ascending,
                )
                if a.top_metrics_by is None:
                    out = out.drop("__all")
                _emit(out.collect())
            if a.change_point:
                from toshokan_spark.search import change_point_agg

                config = catalog.get_index(a.index)
                if not config.time_field:
                    print("error: --change-point needs an index with "
                          "a time_field", file=sys.stderr)
                    return 2
                if a.change_point not in ("month", "day", "hour"):
                    print("error: --change-point wants month|day|hour",
                          file=sys.stderr)
                    return 2
                out = change_point_agg(
                    hits_df(), config.time_field,
                    value_col=a.change_point_field,
                    bucket=a.change_point,
                )
                _emit(out.collect())
            if a.frequent_item_sets:
                from toshokan_spark.search import frequent_item_sets_agg

                parts = [p.strip()
                         for p in a.frequent_item_sets.split(":")]
                if len(parts) not in (2, 3) or not all(parts[:2]):
                    print("error: --frequent-item-sets wants "
                          "GROUP:ITEM[:MINSUP]", file=sys.stderr)
                    return 2
                minsup = 0.1
                if len(parts) == 3:
                    try:
                        minsup = float(parts[2])
                    except ValueError:
                        print("error: --frequent-item-sets MINSUP "
                              "must be a number", file=sys.stderr)
                        return 2
                out = frequent_item_sets_agg(
                    hits_df(), parts[0], parts[1], min_support=minsup)
                _emit(out.collect())
            if a.rate:
                from toshokan_spark.search import rate_agg

                config = catalog.get_index(a.index)
                if not config.time_field:
                    print("error: --rate needs an index with a "
                          "time_field", file=sys.stderr)
                    return 2
                try:
                    out = rate_agg(
                        hits_df(), config.time_field,
                        value_col=a.rate_field, bucket=a.rate,
                        unit_seconds=a.rate_unit,
                    )
                except ValueError as e:
                    print(f"error: {e}", file=sys.stderr)
                    return 2
                _emit(sorted(out.collect(), key=lambda r: r["bucket"]))
            def _bucket_pipeline(out):
                # post-aggregation pipeline stages, applied in ES
                # order: script (computed metrics) first, then
                # selector (HAVING, may reference the computed
                # columns), then sort/truncate
                if a.bucket_script:
                    from toshokan_spark.search import bucket_script

                    exprs = {}
                    for pair in a.bucket_script.split(";"):
                        name, _, expr = pair.partition("=")
                        if not expr:
                            raise SystemExit(
                                "error: --bucket-script wants "
                                "NAME=EXPR[;NAME=EXPR]")
                        exprs[name.strip()] = expr
                    out = bucket_script(out, exprs)
                if a.bucket_selector:
                    from toshokan_spark.search import bucket_selector

                    out = bucket_selector(out, a.bucket_selector)
                if a.bucket_sort:
                    from toshokan_spark.search import bucket_sort

                    out = bucket_sort(out, a.bucket_sort,
                                      offset=a.bucket_from,
                                      size=a.bucket_size)
                return out

            if a.facet_by:
                if a.facet_order == "value" and not a.facet_value:
                    print("error: --facet-order value requires "
                          "--facet-value", file=sys.stderr)
                    return 2
                out = _bucket_pipeline(facet_counts(
                    hits_df(), a.facet_by, k=a.facet_k,
                    value_col=a.facet_value, order_by=a.facet_order,
                ))
                for r in out.collect():
                    # facet keys can be Decimal/datetime — stringify
                    print(json.dumps(r.asDict(), sort_keys=True,
                                     separators=(",", ":"), default=str))
            if a.histogram_interval:
                config = catalog.get_index(a.index)
                if not config.time_field:
                    print("error: index has no time_field", file=sys.stderr)
                    return 2
                out = _bucket_pipeline(date_histogram(
                    hits_df(), config.time_field, a.histogram_interval,
                    fill_empty=a.histogram_fill_empty,
                ))
                rows = (out.collect() if a.bucket_sort
                        else sorted(out.collect(),
                                    key=lambda x: x["bucket_epoch"]))
                for r in rows:
                    print(json.dumps(r.asDict(), sort_keys=True,
                                     separators=(",", ":"), default=str))
            return 0
        if a.score_field and a.explain_top:
            from toshokan_spark.functions.bm25 import bm25_explain
            from toshokan_spark.search import search_df

            config = catalog.get_index(a.index)
            docs = search_df(spark, catalog, a.index, "*", limit=None,
                             at_version=a.at_version)
            out = bm25_explain(
                docs, a.query, id_col=config.fields[0].name,
                text_col=a.score_field, k=a.explain_top,
            )
            for r in out.collect():
                print(json.dumps(r.asDict(), sort_keys=True,
                                 separators=(",", ":"), default=str))
            return 0
        if a.more_like_this is not None:
            from toshokan_spark.search import mlt_search_df, prettify_doc

            config = catalog.get_index(a.index)
            # the seed id is typed like the index's id field: ints for
            # number ids, the raw string otherwise
            seed = a.more_like_this
            if config.fields[0].type == "number":
                try:
                    seed = int(seed)
                except ValueError:
                    print("error: --more-like-this wants a numeric id "
                          f"for index {a.index!r}", file=sys.stderr)
                    return 2
            try:
                df = mlt_search_df(
                    spark, catalog, a.index, seed, mlt_field=a.mlt_field,
                    k=a.limit or 10, at_version=a.at_version,
                )
            except ValueError as e:
                print(f"error: {e}", file=sys.stderr)
                return 2
            for r in df.collect():
                d = r.asDict(recursive=True)
                score = d.pop("_score", None)
                print(json.dumps(
                    {"score": score,
                     "doc": json.loads(prettify_doc(d, config))},
                    sort_keys=True, separators=(",", ":")))
            return 0
        if a.span_near:
            # --span-near F:A,B,SLOP[,ordered] — the hit set (a.query,
            # '*' for the whole index) filtered by token proximity on
            # field F, reusing operators/relevance.py::span_near (the
            # linear min-distance fold; one narrow scan, shuffle-free)
            from toshokan_spark.operators.relevance import span_near
            from toshokan_spark.search import prettify_doc, search_df

            field, _, spec = a.span_near.partition(":")
            parts = [p.strip() for p in spec.split(",")]
            if not field or len(parts) not in (3, 4) or (
                len(parts) == 4 and parts[3] != "ordered"
            ):
                print("error: --span-near wants F:A,B,SLOP[,ordered]",
                      file=sys.stderr)
                return 2
            try:
                slop = int(parts[2])
            except ValueError:
                print("error: --span-near SLOP must be an integer",
                      file=sys.stderr)
                return 2
            config = catalog.get_index(a.index)
            fmap = {f.name: f for f in config.fields}
            df = search_df(spark, catalog, a.index, a.query,
                           limit=None, at_version=a.at_version)
            span_col = field
            if field in fmap:
                tok = fmap[field].tokenizer or "default"
            elif "_dynamic" in df.columns:
                # unqualified -> _dynamic routing, the same rule the
                # query compiler and panels apply (SURVEY §2.4):
                # extract the JSON-rendered scalar to a staging
                # column, analyzed with the default tokenizer
                from pyspark.sql import functions as SF

                tok = "default"
                span_col = "__span_text"
                df = df.withColumn(
                    span_col,
                    SF.get_json_object(
                        SF.col("_dynamic").getItem(field), "$"
                    ),
                )
            else:
                print(f"error: no such field {field!r}", file=sys.stderr)
                return 2
            out = span_near(
                df, span_col, parts[0], parts[1], slop=slop,
                in_order=(len(parts) == 4), tokenizer=tok,
            )
            if span_col != field:
                out = out.drop(span_col)
            if a.limit is not None:
                # limit 0 means ZERO rows, like every other search
                # path — a falsy-zero check here would print (and
                # collect) the whole hit set instead
                out = out.limit(a.limit)
            for r in out.collect():
                d = r.asDict(recursive=True)
                gap = d.pop("span_gap")
                print(json.dumps(
                    {"span_gap": gap,
                     "doc": json.loads(prettify_doc(d, config))},
                    sort_keys=True, separators=(",", ":")))
            return 0
        if a.pinned or a.boosting or a.rank_feature or a.distance_feature:
            # ES relevance-query family (VERDICT r14 directive 3):
            # QUERY is the organic/positive free text; the corpus is
            # the whole index (deletes honored), BM25 over the
            # resolved text field with the commit-time manifest stats
            # when every segment carries them (the scored_search_df
            # rule). Undeclared fields route to _dynamic like panels.
            chosen = [f for f, v in (
                ("--pinned", a.pinned), ("--boosting", a.boosting),
                ("--rank-feature", a.rank_feature),
                ("--distance-feature", a.distance_feature)) if v]
            if len(chosen) > 1:
                print(f"error: {' and '.join(chosen)} are exclusive",
                      file=sys.stderr)
                return 2
            from pyspark.sql import functions as SF

            from toshokan_spark.search import search_df

            config = catalog.get_index(a.index)
            id_col = config.fields[0].name
            fmap = {f.name: f for f in config.fields}
            text_field = a.score_field or next(
                (f.name for f in config.fields if f.type == "text"), None)
            if text_field is None:
                print("error: no text field to score — pass "
                      "--score-field", file=sys.stderr)
                return 2
            docs = search_df(spark, catalog, a.index, "*", limit=None,
                             at_version=a.at_version)

            def _resolve(col):
                """Declared column, or a _dynamic-routed staging
                column (the SURVEY §2.4 rule panels/span-near use)."""
                nonlocal docs
                if col in docs.columns:
                    return col
                if "_dynamic" in docs.columns:
                    staged = f"__rel_{col}"
                    docs = docs.withColumn(
                        staged,
                        SF.get_json_object(
                            SF.col("_dynamic").getItem(col), "$"),
                    )
                    return staged
                print(f"error: no such field {col!r}", file=sys.stderr)
                return None

            text_col = _resolve(text_field)
            if text_col is None:
                return 2
            tok = (fmap[text_field].tokenizer or "default") \
                if text_field in fmap else "default"
            provider = None
            if text_col == text_field:
                from toshokan_spark.functions.bm25 import (
                    merged_stats_provider,
                )
                from toshokan_spark.indexer import (
                    stats_path,
                    text_stat_fields,
                )

                segs = catalog.segments(a.index, at_version=a.at_version)
                if segs and any(
                    n == text_field for n, _ in text_stat_fields(config)
                ):
                    st = catalog.data_storage(config)
                    spaths = [stats_path(config, s.file_name)
                              for s in segs]
                    if all(st.exists(p) for p in spaths):
                        provider = merged_stats_provider(
                            spark, spaths, text_field)
            k = a.limit if a.limit is not None else 10
            common = dict(id_col=id_col, text_col=text_col,
                          tokenizer=tok, k=k, stats_provider=provider)
            if a.pinned:
                from toshokan_spark.operators.relevance import pinned_query

                raw_ids = [x.strip() for x in a.pinned.split(",")
                           if x.strip()]
                if fmap[id_col].type == "number":
                    try:
                        ids = [int(x) for x in raw_ids]
                    except ValueError:
                        print("error: --pinned wants numeric ids for "
                              f"index {a.index!r}", file=sys.stderr)
                        return 2
                else:
                    ids = raw_ids
                out = pinned_query(docs, a.query, ids, **common)
            elif a.boosting:
                from toshokan_spark.operators.relevance import (
                    boosting_query,
                )

                neg, _, fac = a.boosting.rpartition(":")
                factor = 0.5
                if neg:
                    try:
                        factor = float(fac)
                    except ValueError:
                        neg = a.boosting  # the whole string is NEG
                else:
                    neg = fac
                if not (0.0 <= factor <= 1.0):
                    print("error: --boosting FACTOR must be in [0,1]",
                          file=sys.stderr)
                    return 2
                out = boosting_query(
                    docs, a.query, neg, negative_boost=factor, **common)
            elif a.rank_feature:
                from toshokan_spark.operators.relevance import (
                    rank_feature_score,
                )

                parts = [p.strip() for p in a.rank_feature.split(":")]
                fn = parts[1] if len(parts) > 1 and parts[1] else \
                    "saturation"
                pivot = None
                if len(parts) > 2:
                    try:
                        pivot = float(parts[2])
                    except ValueError:
                        print("error: --rank-feature PIVOT must be a "
                              "number", file=sys.stderr)
                        return 2
                feat = _resolve(parts[0])
                if feat is None:
                    return 2
                try:
                    out = rank_feature_score(
                        docs, a.query, feat, function=fn, pivot=pivot,
                        **common)
                except ValueError as e:
                    print(f"error: {e}", file=sys.stderr)
                    return 2
            else:
                from toshokan_spark.operators.relevance import (
                    distance_feature_score,
                )

                parts = [p.strip() for p in a.distance_feature.split(":")]
                if len(parts) not in (2, 3) or not parts[0]:
                    print("error: --distance-feature wants "
                          "F:PIVOT[:ORIGIN]", file=sys.stderr)
                    return 2
                try:
                    pivot = float(parts[1])
                    origin = float(parts[2]) if len(parts) == 3 else 0.0
                except ValueError:
                    print("error: --distance-feature PIVOT/ORIGIN must "
                          "be numbers", file=sys.stderr)
                    return 2
                feat = _resolve(parts[0])
                if feat is None:
                    return 2
                out = distance_feature_score(
                    docs, a.query, origin, feat, pivot, **common)
            for r in out.collect():
                d = r.asDict(recursive=True)
                # staged _dynamic ids keep the public field name
                if id_col not in d and "id" in d:
                    d[id_col] = d.pop("id")
                print(json.dumps(d, sort_keys=True,
                                 separators=(",", ":"), default=str))
            return 0

        if a.score_field:
            from toshokan_spark.search import prettify_doc, scored_search_df

            df = scored_search_df(
                spark, catalog, a.index, a.query, a.score_field,
                limit=a.limit, at_version=a.at_version,
            )
            config = catalog.get_index(a.index)
            for r in df.collect():
                d = r.asDict(recursive=True)
                score = d.pop("_score", None)
                print(json.dumps({"score": score, "doc": json.loads(prettify_doc(d, config))},
                                 sort_keys=True, separators=(",", ":")))
            return 0
        from toshokan_spark.search import search

        if a.highlight is not None:
            from toshokan_spark.search import (
                highlight,
                prettify_doc,
                search_df,
            )

            df = search_df(spark, catalog, a.index, a.query,
                           limit=a.limit, at_version=a.at_version)
            df = highlight(df, a.query, a.highlight,
                           fragment_size=a.highlight_frag)
            config = catalog.get_index(a.index)
            for r in df.collect():
                d = r.asDict(recursive=True)
                snip = d.pop("snippet", None)
                print(json.dumps(
                    {"snippet": snip,
                     "doc": json.loads(prettify_doc(d, config))},
                    sort_keys=True, separators=(",", ":")))
            return 0

        if a.after is not None or a.tiebreak is not None:
            if not (a.search_sort and a.tiebreak):
                print("error: --after needs --sort-by and --tiebreak",
                      file=sys.stderr)
                return 2
            from toshokan_spark.search import prettify_doc, search_after_df

            sname, _, sorder = a.search_sort.partition(":")

            def _cursor_val(raw):
                for cast in (int, float):
                    try:
                        return cast(raw)
                    except ValueError:
                        continue
                return raw

            after = None
            if a.after:
                sv, _, tv = a.after.partition(",")
                if not tv:
                    print("error: --after wants SORTV,TIEV",
                          file=sys.stderr)
                    return 2
                after = (_cursor_val(sv), _cursor_val(tv))
            df = search_after_df(
                spark, catalog, a.index, a.query, sname, a.tiebreak,
                after=after, limit=a.limit or 10,
                descending=(sorder == "desc"), at_version=a.at_version,
            )
            config = catalog.get_index(a.index)
            for r in df.collect():
                print(prettify_doc(r.asDict(recursive=True), config))
            return 0

        sort_by = None
        if a.search_sort:
            name, _, order = a.search_sort.partition(":")
            from pyspark.sql import functions as SF

            sort_by = [
                SF.col(name).desc() if order == "desc" else SF.col(name).asc()
            ]
        fields = a.fields.split(",") if a.fields else None
        if a.slice:
            # ES sliced scroll: slice i of m by the doc-id hash — m
            # workers each run `--slice i:m --limit 0...` and the
            # slices partition the hit set exactly (the parallel
            # export path; ES slices a PIT the same way)
            si, _, sm = a.slice.partition(":")
            try:
                si, sm = int(si), int(sm)
            except ValueError:
                si, sm = -1, 0
            if not (sm >= 2 and 0 <= si < sm):
                print("error: --slice wants I:M with 0 <= I < M, M >= 2",
                      file=sys.stderr)
                return 2
            from pyspark.sql import functions as SF

            from toshokan_spark.search import prettify_doc, search_df

            config = catalog.get_index(a.index)
            id_field = config.fields[0].name
            df = search_df(spark, catalog, a.index, a.query, limit=None,
                           at_version=a.at_version)
            df = df.filter(
                SF.pmod(SF.xxhash64(SF.col(id_field)), SF.lit(sm))
                == SF.lit(si)
            )
            if sort_by:
                df = df.orderBy(*sort_by)
            if a.limit is not None:
                df = df.limit(a.limit)
            for r in df.collect():
                print(prettify_doc(r.asDict(recursive=True), config))
            return 0
        for line in search(spark, catalog, a.index, a.query, limit=a.limit,
                           at_version=a.at_version, sort_by=sort_by,
                           fields=fields):
            print(line)
        return 0

    if a.cmd == "curate":
        from toshokan_spark.pipeline import curate, write_outputs

        fractions = {}
        for part in a.fractions.split(","):
            name, _, frac = part.partition("=")
            fractions[name.strip()] = float(frac)
        spark = _spark()
        print(f"curate {a.index}:")
        result = curate(
            spark,
            catalog,
            a.index,
            id_field=a.id_field,
            text_field=a.text_field,
            source_field=a.source_field,
            url_field=a.url_field,
            blocked_domains=(
                [d.strip() for d in a.block_domains.split(",") if d.strip()]
                if a.block_domains else None
            ),
            fractions=fractions,
            seq_len=a.seq_len,
            n_buckets=a.n_buckets,
            tail_rate=a.tail_rate,
            dedup_method=a.dedup_method,
            jaccard_k=a.jaccard_k,
            jaccard_threshold=a.jaccard_threshold,
            quality_model_path=a.quality_model,
            quality_model_dim=a.quality_model_dim,
            train_quality_query=a.train_quality_query,
            train_quality_threshold=a.train_quality_threshold,
            ensemble_threshold=a.ensemble_threshold,
            dsir_target_query=a.dsir_target,
            repeat_budget=a.repeat_budget,
            mixture_alpha=a.mixture_alpha,
            curriculum_stages=a.curriculum_stages,
            seed=a.seed,
            report=print,
        )
        if a.output:
            write_outputs(result, a.output)
            print(f"wrote {a.output}/documents (per split) and {a.output}/packed")
        return 0

    if a.cmd == "verify":
        from toshokan_spark.maintenance import verify_index

        spark = None if a.no_count else _spark()
        findings = verify_index(
            spark, catalog, a.index, count_rows=not a.no_count
        )
        for f in findings:
            print(json.dumps(f, sort_keys=True, separators=(",", ":")))
        if not findings:
            print(json.dumps({"index": a.index, "healthy": True},
                             sort_keys=True, separators=(",", ":")))
            return 0
        return 1

    if a.cmd == "list":
        aliases = catalog.aliases()
        for n in sorted(catalog.list_indexes()):
            _ver, segs, dels = catalog.snapshot(n)
            als = sorted(al for al, tgt in aliases.items() if tgt == n)
            doc = {"index": n, "segments": len(segs),
                   "rows": sum(s.num_rows for s in segs)}
            if dels:
                doc["pending_deletes"] = len(dels)
            if als:
                doc["aliases"] = als
            print(json.dumps(doc, sort_keys=True, separators=(",", ":")))
        return 0

    if a.cmd == "snapshot":
        from toshokan_spark.maintenance import snapshot_index

        spark = _spark()
        n_segs, n_rows = snapshot_index(spark, catalog, a.index, a.dest)
        print(f"snapshotted {a.index}: {n_segs} segment(s), "
              f"{n_rows} row(s) -> {a.dest}")
        return 0

    if a.cmd == "restore":
        from toshokan_spark.catalog import CatalogError
        from toshokan_spark.maintenance import restore_snapshot

        spark = _spark()
        try:
            name, n_rows = restore_snapshot(
                spark, catalog, a.snapshot_dir,
                new_name=a.as_name, new_path=a.path,
            )
        except CatalogError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        print(f"restored {name}: {n_rows} row(s)")
        return 0

    if a.cmd == "analyze":
        # field form: `analyze idx field text...`; explicit form:
        # `analyze idx text... --tokenizer T`. One 1-row frame through
        # the REAL tokenizer expressions — a pure-Python shadow would
        # drift from what queries and stats actually see.
        from toshokan_spark.functions.tokenizers import tokenize
        from toshokan_spark.literals import literal_relation
        from pyspark.sql import functions as SF

        config = catalog.get_index(a.index)
        fmap = {f.name: f for f in config.fields}
        if a.tokenizer is not None:
            text = (
                f"{a.field_or_text} {a.text}" if a.text is not None
                else a.field_or_text
            )
            tok = a.tokenizer
        else:
            if a.text is None or a.field_or_text not in fmap:
                print("error: analyze wants FIELD TEXT (or TEXT "
                      "--tokenizer T)", file=sys.stderr)
                return 2
            tok = fmap[a.field_or_text].tokenizer or "default"
            text = a.text
        spark = _spark()
        row = literal_relation(spark, [(text,)], "t string").select(
            tokenize(SF.col("t"), tok).alias("tokens")
        ).first()
        print(json.dumps({"tokenizer": tok, "tokens": row["tokens"]},
                         sort_keys=True, separators=(",", ":")))
        return 0

    if a.cmd == "fields":
        from toshokan_spark.indexer import stats_path, text_stat_fields

        config = catalog.get_index(a.index)
        stat_fields = {n for n, _ in text_stat_fields(config)}
        segs = catalog.segments(a.index)
        st = catalog.data_storage(config)
        have_stats = bool(segs) and all(
            st.exists(stats_path(config, s.file_name)) for s in segs
        )
        for f in config.fields:
            doc = {"field": f.name, "type": f.type}
            if f.type in ("text", "dynamic_object"):
                doc["tokenizer"] = f.tokenizer or "default"
            if getattr(f, "fast", False):
                doc["fast"] = True
            if f.name == config.time_field:
                doc["time_field"] = True
            if f.name in stat_fields:
                doc["stats"] = have_stats
            print(json.dumps(doc, sort_keys=True, separators=(",", ":")))
        print(json.dumps({"field": "_dynamic", "type": "dynamic_object",
                          "tokenizer": "raw"},
                         sort_keys=True, separators=(",", ":")))
        return 0

    if a.cmd == "msearch":
        from toshokan_spark.search import prettify_doc, search_df

        config = catalog.get_index(a.index)
        specs = []
        with open(a.file) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                if line.startswith("{"):
                    doc = json.loads(line)
                    specs.append((doc["query"],
                                  int(doc.get("limit", a.limit))))
                else:
                    specs.append((line, a.limit))
        if not specs:
            print("error: empty msearch file", file=sys.stderr)
            return 2
        spark = _spark()
        for qi, (q, lim) in enumerate(specs):
            try:
                rows = search_df(
                    spark, catalog, a.index, q, limit=lim
                ).collect()
            except Exception as e:
                print(json.dumps({"q": qi, "error": str(e)},
                                 sort_keys=True, separators=(",", ":")))
                continue
            for r in rows:
                print(json.dumps(
                    {"q": qi,
                     "doc": json.loads(
                         prettify_doc(r.asDict(recursive=True), config))},
                    sort_keys=True, separators=(",", ":")))
        return 0

    if a.cmd == "count":
        from toshokan_spark.plans.ast import All, parse_query

        node = parse_query(a.query)
        # ONE snapshot decides the path and answers it: a delete
        # committed between a deletes() and a segments() read would
        # let the fast path sum a newer version's segments as if
        # nothing were pending
        ver, segs, dels = catalog.snapshot(a.index, at_version=a.at_version)
        if isinstance(node, All) and not dels:
            # manifest fast path: commit-time row counts are additive
            # and exact; pending tombstones force the scan path (their
            # mask needs the data)
            print(json.dumps({"count": sum(s.num_rows for s in segs),
                              "source": "manifest"},
                             sort_keys=True, separators=(",", ":")))
            return 0
        from toshokan_spark.search import search_df

        spark = _spark()
        n = search_df(spark, catalog, a.index, a.query,
                      limit=None, at_version=ver).count()
        print(json.dumps({"count": n, "source": "scan"},
                         sort_keys=True, separators=(",", ":")))
        return 0

    if a.cmd == "validate":
        from toshokan_spark.plans.ast import ParseError, parse_query

        config = catalog.get_index(a.index)
        declared = {f.name for f in config.fields}
        try:
            node = parse_query(a.query)
        except (ParseError, ValueError) as e:
            print(json.dumps({"valid": False, "error": str(e)},
                             sort_keys=True, separators=(",", ":")))
            return 1
        # field routing note, ES-style explanation: undeclared fields
        # are legal (they route to _dynamic) but worth surfacing
        def fields_of(n):
            out = set()
            for attr in ("field",):
                fp = getattr(n, attr, None)
                if fp:
                    out.add(fp[0])
            for attr in ("must", "should", "must_not", "children"):
                for c in getattr(n, attr, []) or []:
                    out |= fields_of(c)
            sub = getattr(n, "child", None)
            if sub is not None:
                out |= fields_of(sub)
            return out
        dyn = sorted(f for f in fields_of(node) if f not in declared)
        doc = {"valid": True, "parsed": repr(node)}
        if dyn:
            doc["dynamic_routed_fields"] = dyn
        print(json.dumps(doc, sort_keys=True, separators=(",", ":")))
        return 0

    if a.cmd == "percolator":
        from toshokan_spark.catalog import CatalogError

        try:
            if a.list_monitors:
                for qid, q in catalog.percolators(a.index).items():
                    print(json.dumps({"query_id": qid, "query": q},
                                     sort_keys=True, separators=(",", ":")))
                return 0
            if a.drop:
                catalog.drop_percolator(a.index, a.drop)
                print(f"dropped percolator {a.drop}")
                return 0
            if not a.query_id or a.query is None:
                print("error: percolator wants QUERY_ID QUERY, --drop "
                      "QUERY_ID, or --list", file=sys.stderr)
                return 2
            catalog.register_percolator(a.index, a.query_id, a.query)
            print(f"registered percolator {a.query_id}")
            return 0
        except CatalogError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        except ValueError as e:
            print(f"error: bad percolator query: {e}", file=sys.stderr)
            return 2

    if a.cmd == "percolate":
        from toshokan_spark.ingest import ingest_projection
        from toshokan_spark.search import percolate

        config = catalog.get_index(a.index)
        stored = list(catalog.percolators(a.index).items())
        if not stored:
            print("error: no percolators registered on "
                  f"{a.index!r}", file=sys.stderr)
            return 2
        id_field = a.id_field or config.fields[0].name
        spark = _spark()
        typed = ingest_projection(spark.read.text(a.file), config)
        if id_field not in typed.columns:
            print(f"error: no such field {id_field!r}", file=sys.stderr)
            return 2
        out = percolate(typed, stored, config, id_field)
        for r in out.collect():
            print(json.dumps(
                {id_field: r[id_field], "query_id": r["query_id"]},
                sort_keys=True, separators=(",", ":"), default=str))
        return 0

    if a.cmd == "explain":
        # pruning decisions come from the manifest alone; only the
        # final physical plan needs a Spark session
        from toshokan_spark.plans.ast import parse_query
        from toshokan_spark.search import _pruned_segments, search_df

        config = catalog.get_index(a.index)
        ver, segs, dels = catalog.snapshot(a.index)
        node = parse_query(a.query)
        verdicts = []
        lo, hi, kept = _pruned_segments(config, segs, node, verdict_sink=verdicts)
        rules = dict(verdicts)
        print(f"query: {a.query}")
        if lo is not None or hi is not None:
            print(f"time bounds: {lo} .. {hi}")
        print(f"segments: {len(segs)} manifested, {len(kept)} survive pruning")
        if dels:
            print(f"pending deletes: {len(dels)} (compiled as anti-filters "
                  f"into the scan)")
            for d in dels:
                print(f"  NOT ({d.query})")
        for s in segs:
            rule = rules.get(s.id)
            mark = "scan " if rule is None else f"PRUNE[{rule}]"
            tiers = []
            if s.min_day:
                tiers.append(f"days={s.min_day}..{s.max_day}")
            if s.field_stats:
                tiers.append(f"zones={sorted(s.field_stats)}")
            if s.token_blooms:
                tiers.append(f"blooms={sorted(s.token_blooms)}")
            print(f"  {mark} {s.file_name} rows={s.num_rows} " + " ".join(tiers))
        spark = _spark()
        df = search_df(spark, catalog, a.index, a.query, limit=None,
                       at_version=ver)
        print(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"))
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
