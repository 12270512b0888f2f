"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline (MinHash-LSH near-dedup) at
sf0.001. ``queries()`` — one callable per implemented operator from
SURVEY.md §2 plus the beyond-reference pipeline operators;
``oracle_sql()`` — the DuckDB-equivalent SQL for every
SQL-expressible query (value formulas are written with identical
arithmetic on both sides: decimal-cast sums, sequential-order dot
products, shared regexes — so value hashes match bit-for-bit).

EVERY entry has an oracle: the sketch/ANN queries (MinHash-LSH,
SimHash, hyperplane LSH, IVF) run with SQL-auditable hash families —
polynomial codepoint hashes and an LCG plane generator whose integer
arithmetic DuckDB reproduces bit-for-bit — so signatures, band keys,
buckets, candidate sets and verified scores are all value-checked,
not just row-counted. The operator APIs keep xxhash64 as the
production default (single JVM intrinsic vs per-char folds); the
auditable families exercise the identical pipeline shapes.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from toshokan_spark.config import FieldConfig, IndexConfig
from toshokan_spark.query import compile_query
from toshokan_spark.operators import asof, decontaminate, dedup, similarity, text as textops, multimodal, web
from toshokan_spark.operators.text import SCRIPT_CLASSES as _SCRIPT_CLASSES
from toshokan_spark.operators.dedup import words_col as dedup_words

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

#: timestamp columns per driver table. Generations of the driver's
#: testdata have shipped two physical shapes: TIMESTAMP(NANOS)
#: (vanilla Spark scans reject it — read as long via nanosAsLong and
#: truncate ns -> us, exactly DuckDB's TIMESTAMP_NS -> TIMESTAMP) and
#: naive TIMESTAMP(MICROS) (isAdjustedToUTC=false, which Spark 4
#: infers as TIMESTAMP_NTZ — cast to TIMESTAMP under the UTC session
#: zone: same wall clock = same instant DuckDB's naive read produces)
_TS_COLS = {
    "events": ("ts",),
    "lineitem": ("l_shipdate",),
    "orders": ("o_orderdate",),
}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # timestamps must hash identically to DuckDB's naive-UTC reading
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in _TS_COLS.get(name, ()):
        dt = dict(df.dtypes).get(c)
        if dt == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
        elif dt == "timestamp_ntz":
            # NOT a bare cast("timestamp"): that resolves against
            # spark.sql.session.timeZone at EXECUTION time, so the lazy
            # plan would silently shift instants if later code changed
            # the session zone. to_utc_timestamp pins the wall-clock ->
            # instant mapping to UTC inside the expression itself.
            df = df.withColumn(
                c, F.to_utc_timestamp(F.col(c).cast("timestamp_ntz"), "UTC")
            )
    return df


def _dec(c) -> F.Column:
    """double -> exact decimal for deterministic (order-independent)
    sums; final results are cast back to double via _dbl."""
    return c.cast("decimal(18,4)")


def _dbl(c) -> F.Column:
    """Decimal aggregate -> double, representation-parity safe.

    The inputs carry at most 6 real decimal digits (2dp prices x 4dp
    factors), so round(x, 6) is exact (never a rounding tie), and the
    resulting scale-6 numerator is < 2^53 for any plausible sum, making
    the decimal->double conversion a single correctly-rounded IEEE
    division in both Spark and DuckDB. Without the round, a scale-8
    sum near 1e9 converts with a 1-ulp discrepancy between engines.
    Mirror in oracle SQL as round(sum(...), 6)::DOUBLE."""
    return F.round(c, 6).cast("double")


def _us(c) -> F.Column:
    return F.unix_micros(c)


def _url_expr(idiv: str, str_t: str) -> str:
    """Shared deterministic URL derivation for the web-curation
    entries (the testdata has no URL column — same shared-derivation
    discipline as _partsupp). Emitted per dialect: Spark
    (idiv='div', str_t='STRING') and DuckDB (idiv='//',
    str_t='VARCHAR'), identical arithmetic and concatenation.

    The derived URLs deliberately exercise every canonicalization
    rule: mixed-case schemes/hosts, www/news subdomains, default and
    non-default ports, trailing slashes, tracking params mixed with
    content params in both orders, and fragments — with collisions so
    url_dedup finds real clusters (4 docs share each path; case and
    www/bare variants merge)."""
    def c(e: str) -> str:
        return f"CAST({e} AS {str_t})"

    return (
        "CASE doc_id % 5 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'Https'"
        " ELSE 'https' END"
        " || '://'"
        " || CASE doc_id % 3 WHEN 0 THEN 'WWW.' WHEN 1 THEN ''"
        " ELSE 'news.' END"
        f" || 'site' || {c('doc_id % 40')}"
        " || CASE WHEN doc_id % 2 = 0 THEN '.COM' ELSE '.com' END"
        " || CASE WHEN doc_id % 6 = 0 THEN ':443'"
        " WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END"
        f" || '/articles/' || {c(f'doc_id {idiv} 4')}"
        " || CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END"
        " || CASE doc_id % 8"
        f" WHEN 0 THEN '?utm_source=feed&utm_campaign=q' || {c('doc_id % 3')}"
        f" WHEN 1 THEN '?page=' || {c('doc_id % 5')} || '&utm_medium=rss'"
        " WHEN 2 THEN '?b=2&a=1' WHEN 3 THEN '?a=1&b=2' ELSE '' END"
        " || CASE WHEN doc_id % 9 = 0 THEN '#frag' ELSE '' END"
    )


#: domains excluded by the domain_filter entry (block mode)
_BLOCKED_DOMAINS = [
    "site1.com", "site7.com", "site13.com", "site19.com",
    "site25.com", "site31.com", "site37.com",
]


def _doc_urls(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .selectExpr("doc_id", _url_expr("div", "STRING") + " AS url")
    )


def q_dedup_incremental_url(spark, sf_dir):
    """Cross-batch canonical-URL dedup (operators/web.py::
    incremental_url_dedup — the re-crawl path): docs with
    doc_id % 4 == 0 arrive as the batch, the rest are the standing
    store; each batch doc reports its canonical form, the standing
    owner when already ingested, and the keep verdict (unseen AND
    batch-first-writer)."""
    urls = _doc_urls(spark, sf_dir)
    batch = urls.filter(F.col("doc_id") % 4 == 0)
    corpus = urls.filter(F.col("doc_id") % 4 != 0)
    store = web.url_store_frame(corpus)
    return web.incremental_url_dedup(batch, store)


def q_url_canonicalize(spark, sf_dir):
    """URL canonicalization (operators/web.py::canonical_url): the
    FineWeb/C4 URL-normalization stage — scheme/host case, default
    ports, www, trailing slashes, fragments, tracking params, param
    order. Pure JVM column algebra; the oracle replays each regex
    step in DuckDB so canonical forms are value-checked."""
    return (
        _doc_urls(spark, sf_dir)
        .select(
            "doc_id",
            "url",
            web.canonical_url(F.col("url")).alias("canonical_url"),
        )
        .orderBy("doc_id")
        .limit(60)
    )


def q_url_dedup(spark, sf_dir):
    """Exact URL dedup on the canonical form
    (operators/web.py::url_dedup): one row per canonical URL with the
    first-writer keeper and duplicate count; map-side combine
    collapses duplicates before the single canonical-URL exchange."""
    return (
        web.url_dedup(_doc_urls(spark, sf_dir))
        .orderBy(F.desc("n_docs"), F.asc("canonical_url"))
        .limit(50)
    )


def q_domain_filter(spark, sf_dir):
    """Domain blocklisting (operators/web.py::domain_filter): drop
    documents whose registered domain is on the broadcast blocklist
    (LEFT ANTI — the corpus never shuffles), then profile surviving
    docs per domain."""
    block = spark.createDataFrame(
        [(d,) for d in _BLOCKED_DOMAINS], "domain string"
    )
    kept = web.domain_filter(_doc_urls(spark, sf_dir), block, mode="block")
    return (
        kept.select(
            web.registered_domain(F.col("url"), is_url=True).alias("domain")
        )
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("domain"))
    )


def _canon_urls_cte() -> str:
    """CTE chain ``urls -> ... -> canon(doc_id, url, canonical_url)``
    — the DuckDB replay of operators/web.py::canonical_url over the
    derived URL corpus, shared by the incremental URL-dedup oracle
    (the url_canonicalize / url_dedup oracles spell the same steps
    inline)."""
    return f"""
        urls AS (
          SELECT doc_id, {_url_expr('//', 'VARCHAR')} AS url
          FROM documents),
        p1 AS (
          SELECT doc_id, url,
                 regexp_replace(url, '#.*$', '') AS no_frag
          FROM urls),
        p2 AS (
          SELECT doc_id, url,
                 regexp_extract(no_frag, '^([^?]*)', 1) AS base,
                 CASE WHEN contains(no_frag, '?')
                      THEN regexp_extract(no_frag, '\\?(.*)$', 1)
                      ELSE '' END AS query
          FROM p1),
        p3 AS (
          SELECT doc_id, url, query,
            lower(regexp_extract(base,
                '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
            regexp_replace(base,
                '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS after
          FROM p2),
        p4 AS (
          SELECT *,
            regexp_extract(after, '^([^/]*)', 1) AS hostport,
            substring(after,
                length(regexp_extract(after, '^([^/]*)', 1)) + 1) AS path
          FROM p3),
        p5 AS (
          SELECT *,
            regexp_replace(lower(regexp_replace(hostport, ':\\d+$', '')),
                           '^www\\.', '') AS host,
            regexp_extract(hostport, ':(\\d+)$', 1) AS port,
            regexp_replace(path, '/+$', '') AS path_norm,
            array_to_string(list_sort(list_filter(str_split(query, '&'),
                x -> x <> '' AND NOT regexp_matches(x,
            '^(utm_[a-z]+|fbclid|gclid|msclkid|mc_eid|ref)='))), '&')
                AS params
          FROM p4),
        canon AS (
          SELECT doc_id, url,
               scheme || '://' || host ||
               CASE WHEN port <> ''
                         AND NOT (scheme = 'https' AND port = '443')
                         AND NOT (scheme = 'http' AND port = '80')
                    THEN ':' || port ELSE '' END ||
               path_norm ||
               CASE WHEN params <> '' THEN '?' || params ELSE '' END
                   AS canonical_url
          FROM p5)"""


#: DuckDB side of the shared partsupp derivation (see _partsupp for
#: the formulae rationale) — prepended as a CTE to the five TPC-H
#: partsupp oracles. `//` is DuckDB integer division, mirroring
#: Spark's `div` on the same BIGINT inputs.
_PARTSUPP_SQL = """
partsupp AS (
  SELECT p_partkey AS ps_partkey,
         (p_partkey + i * (s_cnt // 4 + p_partkey // s_cnt)) % s_cnt
             AS ps_suppkey,
         (p_partkey * 7 + i * 131) % 9999 + 1 AS ps_availqty,
         (p_partkey * 13 + ((p_partkey + i * (s_cnt // 4 +
             p_partkey // s_cnt)) % s_cnt) * 97) % 99900 + 100
             AS ps_supplycost_cents
  FROM part
  CROSS JOIN (VALUES (0), (1), (2), (3)) AS four(i)
  CROSS JOIN (SELECT count(*) AS s_cnt FROM supplier) AS sc
)"""


# index configs over the driver tables, so the search queries go
# through the real query compiler (parser -> Column), SURVEY §2.4
EVENTS_CONFIG = IndexConfig(
    name="events",
    path="",
    fields=[
        FieldConfig(name="event_id", type="number", number_type="i64"),
        FieldConfig(name="ts", type="datetime"),
        FieldConfig(name="user_id", type="number", number_type="i64"),
        FieldConfig(name="event_type", type="text", tokenizer="raw"),
        FieldConfig(name="value", type="number", number_type="f64"),
        FieldConfig(name="props", type="text", tokenizer="raw"),
    ],
)

#: EVENTS_CONFIG + a derived ip field (q_search_ip_range) — the ip
#: type's range semantics gated through the oracle like any entry
EVENTS_IP_CONFIG = IndexConfig(
    name="events_ip",
    path="",
    fields=[
        FieldConfig(name="event_id", type="number", number_type="i64"),
        FieldConfig(name="ts", type="datetime"),
        FieldConfig(name="user_id", type="number", number_type="i64"),
        FieldConfig(name="event_type", type="text", tokenizer="raw"),
        FieldConfig(name="value", type="number", number_type="f64"),
        FieldConfig(name="ip", type="ip"),
    ],
)

DOCS_CONFIG = IndexConfig(
    name="documents",
    path="",
    fields=[
        FieldConfig(name="doc_id", type="number", number_type="i64"),
        FieldConfig(name="text", type="text", tokenizer="default"),
        FieldConfig(name="lang", type="text", tokenizer="raw"),
        FieldConfig(name="source", type="text", tokenizer="raw"),
        FieldConfig(name="n_chars", type="number", number_type="i64"),
    ],
)


def _search(df: DataFrame, config: IndexConfig, q: str) -> DataFrame:
    return df.filter(compile_query(q, config, set(df.columns)))


# ---------------------------------------------------------------------------
# search-language parity queries (reference surface, §2.4/§2.5)
# ---------------------------------------------------------------------------

def q_search_term(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = _search(ev, EVENTS_CONFIG, "event_type:error AND user_id:>=90")
    return out.select("event_id", _us(F.col("ts")).alias("ts_us"), "user_id", "event_type", "value")


def q_search_range(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = _search(ev, EVENTS_CONFIG, "value:[100 TO 200} AND event_type:purchase")
    return out.select("event_id", "user_id", "value")


def q_search_bool(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = _search(
        ev, EVENTS_CONFIG,
        "(event_type:signup OR event_type:click) AND user_id:>50 AND NOT value:>=250",
    )
    return out.select("event_id", "user_id", "event_type", "value")


def q_search_topk(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = _search(ev, EVENTS_CONFIG, "*")
    return (
        out.orderBy(F.col("ts").desc(), F.col("event_id").asc())
        .limit(10)
        .select("event_id", _us(F.col("ts")).alias("ts_us"))
    )


def q_search_facets(spark, sf_dir):
    """Terms aggregation over a query's hit set (Kibana/quickwit-
    style facet panel — search-layer extension): top-5 event types by
    hit count with decimal-exact value sums, distributed take-ordered
    (never a global sort)."""
    from toshokan_spark.search import facet_counts

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "user_id:>=50")
    return facet_counts(hits, "event_type", k=5, value_col="value")


def q_search_date_histogram(spark, sf_dir):
    """Date-histogram aggregation over a query's hit set: purchase
    events bucketed into 6-hour windows (bucket start as epoch
    seconds), hit counts + decimal-exact value sums."""
    from toshokan_spark.search import date_histogram

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:purchase")
    return date_histogram(hits, "ts", 6 * 3600, value_col="value")


def q_search_after(spark, sf_dir):
    """search_after deep pagination (search.py::keyset_page): page 2
    of the purchase hits ordered by value DESC with event_id as the
    ascending unique tiebreak, continuing after cursor
    (500.0, 100). The cursor compiles to a range prune BEFORE the
    top-k cut — the value < 500 disjunct reaches the scan and the cut
    is a distributed TakeOrdered (plan-pinned), so page N costs
    page-1 money."""
    from toshokan_spark.search import keyset_page

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:purchase")
    page = keyset_page(
        hits, "value", "event_id",
        after=(500.0, 100), limit=10, descending=True,
    )
    return page.select("event_id", "user_id", "value")


def q_search_bucket_selector(spark, sf_dir):
    """bucket_selector pipeline stage (ES HAVING analog,
    search.py::bucket_selector): 6-hour purchase histogram, keeping
    only buckets with >= 15 hits and > 800 total value. The filter
    runs strictly post-aggregation — same single partial-aggregated
    exchange as the plain histogram (plan-pinned)."""
    from toshokan_spark.search import bucket_selector, date_histogram

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:purchase")
    hist = date_histogram(hits, "ts", 6 * 3600, value_col="value")
    return bucket_selector(hist, "n_hits >= 15 AND total_value > 800.0")


def q_search_bucket_script(spark, sf_dir):
    """bucket_script pipeline stage (search.py::bucket_script): add a
    computed per-bucket metric (mean purchase value) to the 6-hour
    histogram, then select on it — ES's stage chaining, where the
    selector references the scripted column. All post-aggregation
    column algebra."""
    from toshokan_spark.search import (
        bucket_script,
        bucket_selector,
        date_histogram,
    )

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:purchase")
    hist = date_histogram(hits, "ts", 6 * 3600, value_col="value")
    scripted = bucket_script(
        hist, {"avg_value": "round(total_value / n_hits, 6)"}
    )
    return bucket_selector(scripted, "avg_value > 50.0")


def q_search_bucket_sort(spark, sf_dir):
    """bucket_sort pipeline stage (search.py::bucket_sort): the same
    purchase histogram ordered by descending value (epoch tiebreak)
    and paged from=3/size=10 — sort and truncation over the
    aggregated bucket frame only."""
    from toshokan_spark.search import bucket_sort, date_histogram

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:purchase")
    hist = date_histogram(hits, "ts", 6 * 3600, value_col="value")
    return bucket_sort(
        hist, "total_value:desc,bucket_epoch:asc", offset=3, size=10
    )


def q_search_stats(spark, sf_dir):
    """Stats aggregation over a query's hit set (search-layer
    ``stats`` panel): count/min/max/sum/avg of ``value`` over the
    purchase hits, one partial-aggregated pass, decimal-exact sum."""
    from toshokan_spark.search import stats_agg

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:purchase")
    return stats_agg(hits, "value")


def q_search_percentiles(spark, sf_dir):
    """Percentiles aggregation (latency-panel staple): SQL-standard
    discrete percentiles of ``value`` over the error hits — actual
    data elements, so both engines agree bit-for-bit."""
    from toshokan_spark.search import percentiles_agg

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:error")
    return percentiles_agg(hits, "value")


def q_search_cardinality(spark, sf_dir):
    """Cardinality aggregation: exact distinct users over the click
    hits next to the KMV bottom-k estimate (k=64 < 150 distinct, so
    the ESTIMATOR path is exercised) computed from the SQL-auditable
    poly hash — the sketch the engine would serve at corpus scale."""
    from toshokan_spark.search import cardinality_agg

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:click")
    return cardinality_agg(hits, "user_id", k=64)


def q_search_top_hits(spark, sf_dir):
    """Top-hits collector: the 3 highest-value hits WITHIN each event
    type over the user_id>=80 hit set (per-facet exemplar panel);
    rank<=k over a partitioned window -> WindowGroupLimit, never a
    global sort."""
    from toshokan_spark.search import top_hits_per_group

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "user_id:>=80")
    out = top_hits_per_group(
        hits, "event_type", 3, order_col="value", id_col="event_id"
    )
    return out.select(
        "event_type", "rank_in_group", "event_id", "user_id", "value"
    )


#: one events index per (app, sf_dir) process lifetime — written as
#: TWO segments so the manifest-stats path must actually combine
#: per-segment additive stats, not echo a single segment's
_EVENTS_INDEX_CACHE: dict = {}


def _events_stats_index(spark, sf_dir):
    """Build (once per process per sf_dir) a REAL two-segment index
    over the events table so the manifest-only stats panel is
    exercised end-to-end: segment writes record ``[count, decimal-
    sum]`` additive stats + ``[min, max]`` zone maps in the manifest
    (`indexer.write_segment`), and the query below never opens a data
    file. Returns (catalog, config)."""
    import tempfile

    from toshokan_spark.catalog import FsCatalog
    from toshokan_spark.indexer import write_segment
    from toshokan_spark.maintenance import create_index

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _EVENTS_INDEX_CACHE:
        return _EVENTS_INDEX_CACHE[key]
    root = tempfile.mkdtemp(prefix="evidx-")
    catalog = FsCatalog(f"{root}/cat")
    config = IndexConfig(
        name="events_stats",
        path=f"{root}/data/events_stats",
        time_field="ts",
        fields=[
            FieldConfig(name="event_id", type="number", number_type="i64"),
            FieldConfig(name="ts", type="datetime"),
            FieldConfig(name="user_id", type="number", number_type="i64"),
            FieldConfig(name="event_type", type="text", tokenizer="raw"),
            FieldConfig(
                name="value", type="number", number_type="f64",
                histogram_bin=50.0,
            ),
        ],
    )
    create_index(catalog, config)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    write_segment(catalog, config, ev.where(F.col("event_id") % 2 == 0))
    write_segment(catalog, config, ev.where(F.col("event_id") % 2 != 0))
    _EVENTS_INDEX_CACHE[key] = (catalog, config)
    return catalog, config


def q_search_stats_manifest(spark, sf_dir):
    """The match-all stats panel served from the MANIFEST alone: the
    two segments' commit-time ``[count, decimal-sum]`` additive stats
    and ``[min, max]`` zone maps combine driver-side — no data file is
    opened (a unit test deletes the data dir and the panel still
    answers). At 10k segments over 100 TB this is one JSON read vs a
    full-corpus scan; value-identical to :func:`stats_agg` because the
    final projection reuses its exact Spark expressions."""
    from toshokan_spark.search import manifest_stats

    catalog, config = _events_stats_index(spark, sf_dir)
    out = manifest_stats(spark, catalog, config, "value")
    if out is None:
        raise RuntimeError("manifest written by this build must carry sums")
    return out


def q_search_histogram_manifest(spark, sf_dir):
    """The match-all numeric histogram served from the MANIFEST alone
    — the distribution twin of ``search_stats_manifest``: each of the
    two segments recorded exact fixed-width (50.0) floor-keyed bin
    counts at commit (`FieldConfig.histogram_bin` →
    `indexer.compute_field_histograms`), and the panel is driver-side
    integer addition over the manifest JSON — zero data scans. Falls
    back to the scan while deletes pend or at any other width; the
    oracle proves the recorded bins exact against the data."""
    from toshokan_spark.search import manifest_histogram

    catalog, config = _events_stats_index(spark, sf_dir)
    out = manifest_histogram(spark, catalog, config, "value", 50.0)
    if out is None:
        raise RuntimeError("manifest written by this build must carry bins")
    return out


def q_search_extended_stats(spark, sf_dir):
    """Extended-stats panel over the view hits: stats plus decimal-
    exact sum-of-squares and the population variance/stddev derived
    from the two exact moment sums (E[x²]−E[x]², clamped at 0)."""
    from toshokan_spark.search import extended_stats_agg

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:view")
    return extended_stats_agg(hits, "value")


def q_search_histogram(spark, sf_dir):
    """Numeric histogram over the purchase hits: fixed-width 50.0
    buckets keyed by floor(v/50)*50 (floor, so negatives bucket left),
    per-bucket hit count + decimal-exact value sum — the value-axis
    twin of ``search_date_histogram``."""
    from toshokan_spark.search import histogram_agg

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:purchase")
    return histogram_agg(hits, "value", 50.0, value_col="value")


def q_search_ranges(spark, sf_dir):
    """Range aggregation over the click hits: user-defined [lo, hi)
    buckets at edges 10/50/100/250 (ES ``range`` agg convention: from
    inclusive, to exclusive, open ends), per-bucket count + sum."""
    from toshokan_spark.search import range_agg

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:click")
    return range_agg(
        hits, "value", [10.0, 50.0, 100.0, 250.0], value_col="value"
    )


def q_search_time_travel(spark, sf_dir):
    """Manifest time travel (Iceberg/Delta-style over the CAS
    manifest chain): the events index commits even-id events as
    version 2 and odd-id events as version 3; querying
    ``at_version=2`` scans EXACTLY the snapshot manifested then —
    pruning and plan built against the old segment list, the later
    segment invisible. At 100 TB this is how a panel re-runs
    reproducibly against last week's corpus."""
    from toshokan_spark.search import search_df

    catalog, config = _events_stats_index(spark, sf_dir)
    out = search_df(
        spark, catalog, config.name, "value:>=100", limit=None, at_version=2
    )
    return out.select("event_id", "user_id", "event_type", "value")


_DELETE_INDEX_CACHE: dict = {}


def q_search_deletes(spark, sf_dir):
    """Delete-by-query tombstones (the GDPR-style removal a training
    -data store needs): a real index over the user_id<50 events gets
    a ``delete event_type:error`` tombstone — recorded in one CAS
    manifest write, applied as a compiled anti-filter by every read
    with NO data rewrite (the merge is the physical materialization,
    tested separately). Match-all search must show only survivors."""
    from toshokan_spark.catalog import FsCatalog
    from toshokan_spark.indexer import write_segment
    from toshokan_spark.maintenance import create_index
    from toshokan_spark.search import search_df

    import tempfile

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _DELETE_INDEX_CACHE:
        root = tempfile.mkdtemp(prefix="delidx-")
        catalog = FsCatalog(f"{root}/cat")
        config = IndexConfig(
            name="events_del",
            path=f"{root}/data/events_del",
            fields=[
                FieldConfig(name="event_id", type="number", number_type="i64"),
                FieldConfig(name="user_id", type="number", number_type="i64"),
                FieldConfig(name="event_type", type="text", tokenizer="raw"),
                FieldConfig(name="value", type="number", number_type="f64"),
            ],
        )
        create_index(catalog, config)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        write_segment(catalog, config, ev.where(F.col("user_id") < 50))
        catalog.add_delete("events_del", "event_type:error")
        _DELETE_INDEX_CACHE[key] = catalog
    catalog = _DELETE_INDEX_CACHE[key]
    out = search_df(spark, catalog, "events_del", "*", limit=None)
    return out.select("event_id", "user_id", "event_type", "value")


def q_search_percentiles_by(spark, sf_dir):
    """Per-facet discrete percentiles — p50/p95 of value WITHIN each
    event type over the user_id<=60 hit set (the "latency by service"
    panel): one group-key exchange, elements-of-the-data answers."""
    from toshokan_spark.search import percentiles_by

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "user_id:<=60")
    return percentiles_by(hits, "event_type", "value")


def q_search_panel(spark, sf_dir):
    """The composed search panel in ONE scan (VERDICT r9 directive
    6): facets + fixed-width value histogram + global stats and
    p50/p95 over the error hit set via GROUPING SETS — one Expand +
    one partial-aggregated exchange where the per-section CLI ran one
    job per panel (plan-asserted single data scan,
    `tests/test_plan_audit.py`). ES answers a multi-agg request in
    one pass; at 100 TB N hit-set scans vs one is the whole game."""
    from toshokan_spark.search import panel_agg

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:error")
    return panel_agg(hits, "event_type", "value", 50.0)


def q_search_percentiles_approx(spark, sf_dir):
    """Corpus-scale percentiles twin (VERDICT r9 directive 4):
    ``percentile_approx`` (Greenwald-Khanna, O(accuracy) buffer, rank
    error <= n/accuracy) instead of exact percentile_disc. At this
    hit count (< accuracy=10000) the summary never compresses, so the
    values EQUAL the exact panel's — the shared oracle proves the
    scale path value-correct end-to-end, the
    ``lm_quality_buckets_scaled`` pattern."""
    from toshokan_spark.search import percentiles_agg_approx

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:error")
    return percentiles_agg_approx(hits, "value")


def q_search_percentiles_by_approx(spark, sf_dir):
    """Per-facet approx percentiles — the grouped scale twin of
    ``search_percentiles_by`` (same O(accuracy)-per-group bound,
    exact below accuracy, shared oracle)."""
    from toshokan_spark.search import percentiles_by_approx

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "user_id:<=60")
    return percentiles_by_approx(hits, "event_type", "value")


def q_search_cardinality_sketch(spark, sf_dir):
    """Sketch-only cardinality (VERDICT r9 directive 5): the KMV
    bottom-k estimate WITHOUT the exact-distinct side — the 100 TB
    path never pays the ``count_distinct`` exchange of the raw key
    space (plan-asserted: no count_distinct in this plan); its one
    exchange carries map-side-deduped int64 hashes. Below k the
    bottom-k size itself is the distinct count (modulo hash
    collisions); here distinct=150 > k=64 exercises the estimator."""
    from toshokan_spark.search import cardinality_agg

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:click")
    return cardinality_agg(hits, "user_id", k=64, sketch_only=True)


def q_search_composite(spark, sf_dir):
    """Composite aggregation — ES's resumable terms pagination: the
    next 10 (event_type, user_id) buckets in ascending key order
    strictly after the ('click', 50) cursor. The after-key range
    filter prunes BEFORE the groupBy (the leading-key disjunct is
    sargable), the surviving keys partial-aggregate, and the page is
    an ascending distributed top-10 — enumerating a billion-bucket
    terms space page by page without ever ranking it whole."""
    from toshokan_spark.search import composite_agg

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "value:>=50")
    return composite_agg(
        hits, ["event_type", "user_id"], size=10, after=("click", 50)
    )


def q_search_rare_terms(spark, sf_dir):
    """Rare-terms aggregation — the long-tail complement of the terms
    facet: user ids appearing in at most 2 of the high-value purchase
    hits. The cardinality-sized grouped frame is filtered to the tail
    AFTER the partial-aggregated exchange, so common terms never
    rank; exact counts (no CuckooFilter false positives)."""
    from toshokan_spark.search import rare_terms_agg

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:purchase AND value:>=150")
    return rare_terms_agg(hits, "user_id", max_doc_count=2)


def q_search_filters(spark, sf_dir):
    """Filters aggregation — N named query buckets in ONE scan (ES
    ``filters``): each name compiles through the real query compiler
    into a conditional aggregate, so the plan has one data pass and
    no join regardless of N; overlapping hits count in every matching
    bucket. At 100 TB this replaces N search round-trips."""
    from toshokan_spark.search import filters_agg

    ev = _t(spark, sf_dir, "events")
    return filters_agg(
        ev,
        EVENTS_CONFIG,
        {
            "errors": "event_type:error",
            "big_values": "value:>=200",
            "early_power_users": "user_id:<=20 AND value:>=100",
        },
    )


def q_search_multi_terms(spark, sf_dir):
    """Multi-terms aggregation — terms buckets over the composite
    (event_type, user_id) key, top-10 by descending count with the
    key tuple as the deterministic tiebreak; one partial-aggregated
    exchange + distributed TakeOrdered, never a global bucket sort."""
    from toshokan_spark.search import multi_terms_agg

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "value:>=100")
    return multi_terms_agg(hits, ["event_type", "user_id"], k=10)


def q_search_pipeline_aggs(spark, sf_dir):
    """Pipeline aggregations (ES derivative / cumulative_sum /
    moving_fn) over the purchase date histogram: per daily bucket,
    the decimal-exact value sum plus its bucket-over-bucket delta,
    running total, and trailing 3-bucket moving average. The window
    stages run over the ALREADY-AGGREGATED histogram frame
    (time_range/interval rows — metadata-sized), so the unpartitioned
    window is a deliberate bounded pass; the corpus-sized work is the
    one partial-aggregated histogram groupBy."""
    from toshokan_spark.search import pipeline_histogram_agg

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:purchase")
    return pipeline_histogram_agg(hits, "ts", 86400, "value", moving_window=3)


def q_search_highlight(spark, sf_dir):
    """Hit highlighting (search.py::highlight — ES/quickwit snippet
    parity): Spanish docs matching text:spark, the text column with
    every positive query word <em>-wrapped on case-insensitive word
    boundaries, trimmed to an 80-char fragment around the first
    match. One narrow JVM-regex projection."""
    from toshokan_spark.search import highlight

    docs = _t(spark, sf_dir, "documents")
    hits = _search(docs, DOCS_CONFIG, "text:spark AND lang:es")
    return highlight(hits, "text:spark AND lang:es", "text",
                     fragment_size=80).select("doc_id", "snippet")


def q_search_histogram_filled(spark, sf_dir):
    """Empty-bucket fill (ES ``min_doc_count: 0``): the 6-hour
    histogram of high-value purchases — a sparse series (~35 of ~116
    spine buckets populated) — emitted CONTIGUOUSLY, gap buckets as
    zero counts/sums. The spine is one sequence() explode off the
    histogram's own 1-row min/max aggregate; corpus work unchanged."""
    from toshokan_spark.search import date_histogram

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "value:>190 AND event_type:purchase")
    return date_histogram(
        hits, "ts", 6 * 3600, value_col="value", fill_empty=True
    )


def q_search_serial_diff(spark, sf_dir):
    """serial_diff pipeline stage (ES seasonality differencing): the
    daily purchase histogram with its lag-4 value difference alongside
    the derivative/cumulative/moving-average stages — all windows over
    the already-aggregated bucket frame."""
    from toshokan_spark.search import pipeline_histogram_agg

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:purchase")
    return pipeline_histogram_agg(
        hits, "ts", 86400, "value", moving_window=3, serial_diff_lag=4
    ).select("bucket_epoch", "total_value", "serial_diff")


def q_search_auto_histogram(spark, sf_dir):
    """Auto-interval date histogram (ES ``auto_date_histogram``):
    "about 20 bars" over the purchase hit set — the interval is the
    smallest ladder rung whose epoch-aligned bucket count fits the
    target, chosen from a 1-row min/max aggregate (parquet-stat
    cheap) and mirrored by the identical integer CASE ladder in the
    oracle, so both engines pick the same rung by construction."""
    from toshokan_spark.search import auto_date_histogram

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:purchase")
    return auto_date_histogram(hits, "ts", target_buckets=20, value_col="value")


def q_search_phrase_prefix(spark, sf_dir):
    """match-phrase-prefix query (ES autocomplete staple, extension):
    ``text:"key ord"*`` — the phrase words in order with the LAST
    matched as a prefix. Regex strategy (word boundary chain without
    the trailing boundary) on non-stemmed fields; a positional
    startswith chain serves stemmed/array fields."""
    docs = _t(spark, sf_dir, "documents")
    out = _search(docs, DOCS_CONFIG, 'text:"key ord"* AND lang:en')
    return out.select("doc_id", "lang")


def q_search_facets_by_value(spark, sf_dir):
    """Terms aggregation ordered by a SUB-METRIC (ES ``"order":
    {"total_value": "desc"}``): top event types by decimal-exact
    value sum instead of hit count — same partial-agg + distributed
    TakeOrdered shape, a different sort key."""
    from toshokan_spark.search import facet_counts

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "user_id:>=50")
    return facet_counts(
        hits, "event_type", k=3, value_col="value", order_by="value"
    )


def q_search_sampler(spark, sf_dir):
    """Sampler aggregation (ES ``sampler`` analog): the facet panel
    over a DETERMINISTIC 25% hash sample of the hit set — the
    poly-hash bucket sample (reproducible across runs/engines/
    partitionings; a rate increase only ADDS rows) instead of ES's
    shard-local top-N. At 100 TB this caps any aggregation's input
    without a separate sampling job: the sample filter fuses into the
    one hit-set scan (CLI ``--sample-rate R --sample-by F`` composes
    with every panel flag)."""
    from toshokan_spark.operators.sampling import sample_by_hash
    from toshokan_spark.search import facet_counts

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "value:>=50")
    return facet_counts(
        sample_by_hash(hits, 0.25, "user_id"), "event_type",
        k=5, value_col="value",
    )


def q_search_percentile_ranks(spark, sf_dir):
    """Percentile-ranks panel (ES ``percentile_ranks`` — the inverse
    lookup: what percentile would 50/120/250 land at): exact
    conditional-aggregation counts, one pass, NO value buffering —
    corpus-scale safe as-is, unlike the forward percentile panel."""
    from toshokan_spark.search import percentile_ranks_agg

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:error")
    return percentile_ranks_agg(hits, "value", [50.0, 120.0, 250.0])


def q_search_weighted_avg(spark, sf_dir):
    """Weighted-average aggregation (ES ``weighted_avg``): purchase
    values weighted by user_id (a synthetic weight — the shape is the
    grades-by-credits panel). Both moment sums decimal-exact at
    overflow-safe widths, one division in double, NULL-on-zero-weight
    semantics."""
    from toshokan_spark.search import weighted_avg_agg

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:purchase")
    return weighted_avg_agg(hits, "value", "user_id")


def q_search_mad(spark, sf_dir):
    """Median-absolute-deviation panel (ES
    ``median_absolute_deviation``): median(|x - median|) with both
    medians SQL-standard percentile_disc elements — two aggregation
    passes by definition, the inner median re-entering as a 1-row
    broadcast (never a window over the hit set)."""
    from toshokan_spark.search import mad_agg

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:error")
    return mad_agg(hits, "value")


def q_search_adjacency(spark, sf_dir):
    """Adjacency-matrix aggregation (ES ``adjacency_matrix``): N
    named buckets + all pairwise intersections from ONE conditional-
    aggregation scan — the co-occurrence panel; N stays panel-sized
    by convention (ES caps it for the same quadratic reason)."""
    from toshokan_spark.search import adjacency_matrix_agg

    ev = _t(spark, sf_dir, "events")
    return adjacency_matrix_agg(
        ev,
        EVENTS_CONFIG,
        {
            "errors": "event_type:error",
            "power": "user_id:>=100",
            "big": "value:>=200",
        },
    )


def q_search_dt_range(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = _search(
        ev, EVENTS_CONFIG,
        "ts:[2024-01-03T00:00:00Z TO 2024-01-04T00:00:00Z} AND event_type:error",
    )
    return out.select("event_id", "user_id")


def q_search_text_term(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = _search(docs, DOCS_CONFIG, "text:spark AND lang:es")
    return out.select("doc_id", "lang")


def q_search_prefix(spark, sf_dir):
    """Trailing-wildcard prefix query (quickwit/ES-style extension;
    tantivy's parser does not expose one): ``text:spar*`` matches any
    document whose analyzed token stream has a token starting with
    'spar'. Compiles to an EXISTS-startswith over the tokenized
    shadow column — JVM-side, no UDF; mirrored in SQL as a
    word-boundary regex."""
    docs = _t(spark, sf_dir, "documents")
    out = _search(docs, DOCS_CONFIG, "text:spar* AND lang:en")
    return out.select("doc_id", "lang")


def q_search_fuzzy(spark, sf_dir):
    """Fuzzy term query ``term~N`` (Lucene/ES syntax, extension):
    raw-tokenizer path — levenshtein(event_type, 'clck') <= 1 catches
    'click'. Spark's levenshtein is the classic
    insert/delete/substitute DP DuckDB shares, so the oracle is exact;
    the tokenized path adds a token-length pre-filter before the DP
    (plans/ast.py::Fuzzy, query.py::_fuzzy_match)."""
    ev = _t(spark, sf_dir, "events")
    out = _search(ev, EVENTS_CONFIG, "event_type:clck~1 AND user_id:>=120")
    return out.select("event_id", "user_id", "event_type")


def q_search_phrase(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = _search(docs, DOCS_CONFIG, 'text:"key order"')
    return out.select("doc_id")


def q_ingest_roundtrip(spark, sf_dir):
    """The full ingestion pipeline (JSON parse -> schema coercion ->
    typed columns, `toshokan_spark/ingest.py`) applied to the
    documents table re-serialized as JSON lines: output values must be
    bit-identical to the source (oracle = plain SELECT)."""
    from toshokan_spark.ingest import ingest_projection

    docs = _t(spark, sf_dir, "documents")
    lines = docs.select(
        F.to_json(F.struct("doc_id", "text", "lang", "source", "n_chars")).alias("value")
    )
    config = IndexConfig(
        name="roundtrip",
        path="",
        fields=[
            FieldConfig(name="doc_id", type="number", number_type="i64"),
            FieldConfig(name="text", type="text"),
            FieldConfig(name="lang", type="text", tokenizer="raw"),
            FieldConfig(name="source", type="text", tokenizer="raw"),
            FieldConfig(name="n_chars", type="number", number_type="i64"),
        ],
    )
    typed = ingest_projection(lines, config)
    return typed.select("doc_id", "text", "lang", "source", "n_chars")


#: one documents index per (app, sf_dir) process lifetime — BM25
#: corpus stats are a commit-time artifact, paid once like any index
#: build, then read (metadata-sized) by every scored query
_BM25_INDEX_CACHE: dict = {}


def _docs_bm25_index(spark, sf_dir):
    """Build (once per process per sf_dir) a REAL index over the
    documents table so scored search exercises the manifest-stats
    path end-to-end: segment write -> commit-time ``_stats`` parquet
    (``indexer.write_segment_stats``) -> ``merged_stats_provider``
    reading df/doc-length stats from the manifest's segments instead
    of re-aggregating the corpus per query (VERDICT r7 directive 3).
    Returns (catalog, config)."""
    import tempfile

    from toshokan_spark.catalog import FsCatalog
    from toshokan_spark.indexer import write_segment
    from toshokan_spark.maintenance import create_index

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _BM25_INDEX_CACHE:
        return _BM25_INDEX_CACHE[key]
    root = tempfile.mkdtemp(prefix="bm25idx-")
    catalog = FsCatalog(f"{root}/cat")
    config = IndexConfig(
        name="docs_bm25",
        path=f"{root}/data/docs_bm25",
        fields=[
            FieldConfig(name="doc_id", type="number", number_type="i64"),
            FieldConfig(name="text", type="text"),
            # second scored field: multi_match reads per-field
            # commit-time stats (Lucene fields-as-independent-indexes)
            FieldConfig(name="source", type="text"),
        ],
    )
    create_index(catalog, config)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    write_segment(catalog, config, docs)
    _BM25_INDEX_CACHE[key] = (catalog, config)
    return catalog, config


def q_search_bm25(spark, sf_dir):
    """BM25 over the indexed documents corpus with MANIFEST-read
    stats: N / Σdl / per-term df come from the segments' commit-time
    stats parquets (integer sums — exactly the corpus aggregation the
    oracle computes), so the scored query never re-tokenizes the
    corpus for statistics. The full-corpus fallback path stays
    covered by ``hybrid_search_rrf`` and the bm25 unit tests."""
    from toshokan_spark.functions.bm25 import merged_stats_provider, with_bm25
    from toshokan_spark.indexer import stats_path
    from toshokan_spark.search import read_segments
    from toshokan_spark.storage import join_path

    catalog, config = _docs_bm25_index(spark, sf_dir)
    segs = catalog.segments("docs_bm25")
    provider = merged_stats_provider(
        spark, [stats_path(config, s.file_name) for s in segs], "text"
    )
    df = read_segments(
        spark, [join_path(config.path, s.file_name) for s in segs],
    )
    out = with_bm25(
        df.select(F.col("doc_id").alias("id"), "text"),
        "spark table",
        stats_provider=provider,
    )
    return out.select(F.col("id").alias("doc_id"), "bm25")


def q_search_significant_terms(spark, sf_dir):
    """Significant-terms panel ("what makes this hit set different"):
    JLH-scored terms overrepresented in the lang:en hit set vs the
    whole corpus. The BACKGROUND model reads the index's commit-time
    per-segment ``_stats`` parquets (per-term df, integer-exact across
    segments) — only the hit set is tokenized per query; the oracle
    recomputes the background from the raw corpus, proving the
    commit-time stats exact."""
    from toshokan_spark.indexer import stats_path
    from toshokan_spark.search import significant_terms_from_stats

    catalog, config = _docs_bm25_index(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    hits = _search(docs, DOCS_CONFIG, "lang:en")
    segs = catalog.segments("docs_bm25")
    return significant_terms_from_stats(
        spark,
        hits,
        "text",
        [stats_path(config, s.file_name) for s in segs],
        "text",
        k=15,
        min_doc_count=3,
    )


def q_quality_ensemble(spark, sf_dir):
    """Rank-fusion quality ensemble over three heterogeneous signals
    (length, lexical diversity, mean word length — the last negated:
    lower is better): exact global ranks via the two-level prefix
    decomposition (NO single-task window), min-max normalized and
    averaged. Rank fusion needs no per-signal calibration — the
    DataComp/FineWeb way to combine filters whose scales disagree."""
    from toshokan_spark.operators.dedup import words_col
    from toshokan_spark.operators.text import quality_ensemble

    docs = _t(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    # stage the word array: the lambda-bearing tokenize gets no
    # subexpression elimination, and div/mwl reference it four times
    # in the ensemble's signal projection (r16)
    staged = docs.select(
        "doc_id", "n_chars", words_col(t).alias("__w"),
        F.length(t).alias("__tl"),
    )
    w = F.col("__w")
    div = F.when(
        F.size(w) > 0, F.size(F.array_distinct(w)) / F.size(w)
    ).otherwise(F.lit(0.0))
    mwl = F.when(F.size(w) > 0, F.col("__tl") / F.size(w)).otherwise(
        F.lit(0.0)
    )
    return quality_ensemble(
        staged,
        [("len", F.col("n_chars")), ("div", div), ("mwl", -mwl)],
    )


def q_c4_line_filters(spark, sf_dir):
    """C4/FineWeb line-level cleaning signals — the per-LINE rules
    Gopher's token statistics don't cover: minimum words per line +
    terminal punctuation, sentence floor, lorem-ipsum/brace page
    drops. One scan, JVM regex + array lambdas, composes with
    gopher_rules into the standard pre-filter stack."""
    docs = _t(spark, sf_dir, "documents")
    return textops.c4_line_filters(docs)


def q_json_path_filter(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.filter(k > 80).select("event_id", k.alias("k"))


# ---------------------------------------------------------------------------
# relational analytics (Spark-native surface the reference lacks, §2.8)
# ---------------------------------------------------------------------------

def q_q1_pricing(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # cast each factor to decimal BEFORE multiplying: a 4-decimal-exact
    # double product can be a rounding tie at scale 4, and Spark
    # (HALF_UP) and DuckDB (HALF_EVEN) break ties differently; factor
    # casts are tie-free and the decimal multiply is exact
    disc_price = _dec(F.col("l_extendedprice")) * _dec(1 - F.col("l_discount"))
    charge = _dec(F.col("l_extendedprice")) * _dec(
        (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    )
    return (
        li.filter(F.col("l_shipdate") <= "2000-12-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dbl(F.sum(_dec(F.col("l_quantity")))).alias("sum_qty"),
            _dbl(F.sum(_dec(F.col("l_extendedprice")))).alias("sum_base_price"),
            _dbl(F.sum(disc_price)).alias("sum_disc_price"),
            _dbl(F.sum(charge)).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_q3_top_revenue(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    rev = _dec(F.col("l_extendedprice")) * _dec(1 - F.col("l_discount"))
    # no broadcast hint on customer: it scales with the corpus (AQE
    # broadcasts it when runtime stats allow; shuffles otherwise)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey")
        .agg(_dbl(F.sum(rev)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q_q5_region_revenue(spark, sf_dir):
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    rev = _dec(F.col("l_extendedprice")) * _dec(1 - F.col("l_discount"))
    # broadcast hints only on the bounded dims (nation=25, region=5
    # rows at any scale); customer/supplier grow with the corpus — AQE
    # picks broadcast vs shuffle from runtime stats
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(
            cust,
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_dbl(F.sum(rev)).alias("revenue"))
    )


def q_q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 (forecasting revenue change): one scan, all three
    predicates pushed to parquet, single-row decimal-exact aggregate
    — the canonical filter-pushdown probe."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        _dbl(F.sum(_dec(F.col("l_extendedprice")) * _dec(F.col("l_discount"))))
        .alias("revenue")
    )


def q_q10_returned_items(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting): top-20 customers by
    revenue lost to returns in 1996H1 — fact-fact join shuffles on
    the order key, bounded dims broadcast, distributed top-k with a
    custkey tiebreak so the cut is total-ordered."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    rev = _dec(F.col("l_extendedprice")) * _dec(1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dbl(F.sum(rev)).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q_q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 (promotion effect): PROMO revenue share of one ship
    month — both moment sums decimal-exact, the percentage derived in
    double from the two exact sums; part joins broadcast."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01")
        & (F.col("l_shipdate") < "1996-10-01")
    )
    rev = _dec(F.col("l_extendedprice")) * _dec(1 - F.col("l_discount"))
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    s_promo = F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
    s_all = F.sum(rev)
    return j.agg(
        F.round(
            F.lit(100.0) * s_promo.cast("double") / s_all.cast("double"), 6
        ).alias("promo_pct")
    )


def q_q18_large_orders(spark, sf_dir):
    """TPC-H Q18 (large-volume customers): orders whose total line
    quantity exceeds 300 — the group-then-having shape; the having
    filter lands on the partial-aggregated frame, never a window."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(_dbl(F.sum(_dec(F.col("l_quantity")))).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_totalprice", "total_qty"
        )
    )


def q_q4_order_priority(spark, sf_dir):
    """TPC-H Q4 (order-priority checking), adapted: the testdata has
    no l_commitdate/l_receiptdate, so "late" is l_shipdate more than
    60 days after o_orderdate — same correlated-EXISTS shape. The
    quarter filter pushes to the orders scan; the EXISTS is a LEFT
    SEMI hash join on the order key with the lateness inequality as
    the join residual, so each order is counted once no matter how
    many late lines it has and the lineitem side never aggregates."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1996-10-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    late = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 (volume shipping): revenue shipped between NATION_1
    and NATION_2 in either direction, by (supp_nation, cust_nation,
    ship year). The two 25-row nation dims broadcast; the direction
    disjunction lands on broadcast-joined columns so the fact tables
    shuffle only on their join keys (orderkey / suppkey / custkey)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    rev = _dec(F.col("l_extendedprice")) * _dec(1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nkey"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_dbl(F.sum(rev)).alias("revenue"))
    )


def q_q8_market_share(spark, sf_dir):
    """TPC-H Q8 (national market share): NATION_1's share of ECONOMY-
    part revenue sold into AMERICA per order year. Share = two
    decimal-exact sums divided in double (the q14 pattern). Bounded
    dims (nation, region) broadcast; part is corpus-scaled so AQE
    decides; the conditional numerator avoids a second scan."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n_cust = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n_supp = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    rev = _dec(F.col("l_extendedprice")) * _dec(1 - F.col("l_discount"))
    j = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_cust), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_region") == region.r_regionkey)
        .join(F.broadcast(n_supp), supp.s_nationkey == F.col("sn_key"))
    )
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_1", rev).otherwise(F.lit(0))
    )
    den = F.sum(rev)
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(num.cast("double") / den.cast("double"), 6).alias("mkt_share")
        )
    )


def q_q12_late_priority(spark, sf_dir):
    """TPC-H Q12 (shipping-mode priority), adapted: no l_shipmode /
    l_commitdate in the testdata, so lines group by l_returnflag and
    "late" is l_shipdate > o_orderdate + 90 days; the high/low
    priority conditional counts are unchanged. One fact-fact join on
    the order key, conditional aggregation — no second pass."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    orders = _t(spark, sf_dir, "orders")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    high = F.sum(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(1)
        ).otherwise(F.lit(0))
    )
    low = F.sum(
        F.when(
            ~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(1)
        ).otherwise(F.lit(0))
    )
    return j.groupBy("l_returnflag").agg(
        high.alias("high_line_count"), low.alias("low_line_count")
    )


def q_q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 (customer distribution): histogram of per-customer
    order counts including zero-order customers — the LEFT OUTER
    join-then-double-aggregate shape. The priority exclusion stands
    in for the o_comment NOT LIKE (column absent). First aggregate
    keys on c_custkey (pre-aggregated before the histogram exchange);
    the second groupBy moves only (count, 1) pairs."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count(F.col("o_orderkey")).alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def q_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 (top supplier): supplier(s) with the maximum 1996Q1
    shipped revenue. The revenue view aggregates once; the max is a
    1-row aggregate broadcast back (house pattern — no window over
    the whole supplier set); equality on the round-6 double is exact
    because both sides compute it identically. Supplier dim joins
    broadcast for the name."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = _dec(F.col("l_extendedprice")) * _dec(1 - F.col("l_discount"))
    revenue = li.groupBy("l_suppkey").agg(_dbl(F.sum(rev)).alias("total_revenue"))
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("l_suppkey", "s_name", "total_revenue")
    )


def q_q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue): average yearly
    revenue lost if Brand#1 orders below 20% of the part's average
    quantity were not filled (p_container absent — brand alone
    selects). The correlated per-part average is a groupBy on the
    brand-restricted lines joined back on the part key. The 20%
    comparison is decimal-integer exact: qty < 0.2*sum/n  <=>
    5*qty*n < sum — no double division on either engine."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    li = _t(spark, sf_dir, "lineitem")
    brand_lines = li.join(
        F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey")
    )
    per_part = brand_lines.groupBy(F.col("l_partkey").alias("pp_key")).agg(
        F.sum(_dec(F.col("l_quantity"))).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return (
        brand_lines.join(F.broadcast(per_part), F.col("l_partkey") == F.col("pp_key"))
        .filter(
            _dec(F.col("l_quantity")) * F.lit(5) * F.col("n_lines")
            < F.col("sum_qty")
        )
        .agg(
            F.round(
                F.sum(_dec(F.col("l_extendedprice"))).cast("double") / F.lit(7.0),
                6,
            ).alias("avg_yearly")
        )
    )


def q_q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 (discounted revenue): revenue matching any of three
    (brand, size-range, quantity-range) conjunctions — the
    disjunctive-predicate probe (p_container/l_shipmode absent; size
    stands in for container). The OR-of-ANDs sits on one broadcast
    part join; each conjunct narrows to per-table ranges Catalyst
    can push (quantity bounds reach the lineitem scan as
    l_quantity >= 1 AND l_quantity <= 30 across the disjunction)."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    j = li.join(part, li.l_partkey == part.p_partkey)
    c1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 5))
        & (F.col("l_quantity").between(1, 11))
    )
    c2 = (
        (F.col("p_brand") == "Brand#2")
        & (F.col("p_size").between(1, 10))
        & (F.col("l_quantity").between(10, 20))
    )
    c3 = (
        (F.col("p_brand") == "Brand#3")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(20, 30))
    )
    rev = _dec(F.col("l_extendedprice")) * _dec(1 - F.col("l_discount"))
    return j.filter(c1 | c2 | c3).agg(_dbl(F.sum(rev)).alias("revenue"))


def q_q21_suppliers_kept_waiting(spark, sf_dir):
    """TPC-H Q21 (suppliers who kept orders waiting), adapted to the
    testdata's lateness surrogate (l_shipdate > o_orderdate + 90):
    NATION_0 suppliers whose line was late on a finished ('F')
    multi-supplier order where NO other supplier was late. EXISTS ->
    LEFT SEMI, NOT EXISTS -> LEFT ANTI, both hash joins on the order
    key with the supplier inequality (and lateness, for the anti) as
    residuals; the lineitem side is projected to (orderkey, suppkey,
    lateness) before either join so the probes stay narrow."""
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_0")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    l1 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(late)
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    base = (
        l1.join(supp, l1.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("l_orderkey", "l_suppkey", "s_name", "o_orderdate")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("k3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("ship3"),
    )
    withother = base.join(
        l2,
        (F.col("k2") == F.col("l_orderkey")) & (F.col("s2") != F.col("l_suppkey")),
        "left_semi",
    )
    nootherlate = withother.join(
        l3,
        (F.col("k3") == F.col("l_orderkey"))
        & (F.col("s3") != F.col("l_suppkey"))
        & (
            F.col("ship3")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ),
        "left_anti",
    )
    return (
        nootherlate.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


def q_q22_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 (global sales opportunity): well-funded customers in
    seven nations with no orders (c_phone absent — the nation key IS
    the country code). The positive-balance average is a 1-row
    aggregate broadcast back (never a window); the no-orders test is
    a LEFT ANTI hash join on the customer key against the RECENT
    orders only (Q22's "no orders for 7 years" — the date filter
    pushes to the orders scan before the anti probe); the threshold
    compare divides the decimal-exact sum by the count in double
    identically on both engines."""
    nations = [0, 3, 7, 11, 14, 18, 21]
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_nationkey").isin(nations))
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "1999-01-01")
        .select("o_custkey")
    )
    avg1 = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.round(F.sum(_dec(F.col("c_acctbal"))), 6).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(avg1))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dbl(F.sum(_dec(F.col("c_acctbal")))).alias("totacctbal"),
        )
    )


def _partsupp(spark, sf_dir):
    """Deterministic ``partsupp`` derivation closing TPC-H 22/22
    (the testdata ships no partsupp table; reference parity needs
    the five partsupp queries, ``BASELINE.md`` query classes).

    TPC-H dbgen assigns each part 4 suppliers by
    ``(p + i*(S/4 + p div S)) mod S`` (spec §4.2.3, adapted to the
    testdata's 0-based keys); dbgen's RANDOM availqty/supplycost are
    replaced by shared integer formulae so Spark and the DuckDB
    oracle derive the table bit-identically (the repo's established
    shared-derivation discipline). ``ps_supplycost`` is carried as
    integer CENTS so every downstream aggregate stays
    integer/decimal-exact; queries divide by 100 only at the final
    presentation column.

    Scale: partsupp is never materialized — it is part x 4 via pure
    column algebra over the part scan, so at 100 TB it prunes,
    filters, and broadcasts exactly as the part table does. The
    supplier count is a 1-row broadcast aggregate, the 4-row ``i``
    frame a broadcast literal; no shuffle is introduced."""
    part = _t(spark, sf_dir, "part").select("p_partkey")
    s_cnt = _t(spark, sf_dir, "supplier").agg(F.count(F.lit(1)).alias("s_cnt"))
    four = spark.range(4).select(F.col("id").alias("i"))
    return (
        part.crossJoin(F.broadcast(four))
        .crossJoin(F.broadcast(s_cnt))
        .selectExpr(
            "p_partkey AS ps_partkey",
            "(p_partkey + i * (s_cnt div 4 + p_partkey div s_cnt)) % s_cnt"
            " AS ps_suppkey",
            "(p_partkey * 7 + i * 131) % 9999 + 1 AS ps_availqty",
            "(p_partkey * 13 + ((p_partkey + i * (s_cnt div 4 +"
            " p_partkey div s_cnt)) % s_cnt) * 97) % 99900 + 100"
            " AS ps_supplycost_cents",
        )
    )


def q_q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 (minimum-cost supplier): for every '%bolt' part, the
    EUROPE supplier(s) offering it at the regional minimum cost
    (p_mfgr / s_address / s_phone / s_comment absent from the
    testdata — the remaining spec columns are returned). The
    correlated MIN becomes a groupBy over the region-restricted
    partsupp joined back on (part, cost) equality; part and the
    supplier-nation-region dim are broadcast, so the only wide frame
    is the derived partsupp scan itself."""
    ps = _partsupp(spark, sf_dir)
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%bolt"))
        .select("p_partkey", "p_name")
    )
    sn = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    elig = ps.join(
        F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey")
    ).join(F.broadcast(sn), F.col("ps_suppkey") == F.col("s_suppkey"))
    mins = elig.groupBy(F.col("ps_partkey").alias("mk")).agg(
        F.min("ps_supplycost_cents").alias("min_cents")
    )
    return (
        elig.join(
            F.broadcast(mins),
            (F.col("ps_partkey") == F.col("mk"))
            & (F.col("ps_supplycost_cents") == F.col("min_cents")),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round(F.col("ps_supplycost_cents") / F.lit(100.0), 6).alias(
                "supply_cost"
            ),
        )
        .orderBy(
            F.desc("s_acctbal"),
            F.asc("n_name"),
            F.asc("s_name"),
            F.asc("p_partkey"),
        )
        .limit(100)
    )


def q_q9_product_type_profit(spark, sf_dir):
    """TPC-H Q9 (product-type profit): profit by supplier nation and
    order year over '%gear%' parts —
    ``l_extendedprice*(1-l_discount) - ps_supplycost*l_quantity``.
    The LIKE filter broadcasts the surviving part keys into both the
    lineitem probe and the derived partsupp, so the only shuffle is
    the lineitem-orders join (both corpus-sized); the cost term is
    built (10,0)x(8,4)x(3,2) decimal so neither engine overflows
    precision 38 and every product is exact."""
    gears = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey")
    )
    ps = _partsupp(spark, sf_dir).join(
        F.broadcast(gears), F.col("ps_partkey") == F.col("p_partkey")
    ).select("ps_partkey", "ps_suppkey", "ps_supplycost_cents")
    sn = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(gears.select(F.col("p_partkey").alias("gk"))),
        F.col("l_partkey") == F.col("gk"),
    )
    j = (
        li.join(
            F.broadcast(ps),
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            _t(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    cost = (
        F.col("ps_supplycost_cents").cast("decimal(10,0)")
        * F.col("l_quantity").cast("decimal(8,4)")
        * F.expr("CAST(0.01 AS DECIMAL(3,2))")
    )
    amount = _dec(F.col("l_extendedprice")) * _dec(1 - F.col("l_discount")) - cost
    return (
        j.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(_dbl(F.sum(amount)).alias("sum_profit"))
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


def q_q11_important_stock(spark, sf_dir):
    """TPC-H Q11 (important stock identification): NATION_0 partsupp
    value per part, keeping parts above 1/200 of the national total
    (the spec's 0.0001/SF fraction, tuned to the testdata scale).
    The HAVING threshold compares integer cent-sums scaled by 200 —
    no division on either engine until the presentation column. The
    national total is a 1-row broadcast aggregate, never a window."""
    supp0 = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_0")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    nps = (
        _partsupp(spark, sf_dir)
        .join(F.broadcast(supp0), F.col("ps_suppkey") == F.col("s_suppkey"))
        .select(
            "ps_partkey",
            (F.col("ps_supplycost_cents") * F.col("ps_availqty")).alias("v"),
        )
    )
    total = nps.agg(F.sum("v").alias("tot"))
    return (
        nps.groupBy("ps_partkey")
        .agg(F.sum("v").alias("gv"))
        .join(F.broadcast(total))
        .filter(F.col("gv") * 200 > F.col("tot"))
        .select(
            "ps_partkey",
            F.round(F.col("gv") / F.lit(100.0), 6).alias("value"),
        )
        .orderBy(F.desc("value"), F.asc("ps_partkey"))
    )


def q_q16_part_supplier_relation(spark, sf_dir):
    """TPC-H Q16 (parts/supplier relationship): distinct supplier
    count per (brand, type, size) bucket, excluding one brand, one
    type prefix, sizes outside an 8-value set, and "complaint"
    suppliers (s_comment absent — negative account balance is the
    complaint surrogate, the same adaptation the acctbal queries
    use). The exclusion list is a broadcast LEFT ANTI; the distinct
    count partial-aggregates per partition before the final
    exchange."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (~F.col("p_type").like("MEDIUM%"))
        & (F.col("p_size").isin([1, 4, 7, 10, 13, 16, 19, 23]))
    )
    complainers = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        _partsupp(spark, sf_dir)
        .join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(complainers),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"),
            F.asc("p_brand"),
            F.asc("p_type"),
            F.asc("p_size"),
        )
    )


def q_q20_potential_promotion(spark, sf_dir):
    """TPC-H Q20 (potential part promotion): EUROPE suppliers holding
    excess stock of 'red%' parts — availqty exceeding half of what
    they shipped in 1996 (region-wide rather than the spec's single
    nation: the testdata's ~4 suppliers per nation make a one-nation
    answer degenerate). The correlated half-sum is a grouped
    aggregate on the date-pruned, part-filtered lineitem; the
    membership test is a LEFT SEMI on the supplier key. The compare
    is decimal-exact: 2*availqty as DECIMAL against the DECIMAL
    quantity sum — no doubles until output (there are none)."""
    red = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    shipped = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec(F.col("l_quantity"))).alias("qty"))
    )
    cand = (
        _partsupp(spark, sf_dir)
        .join(
            F.broadcast(red.select(F.col("p_partkey").alias("rk"))),
            F.col("ps_partkey") == F.col("rk"),
        )
        .join(
            shipped,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .filter(
            (F.col("ps_availqty") * 2).cast("decimal(18,4)") > F.col("qty")
        )
        .select("ps_suppkey")
    )
    return (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .join(cand, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi")
        .select("s_name")
        .orderBy(F.asc("s_name"))
    )


def q_brand_revenue(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    rev = _dec(F.col("l_extendedprice")) * _dec(1 - F.col("l_discount"))
    # part scales with the corpus — no forced broadcast (AQE decides)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            _dbl(F.sum(rev)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_priority_counts(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.filter(
            (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_window_top_orders(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def q_user_event_gaps(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = _us(F.col("ts")) - F.lag(_us(F.col("ts"))).over(w)
    return ev.select("event_id", "user_id", gap.alias("gap_us"))


def q_hourly_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(_us(F.date_trunc("hour", F.col("ts"))).alias("hour_us"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dbl(F.sum(_dec(F.col("value")))).alias("sum_value"),
        )
    )


def q_distinct_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_heavy_hitter_users(spark, sf_dir):
    """Grouped heavy hitters: per event_type, the top-3 users by
    event count (rank ties broken by user_id — deterministic). One
    partial-agg shuffle + one window; at corpus scale the group
    count bounds window state, and the count agg map-side-combines
    before the exchange."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("n_events").desc(), F.col("user_id")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "event_type", "user_id",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def q_customers_without_orders(spark, sf_dir):
    """Anti join (NOT EXISTS): distributed as a broadcast/shuffled
    left-anti hash join, no row explosion."""
    cust = _t(spark, sf_dir, "customer")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "1998-01-01")
        .select("o_custkey")
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


def q_click_only_users(spark, sf_dir):
    """Set difference (EXCEPT DISTINCT): users who clicked but never
    purchased."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    big_buys = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") >= 450)
    ).select("user_id")
    return clicks.distinct().subtract(big_buys.distinct())


def q_user_sessions(spark, sf_dir):
    """Sessionization: per-user activity sessions split at 30-minute
    gaps, via Spark's native session_window (works identically on a
    stream with a watermark). The reference has no session concept at
    all (SURVEY §2.8)."""
    ev = _t(spark, sf_dir, "events")
    sw = F.session_window(F.col("ts"), "30 minutes")
    out = ev.groupBy("user_id", sw.alias("sw")).agg(
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return out.select(
        "user_id",
        _us(F.col("min_ts")).alias("session_start_us"),
        _us(F.col("max_ts")).alias("session_end_us"),
        "n_events",
    )


def q_rollup_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        _dbl(F.sum(_dec(F.col("l_quantity")))).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_cube_source_lang(spark, sf_dir):
    """CUBE over (source, lang): every aggregation combination —
    (both), (source, *), (*, lang), grand total — in ONE pass with
    partial aggregation (Spark expands the grouping sets map-side;
    NULL marks the rolled-up dimension, same convention both
    engines)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.cube("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("n_chars").cast("decimal(38,0)"))
        .cast("long")
        .alias("total_chars"),
    )


def q_pivot_event_days(spark, sf_dir):
    """Pivot table: events per (day, event_type) with the five known
    types as COLUMNS — Spark's pivot with an explicit value list
    compiles to conditional aggregation (one pass, no join), which is
    exactly the SQL mirror."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.withColumn("day", F.to_date("ts").cast("string"))
        .groupBy("day")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)).cast("long"))
        .na.fill(0, types)
    )


def q_asof_last_click(spark, sf_dir):
    """As-of join: each purchase event annotated with the user's most
    recent click (value) at or before the purchase time."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    # dedupe clicks to one row per (user, ts) so tie order is defined
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("cts"))
        .agg(F.max(F.col("value")).alias("cvalue"))
    )
    out = asof.asof_join(
        purchases, clicks, on=["user_id"], left_ts="ts", right_ts="cts",
        payload=["cts", "cvalue"],
    )
    return out.select(
        "event_id",
        "user_id",
        _us(F.col("ts")).alias("ts_us"),
        _us(F.col("asof_cts")).alias("last_click_ts_us"),
        F.col("asof_cvalue").alias("last_click_value"),
    )


def q_event_conversions(spark, sf_dir):
    """Conversion-window attribution: for every click, the purchases
    by the same user within the following 5 minutes — pair production
    via the time-bucketed interval join (`asof.window_join`, one
    equi-shuffle on (user, bucket), fan-out bounded by ~2 windows of
    per-user density), then a per-click aggregate left-joined back so
    clicks without conversions keep a 0 row."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    pairs = asof.window_join(
        clicks, buys, on=["user_id"], left_ts="ts", right_ts="ts",
        window_seconds=300,
    )
    agg = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions"),
        F.min(_us(F.col("r_ts"))).alias("first_conversion_us"),
        _dbl(F.round(F.sum(_dec(F.col("r_value"))), 6)).alias("conv_value"),
    )
    return clicks.join(agg, "event_id", "left").select(
        "event_id",
        "user_id",
        F.coalesce("n_conversions", F.lit(0).cast("long")).alias("n_conversions"),
        "first_conversion_us",
        "conv_value",
    )


def q_cohort_retention(spark, sf_dir):
    """Cohort retention: users grouped by first-active day, activity
    counted per (cohort, day-offset) — the standard growth-analytics
    triangle. One distinct-projection, one per-user min, one join
    (AQE-broadcast: the cohort table is |users|-sized), one partial
    aggregated groupBy."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    first = d.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    act = d.join(first, "user_id")
    return act.groupBy(
        "cohort_day", F.datediff("day", "cohort_day").cast("long").alias("day_offset")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_users"))


def q_funnel_stages(spark, sf_dir):
    """Ordered conversion funnel signup -> click -> purchase: each
    stage counts users whose first stage-event falls strictly AFTER
    their previous stage's first event (event order matters, not mere
    presence). Three per-user min aggregations chained by joins, each
    stage's table strictly shrinking; final counts are three scalar
    aggregates broadcast-joined into one row."""
    ev = _t(spark, sf_dir, "events")
    # three chained whole-partition windows over ONE (user_id)
    # partitioning: each stage's first-event time becomes a per-row
    # column the next stage's condition reads, so the whole funnel is
    # 1 scan + 1 exchange — the join formulation re-derived each
    # stage's lineage and rescanned events 6x
    w = Window.partitionBy("user_id")
    base = ev.filter(
        F.col("event_type").isin("signup", "click", "purchase")
    ).select("user_id", "ts", "event_type")
    base = base.withColumn(
        "s_ts", F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    )
    base = base.withColumn(
        "c_ts",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("s_ts")),
                F.col("ts"),
            )
        ).over(w),
    )
    base = base.withColumn(
        "p_ts",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("c_ts")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = base.groupBy("user_id").agg(
        F.max("s_ts").alias("s_ts"),
        F.max("c_ts").alias("c_ts"),
        F.max("p_ts").alias("p_ts"),
    )
    return per_user.agg(
        F.count("s_ts").cast("long").alias("n_signup"),
        F.count("c_ts").cast("long").alias("n_click_after_signup"),
        F.count("p_ts").cast("long").alias("n_purchase_after_click"),
    )


def q_source_drift(spark, sf_dir):
    """Per-source drift monitor: each source's mean document length
    z-scored against the cross-source distribution of means — the
    tripwire a pipeline owner wires to ingest (a source whose mean
    shifts is truncating, duplicating, or changing domain). Two tiny
    aggregations (per-source, then across the source table) and a
    broadcast join of a |sources|-row frame; decimal sums keep it
    deterministic."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (
            F.sum(F.size(dedup_words(F.col("text"))).cast("decimal(38,18)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("__m"),
    )
    glob = per.agg(
        (F.sum(F.col("__m").cast("decimal(38,18)")).cast("double") / F.count(F.lit(1))).alias("__gm"),
        (
            F.sum((F.col("__m") * F.col("__m")).cast("decimal(38,18)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__gm2"),
    )
    sd = F.sqrt(F.col("__gm2") - F.col("__gm") * F.col("__gm"))
    return (
        per.crossJoin(F.broadcast(glob))
        .select(
            "source",
            "n_docs",
            F.round(F.col("__m"), 6).alias("mean_tokens"),
            F.round(F.col("__gm"), 6).alias("global_mean"),
            F.round(
                F.when(sd > 0, (F.col("__m") - F.col("__gm")) / sd).otherwise(F.lit(0.0)),
                6,
            ).alias("z"),
        )
    )


def q_source_quality_curves(spark, sf_dir):
    """Per-source OLS of diversity on log length — each source's own
    calibration curve; slopes that leave the cross-source band mark a
    source whose length/diversity relation shifted (template change,
    truncation, new domain)."""
    from toshokan_spark.operators import stats

    docs = _t(spark, sf_dir, "documents")
    # staged word array — see q_quality_regression (r16)
    staged = docs.select(
        "source", dedup_words(F.col("text")).alias("__w")
    )
    x = F.log(F.size("__w").cast("double"))
    y = F.size(F.array_distinct("__w")) / F.size("__w")
    return stats.grouped_linear_fit(staged, "source", x, y)


def q_bpe_merges(spark, sf_dir):
    """BPE tokenizer training (6 merge rounds over the corpus-weighted
    word vocabulary): the learned merge table, oracle-replayed by an
    unrolled CTE chain computing the identical argmax per round."""
    docs = _t(spark, sf_dir, "documents")
    return textops.bpe_merge_table(spark, textops.bpe_train(docs, n_merges=6))


def q_bpe_token_counts(spark, sf_dir):
    """Apply the learned 6-merge BPE model: per-doc token count after
    replaying the merges over each word (plus the whitespace count).
    Training uses the driver-local scale path (value-equal to the
    distributed per-round fold, property-tested
    test_bpe_train_local_matches_distributed; the distributed
    trainer itself stays value-oracled via the bpe_merges entry) —
    one vocabulary job instead of one Spark job per merge round
    (r16, the tokenizer_fertility precedent)."""
    docs = _t(spark, sf_dir, "documents")
    merges = textops.bpe_train_local(docs, n_merges=6)
    return textops.bpe_token_counts(docs, merges)


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights: how English-target-like is every
    document's hashed n-gram profile (target = lang='en' docs, raw =
    the whole pool; add-1 smoothing over 4096 hashed buckets). The
    target is a filtered subset of the pool, so it rides the one
    persisted feature stream as a predicate flag (target_pred) —
    identical counts, one feature-extraction pass fewer (r16)."""
    docs = _t(spark, sf_dir, "documents")
    return textops.dsir_log_weights(
        docs, None, dim=4096, alpha=1.0,
        target_pred=(F.col("lang") == "en"),
    )


def q_dsir_select(spark, sf_dir):
    """Full DSIR importance resampling (VERDICT r8 directive 6):
    the dsir_weights log-weights feed A-ES weighted sampling without
    replacement — the composed selection step, value-proven like
    ccnet_select is for the perplexity path."""
    docs = _t(spark, sf_dir, "documents")
    return textops.dsir_select(
        docs, None, k=50, dim=4096, alpha=1.0,
        target_pred=(F.col("lang") == "en"),
    )


def q_line_dedup(spark, sf_dir):
    """Line-level boilerplate dedup (RefinedWeb line-wise dedup /
    Dolma paragraph dedup): documents are deterministically wrapped
    into per-source multi-doc pages with header/footer chrome — the
    repeated-lines structure real crawls have — and the operator must
    strip exactly the chrome (verbatim in >= 2 pages) while body
    lines survive in order."""
    pages = _chrome_pages(spark, sf_dir).select("page_id", "text")
    return textops.strip_boilerplate_lines(
        pages, min_doc_freq=2, id_col="page_id"
    )


def q_quality_classifier(spark, sf_dir):
    """Hashed-feature linear classifier applied at scale (the
    fastText/DCLM-style model-based filter): unigram+bigram features
    into 4096 buckets, LCG demo weights, sigmoid score + label."""
    docs = _t(spark, sf_dir, "documents")
    weights = textops.lcg_weight_table(spark, dim=4096, seed=1)
    return textops.hashed_linear_score(docs, weights, bias=0.0, dim=4096)


def q_ccnet_select(spark, sf_dir):
    """CCNet selection: keep head+middle perplexity buckets whole,
    hash-sample the tail at 20% (set-stable)."""
    docs = _t(spark, sf_dir, "documents")
    return textops.ccnet_select(docs, n_buckets=3, tail_rate=0.2)


def q_lm_quality_buckets(spark, sf_dir):
    """CCNet-style perplexity terciles per source over the
    corpus-trained unigram LM score (rank-based ntile — integer-exact
    cross-engine)."""
    docs = _t(spark, sf_dir, "documents")
    return textops.lm_quality_buckets(docs, n_buckets=3)


def q_lm_quality_buckets_scaled(spark, sf_dir):
    """Scale-safe twin of ``lm_quality_buckets``: identical buckets
    via the two-level rank decomposition (no per-source window — the
    heavy window runs per (source, coarse-quantile bucket)), proven
    by sharing the rank-mode oracle."""
    docs = _t(spark, sf_dir, "documents")
    return textops.lm_quality_buckets(docs, n_buckets=3, scale_mode=True)


def q_multimodal_audio_meta(spark, sf_dir):
    """Audio metadata extraction (stub codec pinned for the value
    oracle; the real stdlib-wave WAV branch is exercised in pytest)."""
    # project BEFORE the Arrow crossing: mapInPandas is a pruning
    # barrier, so every column in the input frame rides the batch
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = multimodal.decode_audio_meta(
        multimodal.attach_blob(docs).select("doc_id", "blob"), codec="stub"
    )
    m = F.col("audio_meta")
    return out.select(
        "doc_id",
        m.getField("sample_rate").alias("sample_rate"),
        m.getField("channels").alias("channels"),
        m.getField("n_samples").alias("n_samples"),
        m.getField("duration_ms").alias("duration_ms"),
    )


def q_multimodal_audio_energy(spark, sf_dir):
    """Per-window RMS energy fan-out (stub: hash-derived window count
    and energies, oracle-reproducible)."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.audio_window_energy(
        multimodal.attach_blob(docs), codec="stub"
    )


def q_pack_sequences(spark, sf_dir):
    """GPT-style concat-and-split packing into 256-token training
    sequences per source shard: each doc's offset, sequence slot and
    boundary-spanning flag."""
    from toshokan_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id", "source", F.size(dedup_words(F.col("text"))).alias("n_tokens")
    )
    return sampling.pack_training_sequences(with_tokens, seq_len=256)


def q_ann_recall(spark, sf_dir):
    """Recall@5 of the approximate IVF index (2 of 8 probes) against
    brute-force ground truth over 20 queries — the ANN sign-off
    report, fully value-oracled because both sides are."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    cents = similarity.seed_ivf_centroids(emb, num_centroids=8)
    approx = similarity.knn_ivf(
        emb, queries, k=5, num_centroids=8, n_probe=2, centroids=cents
    )
    exact = similarity.knn_bruteforce(emb, queries, k=5)
    return similarity.knn_recall_report(approx, exact, k=5)


def q_script_profile(spark, sf_dir):
    """Per-doc Unicode script composition + dominant-script call —
    the mixed-script / wrong-script filter signal."""
    docs = _t(spark, sf_dir, "documents")
    return textops.script_profile(docs)


def q_snapshot_diff(spark, sf_dir):
    """Crawl-refresh audit: documents vs a synthetic next snapshot
    (every 10th doc's text touched, every 7th-mod-3 doc dropped, 50
    new ids) — added/removed/changed/unchanged by content hash."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    kept = docs.filter(F.col("doc_id") % 7 != 3)
    mutated = kept.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")).alias("text"),
    )
    added = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
    )
    return dedup.snapshot_diff(docs, mutated.unionAll(added))


def q_normalize_text(spark, sf_dir):
    """Unicode canonicalization pass (NFC + control strip +
    whitespace collapse) — ASCII corpus, so `changed` is the
    interesting oracle bit: both engines must agree nothing changed."""
    docs = _t(spark, sf_dir, "documents")
    return textops.normalize_text(docs)


def q_containment_pairs(spark, sf_dir):
    """Asymmetric containment dedup over a corpus seeded with
    guaranteed chunk-of relations: every 5th doc's 10-word prefix
    rides along as a shifted-id 'chunk' doc, and every chunk must
    surface as contained in its parent (containment 1.0, Jaccard far
    below the symmetric threshold — the case Jaccard dedup misses)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = dedup_words(F.col("text"))
    chunks = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(words, 1, 10)).alias("text"),
    )
    return dedup.containment_pairs(docs.unionAll(chunks), threshold=0.8)


def q_minhash_calibration(spark, sf_dir):
    """Estimated (signature slot agreement) vs exact Jaccard over all
    banded candidate pairs — the estimator-variance audit for the
    128-hash/32-band geometry on this corpus."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_calibration_pairs(docs, hash_family="poly")


def q_kmeans_embeddings(spark, sf_dir):
    """Value-oracled iterative Lloyd k-means (2 update rounds from
    the SQL-reproducible lowest-id seeds, decimal-exact means): the
    iterative-algorithm representative in the oracle suite."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.kmeans_embeddings(emb, num_centroids=8, iterations=2)


def q_zipf_profile(spark, sf_dir):
    """Zipf head profile + fitted power-law exponent (OLS of ln freq
    on ln rank over the top-50 tokens)."""
    docs = _t(spark, sf_dir, "documents")
    return textops.zipf_profile(docs, top_k=50)


def q_cluster_size_histogram(spark, sf_dir):
    """Near-dup cluster size distribution — the corpus-duplication
    summary built on the same pair->component pipeline as
    dedup_clusters (shared oracle CTE, so the two cannot drift)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5)
    return dedup.cluster_size_histogram(dedup.duplicate_clusters(pairs))


def q_length_histogram(spark, sf_dir):
    """Per-source log2-bucketed length profile (integer bit-length
    buckets — float log2 flips buckets at powers of two across
    engines). One group-key shuffle; the aggregate is
    |sources| x ~64 rows at any corpus size."""
    from toshokan_spark.operators import stats

    docs = _t(spark, sf_dir, "documents")
    return stats.length_histogram(docs)


def q_quality_regression(spark, sf_dir):
    """Learned-from-corpus calibration: OLS of lexical diversity on
    log document length (diversity falls with length — the fit IS the
    corpus's normal curve), then per-doc residual z-scores; |z| > 2
    flags docs whose diversity is anomalous FOR THEIR LENGTH — a
    sharper quality signal than a global diversity threshold. Fit =
    one decimal-exact moment pass; scoring = one narrow pass against
    the broadcast O(1) model (operators/stats.py)."""
    from toshokan_spark.operators import stats

    docs = _t(spark, sf_dir, "documents")
    # stage the word array: the lambda-bearing tokenize gets no
    # subexpression elimination, and x/y reference it three times per
    # projection (r16 — the staged_shingles discipline)
    staged = docs.select(
        "doc_id", dedup_words(F.col("text")).alias("__w")
    )
    x = F.log(F.size("__w").cast("double"))
    y = F.size(F.array_distinct("__w")) / F.size("__w")
    return stats.linear_residuals(staged, x, y, id_col="doc_id")


def q_dedup_crosscheck(spark, sf_dir):
    """Cross-modal dedup QA: every text near-dup pair (3-gram Jaccard
    >= 0.5) re-scored by embedding cosine, with an agreement flag at
    the embedding-dedup threshold (0.35). Disagreements are exactly
    the pairs a pipeline owner audits — text-near but semantically
    far (template spam) or the reverse. The pair set is output-sized,
    so the two embedding joins are AQE-broadcast."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    pairs = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5)
    ea = emb.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("va"))
    eb = emb.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("vb"))
    cos = F.round(dedup.cosine_sim(F.col("va"), F.col("vb")), 6)
    return (
        pairs.join(ea, "a_id")
        .join(eb, "b_id")
        .select(
            "a_id",
            "b_id",
            "jaccard",
            cos.alias("cosine"),
            (cos >= 0.35).alias("embedding_agrees"),
        )
    )


def q_text_bigram_logprob(spark, sf_dir):
    """Bigram-LM scoring (one order above text_unigram_logprob):
    word-salad docs with common unigrams but improbable sequences
    surface here."""
    docs = _t(spark, sf_dir, "documents")
    return textops.bigram_logprob(docs)


def q_text_dup_ngrams(spark, sf_dir):
    """CCNet/Dolma-style duplicate-content fraction: share of each
    doc's distinct 5-grams that appear in >= 2 docs corpus-wide."""
    docs = _t(spark, sf_dir, "documents")
    return textops.dup_ngram_fraction(docs, k=5, min_docs=2)


def q_vocab_coverage(spark, sf_dir):
    """Tokenizer-training input: top-200 corpus tokens with rank and
    cumulative coverage of all token occurrences."""
    docs = _t(spark, sf_dir, "documents")
    return textops.build_vocab(docs, top_k=200)


def q_hybrid_search_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25('spark table') ∪ cosine-kNN(vec 0),
    reciprocal-rank fusion, top-10 — the one query that exercises the
    search half and the vector half of the engine in a single plan."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.hybrid_rrf(
        docs, emb, "spark table", query_vec_id=0, k=10, pool=50
    )


def q_dedup_canonical(spark, sf_dir):
    """End-to-end dedup with keeper selection: n-gram Jaccard pairs ->
    connected components -> keep the best-quality member per cluster
    (every singleton keeps itself). filter(keep) IS the training
    corpus; the complement is the drop list with provenance."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5)
    clusters = dedup.duplicate_clusters(pairs)
    scores = textops.quality_score(docs).select("doc_id", "quality")
    return dedup.select_canonical(docs, clusters, scores)


# ---------------------------------------------------------------------------
# deduplication (north-star operators)
# ---------------------------------------------------------------------------

def _docs_with_dups(spark, sf_dir):
    """documents ∪ shifted-id copy — a corpus with guaranteed exact
    duplicates so the exact-dedup check has non-trivial output."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copy = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    return docs.unionAll(copy)


def q_dedup_exact(spark, sf_dir):
    return dedup.exact_duplicates(_docs_with_dups(spark, sf_dir)).select(
        "content_hash", "keeper_id", F.col("n_copies").cast("long").alias("n_copies")
    )


def q_dedup_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5)


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash banding with the SQL-auditable polynomial hash family —
    the oracle reproduces every signature, band key, candidate pair
    and verified Jaccard (the xxhash64 family stays the production
    default in the operator API; pipeline shape is identical)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, num_hashes=128, bands=32, k=3, threshold=0.5, hash_family="poly"
    )


def q_dedup_simhash(spark, sf_dir):
    """SimHash (60-bit poly family) — fully oracle-checked: signatures,
    chunk blocking and hamming filter all reproduced in SQL."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(docs, max_hamming=3, hash_family="poly")


def q_dedup_embedding(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return dedup.embedding_dup_pairs(emb, block_col="label", threshold=0.35)


def q_dedup_clusters(spark, sf_dir):
    """Connected components over near-dup pairs: every doc in a pair
    gets its component's min id as cluster_id — the keeper-selection
    step after any pair-producing dedup operator."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5)
    return dedup.duplicate_clusters(pairs)


# ---------------------------------------------------------------------------
# training-data selection (sampling / budgeting / mixing / scrubbing)
# ---------------------------------------------------------------------------

def q_chunk_documents(spark, sf_dir):
    """Context-window chunking: 24-token chunks, 8-token overlap
    (sized to the short synthetic docs; the operator is
    parameter-agnostic). One narrow tokenize+explode pass."""
    from toshokan_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    out = sampling.chunk_documents(docs, max_tokens=24, overlap=8)
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk_text",
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


def q_weighted_sample(spark, sf_dir):
    """Derandomized A-ES weighted sampling: 50 docs drawn without
    replacement with inclusion odds scaling with n_chars."""
    from toshokan_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    out = sampling.weighted_sample(docs, k=50, key_col="doc_id", weight_col="n_chars")
    return out.select("doc_id", "n_chars", "sample_score")


def q_sample_documents(spark, sf_dir):
    """Deterministic 25% hash-sample of documents by doc_id."""
    from toshokan_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.sample_by_hash(docs, 0.25, "doc_id").select(
        "doc_id", "lang", "source"
    )


def q_substring_spans(spark, sf_dir):
    """Exact duplicated-substring report (Lee et al. 2107.06499
    signal): per doc, the >= 10-token windows that occur verbatim
    elsewhere (first occurrence owns them) and the token coverage of
    their merged intervals. gram_key='raw' joins on the gram text
    itself — zero collision risk, exactly what the oracle compares."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_substring_spans(docs, k=10, gram_key="raw")


def q_substring_spans_incremental(spark, sf_dir):
    """Ingest-once duplicated-span report: every 5th doc arrives as
    the batch, the rest are the standing corpus (gram presence probed
    via the store frame) — batch positions duplicated when their
    10-gram exists in the corpus or repeats within the batch."""
    docs = _t(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 5 == 0
    batch = docs.filter(is_batch)
    corpus = docs.filter(~is_batch)
    store = dedup._positional_grams(
        corpus, 10, "doc_id", "text", "raw"
    ).select("g").distinct()
    return dedup.incremental_substring_spans(
        batch, store, k=10, gram_key="raw"
    )


def q_leakage_safe_split(spark, sf_dir):
    """Train/valid/test split hashed by near-dup CLUSTER id (so no
    near-copy of a training doc can land in eval) — 80/10/10 over the
    ngram-Jaccard cluster labels."""
    from toshokan_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5)
    labels = dedup.duplicate_clusters(pairs)
    out = sampling.leakage_safe_split(
        docs.select("doc_id", "source"), labels,
        {"train": 0.8, "valid": 0.1, "test": 0.1},
    )
    return out.select("doc_id", "source", "cluster_id", "split")


def q_token_budget_pack(spark, sf_dir):
    """Greedy per-source packing: keep docs (in doc_id order) while
    each source's running whitespace-token total stays <= 800."""
    from toshokan_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id", "source", F.size(dedup_words(F.col("text"))).alias("n_tokens")
    )
    out = sampling.token_budget_pack(with_tokens, budget_tokens=800)
    return out.select(
        "doc_id", "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    )


def q_token_budget_pack_scaled(spark, sf_dir):
    """Scale-safe twin of ``token_budget_pack``: identical kept set
    via the two-level prefix sum (local cumsums per (source, coarse
    order bucket) + broadcast offsets — no per-source window), proven
    by sharing the window-mode oracle."""
    from toshokan_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id", "source", F.size(dedup_words(F.col("text"))).alias("n_tokens")
    )
    out = sampling.token_budget_pack(with_tokens, budget_tokens=800, scale_mode=True)
    return out.select(
        "doc_id", "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    )


def q_source_mixture(spark, sf_dir):
    """Per-source stats + temperature-0.5 sampling weights."""
    from toshokan_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "source", F.size(dedup_words(F.col("text"))).alias("n_tokens")
    )
    return sampling.source_mixture(with_tokens, alpha=0.5)


def q_apply_mixture(spark, sf_dir):
    """Close the mixing loop: compute temperature-0.5 weights, then
    downsample each source at the rate that realizes those weights
    exactly (binding source kept whole). Kept rows only."""
    from toshokan_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "source", F.size(dedup_words(F.col("text"))).alias("n_tokens")
    )
    weights = sampling.source_mixture(with_tokens, alpha=0.5)
    return sampling.apply_mixture(docs, weights).select("doc_id", "source")


def q_stratified_sample(spark, sf_dir):
    """Exact per-source quota sample (25 docs per source, seeded hash
    order): the balanced-subset primitive rate-based sampling cannot
    express; WindowGroupLimit top-k per stratum, never a full sort."""
    from toshokan_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.stratified_sample(docs, per_group=25, seed=13).select(
        "doc_id", "source", "lang"
    )


def q_repeat_plan(spark, sf_dir):
    """Data-constrained repetition plan (Muennighoff 2023): per-source
    repeat factors realizing the temperature-0.5 mixture at a 200k
    token budget — whole epochs + fractional hash-sample rates."""
    from toshokan_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "source", F.size(dedup_words(F.col("text"))).alias("n_tokens")
    )
    weights = sampling.source_mixture(with_tokens, alpha=0.5)
    return sampling.repeat_plan(weights, budget_tokens=200_000)


def q_epoch_expand(spark, sf_dir):
    """Materialized repeated corpus for the 200k-token repeat plan:
    each doc appears n_full_copies (+1 under the fractional hash)
    times, with a 1-based copy index per repetition."""
    from toshokan_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "source", F.size(dedup_words(F.col("text"))).alias("n_tokens")
    )
    weights = sampling.source_mixture(with_tokens, alpha=0.5)
    plan = sampling.repeat_plan(weights, budget_tokens=200_000)
    return sampling.epoch_expand(docs, plan, seed=11)


def q_select_training_set(spark, sf_dir):
    """The full selection pipeline composed end-to-end: drop near-dup
    losers (cluster keepers survive), keep quality >= 0.55, then a
    deterministic 50% hash-sample — each stage is an already-oracled
    operator; this entry proves the COMPOSITION oracle-exact too.

    Deliberately self-contained: it recomputes the shingle->jaccard->
    cluster pipeline that the `dedup_clusters` entry also runs,
    because driver entries are independent correctness probes (each
    must be reproducible from the raw tables alone). In a production
    pipeline the cluster assignment is a persisted table written once
    by the dedup stage and joined here — the recomputation is a
    harness artifact, not the deployment shape. (Within THIS entry
    nothing is computed twice: ngram_jaccard_pairs returns an
    eagerly-materialized pair set, so the cluster loop and the
    left-anti drop share one shingle pass.)"""
    from toshokan_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5)
    losers = (
        dedup.duplicate_clusters(pairs)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    quality = textops.quality_score(docs).select("doc_id", "quality")
    kept = (
        docs.join(losers, "doc_id", "left_anti")
        .join(quality, "doc_id")
        .filter(F.col("quality") >= 0.55)
    )
    return sampling.sample_by_hash(kept, 0.5, "doc_id").select(
        "doc_id", "source", "quality"
    )


def q_source_token_profile(spark, sf_dir):
    """Per-source token-count distribution (exact percentiles)."""
    from toshokan_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "source", F.size(dedup_words(F.col("text"))).alias("n_tokens")
    )
    out = sampling.source_token_profile(with_tokens)
    return out.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        "p50_tokens", "p90_tokens", "p95_tokens",
        F.col("max_tokens").cast("long").alias("max_tokens"),
    )


def q_pii_scrub(spark, sf_dir):
    """PII redaction counts + cleaned text. The synthetic corpus has
    no natural PII, so a deterministic contact line is appended per
    doc before scrubbing (the oracle appends the identical line)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 10.0.0.1 or 555-123-4567"),
        ).alias("text"),
    )
    return textops.pii_scrub(docs).select(
        "doc_id",
        "clean_text",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_phone").cast("long").alias("n_phone"),
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def q_knn_bruteforce(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return similarity.knn_bruteforce(emb, queries, k=5)


def q_knn_quantized(spark, sf_dir):
    """Exact top-k over DEQUANTIZED int8 vectors — the end-to-end
    demo of the quantized-storage path: quantize (4 bytes/dim -> 1),
    reconstruct q_i * scale, brute-force rank. Integer dot products
    over exact q*scale doubles keep the whole chain value-oracled;
    ranking differences vs the float corpus bound the quantization
    error a deployment would accept for the 4x memory cut."""
    emb = _t(spark, sf_dir, "embeddings")
    q = similarity.quantize_embeddings(emb)
    deq = q.select(
        "vec_id",
        F.transform(
            F.col("qvec"), lambda x: x.cast("double") * F.col("scale")
        ).alias("embedding"),
    )
    queries = deq.filter(F.col("vec_id") < 3)
    return similarity.knn_bruteforce(deq, queries, k=5)


def q_embedding_stats(spark, sf_dir):
    """Per-dimension mean/variance profile of the embedding corpus —
    normalization / drift-monitoring input."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_dim_stats(emb)


def q_normalize_embeddings(spark, sf_dir):
    """L2 normalization to the unit sphere (narrow, shuffle-free).

    The operator returns `(vec_id, unit_embedding array<double>,
    norm)`; the harness entry explodes the vector to scalar
    `(vec_id, dim, value, norm)` rows because the driver's
    canonicalizer sorts on raw column values and cannot hash
    array cells. Values are unchanged — one posexplode over the
    already-rounded unit vector."""
    emb = _t(spark, sf_dir, "embeddings")
    unit = similarity.normalize_embeddings(emb)
    return unit.select(
        "vec_id", F.posexplode("unit_embedding").alias("dim", "value"), "norm"
    ).select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        "value",
        "norm",
    )


def q_embedding_outliers(spark, sf_dir):
    """Distance to the label centroid per vector — the embedding-
    space outlier signal a data-quality pass prunes on."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.centroid_distances(emb)


def q_knn_lsh(spark, sf_dir):
    """Hyperplane LSH with the LCG plane family — bucketing is pure
    integer arithmetic, so the oracle reproduces buckets, multi-probe
    candidates and scores exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return similarity.knn_lsh(emb, queries, k=5, num_planes=8, hash_family="lcg")


def q_embedding_covariance(spark, sf_dir):
    """Upper-triangle covariance of the embedding space — the PCA /
    whitening / drift input: ONE narrow pass explodes each vector into
    its own D(D+1)/2 within-row products (nested transform over the
    tail slice — no self-join, no id shuffle), decimal(38,12)-exact
    moment sums, model-sized D²/2 output. ``fit_pca``/``pca_project``
    consume this (property-tested against numpy eigh)."""
    from toshokan_spark.operators.similarity import embedding_covariance

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_covariance(emb)


def q_bitext_margin(spark, sf_dir):
    """Margin-based bitext mining (Artetxe & Schwenk 2019): labels
    0-4 play the source language, 5-9 the target; each source
    vector's best cross-set match survives when cos / mean(two-sided
    avg top-4 neighborhood) > 1 — closer than its local density
    predicts. Two broadcast-query kNN passes; every later frame is
    one row per vector."""
    from toshokan_spark.operators.similarity import bitext_margin_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return bitext_margin_pairs(
        emb.where(F.col("label") < 5),
        emb.where(F.col("label") >= 5),
        k=4,
        threshold=1.0,
    )


def q_knn_graph(spark, sf_dir):
    """Corpus-wide approximate k-NN graph (every vector its own
    query) — LCG hyperplane buckets, bucket self-join, per-node
    top-5. The all-nodes sibling of `knn_lsh` and the edge set
    graph-based curation starts from."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.knn_graph(emb, k=5, num_planes=8, hash_family="lcg")


def q_kcenter_select(spark, sf_dir):
    """Greedy k-center coreset: 6 maximally-spread exemplar vectors
    (farthest-point-first from the lowest-id seed) with the cover
    radius at each selection — the diversity-pruning baseline."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.kcenter_select(emb, k=6)


def q_semantic_clusters(spark, sf_dir):
    """Mutual-kNN connected components at cosine >= 0.3 over the LCG
    hyperplane graph — cluster-count-free semantic clustering; every
    vector labeled (singletons keep their own id)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.semantic_clusters(
        emb, k=5, min_score=0.3, num_planes=8, hash_family="lcg"
    )


def q_knn_pq(spark, sf_dir):
    """Product-quantization ANN with ADC scoring (Jégou et al. 2011
    — the FAISS IVF-PQ codebook technique): 64-dim vectors encoded to
    4 subspace codes against a 16-codeword deterministic codebook
    (lowest-id subvectors — production trains k-means on a sample;
    the plumbing is identical), then the query ranks by summed exact
    query-subvector-to-codeword distances. One corpus scan, codebook
    as folded literals, 1-row broadcast query, TakeOrdered cut; the
    oracle reproduces codebook, encoding, LUT and ranking in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.knn_pq(
        emb, query_id=0, k=10, m_subspaces=4, n_codewords=16
    )


def q_knn_ivf_pq(spark, sf_dir):
    """IVF-PQ, the composed FAISS index shape
    (similarity.knn_ivf_pq): an 8-centroid coarse quantizer narrows
    the search to 2 probed buckets, and within them vectors score by
    PQ asymmetric distance against the 4x16 codebook. The query is
    one scan of the (cid, codes) index layout filtered to the probed
    cids + a TakeOrdered; the oracle replays seeding, assignment,
    probes, encoding, LUT and ranking in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.knn_ivf_pq(
        emb, query_id=0, k=10, num_centroids=8, n_probe=2,
        m_subspaces=4, n_codewords=16,
    )


def q_knn_pq_persisted(spark, sf_dir):
    """The 100 TB half of knn_pq made real (the r11 verdict's noted
    scale path): pq_encode writes the (vec_id, code_0..3) table to
    parquet ONCE at index time — 16 bytes/vector instead of 256 —
    and knn_pq_from_codes answers the query from a single scan of
    the persisted codes with a driver-side M×K literal look-up
    table + TakeOrdered. No vector is read at query time, no join,
    no shuffle. Values identical to the inline knn_pq (same oracle),
    proven by the shared SQL."""
    import tempfile

    emb = _t(spark, sf_dir, "embeddings")
    cb = similarity.pq_codebook(emb, m_subspaces=4, n_codewords=16)
    codes = similarity.pq_encode(
        emb.filter(F.col("vec_id") != 0), cb
    )
    path = tempfile.mkdtemp(prefix="pq_codes_") + "/codes"
    codes.write.mode("overwrite").parquet(path)
    persisted = spark.read.parquet(path)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()[0]
    ]
    return similarity.knn_pq_from_codes(persisted, cb, qvec, k=10)


def q_knn_ivf(spark, sf_dir):
    """IVF ANN, approximate settings (probes 2 of 8 buckets).

    Centroids come from the deterministic SQL-auditable seeding
    (lowest-id vectors, `seed_ivf_centroids`) rather than per-query
    k-means — training is split from the query path (an operational
    IVF index persists `assign_ivf` output; the oracle reproduces the
    identical quantizer in SQL, giving the approximate path a full
    value-level gate)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    cents = similarity.seed_ivf_centroids(emb, num_centroids=8)
    return similarity.knn_ivf(
        emb, queries, k=5, num_centroids=8, n_probe=2, centroids=cents
    )


def q_knn_ivf_exact(spark, sf_dir):
    """IVF with full probing — must equal brute force exactly, so it
    shares the knn_bruteforce oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    cents = similarity.seed_ivf_centroids(emb, num_centroids=8)
    return similarity.knn_ivf(
        emb, queries, k=5, num_centroids=8, n_probe=8, centroids=cents
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def q_text_token_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = textops.token_stats(docs)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.col("n_regex_tokens").cast("long").alias("n_regex_tokens"),
        "n_bpe_est",
    )


def q_text_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = textops.quality_score(docs)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "diversity",
        "stopword_ratio",
        "quality",
    )


def q_text_langid(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = textops.lang_id(docs)
    return out.select(
        "doc_id",
        *[F.col(f"score_{l}").cast("long").alias(f"score_{l}") for l in ("de", "en", "es", "fr")],
        "lang_pred",
    )


def q_langid_classifier(spark, sf_dir):
    """Trained-model language ID (textops.langid_classifier): the
    fastText-style hashed n-gram linear model over 8 languages —
    per-language hashed-lexicon scores, argmax prediction, and an
    exact rational confidence (score share)."""
    return textops.langid_classifier(_t(spark, sf_dir, "documents"))


def q_train_quality_classifier(spark, sf_dir):
    """Classifier TRAINING at scale (textops.train_hashed_classifier
    — the missing half of the model-based filter: DCLM/fastText
    pipelines train this on a labeled seed set before filtering):
    3 batch-GD iterations on hashed unigram+bigram features with
    lang='en' as the label, then the trained weights applied through
    the standard hashed_linear_score path. Every training step is
    rational arithmetic over decimal-exact sums, so the oracle
    replays the full 3-round descent bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    labeled = docs.withColumn(
        "y", (F.col("lang") == "en").cast("double")
    )
    w = textops.train_hashed_classifier(labeled, label_col="y", iters=3)
    return textops.hashed_linear_score(docs, w)


def q_text_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return textops.fingerprint(docs)


def q_text_unigram_logprob(spark, sf_dir):
    """Corpus-trained unigram LM score per doc (the SQL-expressible
    analog of CCNet's perplexity filter)."""
    docs = _t(spark, sf_dir, "documents")
    return textops.unigram_logprob(docs)


def q_text_gopher_rules(spark, sf_dir):
    """Gopher-style repetition/quality rule signals + pass flag."""
    docs = _t(spark, sf_dir, "documents")
    out = textops.gopher_rules(docs)
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        "mean_word_len",
        "frac_alpha_words",
        "symbol_word_ratio",
        "dup_line_frac",
        "top_bigram_frac",
        "passes",
    )


def q_dedup_minhash_char(spark, sf_dir):
    """Char-5-gram MinHash-LSH near-dup pairs — the shingle unit for
    unsegmented scripts (CJK has no whitespace words), exercised on
    this corpus so the char pipeline is value-oracled end-to-end.
    LSH (not the exact co-shingle join) is deliberate: common char
    5-grams appear in nearly every English/template document, so the
    exact path's shingle self-join explodes (measured 50s+ at sf0.1
    where banding stays bounded); banding joins a fixed key set per
    doc regardless of shingle frequency. The operating point is
    STEEP — 8 bands × 16 rows at threshold 0.8 — because char-5
    similarity is dense on template corpora (32×4 banding yielded
    1.9M candidates at sf0.1, r=16 keeps candidates to genuine
    near-identicals: capture ≈ 99% at J=0.95, ≈ 20% at J=0.80).
    cache_shingles: dense char similarity makes ~half the corpus a
    candidate, so ONE persisted (id, sh, sig) pass beats re-scanning
    and re-shingling the candidate set for verification."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, num_hashes=128, bands=8, k=5, threshold=0.8,
        hash_family="poly", shingle_unit="char", cache_shingles=True,
    )


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup: IVF-cluster the embedding corpus (seeded quantizer so
    the oracle reproduces it), drop within-cluster vectors with a
    lower-id cosine-neighbor at the threshold, return the survivors.
    θ=0.42 because the synthetic embeddings have no true near-dups
    (max within-cluster cosine ≈ 0.49); production θ is 0.95+ — the
    operator is threshold-agnostic."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = similarity.seed_ivf_centroids(emb, num_centroids=8)
    return similarity.semantic_dedup(emb, cents, threshold=0.42).select(
        "vec_id", F.col("cid").cast("long").alias("cid")
    )


def q_quantize_embeddings(spark, sf_dir):
    """Per-vector symmetric int8 quantization of the embedding column
    (4 bytes/dim -> 1): the storage-compression step before writing an
    embedding corpus or signature store.

    The operator returns `(vec_id, scale, qvec array<int>)`; the
    harness entry explodes to scalar `(vec_id, dim, qval, scale)`
    rows — the driver's canonicalizer cannot sort array cells
    (same reshape as `embedding_stats`)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = similarity.quantize_embeddings(emb)
    return q.select(
        "vec_id", F.posexplode("qvec").alias("dim", "qval"), "scale"
    ).select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        "qval",
        "scale",
    )


def _chrome_pages(spark, sf_dir):
    """Shared page construction for the line-dedup entries: documents
    wrapped into per-source multi-doc pages with header/footer chrome
    (the repeated-lines structure real crawls have)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            "source", F.floor(F.col("doc_id") / 100).cast("long").alias("pg")
        )
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                    lambda x: x["text"],
                ),
                "\n",
            ).alias("body")
        )
        .select(
            "pg",
            F.concat_ws("#", "source", F.col("pg").cast("string")).alias(
                "page_id"
            ),
            F.concat_ws(
                "\n",
                F.concat(F.lit("== "), F.col("source"), F.lit(" ==")),
                F.col("body"),
                F.concat(F.lit("-- "), F.col("source"), F.lit(" --")),
            ).alias("text"),
        )
    )


def q_line_dedup_incremental(spark, sf_dir):
    """Cross-batch line dedup (Dolma-style paragraph dedup, batch vs
    standing store): pages with pg >= 3 arrive as the batch, earlier
    pages are the standing corpus — batch chrome lines (already owned
    by corpus pages) are stripped, batch-new body lines survive in
    their owning page."""
    pages = _chrome_pages(spark, sf_dir)
    batch = pages.filter(F.col("pg") >= 3).select("page_id", "text")
    corpus = pages.filter(F.col("pg") < 3).select("page_id", "text")
    store = textops.line_store_frame(corpus, id_col="page_id")
    return textops.incremental_strip_lines(batch, store, id_col="page_id")


def q_semantic_decontaminate(spark, sf_dir):
    """Embedding-space decontamination: vectors 0..9 play the eval
    set, the rest the corpus; every corpus vector whose max cosine to
    an eval vector reaches 0.3 is reported with its closest eval id.
    The semantic sibling of the n-gram collision report below —
    together they cover verbatim AND paraphrased contamination."""
    emb = _t(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    return decontaminate.semantic_decontaminate(corpus, bench, threshold=0.3)


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3/Pile-style n-gram collision):
    docs with doc_id % 7 == 0 play the held-out eval set, the rest
    the training corpus; every training doc sharing a word 8-gram
    with the benchmark is reported with its collision count and a
    deterministic witness gram. n=8 (not the published 13) because
    the synthetic docs are short; the operator shape is n-agnostic."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    return decontaminate.contamination_report(corpus, bench, n=8)


def q_dedup_incremental(spark, sf_dir):
    """Incoming-batch dedup against the standing corpus: docs with
    doc_id % 4 == 0 play the arriving batch, the rest the corpus;
    each new doc reports its best corpus match at jaccard >= 0.5."""
    docs = _t(spark, sf_dir, "documents")
    new_batch = docs.filter(F.col("doc_id") % 4 == 0)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    return dedup.incremental_jaccard_matches(
        new_batch, corpus, k=3, threshold=0.5
    )


def q_dedup_incremental_minhash(spark, sf_dir):
    """The sub-linear incremental path: the corpus side is the
    PRECOMPUTED (id, shingles, signature) product of
    corpus_minhash_signatures — hashed once at ingest in a real
    deployment — and the arriving batch band-joins against it.
    SQL-auditable poly family, so signatures, band keys, candidates
    and verified scores all get the value oracle."""
    docs = _t(spark, sf_dir, "documents")
    new_batch = docs.filter(F.col("doc_id") % 4 == 0)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    corpus_sigs = dedup.corpus_minhash_signatures(corpus, hash_family="poly")
    # cache_corpus: the harness builds the corpus signatures inline
    # (a real deployment reads the bucketed store), so persist them
    # once for the band fan-out + hot-bucket count + verify join.
    # validate=False: the store was built two lines up with the same
    # geometry — the drift the probe jobs guard against cannot occur
    return dedup.incremental_minhash_matches(
        new_batch, corpus_sigs, threshold=0.5, hash_family="poly",
        cache_corpus=True, validate=False,
    )


# ---------------------------------------------------------------------------
# multimodal columns
# ---------------------------------------------------------------------------

def q_multimodal_meta(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = multimodal.attach_blob(docs)
    return out.select(
        "doc_id",
        F.col("blob_bytes").cast("long").alias("blob_bytes"),
        "blob_sha256",
    )


def q_multimodal_dedup(spark, sf_dir):
    """Exact blob dedup by content hash — the first pass of any media
    pipeline (identical files re-crawled under different ids). Groups
    on the 32-byte sha256, never the blob: the shuffle carries hashes
    + ids while the binary payload stays columnar at rest (same
    shuffle discipline as dedup_exact). Every group is emitted
    (keeper + copy count; n_copies > 1 are the duplicates) so the
    oracle value-checks the full hash table, not just the duplicate
    tail — which is empty at sf0.01."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    b = multimodal.attach_blob(docs)
    return (
        b.groupBy("blob_sha256")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
        .select("blob_sha256", "keeper_id", "n_copies")
    )


def q_multimodal_image_meta(spark, sf_dir):
    # codec='stub' pinned: the oracle reproduces the deterministic
    # content-hash fake; with PIL installed 'auto' would decode for
    # real and the text blobs would all be NULL-meta
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = multimodal.decode_image_meta(multimodal.attach_blob(docs), codec="stub")
    return out.select(
        "doc_id",
        F.col("image_meta.width").cast("long").alias("width"),
        F.col("image_meta.height").cast("long").alias("height"),
        F.col("image_meta.channels").cast("long").alias("channels"),
    )


def q_multimodal_frames(spark, sf_dir):
    docs = multimodal.attach_blob(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    frames = multimodal.sample_frames(docs, every_n_bytes=64, max_frames=8)
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.octet_length("frame").cast("long").alias("frame_bytes"),
        F.sha2(F.col("frame"), 256).alias("frame_sha256"),
    )


def q_multimodal_resize(spark, sf_dir):
    """Resize kernel over the blob column (stub codec pinned: the
    deterministic truncate/pad to target-area bytes, reproducible from
    the blob alone — with PIL, 'auto' would decode/thumbnail for real).
    The resized bytes are compared by value via their hex rendering
    (DuckDB in this sandbox cannot hash BLOBs, and hex round-trips the
    exact bytes either way)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = multimodal.resize_images(multimodal.attach_blob(docs), codec="stub")
    return out.select(
        "doc_id",
        F.octet_length("blob").cast("long").alias("resized_bytes"),
        F.hex(F.col("blob")).alias("resized_hex"),
    )


def q_curriculum_order(spark, sf_dir):
    """Curriculum training order (length-staged, the classic
    easy-first baseline): 3 exact ntile stages by n_chars, seeded
    deterministic shuffle within each stage, exact global position —
    all via the two-level grouped_prefix scan, zero global windows."""
    from toshokan_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.curriculum_order(
        docs, F.col("n_chars").cast("long"), n_stages=3, seed=7
    )


def q_tokenizer_fertility(spark, sf_dir):
    """Per-language tokenizer economics of the corpus-trained 6-merge
    BPE model: tokens/word (fertility — the Petrov et al. 2023
    tokenizer-fairness metric) and bytes/token by language. Training
    uses the driver-local scale path (value-equal to the distributed
    fold the oracle replays — property-tested r8 directive 2)."""
    docs = _t(spark, sf_dir, "documents")
    merges = textops.bpe_train_local(docs, n_merges=6)
    return textops.tokenizer_fertility(docs, merges)


def q_shard_balance(spark, sf_dir):
    """Deterministic hash sharding into 8 training shards + the
    per-shard token-balance report (docs, tokens, relative deviation
    from the cross-shard mean)."""
    from toshokan_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    assigned = sampling.shard_assign(docs, n_shards=8, seed=3)
    return sampling.shard_balance(
        assigned, F.size(dedup_words(F.col("text")))
    )


# ---------------------------------------------------------------------------
# the contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: MinHash-LSH near-dedup over sf0.001 documents."""
    return q_dedup_minhash_lsh(spark, "/root/testdata/sf0.001")


def q_search_collapse(spark, sf_dir):
    """ES field collapsing (search.py::collapse_agg — the reference's
    limit-only collector cannot, ``src/commands/search.rs:188``): one
    best hit per user (by value, ties to the smaller event_id),
    annotated with the group's inner-hit count, the collapsed list
    ordered by the winning values and cut to 15. Winner and count
    share ONE window partition key — a single group-keyed exchange
    with the rank filter running as WindowGroupLimit — then a 15-row
    TakeOrdered."""
    from toshokan_spark.search import collapse_agg

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "value:>=50")
    return collapse_agg(hits, "user_id", "value", "event_id", limit=15)


def q_audience_overlap(spark, sf_dir):
    """KMV sketch set operations (search.py::sketch_set_ops, Beyer et
    al. 2007): |A ∪ B| and |A ∩ B| for two event audiences estimated
    from their bottom-64 sketches alone (re-sketch the union of the
    sketches; the both-sides fraction of the union sketch estimates
    Jaccard), with the exact four-way ground truth alongside. The
    sketch inputs are two k-row TakeOrdereds of map-side-deduped
    hashes — at 100 TB the per-segment sketches are persisted and
    merged in k rows while the exact panel would shuffle the key
    space. Audiences chosen so sf0.01 exercises the over-k estimator
    (112 vs 96 users, 71 shared) and sf0.001 the exact below-k
    collapse."""
    from toshokan_spark.search import sketch_set_ops

    ev = _t(spark, sf_dir, "events")
    a = _search(ev, EVENTS_CONFIG, "event_type:click AND value:>=120")
    b = _search(ev, EVENTS_CONFIG, "event_type:purchase AND value:>=120")
    return sketch_set_ops(a, b, "user_id", k=64)


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training
    (similarity.hard_negatives — the ANCE-style negative selection
    step): for each of the 3 lowest-id anchor vectors, the 5
    most-cosine-similar corpus vectors whose LABEL DIFFERS. The
    anchor set broadcasts (corpus unshuffled, one scan); the
    per-anchor top-k is a WindowGroupLimit on the anchor key."""
    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.orderBy("vec_id").limit(3)
    return similarity.hard_negatives(emb, anchors, k=5)


def q_knn_pq_rerank(spark, sf_dir):
    """Two-stage retrieve-and-refine ANN (similarity.knn_pq_rerank —
    FAISS's IndexRefineFlat shape): PQ ADC over-retrieves 40
    candidates (one scan of 16-byte codes + TakeOrdered), then ONLY
    those 40 re-score by exact L2 against raw vectors (the shortlist
    broadcasts onto one vector scan) and the exact-ranked top 10
    return. The oracle replays candidate selection and re-ranking."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.knn_pq_rerank(
        emb, query_id=0, k=10, expand=4, m_subspaces=4, n_codewords=16
    )


def q_domain_pagerank(spark, sf_dir):
    """Domain-authority PageRank (operators/web.py::pagerank) over
    the deterministic 40-host link graph derived from documents (two
    arithmetic link rules per doc, self-loops dropped — the same
    shared-derivation discipline as _url_expr/_partsupp): 5 damped
    (0.85) power iterations in EXACT int64 fixed-point (rank ×
    1e12, truncating division), so the result is independent of
    partition count and reduction order and the DuckDB oracle unrolls
    the identical integer arithmetic. Per iteration: one edges⋈ranks
    equi-join + one partial-aggregated groupBy(dst) on the
    host-sized graph (100 TB of pages aggregates to ~1e7 hosts —
    the doc→host extraction is the heavy map, the iteration runs on
    the aggregated graph)."""
    docs = _t(spark, sf_dir, "documents")
    edges = (
        docs.selectExpr(
            "doc_id % 40 AS src", "(doc_id * 7 + 11) % 40 AS dst"
        )
        .unionByName(
            docs.selectExpr(
                "doc_id % 40 AS src", "(doc_id * 13 + 5) % 40 AS dst"
            )
        )
        .filter("src <> dst")
    )
    pr = web.pagerank(edges, iterations=5)
    return pr.select(
        F.col("node").cast("long").alias("host_id"),
        F.concat(
            F.lit("site"), F.col("node").cast("string"), F.lit(".com")
        ).alias("host"),
        "rank_e12",
    ).orderBy(F.desc("rank_e12"), F.asc("host_id"))


def q_matryoshka_recall(spark, sf_dir):
    """Matryoshka truncation audit (similarity.matryoshka_recall,
    Kusupati et al. 2022): recall@5 of cosine retrieval on the first
    8/16/32 dimensions vs full-dim ground truth, per query — the
    report that decides how short stored vectors can get (D/d fewer
    vector bytes) before retrieval quality pays. One ground-truth
    pass + one narrow sliced pass per prefix, all WindowGroupLimit
    cuts; the oracle replays every slice in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    return similarity.matryoshka_recall(
        emb, qs, k=5, prefix_dims=(8, 16, 32)
    )


def q_terms_error_bounds(spark, sf_dir):
    """Sharded terms aggregation with ES's accuracy contract
    (search.py::terms_with_error_bounds): each shard reports its top
    3 terms, merged counts carry doc_count_error_upper_bound — the
    bound on count a term could be hiding under other shards'
    cut-offs (0 ⇒ the truncation was exact). The 100 TB terms-agg
    trade made explicit and value-oracled via a deterministic
    caller-column shard key."""
    from toshokan_spark.search import terms_with_error_bounds

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "value:>=20").withColumn(
        "shard", F.col("user_id") % 4
    )
    return terms_with_error_bounds(
        hits, "event_type", "shard", k=5, shard_size=3
    )


def q_rank_eval(spark, sf_dir):
    """ES _rank_eval (search.py::rank_eval): precision@10,
    recall@10, MRR and NDCG@10 of label-match relevance over the
    cosine top-10 for query vector 0 — the retrieval-quality
    sign-off for an embedding ranker, bit-stable because the NDCG
    discount table is a shared driver-computed literal and the DCG
    sum folds through decimal(38,18)."""
    from toshokan_spark.search import rank_eval

    emb = _t(spark, sf_dir, "embeddings")
    q0_label = (
        emb.filter(F.col("vec_id") == 0).select("label").first()[0]
    )
    ranked = similarity.knn_bruteforce(
        emb, emb.filter(F.col("vec_id") == 0), k=10
    ).select(F.col("neighbor_id").alias("vec_id"), "rank")
    judgments = emb.filter(F.col("vec_id") != 0).select(
        "vec_id", (F.col("label") == F.lit(int(q0_label))).alias("relevant")
    )
    return rank_eval(ranked, judgments, k=10, id_col="vec_id")


def q_search_suggest(spark, sf_dir):
    """ES completion suggester (search.py::suggest_completions): the
    top 10 corpus tokens extending the prefix 's', ranked by
    document frequency (one doc-distinct tokenize pass, prefix filter
    BEFORE the frequency groupBy, distributed top-k) — the search-box
    autocomplete panel served from the live vocabulary."""
    from toshokan_spark.search import suggest_completions

    docs = _t(spark, sf_dir, "documents")
    return suggest_completions(docs, "text", "s", k=10)


def q_search_spell_correct(spark, sf_dir):
    """ES term suggester (search.py::spell_correct — "did you
    mean"): vocabulary tokens within 2 edits of the misspelling
    'vale', ranked (distance, df desc, token) — 'value' (dist 1)
    beats the more-frequent 'table' (dist 2); the length band
    prunes the vocabulary before any levenshtein runs and both
    engines compute the identical integer distance."""
    from toshokan_spark.search import spell_correct

    docs = _t(spark, sf_dir, "documents")
    return spell_correct(docs, "text", "vale", k=5, max_dist=2)


def q_search_sibling_aggs(spark, sf_dir):
    """ES sibling pipeline aggregations (search.py::
    sibling_bucket_aggs): max/min/avg/sum_bucket over the purchase
    date histogram in one summary row, extremes carrying their
    achieving bucket (ties to the earliest). Corpus work is the one
    histogram exchange; the sibling stage reduces the bucket frame
    with decimal-exact sums."""
    from toshokan_spark.search import sibling_bucket_aggs

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:purchase")
    return sibling_bucket_aggs(hits, "ts", 21600, "value")


def q_search_regex(spark, sf_dir):
    """Lucene/ES regexp query (plans/ast.py::Regex, query.py::
    _compile_regex — tantivy's parser does not expose it, SURVEY §2.8
    extension): ``field:/pattern/`` full-matches an analyzed token
    (the whole value under the raw tokenizer), implicitly anchored
    exactly as Lucene's regexp automaton. Composes with the other
    clauses' pushdown (the numeric bound reaches the scan; the regex
    itself runs in whole-stage codegen)."""
    ev = _t(spark, sf_dir, "events")
    out = _search(
        ev, EVENTS_CONFIG, "(event_type:/c.*k/ OR event_type:/s.+p/)"
        " AND value:>=300"
    )
    return out.select("event_id", "user_id", "event_type", "value")


def q_search_percolate(spark, sf_dir):
    """ES percolator (search.py::percolate) — search reversed: four
    standing queries (term+range, term, disjunction, regex) evaluate
    against the event stream in ONE scan as a width-Q codegen
    projection (no join, no per-query pass); each event reports every
    stored query it matches. The alerting/saved-search primitive;
    a doc can match several monitors (signup hits both the
    disjunction and the regex)."""
    from toshokan_spark.search import percolate

    ev = _t(spark, sf_dir, "events")
    stored = [
        ("big_click", "event_type:click AND value:>=300"),
        ("any_error", "event_type:error"),
        ("sign_or_view", "event_type:signup OR event_type:view"),
        ("regex_sp", "event_type:/s.+p/"),
    ]
    return percolate(ev, stored, EVENTS_CONFIG, "event_id")


def q_search_moving_fn(spark, sf_dir):
    """ES moving_fn pipeline aggregation (search.py::moving_fn_agg):
    the six built-in window functions (sum/min/max/unweightedAvg/
    stdDev/linearWeightedAvg) over a daily view-event value series,
    3-bucket window EXCLUDING the current bucket (ES shift=0) — null
    gaps at the series head preserved. Windows run on the aggregated
    bucket frame, never the corpus."""
    from toshokan_spark.search import moving_fn_agg

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:view")
    return moving_fn_agg(hits, "ts", 86400, "value", window=3, shift=0)


def q_search_normalize(spark, sf_dir):
    """ES normalize pipeline aggregation (search.py::normalize_agg):
    every bit-stable rescaling method (percent_of_sum, rescale_0_1,
    rescale_0_100, mean, z-score) of the daily click value series in
    one pass; softmax deliberately excluded (platform-transcendental
    exp breaks cross-engine bit parity). Five global aggregates over
    the bucket frame only."""
    from toshokan_spark.search import date_histogram, normalize_agg

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:click")
    hist = date_histogram(hits, "ts", 86400, "value")
    return normalize_agg(hist, "total_value", "bucket_epoch")


def q_search_more_like_this(spark, sf_dir):
    """ES/Lucene more_like_this over the INDEX path (operators/
    relevance.py::more_like_this — the reference exposes only
    tantivy's parser surface, src/commands/search.rs:188, so this is
    a SURVEY §2.8 extension): seed doc 7's characteristic terms by
    seed-tf · BM25-idf (tf≥2, df≥5, top 5, ties to the smaller term),
    then one BM25 pass over those terms, seed excluded, top 10 by
    (score, id). BOTH statistics consumers — the term-selection df
    probe and the scorer's N/Σdl/df — read the index's commit-time
    per-segment stats parquets via merged_stats_provider (integer
    sums, exact; the oracle recomputes from the raw corpus and must
    hash-match), so at scale the per-query corpus work is one seed
    fetch (id filter pushed to the scan) plus one scoring scan
    (VERDICT r13 directive 5). Plan pinned by
    tests/test_plan_audit.py::test_more_like_this_reads_manifest_stats."""
    from toshokan_spark.functions.bm25 import merged_stats_provider
    from toshokan_spark.indexer import stats_path
    from toshokan_spark.operators.relevance import more_like_this
    from toshokan_spark.search import read_segments
    from toshokan_spark.storage import join_path

    catalog, config = _docs_bm25_index(spark, sf_dir)
    segs = catalog.segments("docs_bm25")
    provider = merged_stats_provider(
        spark, [stats_path(config, s.file_name) for s in segs], "text"
    )
    docs = read_segments(
        spark, [join_path(config.path, s.file_name) for s in segs],
    )
    return more_like_this(
        docs, 7, max_query_terms=5, min_term_freq=2, min_doc_freq=5,
        k=10, stats_provider=provider,
    )


def q_search_multi_match(spark, sf_dir):
    """ES multi_match best_fields over the INDEX path
    (relevance.py::multi_match): the query 'spark src3' BM25-scored
    independently per field (text and source — each with its OWN
    commit-time corpus statistics read from the index's per-segment
    stats parquets, the Lucene fields-as-independent-indexes rule),
    combined max + 0.3·(sum−max); top 10 by (score, id). Two one-scan
    score projections joined on the id — the joined sides are match
    sets, not the corpus; the oracle recomputes both fields' stats
    from the raw corpus, proving the commit-time stats exact
    per-field. Plan pinned by tests/test_plan_audit.py."""
    from toshokan_spark.functions.bm25 import merged_stats_provider
    from toshokan_spark.indexer import stats_path
    from toshokan_spark.operators.relevance import multi_match
    from toshokan_spark.search import read_segments
    from toshokan_spark.storage import join_path

    catalog, config = _docs_bm25_index(spark, sf_dir)
    segs = catalog.segments("docs_bm25")
    paths = [stats_path(config, s.file_name) for s in segs]
    providers = {
        "text": merged_stats_provider(spark, paths, "text"),
        "source": merged_stats_provider(spark, paths, "source"),
    }
    docs = read_segments(
        spark, [join_path(config.path, s.file_name) for s in segs],
    )
    return multi_match(
        docs, "spark src3", [("text", "default"), ("source", "default")],
        mode="best_fields", tie_breaker=0.3, k=10,
        stats_providers=providers,
    )


def q_search_dis_max(spark, sf_dir):
    """ES dis_max over the INDEX path (relevance.py::dis_max):
    clauses 'spark table' and 'query filter' scored independently
    over text with commit-time stats (one field, one provider —
    every clause reads the same per-segment stats parquets),
    document score = best clause + 0.2 × the rest; top 10 by
    (score, id)."""
    from toshokan_spark.functions.bm25 import merged_stats_provider
    from toshokan_spark.indexer import stats_path
    from toshokan_spark.operators.relevance import dis_max
    from toshokan_spark.search import read_segments
    from toshokan_spark.storage import join_path

    catalog, config = _docs_bm25_index(spark, sf_dir)
    segs = catalog.segments("docs_bm25")
    provider = merged_stats_provider(
        spark, [stats_path(config, s.file_name) for s in segs], "text"
    )
    docs = read_segments(
        spark, [join_path(config.path, s.file_name) for s in segs],
    )
    return dis_max(
        docs, ["spark table", "query filter"], tie_breaker=0.2, k=10,
        stats_provider=provider,
    )


def q_search_function_score(spark, sf_dir):
    """ES function_score (relevance.py::gauss_decay ×
    field_value_factor): purchases scored by a 7-day-scale gaussian
    recency decay around 2024-01-15 (1-day flat offset, decay 0.5 at
    origin+scale) times ln1p(value); top 20 by (score, event_id).
    Pure column algebra in whole-stage codegen — the decay constants
    fold to literals shared verbatim with the oracle."""
    from toshokan_spark.operators.relevance import (
        field_value_factor,
        gauss_decay,
    )

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:purchase")
    d_days = (
        F.abs(F.unix_micros(F.col("ts")) - F.lit(_FS_ORIGIN_US)).cast("double")
        / F.lit(86400000000.0)
    )
    score = F.round(
        gauss_decay(d_days, scale=7.0, offset=1.0, decay=0.5)
        * field_value_factor(F.col("value"), 1.0, "ln1p"),
        6,
    )
    return (
        hits.select("event_id", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("event_id").asc())
        .limit(20)
    )


def q_search_terms_set(spark, sf_dir):
    """ES terms_set query (relevance.py::terms_set_match — Lucene
    CoveringQuery): documents whose analyzed token set contains ≥3 of
    {spark, query, data, join}, with the distinct-match count. One
    scan, the term list folds into an array_intersect against the
    token array — no explode."""
    from toshokan_spark.operators.relevance import terms_set_match

    docs = _t(spark, sf_dir, "documents")
    return terms_set_match(
        docs, ["spark", "query", "data", "join"], min_match=3
    )


def q_search_wildcard(spark, sf_dir):
    """Lucene/ES wildcard query (plans/ast.py::Wildcard, query.py::
    _compile_wildcard — SURVEY §2.8 extension like Regex): ``?`` is
    exactly one character, inner ``*`` any run, lowered to the
    anchored token regex at one site so wildcard ≡ regexp
    behaviorally. Composes with the numeric clause's scan pushdown."""
    ev = _t(spark, sf_dir, "events")
    out = _search(
        ev, EVENTS_CONFIG,
        "(event_type:s?gnup OR event_type:cl*ck) AND value:>=250",
    )
    return out.select("event_id", "user_id", "event_type", "value")


#: function_score decay constants — Python-computed once, inlined as
#: literals into BOTH engines' plans (repr round-trips doubles
#: exactly), so the arithmetic is shared verbatim.
_FS_ORIGIN_US = 1705276800000000  # 2024-01-15T00:00:00Z in epoch micros
_FS_TWO_SIGMA2 = 2.0 * (-(7.0 * 7.0) / (2.0 * math.log(0.5)))


def q_search_span_near(spark, sf_dir):
    """ES/Lucene span_near, unordered (operators/relevance.py::
    span_near): documents where 'slow' and 'query' occur within 2
    intervening tokens in EITHER order — the case an (ordered)
    sloppy phrase cannot express — plus the minimum gap over all
    occurrence pairs. One staged-HOF codegen scan; the pair probe
    runs over the tiny per-term positions arrays."""
    from toshokan_spark.operators.relevance import span_near

    docs = _t(spark, sf_dir, "documents")
    out = span_near(docs, "text", "slow", "query", slop=2, in_order=False)
    return out.select("doc_id", "span_gap")


def q_search_explain_score(spark, sf_dir):
    """ES _explain API for the BM25 ranking (functions/bm25.py::
    bm25_explain): the top-3 hits for 'spark table' decomposed into
    one row per (doc, term) with tf / dl / df / idf / contribution
    and the total — same one-scan + 1-row-broadcast plan as the
    scorer, the decomposition exploding AFTER the top-k cut."""
    from toshokan_spark.functions.bm25 import bm25_explain

    docs = _t(spark, sf_dir, "documents")
    return bm25_explain(docs, "spark table", k=3)


def q_text_char_entropy(spark, sf_dir):
    """Per-document character-entropy quality gate (operators/
    text.py::char_entropy_profile — the gibberish/binary-noise
    filter): run-length over the sorted char array entirely in
    codegen HOFs — ONE narrow pass, zero shuffle, no explode; the
    −Σ(l/n)·ln(l/n) fold runs in run (alphabetical) order so the
    oracle replays it bit-for-bit."""
    from toshokan_spark.operators.text import char_entropy_profile

    docs = _t(spark, sf_dir, "documents")
    return char_entropy_profile(docs, low=2.0, high=4.5)


def q_search_phrase_suggest(spark, sf_dir):
    """ES phrase suggester (search.py::phrase_suggest — "did you
    mean" for whole queries): per-word vocabulary candidates within
    1 edit, candidate phrases scored by the corpus add-one bigram LM
    (the bigram_logprob formula), top 3 by (score, phrase). The
    sequence model picks the correction that forms the most probable
    PHRASE — 'sart' and 'hast' each have TWO 1-edit candidates
    ({sort, part} / {hash, fast}) and only the bigram LM can rank
    the four corrected phrases; pure per-word correction cannot. Corpus work =
    the two LM count passes; candidates and the phrase cross product
    are model-sized."""
    from toshokan_spark.search import phrase_suggest

    docs = _t(spark, sf_dir, "documents")
    return phrase_suggest(
        docs, "text", "the sart hast", k=3, max_dist=1, per_word=5
    )


def q_search_cumulative_cardinality(spark, sf_dir):
    """ES cumulative_cardinality (search.py::
    cumulative_cardinality_agg): distinct viewers accumulated over
    daily buckets via the first-seen decomposition — ONE groupBy(key)
    finds each user's first bucket, its histogram broadcast-joins the
    bucket spine, and the running integer sum IS the cumulative
    distinct count (exact; the naive form unions a sketch per bucket).
    Every output is an integer, so cross-engine equality is exact."""
    from toshokan_spark.search import cumulative_cardinality_agg

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:view")
    return cumulative_cardinality_agg(hits, "ts", 86400, "user_id")


def q_search_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov D (search.py::ks_test_agg, the
    ES bucket_count_ks_test shape): purchase vs click value
    distributions on a shared width-50 grid. One conditional-
    aggregation scan, ECDFs over the metadata-sized bucket frame,
    integer counts + one shared double division per ECDF point."""
    from toshokan_spark.search import ks_test_agg

    ev = _t(spark, sf_dir, "events")
    return ks_test_agg(
        ev, "value", "event_type:purchase", "event_type:click",
        EVENTS_CONFIG, 50.0,
    )


def q_search_ip_range(spark, sf_dir):
    """IP range query through the sortable-key machinery
    (functions/ip.py — reference parity: tantivy ip fields,
    tests/config.rs:90): a deterministic per-user IPv4 derived in
    BOTH engines, range-compiled on the IPv6-mapped hex key. The
    oracle checks the SEMANTICS independently (the ip range maps
    back to a user_id band), so a key-construction bug cannot
    self-confirm."""
    from toshokan_spark.functions.ip import ip_sort_key

    ev = _t(spark, sf_dir, "events")
    ip = F.concat(
        F.lit("10."),
        (F.floor(F.col("event_id") / 256) % 256).cast("long").cast("string"),
        F.lit("."),
        (F.col("event_id") % 256).cast("string"),
        F.lit(".1"),
    )
    df = ev.withColumn("ip", ip).withColumn(
        "__ipkey__ip", ip_sort_key(F.col("ip"))
    )
    # the range CROSSES the .3 -> .4 octet boundary: a plain string
    # compare on the dotted quad would get it wrong, the hex key
    # orders it correctly
    out = _search(
        df, EVENTS_IP_CONFIG,
        "ip:[10.3.200.0 TO 10.4.55.255] AND event_type:purchase",
    )
    return out.select("event_id", "user_id", "ip")


def q_mmr_rerank(spark, sf_dir):
    """Maximal Marginal Relevance diversified retrieval
    (operators/similarity.py::mmr_rerank — Carbonell & Goldstein
    1998): greedy λ=0.7 pick of 5 from the top-12 cosine pool of
    query vector 0. Corpus work is the proven broadcast-query scan +
    TakeOrdered pool cut; the greedy runs over the constant
    pool×pool similarity matrix in one Arrow-batched pandas group
    (every similarity rounded to 6 BEFORE the greedy — the
    cross-engine contract; the oracle replays the identical greedy
    as k chained SQL steps)."""
    from toshokan_spark.operators.similarity import mmr_rerank

    emb = _t(spark, sf_dir, "embeddings")
    return mmr_rerank(emb, 0, k=5, pool=12, lam=0.7)


def q_knn_filtered(spark, sf_dir):
    """Filtered vector search (ES kNN `filter` / Quickwit-style
    pre-filter): exact top-10 cosine neighbors of query vector 0
    among label=3 candidates only. The filter lands BELOW the
    scoring crossJoin (pushed to the scan — a post-filter would
    score then discard; pre-filtering is the recall-correct ES
    semantics), so the broadcast-query scan reads only the
    candidate stripe."""
    from toshokan_spark.operators.dedup import cosine_sim

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    cands = emb.filter(
        (F.col("label") == 3) & (F.col("vec_id") != 0)
    )
    return (
        cands.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cosine_sim(F.col("embedding"), F.col("qv")), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


def q_search_categorize_text(spark, sf_dir):
    """ES categorize_text aggregation (the log-pattern grouper):
    documents bucketed by their leading 3-token signature, top 10
    buckets by (count desc, signature asc) with an example doc id
    (the earliest — deterministic). One scan, one signature-keyed
    exchange carrying (signature, partial count, min id)."""
    docs = _t(spark, sf_dir, "documents")
    from toshokan_spark.functions.tokenizers import tokenize

    sig = F.array_join(
        F.slice(tokenize(F.col("text"), "default"), 1, 3), " "
    )
    return (
        docs.groupBy(sig.alias("signature"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").alias("example_doc"),
        )
        .orderBy(F.col("n_docs").desc(), F.col("signature").asc())
        .limit(10)
    )


def q_search_boxplot(spark, sf_dir):
    """ES boxplot aggregation (search.py::boxplot_agg): quartiles
    (exact percentile_disc — stricter than ES's t-digest), min/max,
    IQR and the 1.5·IQR whiskers as actual data elements, over the
    click hit set. Two partial-aggregated passes over the HIT SET
    with a 1-row broadcast between (the fences depend on q1/q3)."""
    from toshokan_spark.search import boxplot_agg

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:click")
    return boxplot_agg(hits, "value")


def q_search_string_stats(spark, sf_dir):
    """ES string_stats (search.py::string_stats_agg): length moments
    (decimal-exact avg) plus Shannon entropy of the corpus character
    distribution — the char explode hash-aggregates map-side so the
    exchange is alphabet-sized, and the entropy fold runs ORDERED
    over the sorted frequency table (the cross-engine float
    contract)."""
    from toshokan_spark.search import string_stats_agg

    docs = _t(spark, sf_dir, "documents")
    return string_stats_agg(docs, "text")


def q_search_t_test(spark, sf_dir):
    """ES t_test aggregation (search.py::t_test_agg, Welch's): the t
    statistic between purchase and click values in ONE conditional-
    aggregation scan; moment sums decimal-exact, sample variances
    derived in double arithmetic shared verbatim with the oracle."""
    from toshokan_spark.search import t_test_agg

    ev = _t(spark, sf_dir, "events")
    return t_test_agg(
        ev, "value", "event_type:purchase", "event_type:click",
        EVENTS_CONFIG,
    )


def q_search_diversified_sampler(spark, sf_dir):
    """ES diversified_sampler (search.py::diversified_sampler_agg):
    top 25 view events by (value, id) with at most 2 per user — the
    de-biased sample guard. Per-user quota is a WindowGroupLimit,
    the final cut a distributed TakeOrdered; nothing global-sorts."""
    from toshokan_spark.search import diversified_sampler_agg

    ev = _t(spark, sf_dir, "events")
    hits = _search(ev, EVENTS_CONFIG, "event_type:view")
    return diversified_sampler_agg(
        hits, "user_id", "value", "event_id",
        max_per_group=2, shard_size=25,
    )


def q_search_rank_feature(spark, sf_dir):
    """ES rank_feature query (operators/relevance.py::
    rank_feature_score): BM25 for 'spark table' plus 2.0 x the
    saturation x/(x+500) of n_chars — longer documents get a bounded
    static boost, the ES rank-feature 'should' clause. One scan: the
    feature function fuses into the BM25 codegen projection; top 10
    by (rounded score desc, id)."""
    from toshokan_spark.operators.relevance import rank_feature_score

    docs = _t(spark, sf_dir, "documents")
    return rank_feature_score(
        docs, "spark table", "n_chars", function="saturation",
        pivot=500.0, boost=2.0, k=10,
    )


def q_search_distance_feature(spark, sf_dir):
    """ES distance_feature query (relevance.py::
    distance_feature_score): BM25 for 'query filter' plus
    1.5·150/(150+|n_chars-800|) — full boost at length 800, half at
    150 away (the recency/proximity primitive, numeric form). Same
    one-scan fused-projection shape as rank_feature."""
    from toshokan_spark.operators.relevance import distance_feature_score

    docs = _t(spark, sf_dir, "documents")
    return distance_feature_score(
        docs, "query filter", origin=800.0, distance_col="n_chars",
        pivot=150.0, boost=1.5, k=10,
    )


def q_search_pinned(spark, sf_dir):
    """ES pinned query (relevance.py::pinned_query): ids 42, 7, 3
    rank first in LIST order regardless of organic match (curated
    promotions), then the organic 'spark table' BM25 matches minus
    the pinned set; pinned rows keep their organic score (0 for
    non-matches) but owe their rank to the pin. One scoring scan;
    the pin order folds in as a literal map."""
    from toshokan_spark.operators.relevance import pinned_query

    docs = _t(spark, sf_dir, "documents")
    out = pinned_query(docs, "spark table", [42, 7, 3], k=10)
    return out.select(
        "doc_id", "score", F.col("pinned").cast("int").alias("pinned")
    )



def q_search_matrix_stats(spark, sf_dir):
    """ES matrix_stats (search.py::matrix_stats_agg): pairwise
    covariance/correlation over (value, user_id) on the purchase hit
    set, plus per-field count/mean/variance — the ES matrix
    flattened to one row per ordered pair. All moments are exact
    DECIMAL sums in ONE 1-row aggregate (no per-pair pass); the
    double arithmetic runs on those exact sums so both engines agree
    bit-for-bit. Exact-statistic contract: ES's streaming skewness/
    kurtosis are not reproduced (the percentiles-over-t-digest
    stance)."""
    from toshokan_spark.search import matrix_stats_agg

    ev = _t(spark, sf_dir, "events")
    hits = ev.filter(F.col("event_type") == "purchase")
    return matrix_stats_agg(hits, ["value", "user_id"])


def q_search_top_metrics(spark, sf_dir):
    """ES top_metrics (search.py::top_metrics_agg): per event_type,
    the value carried by the LATEST event (max ts, ties to the larger
    event_id — an explicit total order where ES leaves ties
    unspecified). One exchange: max(struct(sort, id, metrics)) rides
    map-side combine — no window, no per-bucket sort."""
    from toshokan_spark.search import top_metrics_agg

    ev = _t(spark, sf_dir, "events")
    out = top_metrics_agg(ev, "event_type", "ts", ["value"], "event_id")
    return out.select(
        "event_type", F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id", "value",
    )


def q_search_change_point(spark, sf_dir):
    """ES change_point aggregation (search.py::change_point_agg):
    detect where the daily purchase-value series changes — typed
    step_change / spike / dip, or stationary when the best exact
    least-squares candidate explains <25% of the series variance.
    Deterministic exact form (ES samples test statistics; we ship the
    decimal-exact SSE decomposition both engines agree on
    bit-for-bit). One partial-aggregated corpus scan builds the
    bucket series; the split search is a bounded pass over B date
    buckets."""
    from toshokan_spark.search import change_point_agg

    ev = _t(spark, sf_dir, "events")
    hits = ev.filter(F.col("event_type") == "purchase")
    return change_point_agg(hits, "ts", value_col="value", bucket="day")


def q_search_frequent_item_sets(spark, sf_dir):
    """ES frequent_item_sets aggregation (search.py::
    frequent_item_sets_agg): per-user transactions over event_type,
    every item and item pair in >=30% of transactions. Exact (ES
    approximates with sampled ECLAT); pairs HOF-explode from each
    transaction's sorted item array — one exchange builds the
    transactions, no self-join over the corpus."""
    from toshokan_spark.search import frequent_item_sets_agg

    ev = _t(spark, sf_dir, "events")
    return frequent_item_sets_agg(
        ev, "user_id", "event_type", min_support=0.3)


def q_search_rate(spark, sf_dir):
    """ES rate aggregation (search.py::rate_agg): per calendar month,
    the value sum normalized to a per-DAY rate using the month's
    actual length (28-day February divides by 28 — the reason ES
    added rate over a manual sum/length pipeline). The testdata spans
    one month, so the entry buckets by DAY at a per-HOUR rate for a
    30-bucket check; the month/variable-length path is unit-tested.
    One partial-aggregated scan; decimal-exact sums."""
    from toshokan_spark.search import rate_agg

    ev = _t(spark, sf_dir, "events")
    out = rate_agg(ev, "ts", value_col="value", bucket="day",
                   unit_seconds=3600)
    return out.select(
        F.unix_micros(F.col("bucket")).alias("bucket_us"), "n_hits", "rate"
    )



def q_search_boosting(spark, sf_dir):
    """ES boosting query (operators/relevance.py::boosting_query):
    'spark table' relevance with documents also containing 'slow' or
    'legacy' DEMOTED to 0.4x — not excluded, the point over a
    must_not. One scan: the negative test is an arrays_overlap
    against literal terms fused into the scoring projection."""
    from toshokan_spark.operators.relevance import boosting_query

    docs = _t(spark, sf_dir, "documents")
    return boosting_query(
        docs, "spark table", "slow legacy", negative_boost=0.4, k=10
    )



def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT: the driver records only the FIRST 50 entries
    # (VERDICT r5 §1). tools/rotation.py computes the priority classes
    # from git + a static AST dependency analysis, and
    # tests/test_rotation.py FAILS the suite when this order violates
    # the class-priority filling (P0 never-proven > P0b rotated-out >
    # P1 changed-since-seal > P2 proven-unchanged).
    return {
        # -- r17 WINDOW (first 50): no P0 this round; the STALEST
        # P0b cohort per VERDICT r16 directive 7 — ranked by the last
        # CORRECTNESS_r*.json each entry appears in (33 of r12
        # vintage, then 17 of r13, alphabetical within a round;
        # computed by tools/rotation.py + the staleness rank in
        # OPTIMIZATION_r17.md). P0b that do not fit wait behind
        # their older record + the full local sweep.
        "multimodal_audio_meta": q_multimodal_audio_meta,
        "pack_sequences": q_pack_sequences,
        "pii_scrub": q_pii_scrub,
        "q11_important_stock": q_q11_important_stock,
        "q16_part_supplier_relation": q_q16_part_supplier_relation,
        "q20_potential_promotion": q_q20_potential_promotion,
        "q2_min_cost_supplier": q_q2_min_cost_supplier,
        "q9_product_type_profit": q_q9_product_type_profit,
        "rollup_revenue": q_rollup_revenue,
        "sample_documents": q_sample_documents,
        "search_after": q_search_after,
        "search_bool": q_search_bool,
        "search_bucket_script": q_search_bucket_script,
        "search_bucket_selector": q_search_bucket_selector,
        "search_bucket_sort": q_search_bucket_sort,
        "search_dt_range": q_search_dt_range,
        "search_highlight": q_search_highlight,
        "search_histogram_filled": q_search_histogram_filled,
        "search_range": q_search_range,
        "search_serial_diff": q_search_serial_diff,
        "search_term": q_search_term,
        "search_topk": q_search_topk,
        "source_mixture": q_source_mixture,
        "source_token_profile": q_source_token_profile,
        "text_fingerprint": q_text_fingerprint,
        "text_gopher_rules": q_text_gopher_rules,
        "text_langid": q_text_langid,
        "text_quality": q_text_quality,
        "train_quality_classifier": q_train_quality_classifier,
        "url_canonicalize": q_url_canonicalize,
        "url_dedup": q_url_dedup,
        "user_sessions": q_user_sessions,
        "weighted_sample": q_weighted_sample,
        "audience_overlap": q_audience_overlap,
        "domain_pagerank": q_domain_pagerank,
        "embedding_stats": q_embedding_stats,
        "event_conversions": q_event_conversions,
        "funnel_stages": q_funnel_stages,
        "hard_negatives": q_hard_negatives,
        "hybrid_search_rrf": q_hybrid_search_rrf,
        "ingest_roundtrip": q_ingest_roundtrip,
        "json_path_filter": q_json_path_filter,
        "kcenter_select": q_kcenter_select,
        "knn_filtered": q_knn_filtered,
        "knn_graph": q_knn_graph,
        "knn_pq_rerank": q_knn_pq_rerank,
        "knn_quantized": q_knn_quantized,
        "leakage_safe_split": q_leakage_safe_split,
        "lm_quality_buckets_scaled": q_lm_quality_buckets_scaled,
        "matryoshka_recall": q_matryoshka_recall,
        # -- beyond the driver window --
        "search_moving_fn": q_search_moving_fn,
        "search_normalize": q_search_normalize,
        "q12_late_priority": q_q12_late_priority,
        "q13_customer_distribution": q_q13_customer_distribution,
        "q15_top_supplier": q_q15_top_supplier,
        "q17_small_quantity_revenue": q_q17_small_quantity_revenue,
        "q19_disjunctive_revenue": q_q19_disjunctive_revenue,
        "q21_suppliers_kept_waiting": q_q21_suppliers_kept_waiting,
        "q22_global_sales_opportunity": q_q22_global_sales_opportunity,
        "q4_order_priority": q_q4_order_priority,
        "q7_volume_shipping": q_q7_volume_shipping,
        "q8_market_share": q_q8_market_share,
        "search_adjacency": q_search_adjacency,
        "search_auto_histogram": q_search_auto_histogram,
        "search_cardinality_sketch": q_search_cardinality_sketch,
        "search_composite": q_search_composite,
        "search_facets_by_value": q_search_facets_by_value,
        "search_filters": q_search_filters,
        "search_fuzzy": q_search_fuzzy,
        "search_histogram_manifest": q_search_histogram_manifest,
        "search_mad": q_search_mad,
        "search_multi_terms": q_search_multi_terms,
        "search_panel": q_search_panel,
        "search_percentile_ranks": q_search_percentile_ranks,
        "search_percentiles_approx": q_search_percentiles_approx,
        "search_percentiles_by_approx": q_search_percentiles_by_approx,
        "search_phrase_prefix": q_search_phrase_prefix,
        "search_pipeline_aggs": q_search_pipeline_aggs,
        "search_prefix": q_search_prefix,
        "search_rare_terms": q_search_rare_terms,
        "search_sampler": q_search_sampler,
        "search_weighted_avg": q_search_weighted_avg,
        "user_event_gaps": q_user_event_gaps,
        "apply_mixture": q_apply_mixture,
        "bpe_merges": q_bpe_merges,
        "bpe_token_counts": q_bpe_token_counts,
        "brand_revenue": q_brand_revenue,
        "ccnet_select": q_ccnet_select,
        "chunk_documents": q_chunk_documents,
        "cohort_retention": q_cohort_retention,
        "decontaminate": q_decontaminate,
        "dedup_crosscheck": q_dedup_crosscheck,
        "dedup_incremental_url": q_dedup_incremental_url,
        "domain_filter": q_domain_filter,
        "dsir_weights": q_dsir_weights,
        "embedding_outliers": q_embedding_outliers,
        "knn_ivf_pq": q_knn_ivf_pq,
        "knn_lsh": q_knn_lsh,
        "knn_pq_persisted": q_knn_pq_persisted,
        "langid_classifier": q_langid_classifier,
        "search_change_point": q_search_change_point,
        "search_frequent_item_sets": q_search_frequent_item_sets,
        "q10_returned_items": q_q10_returned_items,
        "q14_promo_revenue": q_q14_promo_revenue,
        "q18_large_orders": q_q18_large_orders,
        "q6_forecast_revenue": q_q6_forecast_revenue,
        "quality_ensemble": q_quality_ensemble,
        "quantize_embeddings": q_quantize_embeddings,
        "repeat_plan": q_repeat_plan,
        "script_profile": q_script_profile,
        "search_cardinality": q_search_cardinality,
        "search_date_histogram": q_search_date_histogram,
        "search_deletes": q_search_deletes,
        "search_extended_stats": q_search_extended_stats,
        "search_facets": q_search_facets,
        "search_histogram": q_search_histogram,
        "search_percentiles": q_search_percentiles,
        "search_percentiles_by": q_search_percentiles_by,
        "search_ranges": q_search_ranges,
        "search_significant_terms": q_search_significant_terms,
        "search_stats": q_search_stats,
        "search_stats_manifest": q_search_stats_manifest,
        "search_time_travel": q_search_time_travel,
        "search_top_hits": q_search_top_hits,
        "semantic_decontaminate": q_semantic_decontaminate,
        "shard_balance": q_shard_balance,
        "snapshot_diff": q_snapshot_diff,
        "stratified_sample": q_stratified_sample,
        "token_budget_pack": q_token_budget_pack,
        "tokenizer_fertility": q_tokenizer_fertility,
        "zipf_profile": q_zipf_profile,
        "asof_last_click": q_asof_last_click,
        "c4_line_filters": q_c4_line_filters,
        "click_only_users": q_click_only_users,
        "customers_without_orders": q_customers_without_orders,
        "dedup_canonical": q_dedup_canonical,
        "dedup_clusters": q_dedup_clusters,
        "dedup_embedding": q_dedup_embedding,
        "dedup_exact": q_dedup_exact,
        "dedup_incremental": q_dedup_incremental,
        "dedup_incremental_minhash": q_dedup_incremental_minhash,
        "dedup_minhash_char": q_dedup_minhash_char,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_simhash": q_dedup_simhash,
        "distinct_users": q_distinct_users,
        "heavy_hitter_users": q_heavy_hitter_users,
        "hourly_events": q_hourly_events,
        "knn_bruteforce": q_knn_bruteforce,
        "knn_pq": q_knn_pq,
        "mmr_rerank": q_mmr_rerank,
        "multimodal_dedup": q_multimodal_dedup,
        "multimodal_frames": q_multimodal_frames,
        "multimodal_image_meta": q_multimodal_image_meta,
        "multimodal_meta": q_multimodal_meta,
        "multimodal_resize": q_multimodal_resize,
        "priority_counts": q_priority_counts,
        "rank_eval": q_rank_eval,
        "search_boxplot": q_search_boxplot,
        "search_categorize_text": q_search_categorize_text,
        "search_collapse": q_search_collapse,
        "search_cumulative_cardinality": q_search_cumulative_cardinality,
        "search_dis_max": q_search_dis_max,
        "search_diversified_sampler": q_search_diversified_sampler,
        "search_explain_score": q_search_explain_score,
        "search_function_score": q_search_function_score,
        "search_ip_range": q_search_ip_range,
        "search_ks_test": q_search_ks_test,
        "search_more_like_this": q_search_more_like_this,
        "search_multi_match": q_search_multi_match,
        "search_percolate": q_search_percolate,
        "search_phrase_suggest": q_search_phrase_suggest,
        "search_regex": q_search_regex,
        "search_sibling_aggs": q_search_sibling_aggs,
        "search_span_near": q_search_span_near,
        "search_spell_correct": q_search_spell_correct,
        "search_string_stats": q_search_string_stats,
        "search_suggest": q_search_suggest,
        "search_t_test": q_search_t_test,
        "search_terms_set": q_search_terms_set,
        "search_wildcard": q_search_wildcard,
        "terms_error_bounds": q_terms_error_bounds,
        "text_char_entropy": q_text_char_entropy,
        "ann_recall": q_ann_recall,
        "bitext_margin": q_bitext_margin,
        "cluster_size_histogram": q_cluster_size_histogram,
        "containment_pairs": q_containment_pairs,
        "curriculum_order": q_curriculum_order,
        "dsir_select": q_dsir_select,
        "embedding_covariance": q_embedding_covariance,
        "epoch_expand": q_epoch_expand,
        "kmeans_embeddings": q_kmeans_embeddings,
        "knn_ivf": q_knn_ivf,
        "knn_ivf_exact": q_knn_ivf_exact,
        "length_histogram": q_length_histogram,
        "line_dedup": q_line_dedup,
        "line_dedup_incremental": q_line_dedup_incremental,
        "lm_quality_buckets": q_lm_quality_buckets,
        "minhash_calibration": q_minhash_calibration,
        "multimodal_audio_energy": q_multimodal_audio_energy,
        "normalize_embeddings": q_normalize_embeddings,
        "normalize_text": q_normalize_text,
        "quality_classifier": q_quality_classifier,
        "quality_regression": q_quality_regression,
        "search_bm25": q_search_bm25,
        "search_boosting": q_search_boosting,
        "search_distance_feature": q_search_distance_feature,
        "search_matrix_stats": q_search_matrix_stats,
        "search_phrase": q_search_phrase,
        "search_pinned": q_search_pinned,
        "search_rank_feature": q_search_rank_feature,
        "search_rate": q_search_rate,
        "search_text_term": q_search_text_term,
        "search_top_metrics": q_search_top_metrics,
        "select_training_set": q_select_training_set,
        "semantic_clusters": q_semantic_clusters,
        "semantic_dedup": q_semantic_dedup,
        "source_drift": q_source_drift,
        "source_quality_curves": q_source_quality_curves,
        "substring_spans": q_substring_spans,
        "substring_spans_incremental": q_substring_spans_incremental,
        "text_bigram_logprob": q_text_bigram_logprob,
        "text_dup_ngrams": q_text_dup_ngrams,
        "text_token_stats": q_text_token_stats,
        "text_unigram_logprob": q_text_unigram_logprob,
        "token_budget_pack_scaled": q_token_budget_pack_scaled,
        "vocab_coverage": q_vocab_coverage,
        "cube_source_lang": q_cube_source_lang,
        "pivot_event_days": q_pivot_event_days,
        "q1_pricing": q_q1_pricing,
        "q3_top_revenue": q_q3_top_revenue,
        "q5_region_revenue": q_q5_region_revenue,
        "window_top_orders": q_window_top_orders,
    }


# shared SQL fragments (kept in lockstep with the Spark operators)
_WORDS = "list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '')"


def _shingles_sql(k: int) -> str:
    """DuckDB twin of dedup._shingles_from_words for any k: distinct
    space-joined k-word windows, whole-doc fallback under k words."""
    joined = " || ' ' || ".join(f"{_WORDS}[i+{j}]" for j in range(k))
    return f"""
CASE WHEN len({_WORDS}) >= {k}
     THEN list_distinct(list_transform(range(1, len({_WORDS}) - {k - 2}),
              i -> {joined}))
     ELSE [array_to_string({_WORDS}, ' ')] END
"""


_SHINGLES = _shingles_sql(3)

#: shared recursive-CTE chain (word-3-gram Jaccard >= 0.5 pairs ->
#: connected components), ending in ``clus(doc_id, cluster_id)`` —
#: used by the dedup_clusters and dedup_canonical oracles so the two
#: can never drift apart
#: word-3-gram Jaccard >= 0.5 near-dup pairs, ending in
#: ``pairs(a_id, b_id, jacc)`` — prefix shared by the clusters CTE
#: and the cross-modal agreement oracle
_PAIRS_CTE = f"""sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM documents),
            ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
            sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
            inter AS (
              SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairs AS (
              SELECT a_id, b_id,
                round(i * 1.0 / (sa.n + sb.n - i), 6) AS jacc
              FROM inter
              JOIN sz sa ON sa.doc_id = a_id
              JOIN sz sb ON sb.doc_id = b_id
              WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5)"""

_CLUSTERS_CTE = f"""{_PAIRS_CTE},
            edges AS (
              SELECT a_id AS src, b_id AS dst FROM pairs
              UNION ALL SELECT b_id, a_id FROM pairs),
            reach(id, r) AS (
              SELECT DISTINCT src, src FROM edges
              UNION
              SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
            clus AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)"""

#: BM25 CTE chain for the query 'spark table' over documents, ending
#: in ``lexsc(doc_id, bm25)`` (matching docs only) — shared by the
#: search_bm25 and hybrid_search_rrf oracles
_BM25_SPARK_TABLE_CTE = """base AS (
              SELECT doc_id,
                list_transform(
                  list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'),
                              w -> w <> '' AND strlen(w) <= 40),
                  w -> lower(w)) AS toks
              FROM documents),
            b2 AS (SELECT doc_id, toks, len(toks) AS dl FROM base),
            st AS (
              SELECT count(*) AS n, sum(dl) AS sumdl,
                sum(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END) AS df0,
                sum(CASE WHEN list_contains(toks, 'table') THEN 1 ELSE 0 END) AS df1
              FROM b2),
            tf AS (
              SELECT doc_id, dl,
                len(list_filter(toks, x -> x = 'spark')) AS tf0,
                len(list_filter(toks, x -> x = 'table')) AS tf1
              FROM b2),
            lexsc AS (
              SELECT doc_id, round(
                (CASE WHEN tf0 > 0 THEN
                   ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * 2.2)
                   / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
                 ELSE 0.0 END)
                +
                (CASE WHEN tf1 > 0 THEN
                   ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2)
                   / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
                 ELSE 0.0 END), 4) AS bm25
              FROM tf, st
              WHERE tf0 > 0 OR tf1 > 0)"""

def _bm25_field_cte(alias: str, field: str, terms: list[str], out: str) -> str:
    """A DuckDB CTE chain computing with_bm25's per-document score for
    *terms* over documents.*field*: identical tokenizer lambda, the
    identical left-to-right CASE-arm sum, round 4 — the generalized
    form of ``_BM25_SPARK_TABLE_CTE`` for any field/term list (the
    multi_match / dis_max oracles score several fields or clauses)."""
    dfs = ", ".join(
        f"sum(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) AS df{i}"
        for i, t in enumerate(terms)
    )
    tfs = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(terms)
    )
    arms = "\n + ".join(
        f"(CASE WHEN tf{i} > 0 THEN"
        f" ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5)) * (tf{i} * 2.2)"
        f" / (tf{i} + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))"
        f" ELSE 0.0 END)"
        for i in range(len(terms))
    )
    anyhit = " OR ".join(f"tf{i} > 0" for i in range(len(terms)))
    return f"""{alias}b AS (
          SELECT doc_id,
            list_transform(
              list_filter(string_split_regex({field}, '[^a-zA-Z0-9]+'),
                          w -> w <> '' AND strlen(w) <= 40),
              w -> lower(w)) AS toks
          FROM documents),
        {alias}b2 AS (SELECT doc_id, toks, len(toks) AS dl FROM {alias}b),
        {alias}st AS (SELECT count(*) AS n, sum(dl) AS sumdl, {dfs} FROM {alias}b2),
        {alias}tf AS (SELECT doc_id, dl, {tfs} FROM {alias}b2),
        {alias}sc AS (
          SELECT doc_id, round({arms}, 4) AS {out}
          FROM {alias}tf, {alias}st
          WHERE {anyhit})"""


def _phrase_suggest_oracle_sql(
    words: list[str], k=3, max_dist=1, per_word=5
) -> str:
    """The phrase suggester replayed in SQL: per-word candidate CTEs
    (banded levenshtein, (dist, cu desc, w) rank), the candidate-
    phrase cross product, add-one bigram LM scoring with the lnA+lnB
    left-associated sum (== Spark's position-ordered fold)."""
    cands = ",\n".join(
        f"""cand{i} AS (
          SELECT w, cu FROM (
            SELECT w, cu, row_number() OVER (
              ORDER BY levenshtein(w, '{w}') ASC, cu DESC, w ASC) AS r
            FROM uni
            WHERE abs(length(w) - {len(w)}) <= {max_dist}
              AND levenshtein(w, '{w}') <= {max_dist})
          WHERE r <= {per_word})"""
        for i, w in enumerate(words)
    )
    n = len(words)
    sel = ", ".join(
        f"c{i}.w AS p{i}, c{i}.cu AS cu{i}" for i in range(n)
    )
    srcs = ", ".join(f"cand{i} c{i}" for i in range(n))
    joins = "\n".join(
        f"LEFT JOIN bg b{i} ON b{i}.w1 = p{i} AND b{i}.w2 = p{i + 1}"
        for i in range(n - 1)
    )
    comps = " + ".join(
        f"ln((coalesce(b{i}.cb, 0) + 1.0) / (cu{i} + vq.vv))"
        for i in range(n - 1)
    )
    phrase = " || ' ' || ".join(f"p{i}" for i in range(n))
    return f"""
        WITH st AS (
          SELECT list_transform(
            list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'),
                        x -> x <> '' AND strlen(x) <= 40),
            x -> lower(x)) AS w
          FROM documents),
        uni AS (
          SELECT t.w, count(*)::BIGINT AS cu
          FROM (SELECT unnest(w) AS w FROM st) t GROUP BY 1),
        bgsrc AS (
          SELECT unnest(list_transform(
            range(1, len(w)), i -> [w[i], w[i + 1]])) AS pr
          FROM st WHERE len(w) >= 2),
        bg AS (
          SELECT pr[1] AS w1, pr[2] AS w2, count(*)::BIGINT AS cb
          FROM bgsrc GROUP BY 1, 2),
        vq AS (SELECT count(*)::DOUBLE AS vv FROM uni),
        {cands},
        phr AS (SELECT {sel} FROM {srcs})
        SELECT {phrase} AS phrase,
          round({comps}, 6) AS score
        FROM phr CROSS JOIN vq
        {joins}
        ORDER BY score DESC, phrase ASC LIMIT {k}"""


def _mmr_oracle_sql(query_id=0, k=5, pool=12, lam=0.7) -> str:
    """The MMR greedy replayed as *k* chained SQL steps: pool cut,
    pool×pool similarity matrix (every similarity rounded to 6 —
    the same pre-greedy rounding the Spark side applies), then each
    step picks argmax(λ·rel − (1−λ)·max-sim-to-selected) with ties
    to the smaller id. The weight constants are the same Python
    doubles inlined via repr."""
    wl, wd = repr(float(lam)), repr(1.0 - float(lam))
    cos_qc = _COS.format(a="c.embedding", b="q0.qv")
    cos_ab = _COS.format(a="a.v", b="b.v")
    parts = [
        f"""q0 AS (SELECT embedding AS qv FROM embeddings
               WHERE vec_id = {query_id}),
        cand AS (
          SELECT c.vec_id AS id, round({cos_qc}, 6) AS rel,
                 c.embedding AS v
          FROM embeddings c, q0 WHERE c.vec_id <> {query_id}
          ORDER BY rel DESC, id ASC LIMIT {pool}),
        pr AS (
          SELECT a.id AS ia, b.id AS ib, round({cos_ab}, 6) AS s
          FROM cand a, cand b WHERE a.id <> b.id),
        sel1 AS (
          SELECT id, 1 AS rank, rel, {wl} * rel - {wd} * 0.0 AS mmr
          FROM cand ORDER BY mmr DESC, id ASC LIMIT 1),
        tot1 AS (SELECT * FROM sel1)"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f"""sel{i} AS (
          SELECT c.id, {i} AS rank, c.rel,
                 {wl} * c.rel - {wd} * max(pr.s) AS mmr
          FROM cand c
          JOIN pr ON pr.ia = c.id
                 AND pr.ib IN (SELECT id FROM tot{i - 1})
          WHERE c.id NOT IN (SELECT id FROM tot{i - 1})
          GROUP BY c.id, c.rel
          ORDER BY mmr DESC, c.id ASC LIMIT 1),
        tot{i} AS (SELECT * FROM tot{i - 1}
                   UNION ALL SELECT * FROM sel{i})"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"""
        SELECT id AS vec_id, rank, rel AS relevance,
               round(mmr, 6) AS mmr
        FROM tot{k}"""
    )


def _auto_ladder_case(target: int) -> str:
    """DuckDB CASE mirroring search.auto_date_histogram's ladder walk
    over the same exact integers (positive epochs: // == floor)."""
    from toshokan_spark.search import AUTO_HISTOGRAM_LADDER

    arms = "".join(
        f"WHEN mx // {s * 1_000_000} - mn // {s * 1_000_000} + 1 <= {target} "
        f"THEN {s} "
        for s in AUTO_HISTOGRAM_LADDER
    )
    return f"CASE {arms}ELSE {AUTO_HISTOGRAM_LADDER[-1]} END"


_COS = """
list_reduce(list_prepend(0.0::DOUBLE,
    list_transform(range(1, len({a})+1), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)),
    (x, y) -> x + y)
/ sqrt(
  list_reduce(list_prepend(0.0::DOUBLE,
      list_transform(range(1, len({a})+1), i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE)),
      (x, y) -> x + y)
  *
  list_reduce(list_prepend(0.0::DOUBLE,
      list_transform(range(1, len({b})+1), i -> {b}[i]::DOUBLE * {b}[i]::DOUBLE)),
      (x, y) -> x + y)
)
"""

#: sequential-order L2 distance between two list columns — the same
#: left fold the Spark HOF expressions evaluate, bit-for-bit
_L2 = """
list_reduce(list_prepend(0.0::DOUBLE,
    list_transform(range(1, len({a})+1),
        i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) * ({a}[i]::DOUBLE - {b}[i]::DOUBLE))),
    (x, y) -> x + y)
"""

# -- SQL-auditable hash families (mirror operators/dedup.py poly_hash
#    and operators/similarity.py _plane_component 'lcg') --------------

def _poly_sql(var: str, base: int, add: int, mod: int, init: int = 0) -> str:
    """DuckDB twin of dedup.poly_hash: fold (acc*base + code + add) %
    mod from ``init``."""
    return (
        f"list_reduce(list_prepend({init}::BIGINT, list_transform("
        f"list_filter(string_split({var}, ''), c -> c <> ''), "
        f"c -> ord(c)::BIGINT)), (a, b) -> (a * {base} + b + {add}) % {mod})"
    )


def _pagerank_sql(iters: int = 5, scale: int = 10**12,
                  dn: int = 85, dd: int = 100) -> str:
    """DuckDB twin of web.pagerank over the deterministic 40-host
    document link graph: the iterations unroll as CTEs r1..rN with
    the IDENTICAL int64 fixed-point arithmetic (truncating ``//`` =
    Spark's ``div`` on the all-positive ranks), so every intermediate
    is bit-equal — no float ever enters either side."""
    head = f"""
        WITH e AS (
          SELECT DISTINCT src, dst FROM (
            SELECT doc_id % 40 AS src, (doc_id * 7 + 11) % 40 AS dst
            FROM documents
            UNION ALL
            SELECT doc_id % 40, (doc_id * 13 + 5) % 40 FROM documents
          ) WHERE src <> dst
        ), nodes AS (
          SELECT DISTINCT node FROM (
            SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
        ), deg AS (
          SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src
        ), nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
        r0 AS (
          SELECT node, ({scale}::BIGINT // nn.n)::BIGINT AS r
          FROM nodes, nn)"""
    parts = [head]
    for i in range(1, iters + 1):
        p = f"r{i - 1}"
        parts.append(f""",
        d{i} AS (
          SELECT coalesce(sum(p.r), 0)::BIGINT AS dm
          FROM {p} p LEFT JOIN deg ON p.node = deg.src
          WHERE deg.src IS NULL
        ), c{i} AS (
          SELECT e.dst AS node,
                 sum((p.r * {dn}) // ({dd} * deg.deg))::BIGINT AS inflow
          FROM e JOIN {p} p ON e.src = p.node
                 JOIN deg ON e.src = deg.src
          GROUP BY e.dst
        ), r{i} AS (
          SELECT nodes.node,
                 ((({dd - dn}::BIGINT * {scale}::BIGINT) // ({dd} * nn.n))
                  + (({dn}::BIGINT * d{i}.dm) // ({dd} * nn.n))
                  + coalesce(c{i}.inflow, 0))::BIGINT AS r
          FROM nodes CROSS JOIN nn CROSS JOIN d{i}
               LEFT JOIN c{i} ON nodes.node = c{i}.node
        )""")
    parts.append(f"""
        SELECT node::BIGINT AS host_id,
               'site' || node::VARCHAR || '.com' AS host,
               r AS rank_e12
        FROM r{iters}
        ORDER BY rank_e12 DESC, host_id ASC""")
    return "".join(parts)


def _langid_oracle_sql() -> str:
    """DuckDB twin of textops.langid_classifier: the 8-language
    hashed-lexicon weight table, the shared unigram+bigram hashed
    feature stream, per-language decimal-exact score sums, and the
    argmax/score-share math with the SAME left-to-right total
    association the Spark column expression folds."""
    langs = sorted(textops.LANG_LEXICONS)
    values = ", ".join(
        f"('{lang}', '{w}')"
        for lang, words in sorted(textops.LANG_LEXICONS.items())
        for w in words
    )
    poly = _poly_sql("f", 1103515245, 0, 1_000_000_007, 5381)
    score_cols = ",\n                ".join(
        f"coalesce(max(CASE WHEN lang = '{lang}' THEN s END), 0.0)"
        f" AS s_{lang}"
        for lang in langs
    )
    total = "s_" + langs[0]
    for lang in langs[1:]:
        total = f"({total} + s_{lang})"
    pred = "CASE WHEN total = 0.0 THEN 'und' " + " ".join(
        f"WHEN s_{lang} = smax THEN '{lang}'" for lang in langs
    ) + " END"
    out_scores = ", ".join(f"s_{lang} AS score_{lang}" for lang in langs)
    return f"""
        WITH wt AS (
          SELECT lang, idx, sum(w) AS w FROM (
            SELECT lang, ({poly}) % 4096 AS idx, 1.0 AS w
            FROM (VALUES {values}) t(lang, f)) GROUP BY lang, idx),
        base AS (
          SELECT doc_id,
            list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                        x -> x <> '') AS ws
          FROM documents),
        feats AS (
          SELECT doc_id, unnest(
            ws || CASE WHEN len(ws) >= 2
              THEN list_transform(range(1, len(ws)),
                     i -> ws[i] || ' ' || ws[i + 1])
              ELSE [] END) AS f
          FROM base),
        idxed AS (
          SELECT doc_id, ({poly}) % 4096 AS idx FROM feats),
        cnt AS (SELECT doc_id, count(*) AS n_feats FROM idxed GROUP BY 1),
        per AS (
          SELECT doc_id, lang, sum(w::DECIMAL(38,18))::DOUBLE AS s
          FROM idxed JOIN wt USING (idx) GROUP BY 1, 2),
        piv AS (
          SELECT doc_id,
                {score_cols}
          FROM per GROUP BY doc_id),
        sc AS (
          SELECT d.doc_id, coalesce(c.n_feats, 0)::BIGINT AS n_feats,
                 {", ".join(f"coalesce(p.s_{lang}, 0.0) AS s_{lang}" for lang in langs)}
          FROM documents d
          LEFT JOIN cnt c USING (doc_id) LEFT JOIN piv p USING (doc_id)),
        fin AS (
          SELECT *, {total} AS total,
                 greatest({", ".join("s_" + lang for lang in langs)}) AS smax
          FROM sc)
        SELECT doc_id, n_feats, {out_scores},
               {pred} AS lang_pred,
               round(CASE WHEN total > 0.0 THEN smax / total
                          ELSE 0.125 END, 6) AS confidence
        FROM fin
    """


def _trained_classifier_oracle_sql(iters: int = 3, lr: float = 0.5) -> str:
    """DuckDB twin of textops.train_hashed_classifier + the
    hashed_linear_score apply: the full ``iters``-round batch
    gradient descent unrolled as CTE chains (w1..wN), every step the
    same rational arithmetic over decimal-exact sums the Spark
    implementation folds, then the standard apply/sigmoid shape of
    the quality_classifier oracle."""
    poly = _poly_sql("f", 1103515245, 0, 1_000_000_007, 5381)
    head = f"""
        WITH base AS (
          SELECT doc_id,
            list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                        x -> x <> '') AS ws
          FROM documents),
        feats AS (
          SELECT doc_id, unnest(
            ws || CASE WHEN len(ws) >= 2
              THEN list_transform(range(1, len(ws)),
                     i -> ws[i] || ' ' || ws[i + 1])
              ELSE [] END) AS f
          FROM base),
        idxed AS (
          SELECT doc_id, ({poly}) % 4096 AS idx FROM feats),
        nc AS (SELECT doc_id, count(*) AS n FROM idxed GROUP BY 1),
        lab AS (
          SELECT doc_id,
                 CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
          FROM documents),
        tb AS (
          SELECT i.doc_id, i.idx, nc.n, lab.y
          FROM idxed i JOIN nc USING (doc_id) JOIN lab USING (doc_id)),
        r1 AS (
          SELECT doc_id, ((0.0 / n) - y) / n AS r
          FROM (SELECT DISTINCT doc_id, n, y FROM tb)),
        g1 AS (
          SELECT idx, sum(r::DECIMAL(38,18))::DOUBLE AS g
          FROM tb JOIN r1 USING (doc_id) GROUP BY idx),
        w1 AS (SELECT idx, -{lr} * g AS w FROM g1)"""
    rounds = []
    for t in range(2, iters + 1):
        rounds.append(f""",
        s{t} AS (
          SELECT doc_id, y, n,
                 sum(coalesce(w, 0.0)::DECIMAL(38,18))::DOUBLE AS wsum
          FROM tb LEFT JOIN w{t - 1} USING (idx)
          GROUP BY 1, 2, 3),
        r{t} AS (SELECT doc_id, ((wsum / n) - y) / n AS r FROM s{t}),
        g{t} AS (
          SELECT idx, sum(r::DECIMAL(38,18))::DOUBLE AS g
          FROM tb JOIN r{t} USING (doc_id) GROUP BY idx),
        w{t} AS (
          SELECT g.idx, coalesce(w.w, 0.0) - {lr} * g.g AS w
          FROM g{t} g LEFT JOIN w{t - 1} w USING (idx))""")
    tail = f""",
        agg AS (
          SELECT doc_id, count(*) AS n_feats,
                 sum(coalesce(w, 0.0)::DECIMAL(38,18))::DOUBLE AS wsum
          FROM idxed LEFT JOIN w{iters} USING (idx) GROUP BY doc_id)
        SELECT b.doc_id,
          coalesce(a.n_feats, 0)::BIGINT AS n_feats,
          coalesce(round(1.0 / (1.0 + exp(-(a.wsum / a.n_feats))), 6), 0.0)
            AS prob,
          coalesce(round(1.0 / (1.0 + exp(-(a.wsum / a.n_feats))), 6) >= 0.5,
                   FALSE) AS label
        FROM base b LEFT JOIN agg a USING (doc_id)
    """
    return head + "".join(rounds) + tail


#: 128 KM-combined minhash values from the h1/h2 lists
_MH_SIGS = ", ".join(
    f"list_min(list_transform(range(1, len(h1)+1), t -> (h1[t] + {i} * h2[t]) % 2147483647))"
    for i in range(128)
)


def _simhash_sig_sql() -> str:
    """60-bit poly simhash from h1/h2 30-bit hash lists (bit j < 30
    from h1, else h2), exactly dedup.simhash_signature('poly')."""
    terms = []
    for j in range(60):
        src, sh = ("h1", j) if j < 30 else ("h2", j - 30)
        votes = (
            f"list_sum(list_transform({src}, h -> ((h // {1 << sh}) % 2) * 2 - 1))"
        )
        terms.append(f"(CASE WHEN {votes} > 0 THEN {1 << j}::BIGINT ELSE 0 END)")
    return " + ".join(terms)


def _lsh_dot_sql(vec: str, p: int) -> str:
    # per-plane affine constants baked as literals — the same
    # lsh_plane_constants(p) the Spark side folds into its plan
    # (similarity.py r16 family fix: distinct multipliers per plane)
    _a, _c = similarity.lsh_plane_constants(p)
    comp = (
        f"(CASE WHEN (({_a} * (i-1) + {_c}) % 2147483648)"
        f" < 1073741824 THEN 1.0 ELSE -1.0 END)"
    )
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, list_transform("
        f"range(1, len({vec})+1), i -> {vec}[i]::DOUBLE * {comp})), (x, y) -> x + y)"
    )


def _lsh_refine_ctes(cap: int = 1000, planes: int = 8) -> str:
    """Shared CTE chain mirroring knn_graph's density-adaptive
    refinement (similarity.py r16): base signature buckets, the
    integer-derived extra-plane count e (smallest 1..8 with
    max_occupancy <= cap*2^e; 0 when nothing is hot), sub-bucket ids
    ``rb`` = bucket<<e | top-e-bits(extra signature) for hot-bucket
    vectors, radius-1 multiprobe refined the same way, and the
    still-over-cap STRATIFIED backstop (id-strata of ceil(n/cap),
    pairing within strata). Exposes CTEs ``ref``
    (vec_id, embedding, rb, st) and ``probes`` (query_id, qv, rb,
    st)."""
    extra8 = _lsh_sig_sql("s.embedding", 8, offset=planes)
    flips = ", ".join(f"xor(bucket, {1 << i})" for i in range(planes))
    return f"""sigged AS (
              SELECT vec_id, embedding,
                     ({_lsh_sig_sql('embedding', planes)}) AS bucket
              FROM embeddings),
            occ AS (
              SELECT bucket, count(*) AS n FROM sigged GROUP BY bucket),
            prm AS (
              -- e = (smallest i with max_occ <= cap*2^i) + 1 margin
              -- plane, capped at 8 (similarity.knn_graph r16)
              SELECT CASE WHEN max(n) <= {cap} THEN 0
                          WHEN max(n) <= {cap * 2} THEN 2
                          WHEN max(n) <= {cap * 4} THEN 3
                          WHEN max(n) <= {cap * 8} THEN 4
                          WHEN max(n) <= {cap * 16} THEN 5
                          WHEN max(n) <= {cap * 32} THEN 6
                          WHEN max(n) <= {cap * 64} THEN 7
                          ELSE 8 END AS e
              FROM occ),
            hot AS (SELECT bucket FROM occ WHERE n > {cap}),
            ref0 AS (
              SELECT s.vec_id, s.embedding,
                (s.bucket * (1::BIGINT << prm.e)) +
                (CASE WHEN s.bucket IN (SELECT bucket FROM hot)
                      THEN ({extra8}) // (1::BIGINT << (8 - prm.e))
                      ELSE 0 END) AS rb
              FROM sigged s, prm),
            probes0 AS (
              SELECT s.query_id, s.qv,
                (s.pb * (1::BIGINT << prm.e)) +
                (CASE WHEN s.pb IN (SELECT bucket FROM hot)
                      THEN ({_lsh_sig_sql("s.qv", 8, offset=planes)}) // (1::BIGINT << (8 - prm.e))
                      ELSE 0 END) AS rb
              FROM (SELECT vec_id AS query_id, embedding AS qv,
                      unnest([bucket, {flips}]) AS pb
                    FROM sigged) s, prm),
            smap AS (
              -- stratified backstop: still-over-cap sub-buckets pair
              -- within ceil(n/cap) id-strata (similarity.py r16)
              SELECT rb, (count(*) + {cap - 1}) // {cap} AS s
              FROM ref0 GROUP BY rb HAVING count(*) > {cap}),
            ref AS (
              SELECT r.vec_id, r.embedding, r.rb,
                     r.vec_id % coalesce(m.s, 1) AS st
              FROM ref0 r LEFT JOIN smap m USING (rb)),
            probes AS (
              SELECT p.query_id, p.qv, p.rb,
                     p.query_id % coalesce(m.s, 1) AS st
              FROM probes0 p LEFT JOIN smap m USING (rb))"""


def _lsh_sig_sql(vec: str, planes: int = 8, offset: int = 0) -> str:
    # MSB-first: plane offset+p contributes 2^(planes-1-p), matching
    # the out*2+bit fold in similarity.hyperplane_signature (with its
    # plane_offset for the knn_graph refinement signature)
    return " + ".join(
        f"(CASE WHEN {_lsh_dot_sql(vec, offset + p)} > 0 THEN {1 << (planes - 1 - p)} ELSE 0 END)"
        for p in range(planes)
    )


_EN_STOP_SQL = ", ".join(f"'{w}'" for w in textops.EN_STOPWORDS)
_LANG_SQL = {
    lang: ", ".join(f"'{w}'" for w in ws) for lang, ws in textops.LANG_MARKERS.items()
}




def _dsir_ctes() -> str:
    """Shared CTE chain of the DSIR oracles (``dsir_weights``,
    ``dsir_select``): hashed unigram+bigram features over 4096
    buckets, add-1-smoothed target(lang='en')/raw log ratios, and the
    decimal-exact per-doc log weight; ``lwf`` is the final
    (doc_id, n_feats, log_weight) table."""
    return f"""base AS (
              SELECT doc_id, lang,
                list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            x -> x <> '') AS ws
              FROM documents),
            feats AS (
              SELECT doc_id, lang, unnest(
                ws || CASE WHEN len(ws) >= 2
                  THEN list_transform(range(1, len(ws)),
                         i -> ws[i] || ' ' || ws[i + 1])
                  ELSE [] END) AS f
              FROM base),
            idxed AS (
              SELECT doc_id, lang,
                ({_poly_sql('f', 1103515245, 0, 1_000_000_007, 5381)}) % 4096 AS idx
              FROM feats),
            rawc AS (SELECT idx, count(*) AS cr FROM idxed GROUP BY idx),
            tgtc AS (SELECT idx, count(*) AS ct FROM idxed
                     WHERE lang = 'en' GROUP BY idx),
            rawt AS (SELECT count(*) AS tr FROM idxed),
            tgtt AS (SELECT count(*) AS tt FROM idxed WHERE lang = 'en'),
            ratio AS (
              SELECT i::BIGINT AS idx,
                ln((coalesce(ct, 0) + 1.0) / (tt + 4096.0))
                - ln((coalesce(cr, 0) + 1.0) / (tr + 4096.0)) AS lr
              FROM range(4096) t(i)
              LEFT JOIN rawc ON rawc.idx = i
              LEFT JOIN tgtc ON tgtc.idx = i, rawt, tgtt),
            agg AS (
              SELECT doc_id, count(*) AS n_feats,
                sum(lr::DECIMAL(38,18))::DOUBLE AS lw
              FROM idxed JOIN ratio USING (idx) GROUP BY doc_id),
            lwf AS (
              SELECT b.doc_id,
                coalesce(a.n_feats, 0)::BIGINT AS n_feats,
                coalesce(round(a.lw, 6), 0.0) AS log_weight
              FROM base b LEFT JOIN agg a USING (doc_id))"""


def _kcenter_ctes(k: int) -> str:
    """Unrolled greedy k-center selection: s0 = lowest-id vector;
    each round's candidate distance is least() over squared-L2 to all
    previously selected (the same sequential-fold arithmetic as the
    Spark side), argmax by (dist DESC, id ASC)."""
    ctes = "e AS (SELECT vec_id, embedding FROM embeddings),\n"
    ctes += "            s0 AS (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1)"
    for r in range(1, k):
        prev = ", ".join(f"s{j}" for j in range(r))
        excl = " AND ".join(f"e.vec_id <> s{j}.vec_id" for j in range(r))
        dists = ", ".join(
            _L2.format(a="e.embedding", b=f"s{j}.embedding") for j in range(r)
        )
        ctes += f""",
            s{r} AS (
              SELECT e.vec_id, e.embedding, least({dists}) AS dd
              FROM e, {prev}
              WHERE {excl}
              ORDER BY dd DESC, e.vec_id ASC LIMIT 1)"""
    return ctes


def _bpe_ctes(n: int) -> str:
    """Unrolled DuckDB CTE chain replaying bpe_train's n rounds:
    v0 = corpus-weighted word vocabulary as \x1f-delimited symbol
    strings; each round counts adjacent pairs, takes the (count DESC,
    pair ASC) argmax, and applies the merge with the SAME
    string-accumulator fold as the Spark side (list_reduce — true
    left-to-right greedy, back-to-back occurrences both merge; the
    LEFT JOIN ON TRUE keeps the chain intact when a round finds no
    pair left to merge)."""
    sep = "chr(31)"
    lw = "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')"
    ctes = f"""v0 AS (
              SELECT w,
                {sep} || array_to_string(list_transform(
                  range(1, length(w) + 1), i -> substr(w, i, 1)), {sep})
                || {sep} AS s,
                cnt
              FROM (SELECT w, count(*) AS cnt
                    FROM (SELECT unnest({lw}) AS w FROM documents)
                    GROUP BY w))"""
    for r in range(n):
        ctes += f""",
            p{r} AS (
              SELECT u.a AS a, u.b AS b, sum(cnt) AS c FROM (
                SELECT cnt, unnest(list_transform(range(1, len(syms)),
                  i -> struct_pack(a := syms[i], b := syms[i + 1]))) AS u
                FROM (SELECT list_filter(string_split(s, {sep}),
                             x -> x <> '') AS syms, cnt FROM v{r})
                WHERE len(syms) >= 2)
              GROUP BY u.a, u.b),
            best{r} AS (SELECT a, b, c FROM p{r}
                        ORDER BY c DESC, a ASC, b ASC LIMIT 1),
            v{r + 1} AS (
              SELECT w,
                CASE WHEN bj.a IS NULL THEN s ELSE
                  list_reduce(
                    [''] || list_filter(string_split(s, {sep}), x -> x <> ''),
                    (acc, x) -> CASE WHEN acc <> ''
                                      AND ends_with(acc, {sep} || bj.a)
                                      AND x = bj.b
                                     THEN acc || x
                                     ELSE acc || {sep} || x END) || {sep}
                END AS s, cnt
              FROM v{r} LEFT JOIN best{r} bj ON TRUE)"""
    return ctes


def oracle_sql() -> dict[str, str]:
    wl = _WORDS.replace("text", "lower(text)")  # lowercased token list
    d = {
        "search_term": """
            SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
            FROM events WHERE event_type = 'error' AND user_id >= 90
        """,
        "search_range": """
            SELECT event_id, user_id, value FROM events
            WHERE value >= 100 AND value < 200 AND event_type = 'purchase'
        """,
        # search_facets: top-5 terms by hit count over the query's hit
        # set, count desc / value asc ties, decimal-exact value sums
        "search_facets": """
            SELECT event_type, count(*)::BIGINT AS n_hits,
                   round(sum(value::DECIMAL(38,6))::DOUBLE, 6) AS total_value
            FROM events WHERE user_id >= 50
            GROUP BY event_type
            ORDER BY n_hits DESC, event_type ASC LIMIT 5
        """,
        # search_date_histogram: 6-hour epoch-aligned buckets (start
        # in epoch seconds) over the purchase hit set
        "search_date_histogram": """
            SELECT ((epoch_us(ts) // 21600000000) * 21600)::BIGINT AS bucket_epoch,
                   count(*)::BIGINT AS n_hits,
                   round(sum(value::DECIMAL(38,6))::DOUBLE, 6) AS total_value
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1
        """,
        "langid_classifier": _langid_oracle_sql(),
        "train_quality_classifier": _trained_classifier_oracle_sql(),
        # search_after: keyset page 2 — cursor strictly-after filter,
        # value DESC with event_id ASC tiebreak
        "search_after": """
            SELECT event_id, user_id, value
            FROM events
            WHERE event_type = 'purchase'
              AND (value < 500.0 OR (value = 500.0 AND event_id > 100))
            ORDER BY value DESC, event_id ASC
            LIMIT 10
        """,
        # bucket_selector / bucket_sort: pipeline stages over the
        # same 6h purchase histogram — HAVING over the rounded value
        # sum (identical double on both engines), and ORDER BY with
        # LIMIT/OFFSET paging
        "search_bucket_selector": """
            SELECT ((epoch_us(ts) // 21600000000) * 21600)::BIGINT AS bucket_epoch,
                   count(*)::BIGINT AS n_hits,
                   round(sum(value::DECIMAL(38,6))::DOUBLE, 6) AS total_value
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1
            HAVING count(*) >= 15
               AND round(sum(value::DECIMAL(38,6))::DOUBLE, 6) > 800.0
        """,
        "search_bucket_script": """
            SELECT * FROM (
              SELECT ((epoch_us(ts) // 21600000000) * 21600)::BIGINT AS bucket_epoch,
                     count(*)::BIGINT AS n_hits,
                     round(sum(value::DECIMAL(38,6))::DOUBLE, 6) AS total_value,
                     round(round(sum(value::DECIMAL(38,6))::DOUBLE, 6)
                           / count(*), 6) AS avg_value
              FROM events WHERE event_type = 'purchase'
              GROUP BY 1)
            WHERE avg_value > 50.0
        """,
        "search_bucket_sort": """
            SELECT ((epoch_us(ts) // 21600000000) * 21600)::BIGINT AS bucket_epoch,
                   count(*)::BIGINT AS n_hits,
                   round(sum(value::DECIMAL(38,6))::DOUBLE, 6) AS total_value
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1
            ORDER BY total_value DESC, bucket_epoch ASC
            LIMIT 10 OFFSET 3
        """,
        # search_stats: one-row count/min/max/sum/avg of value over
        # the purchase hit set, decimal-exact sum, avg derived from it
        "search_stats": """
            SELECT count(*)::BIGINT AS n_hits,
                   count(value)::BIGINT AS n_values,
                   min(value)::DOUBLE AS min_v,
                   max(value)::DOUBLE AS max_v,
                   round(sum(value::DECIMAL(38,6))::DOUBLE, 6) AS sum_v,
                   round((sum(value::DECIMAL(38,6)) / count(value))::DOUBLE, 6)
                       AS avg_v
            FROM events WHERE event_type = 'purchase'
        """,
        # search_percentiles: SQL-standard percentile_disc = the
        # element at rank ceil(p*n) of the sorted multiset (smallest
        # value whose cume_dist >= p) — mirrored via ORDER BY/OFFSET
        "search_percentiles": """
            WITH hits AS (
                SELECT value FROM events
                WHERE event_type = 'error' AND value IS NOT NULL
            ), ranked AS (
                SELECT value, row_number() OVER (ORDER BY value) AS r,
                       count(*) OVER () AS n
                FROM hits
            )
            SELECT n::BIGINT AS n_values,
                   max(CASE WHEN r = CAST(ceil(0.25 * n) AS BIGINT)
                       THEN value END)::DOUBLE AS p25,
                   max(CASE WHEN r = CAST(ceil(0.50 * n) AS BIGINT)
                       THEN value END)::DOUBLE AS p50,
                   max(CASE WHEN r = CAST(ceil(0.75 * n) AS BIGINT)
                       THEN value END)::DOUBLE AS p75,
                   max(CASE WHEN r = CAST(ceil(0.90 * n) AS BIGINT)
                       THEN value END)::DOUBLE AS p90,
                   max(CASE WHEN r = CAST(ceil(0.99 * n) AS BIGINT)
                       THEN value END)::DOUBLE AS p99
            FROM ranked GROUP BY n
        """,
        # search_panel: the composed one-scan panel — GROUPING SETS
        # ((facet),(bucket),()) with section tags, decimal-exact sums,
        # stats-row percentile_disc p50/p95, histogram null-bucket
        # dropped, keys coalesced to sentinels ('' / -inf)
        "search_panel": """
            WITH hits AS (
                SELECT * FROM events WHERE event_type = 'error'
            ), sel AS (
                SELECT event_type AS facet,
                       floor(value / 50.0) * 50.0 AS bucket_lo,
                       value AS v
                FROM hits
            )
            SELECT CASE WHEN GROUPING(facet) = 0 THEN 'facet'
                        WHEN GROUPING(bucket_lo) = 0 THEN 'histogram'
                        ELSE 'stats' END AS section,
                   COALESCE(facet, '') AS facet,
                   COALESCE(bucket_lo, '-infinity'::DOUBLE) AS bucket_lo,
                   count(*)::BIGINT AS n_hits,
                   count(v)::BIGINT AS n_values,
                   min(v)::DOUBLE AS min_v,
                   max(v)::DOUBLE AS max_v,
                   round(sum(v::DECIMAL(38,6))::DOUBLE, 6) AS sum_v,
                   round((sum(v::DECIMAL(38,6)) / count(v))::DOUBLE, 6)
                       AS avg_v,
                   CASE WHEN GROUPING(facet) = 1 AND GROUPING(bucket_lo) = 1
                        THEN quantile_disc(v, 0.5)::DOUBLE END AS p50,
                   CASE WHEN GROUPING(facet) = 1 AND GROUPING(bucket_lo) = 1
                        THEN quantile_disc(v, 0.95)::DOUBLE END AS p95
            FROM sel
            GROUP BY GROUPING SETS ((facet), (bucket_lo), ())
            HAVING NOT (GROUPING(bucket_lo) = 0 AND bucket_lo IS NULL)
        """,
        # search_histogram_manifest: the manifest bins must equal the
        # exact match-all histogram over the data
        "search_histogram_manifest": """
            SELECT floor(value / 50.0) * 50.0 AS bucket_lo,
                   count(*)::BIGINT AS n_hits
            FROM events WHERE value IS NOT NULL
            GROUP BY 1
        """,
        # search_auto_histogram: ladder-chosen interval (identical
        # integer CASE) + the standard epoch-aligned histogram
        "search_auto_histogram": f"""
            WITH hits AS (
              SELECT ts, value FROM events WHERE event_type = 'purchase'
            ), mm AS (
              SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
              FROM hits
            ), iv AS (
              SELECT {_auto_ladder_case(20)} AS i FROM mm
            )
            SELECT ((epoch_us(ts) // (i::BIGINT * 1000000)) * i)::BIGINT
                       AS bucket_epoch,
                   i::BIGINT AS interval_s,
                   count(*)::BIGINT AS n_hits,
                   round(sum(value::DECIMAL(38,6))::DOUBLE, 6)
                       AS total_value
            FROM hits, iv GROUP BY 1, 2
        """,
        # search_facets_by_value: terms ranked by the metric
        "search_facets_by_value": """
            SELECT event_type, count(*)::BIGINT AS n_hits,
                   round(sum(value::DECIMAL(38,6))::DOUBLE, 6) AS total_value
            FROM events WHERE user_id >= 50
            GROUP BY event_type
            ORDER BY total_value DESC, event_type ASC LIMIT 3
        """,
        # search_phrase_prefix: boundary chain WITHOUT the trailing
        # boundary on the prefix word
        "search_phrase_prefix": """
            SELECT doc_id, lang FROM documents
            WHERE regexp_matches(lower(text),
                                 '(^|[^a-z0-9])key[^a-z0-9]+ord')
              AND lang = 'en'
        """,
        # search_sampler: the poly-hash 25% bucket sample, then the
        # usual facet panel
        "search_sampler": f"""
            WITH hits AS (
              SELECT event_type, value FROM events
              WHERE value >= 50
                AND ({_poly_sql('user_id::VARCHAR', 1103515245, 0, 1_000_000_007, 5381)})
                    % 10000 < 2500
            )
            SELECT event_type, count(*)::BIGINT AS n_hits,
                   round(sum(value::DECIMAL(38,6))::DOUBLE, 6) AS total_value
            FROM hits GROUP BY event_type
            ORDER BY n_hits DESC, event_type ASC LIMIT 5
        """,
        # search_percentile_ranks: 100 * count(x <= v) / n per probe
        "search_percentile_ranks": """
            WITH one AS (
              SELECT count(value)::BIGINT AS n,
                sum(CASE WHEN value <= 50.0 THEN 1 ELSE 0 END)::BIGINT AS le0,
                sum(CASE WHEN value <= 120.0 THEN 1 ELSE 0 END)::BIGINT AS le1,
                sum(CASE WHEN value <= 250.0 THEN 1 ELSE 0 END)::BIGINT AS le2
              FROM events WHERE event_type = 'error')
            SELECT 50.0::DOUBLE AS value,
                   CASE WHEN n > 0
                        THEN round(100.0 * le0::DOUBLE / n::DOUBLE, 6)
                   END AS pct_rank FROM one
            UNION ALL SELECT 120.0::DOUBLE,
                   CASE WHEN n > 0
                        THEN round(100.0 * le1::DOUBLE / n::DOUBLE, 6)
                   END FROM one
            UNION ALL SELECT 250.0::DOUBLE,
                   CASE WHEN n > 0
                        THEN round(100.0 * le2::DOUBLE / n::DOUBLE, 6)
                   END FROM one
        """,
        # search_weighted_avg: sum(v*w)/sum(w) with decimal(18,6)
        # factors (the product stays inside 38 digits on both engines)
        "search_weighted_avg": """
            SELECT count(CASE WHEN value IS NOT NULL
                              AND user_id IS NOT NULL THEN 1 END)::BIGINT
                       AS n_values,
                   round(sum(CASE WHEN value IS NOT NULL AND user_id IS NOT NULL
                             THEN user_id::DECIMAL(18,6) END)::DOUBLE, 6)
                       AS total_weight,
                   CASE WHEN sum(CASE WHEN value IS NOT NULL AND user_id IS NOT NULL
                                 THEN user_id::DECIMAL(18,6) END) <> 0
                        THEN round(
                          sum(value::DECIMAL(18,6)
                              * user_id::DECIMAL(18,6))::DOUBLE
                          / sum(CASE WHEN value IS NOT NULL AND user_id IS NOT NULL
                                THEN user_id::DECIMAL(18,6) END)::DOUBLE, 6)
                   END AS weighted_avg
            FROM events WHERE event_type = 'purchase'
        """,
        # search_mad: median(|x - median|), both percentile_disc
        "search_mad": """
            WITH hits AS (
              SELECT value FROM events WHERE event_type = 'error'
            ), med AS (
              SELECT quantile_disc(value, 0.5)::DOUBLE AS median_v
              FROM hits
            ), dev AS (
              SELECT median_v, abs(value::DOUBLE - median_v) AS d
              FROM hits, med
            )
            SELECT median_v, count(d)::BIGINT AS n_values,
                   quantile_disc(d, 0.5)::DOUBLE AS mad
            FROM dev GROUP BY median_v
        """,
        # search_adjacency: N buckets + pairwise intersections from
        # one conditional-agg pass; keys sorted, pairs 'a&b'
        "search_adjacency": """
            WITH one AS (
              SELECT
                sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS errors,
                sum(CASE WHEN user_id >= 100 THEN 1 ELSE 0 END)::BIGINT AS power,
                sum(CASE WHEN value >= 200 THEN 1 ELSE 0 END)::BIGINT AS big,
                sum(CASE WHEN value >= 200 AND event_type = 'error'
                         THEN 1 ELSE 0 END)::BIGINT AS big_errors,
                sum(CASE WHEN value >= 200 AND user_id >= 100
                         THEN 1 ELSE 0 END)::BIGINT AS big_power,
                sum(CASE WHEN event_type = 'error' AND user_id >= 100
                         THEN 1 ELSE 0 END)::BIGINT AS errors_power
              FROM events)
            SELECT 'big' AS bucket, big AS n_hits FROM one
            UNION ALL SELECT 'errors', errors FROM one
            UNION ALL SELECT 'power', power FROM one
            UNION ALL SELECT 'big&errors', big_errors FROM one
            UNION ALL SELECT 'big&power', big_power FROM one
            UNION ALL SELECT 'errors&power', errors_power FROM one
        """,
        # search_prefix: token-startswith == word-boundary regex on
        # the lowercased text
        "search_prefix": """
            SELECT doc_id, lang FROM documents
            WHERE regexp_matches(lower(text), '(^|[^a-z0-9])spar')
              AND lang = 'en'
        """,
        # search_fuzzy: raw-tokenizer fuzzy = plain levenshtein on the
        # field value (both engines: classic ins/del/sub DP)
        "search_fuzzy": """
            SELECT event_id, user_id, event_type FROM events
            WHERE levenshtein(event_type, 'clck') <= 1
              AND user_id >= 120
        """,
        # c4_line_filters: per-line C4 cleaning rules mirrored with
        # list lambdas; kept = lines with >= 3 whitespace words AND
        # terminal punctuation
        "c4_line_filters": """
            WITH staged AS (
              SELECT doc_id, coalesce(text, '') AS t,
                list_filter(string_split(coalesce(text, ''), chr(10)),
                            l -> len(trim(l)) > 0) AS lines
              FROM documents
            ), k AS (
              SELECT doc_id, t, lines,
                list_filter(lines,
                  l -> len(list_filter(
                           string_split_regex(trim(l), '\\s+'),
                           w -> w <> '')) >= 3
                       AND regexp_matches(trim(l), '[.!?"]$')) AS kept
              FROM staged
            )
            SELECT doc_id,
                   len(lines)::INT AS n_lines,
                   len(kept)::INT AS n_kept,
                   round(len(kept) / greatest(len(lines), 1), 6)
                       AS line_keep_frac,
                   len(regexp_extract_all(t, '[.!?]'))::BIGINT
                       AS n_sentences,
                   contains(lower(t), 'lorem ipsum') AS has_lorem,
                   contains(t, '{') AS has_brace,
                   (len(regexp_extract_all(t, '[.!?]')) >= 3
                    AND NOT contains(lower(t), 'lorem ipsum')
                    AND NOT contains(t, '{')
                    AND len(kept) >= 1) AS passes
            FROM k
        """,
        # knn_pq: product quantization + ADC — codebook = subvectors
        # of the 16 lowest-id vectors; encode = per-(vec, subspace)
        # argmin with (dist, codeword) tie order; ADC = exact query-
        # subvector-to-selected-codeword distances summed in fixed
        # left-to-right association; rank by (round-6 dist, id)
        "knn_pq": f"""
            WITH cb AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cj,
                     embedding AS cbe
              FROM (SELECT vec_id, embedding FROM embeddings
                    ORDER BY vec_id LIMIT 16)
            ), ms AS (SELECT * FROM range(4) t(m)),
            q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            corpus AS (
              SELECT vec_id, embedding AS ce FROM embeddings
              WHERE vec_id <> 0
            ), pairs AS (
              SELECT c.vec_id, ms.m, cb.cj,
                {_L2.format(a="list_slice(c.ce, ms.m*16+1, ms.m*16+16)",
                            b="list_slice(cb.cbe, ms.m*16+1, ms.m*16+16)")}
                    AS d
              FROM corpus c CROSS JOIN ms CROSS JOIN cb
            ), enc AS (
              SELECT vec_id, m, cj FROM (
                SELECT vec_id, m, cj,
                  row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY d ASC, cj ASC) AS rn
                FROM pairs) WHERE rn = 1
            ), lut AS (
              SELECT ms.m, cb.cj,
                {_L2.format(a="list_slice(q.qe, ms.m*16+1, ms.m*16+16)",
                            b="list_slice(cb.cbe, ms.m*16+1, ms.m*16+16)")}
                    AS qd
              FROM ms CROSS JOIN cb CROSS JOIN q
            ), scored AS (
              SELECT e.vec_id,
                max(CASE WHEN e.m = 0 THEN e.cj END)::INT AS code_0,
                max(CASE WHEN e.m = 1 THEN e.cj END)::INT AS code_1,
                max(CASE WHEN e.m = 2 THEN e.cj END)::INT AS code_2,
                max(CASE WHEN e.m = 3 THEN e.cj END)::INT AS code_3,
                max(CASE WHEN e.m = 0 THEN l.qd END) AS d0,
                max(CASE WHEN e.m = 1 THEN l.qd END) AS d1,
                max(CASE WHEN e.m = 2 THEN l.qd END) AS d2,
                max(CASE WHEN e.m = 3 THEN l.qd END) AS d3
              FROM enc e JOIN lut l ON e.m = l.m AND e.cj = l.cj
              GROUP BY e.vec_id
            )
            SELECT vec_id, code_0, code_1, code_2, code_3,
                   round((((d0 + d1) + d2) + d3), 6) AS adc_dist,
                   row_number() OVER (
                     ORDER BY round((((d0 + d1) + d2) + d3), 6) ASC,
                              vec_id ASC) AS rank
            FROM scored
            ORDER BY adc_dist ASC, vec_id ASC LIMIT 10
        """,
        # knn_ivf_pq: the knn_ivf oracle's coarse half (seeded
        # centroids, nearest-cid assignment, 2 probes for query 0)
        # composed with the knn_pq oracle's encode/LUT/rank half,
        # scoring only probed-bucket vectors
        "knn_ivf_pq": f"""
            WITH cent AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                     embedding AS cv
              FROM embeddings ORDER BY vec_id LIMIT 8
            ),
            cb AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cj,
                     embedding AS cbe
              FROM (SELECT vec_id, embedding FROM embeddings
                    ORDER BY vec_id LIMIT 16)
            ), ms AS (SELECT * FROM range(4) t(m)),
            q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            corpus AS (
              SELECT vec_id, embedding AS ce FROM embeddings
              WHERE vec_id <> 0
            ),
            assigned AS (
              SELECT c.vec_id,
                (SELECT ct.cid FROM cent ct
                 ORDER BY {_L2.format(a="c.ce", b="ct.cv")} ASC, ct.cid ASC
                 LIMIT 1) AS cid
              FROM corpus c
            ),
            probes AS (
              SELECT cid FROM (
                SELECT ct.cid,
                  row_number() OVER (
                    ORDER BY {_L2.format(a="q.qe", b="ct.cv")} ASC,
                             ct.cid ASC) AS pr
                FROM cent ct, q) WHERE pr <= 2
            ),
            pairs AS (
              SELECT c.vec_id, ms.m, cb.cj,
                {_L2.format(a="list_slice(c.ce, ms.m*16+1, ms.m*16+16)",
                            b="list_slice(cb.cbe, ms.m*16+1, ms.m*16+16)")}
                    AS d
              FROM corpus c CROSS JOIN ms CROSS JOIN cb
            ), enc AS (
              SELECT vec_id, m, cj FROM (
                SELECT vec_id, m, cj,
                  row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY d ASC, cj ASC) AS rn
                FROM pairs) WHERE rn = 1
            ), lut AS (
              SELECT ms.m, cb.cj,
                {_L2.format(a="list_slice(q.qe, ms.m*16+1, ms.m*16+16)",
                            b="list_slice(cb.cbe, ms.m*16+1, ms.m*16+16)")}
                    AS qd
              FROM ms CROSS JOIN cb CROSS JOIN q
            ), scored AS (
              SELECT e.vec_id,
                max(CASE WHEN e.m = 0 THEN e.cj END)::INT AS code_0,
                max(CASE WHEN e.m = 1 THEN e.cj END)::INT AS code_1,
                max(CASE WHEN e.m = 2 THEN e.cj END)::INT AS code_2,
                max(CASE WHEN e.m = 3 THEN e.cj END)::INT AS code_3,
                max(CASE WHEN e.m = 0 THEN l.qd END) AS d0,
                max(CASE WHEN e.m = 1 THEN l.qd END) AS d1,
                max(CASE WHEN e.m = 2 THEN l.qd END) AS d2,
                max(CASE WHEN e.m = 3 THEN l.qd END) AS d3
              FROM enc e JOIN lut l ON e.m = l.m AND e.cj = l.cj
              JOIN assigned a ON a.vec_id = e.vec_id
              WHERE a.cid IN (SELECT cid FROM probes)
              GROUP BY e.vec_id
            )
            SELECT s.vec_id, a.cid, code_0, code_1, code_2, code_3,
                   round((((d0 + d1) + d2) + d3), 6) AS adc_dist,
                   row_number() OVER (
                     ORDER BY round((((d0 + d1) + d2) + d3), 6) ASC,
                              s.vec_id ASC) AS rank
            FROM scored s JOIN assigned a ON a.vec_id = s.vec_id
            ORDER BY adc_dist ASC, s.vec_id ASC LIMIT 10
        """,
        # search_composite: resumable terms pagination — the next 10
        # (event_type, user_id) buckets strictly after ('click', 50)
        # in ascending key order
        "search_composite": """
            SELECT event_type, user_id, count(*)::BIGINT AS n_hits
            FROM events
            WHERE value >= 50
              AND (event_type > 'click'
                   OR (event_type = 'click' AND user_id > 50))
            GROUP BY event_type, user_id
            ORDER BY event_type ASC, user_id ASC LIMIT 10
        """,
        # search_rare_terms: the <=2-count tail of the grouped frame
        "search_rare_terms": """
            SELECT user_id, count(*)::BIGINT AS n_hits
            FROM events
            WHERE event_type = 'purchase' AND value >= 150
            GROUP BY user_id HAVING count(*) <= 2
        """,
        # search_filters: N named buckets from ONE conditional-agg
        # pass, long form via stack/unpivot; names sorted
        "search_filters": """
            WITH one AS (
              SELECT
                sum(CASE WHEN user_id <= 20 AND value >= 100
                         THEN 1 ELSE 0 END)::BIGINT AS early_power_users,
                sum(CASE WHEN value >= 200 THEN 1 ELSE 0 END)::BIGINT
                    AS big_values,
                sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
                    AS errors
              FROM events)
            SELECT 'big_values' AS bucket, big_values AS n_hits FROM one
            UNION ALL
            SELECT 'early_power_users', early_power_users FROM one
            UNION ALL
            SELECT 'errors', errors FROM one
        """,
        # search_multi_terms: composite-key terms, top-10 by count
        # with the key tuple as tiebreak
        "search_multi_terms": """
            SELECT event_type, user_id, count(*)::BIGINT AS n_hits
            FROM events WHERE value >= 100
            GROUP BY event_type, user_id
            ORDER BY n_hits DESC, event_type ASC, user_id ASC LIMIT 10
        """,
        # search_pipeline_aggs: daily purchase histogram + derivative
        # / cumulative / trailing-3 moving average; window arithmetic
        # mirrored exactly (decimal-exact sums, double division)
        "search_moving_fn": """
            WITH hist AS (
              SELECT ((epoch_us(ts) // 86400000000) * 86400)::BIGINT
                         AS bucket_epoch,
                     count(*)::BIGINT AS n_hits,
                     round(sum(value::DECIMAL(38,6))::DOUBLE, 6)
                         AS total_value
              FROM events WHERE event_type = 'view'
              GROUP BY 1),
            win AS (
              SELECT bucket_epoch, n_hits, total_value,
                (sum(total_value::DECIMAL(38,6)) OVER w)::DOUBLE AS s1,
                (sum(total_value::DECIMAL(19,6)
                     * total_value::DECIMAL(18,6)) OVER w)::DOUBLE AS s2,
                count(total_value) OVER w AS n,
                min(total_value) OVER w AS mnv,
                max(total_value) OVER w AS mxv,
                list(total_value) OVER w AS vals
              FROM hist
              WINDOW w AS (ORDER BY bucket_epoch
                           ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING))
            SELECT bucket_epoch, n_hits, total_value,
              round(CASE WHEN n > 0 THEN s1 END, 6) AS mov_sum,
              round(mnv, 6) AS mov_min,
              round(mxv, 6) AS mov_max,
              round(CASE WHEN n > 0 THEN s1 / n END, 6) AS mov_avg,
              round(CASE WHEN n > 0 THEN
                sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0))
              END, 6) AS mov_stddev,
              round(CASE WHEN n > 0 THEN
                list_reduce(list_prepend(0.0::DOUBLE,
                  list_transform(range(1, len(vals) + 1),
                                 i -> vals[i] * i)),
                  (a, b) -> a + b)
                / (n::DOUBLE * (n::DOUBLE + 1) / 2)
              END, 6) AS mov_lwa
            FROM win
        """,
        "search_normalize": """
            WITH hist AS (
              SELECT ((epoch_us(ts) // 86400000000) * 86400)::BIGINT
                         AS bucket_epoch,
                     count(*)::BIGINT AS n_hits,
                     round(sum(value::DECIMAL(38,6))::DOUBLE, 6)
                         AS total_value
              FROM events WHERE event_type = 'click'
              GROUP BY 1),
            g AS (
              SELECT bucket_epoch, n_hits, total_value,
                (sum(total_value::DECIMAL(38,6)) OVER ())::DOUBLE AS s1,
                (sum(total_value::DECIMAL(19,6)
                     * total_value::DECIMAL(18,6)) OVER ())::DOUBLE AS s2,
                count(total_value) OVER () AS n,
                min(total_value) OVER () AS mnv,
                max(total_value) OVER () AS mxv
              FROM hist)
            SELECT bucket_epoch, n_hits, total_value,
              round(CASE WHEN s1 <> 0
                THEN 100.0 * total_value / s1 END, 6) AS percent_of_sum,
              round(CASE WHEN mxv <> mnv
                THEN (total_value - mnv) / (mxv - mnv) END, 6)
                AS rescale_0_1,
              round(CASE WHEN mxv <> mnv
                THEN 100.0 * (total_value - mnv) / (mxv - mnv) END, 6)
                AS rescale_0_100,
              round(CASE WHEN mxv <> mnv
                THEN (total_value - s1 / n) / (mxv - mnv) END, 6)
                AS norm_mean,
              round(CASE WHEN
                  sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) <> 0
                THEN (total_value - s1 / n)
                  / sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0))
              END, 6) AS zscore
            FROM g
        """,
        "search_pipeline_aggs": """
            WITH hist AS (
              SELECT ((epoch_us(ts) // 86400000000) * 86400)::BIGINT
                         AS bucket_epoch,
                     count(*)::BIGINT AS n_hits,
                     round(sum(value::DECIMAL(38,6))::DOUBLE, 6)
                         AS total_value
              FROM events WHERE event_type = 'purchase'
              GROUP BY 1)
            SELECT bucket_epoch, n_hits, total_value,
                   round(total_value
                         - lag(total_value) OVER (ORDER BY bucket_epoch),
                         6) AS derivative,
                   round((sum(total_value::DECIMAL(38,6)) OVER (
                            ORDER BY bucket_epoch
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                          ))::DOUBLE, 6) AS cumulative,
                   round((sum(total_value::DECIMAL(38,6)) OVER (
                            ORDER BY bucket_epoch
                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
                          ))::DOUBLE
                         / (count(total_value) OVER (
                            ORDER BY bucket_epoch
                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
                           ))::DOUBLE, 6) AS moving_avg
            FROM hist
        """,
        # highlight: <em>-wrap positive query words, 80-char fragment
        # around the first marker (strpos/locate are both 1-based,
        # 0-when-absent — identical arithmetic)
        "search_highlight": """
            WITH hl AS (
              SELECT doc_id,
                     regexp_replace(text, '\\b(spark)\\b',
                                    '<em>\\1</em>', 'ig') AS snip
              FROM documents
              WHERE lang = 'es'
                AND regexp_matches(lower(text),
                      '(^|[^a-z0-9])spark([^a-z0-9]|$)'))
            SELECT doc_id,
                   substring(snip,
                             greatest(1, strpos(snip, '<em>') - 20),
                             80) AS snippet
            FROM hl
        """,
        "search_histogram_filled": """
            WITH hist AS (
              SELECT ((epoch_us(ts) // 21600000000) * 21600)::BIGINT
                         AS bucket_epoch,
                     count(*)::BIGINT AS n_hits,
                     round(sum(value::DECIMAL(38,6))::DOUBLE, 6)
                         AS total_value
              FROM events WHERE value > 190 AND event_type = 'purchase'
              GROUP BY 1),
            spine AS (
              SELECT unnest(generate_series(
                       (SELECT min(bucket_epoch) FROM hist),
                       (SELECT max(bucket_epoch) FROM hist),
                       21600))::BIGINT AS bucket_epoch)
            SELECT s.bucket_epoch,
                   coalesce(h.n_hits, 0)::BIGINT AS n_hits,
                   coalesce(h.total_value, 0.0) AS total_value
            FROM spine s LEFT JOIN hist h USING (bucket_epoch)
        """,
        "search_serial_diff": """
            WITH hist AS (
              SELECT ((epoch_us(ts) // 86400000000) * 86400)::BIGINT
                         AS bucket_epoch,
                     round(sum(value::DECIMAL(38,6))::DOUBLE, 6)
                         AS total_value
              FROM events WHERE event_type = 'purchase'
              GROUP BY 1)
            SELECT bucket_epoch, total_value,
                   round(total_value
                         - lag(total_value, 4) OVER (ORDER BY bucket_epoch),
                         6) AS serial_diff
            FROM hist
        """,
        # search_percentiles_approx: SHARED ORACLE with the exact
        # panel — at hit count < accuracy the GK summary never
        # compresses and percentile_approx returns exactly the
        # percentile_disc element, so the scale path must match the
        # exact SQL bit-for-bit (the lm_quality_buckets_scaled
        # equivalence pattern)
        "search_percentiles_approx": """
            WITH hits AS (
                SELECT value FROM events
                WHERE event_type = 'error' AND value IS NOT NULL
            ), ranked AS (
                SELECT value, row_number() OVER (ORDER BY value) AS r,
                       count(*) OVER () AS n
                FROM hits
            )
            SELECT n::BIGINT AS n_values,
                   max(CASE WHEN r = CAST(ceil(0.25 * n) AS BIGINT)
                       THEN value END)::DOUBLE AS p25,
                   max(CASE WHEN r = CAST(ceil(0.50 * n) AS BIGINT)
                       THEN value END)::DOUBLE AS p50,
                   max(CASE WHEN r = CAST(ceil(0.75 * n) AS BIGINT)
                       THEN value END)::DOUBLE AS p75,
                   max(CASE WHEN r = CAST(ceil(0.90 * n) AS BIGINT)
                       THEN value END)::DOUBLE AS p90,
                   max(CASE WHEN r = CAST(ceil(0.99 * n) AS BIGINT)
                       THEN value END)::DOUBLE AS p99
            FROM ranked GROUP BY n
        """,
        # search_percentiles_by_approx: shared oracle with the exact
        # per-group panel (same equivalence argument per group)
        "search_percentiles_by_approx": """
            WITH hits AS (
                SELECT event_type, value FROM events
                WHERE user_id <= 60 AND value IS NOT NULL
            ), ranked AS (
                SELECT event_type, value,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY value) AS r,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM hits
            )
            SELECT event_type, max(n)::BIGINT AS n_values,
                   max(CASE WHEN r = CAST(ceil(0.50 * n) AS BIGINT)
                       THEN value END)::DOUBLE AS p50,
                   max(CASE WHEN r = CAST(ceil(0.95 * n) AS BIGINT)
                       THEN value END)::DOUBLE AS p95
            FROM ranked GROUP BY event_type
        """,
        # search_cardinality_sketch: the KMV estimate alone — no
        # exact-distinct side; below-k answers with the bottom-k size
        "search_cardinality_sketch": f"""
            WITH hits AS (
                SELECT * FROM events WHERE event_type = 'click'
            ), h AS (
                SELECT DISTINCT
                    {_poly_sql('user_id::VARCHAR', 1103515245, 0, 1_000_000_007, 5381)} AS h
                FROM hits WHERE user_id IS NOT NULL
            ), bottom AS (
                SELECT count(*)::BIGINT AS kk, max(h) AS hk
                FROM (SELECT h FROM h ORDER BY h LIMIT 64)
            ), counts AS (
                SELECT count(*)::BIGINT AS n_hits FROM hits
            )
            SELECT n_hits,
                   CASE WHEN kk < 64 THEN kk::DOUBLE
                        ELSE round(63 * 1000000007.0 / hk, 6)
                   END AS kmv_estimate
            FROM counts, bottom
        """,
        # search_cardinality: exact distinct users + the KMV bottom-k
        # estimate (k-1)*M/h_k from the k=64 smallest DISTINCT poly
        # hashes (M = 1e9+7), mirroring search.cardinality_agg
        "search_cardinality": f"""
            WITH hits AS (
                SELECT * FROM events WHERE event_type = 'click'
            ), h AS (
                SELECT DISTINCT
                    {_poly_sql('user_id::VARCHAR', 1103515245, 0, 1_000_000_007, 5381)} AS h
                FROM hits WHERE user_id IS NOT NULL
            ), bottom AS (
                SELECT count(*)::BIGINT AS kk, max(h) AS hk
                FROM (SELECT h FROM h ORDER BY h LIMIT 64)
            ), exact AS (
                SELECT count(*)::BIGINT AS n_hits,
                       count(DISTINCT user_id)::BIGINT AS distinct_exact
                FROM hits
            )
            SELECT n_hits, distinct_exact,
                   CASE WHEN kk < 64 THEN distinct_exact::DOUBLE
                        ELSE round(63 * 1000000007.0 / hk, 6)
                   END AS kmv_estimate
            FROM exact, bottom
        """,
        # search_stats_manifest: the match-all stats panel — Spark
        # answers it from the manifest's additive stats with zero data
        # scans; the oracle recomputes from the raw rows, proving the
        # commit-time bookkeeping exact
        "search_stats_manifest": """
            SELECT count(*)::BIGINT AS n_hits,
                   count(value)::BIGINT AS n_values,
                   min(value)::DOUBLE AS min_v,
                   max(value)::DOUBLE AS max_v,
                   round(sum(value::DECIMAL(38,6))::DOUBLE, 6) AS sum_v,
                   round((sum(value::DECIMAL(38,6)) / count(value))::DOUBLE, 6)
                       AS avg_v
            FROM events
        """,
        # search_extended_stats: the two moment sums fold through
        # decimal(38,6) (squares computed in IEEE double first), then
        # variance/stddev derive in double — identical arithmetic on
        # both engines
        "search_extended_stats": """
            WITH hits AS (
                SELECT value FROM events WHERE event_type = 'view'
            ), m AS (
                SELECT count(value)::BIGINT AS n_values,
                       min(value)::DOUBLE AS min_v,
                       max(value)::DOUBLE AS max_v,
                       sum(value::DECIMAL(38,6)) AS s1,
                       sum((value*value)::DECIMAL(38,6)) AS s2,
                       count(value) AS n
                FROM hits
            )
            SELECT n_values, min_v, max_v,
                   round(s1::DOUBLE, 6) AS sum_v,
                   round((s1 / n)::DOUBLE, 6) AS avg_v,
                   round(s2::DOUBLE, 6) AS sum_sq,
                   round(greatest(
                       s2::DOUBLE / n - (s1::DOUBLE / n) * (s1::DOUBLE / n),
                       0.0), 6) AS variance_v,
                   round(sqrt(greatest(
                       s2::DOUBLE / n - (s1::DOUBLE / n) * (s1::DOUBLE / n),
                       0.0)), 6) AS stddev_v
            FROM m
        """,
        # search_histogram: fixed-width numeric buckets keyed by
        # floor(v/50)*50 (floor — negatives bucket left), nulls dropped
        "search_histogram": """
            SELECT floor(value / 50.0) * 50.0 AS bucket_lo,
                   count(*)::BIGINT AS n_hits,
                   round(sum(value::DECIMAL(38,6))::DOUBLE, 6)
                       AS total_value
            FROM events
            WHERE event_type = 'purchase' AND value IS NOT NULL
            GROUP BY 1
        """,
        # search_ranges: [lo, hi) user-edge buckets at 10/50/100/250,
        # open ends NULL, nulls dropped, occupied buckets only
        "search_ranges": """
            WITH b AS (
                SELECT value,
                       (CASE WHEN value < 10.0 THEN 0
                             WHEN value < 50.0 THEN 1
                             WHEN value < 100.0 THEN 2
                             WHEN value < 250.0 THEN 3
                             ELSE 4 END)::INT AS bucket_idx
                FROM events
                WHERE event_type = 'click' AND value IS NOT NULL
            )
            SELECT bucket_idx,
                   (CASE bucket_idx WHEN 1 THEN 10.0 WHEN 2 THEN 50.0
                        WHEN 3 THEN 100.0 WHEN 4 THEN 250.0
                        ELSE NULL END)::DOUBLE AS range_lo,
                   (CASE bucket_idx WHEN 0 THEN 10.0 WHEN 1 THEN 50.0
                        WHEN 2 THEN 100.0 WHEN 3 THEN 250.0
                        ELSE NULL END)::DOUBLE AS range_hi,
                   count(*)::BIGINT AS n_hits,
                   round(sum(value::DECIMAL(38,6))::DOUBLE, 6)
                       AS total_value
            FROM b GROUP BY 1
        """,
        # search_time_travel: version-2 snapshot = the even-id commit
        # only; the odd-id segment (committed as version 3) must be
        # invisible to the at_version=2 scan
        "search_time_travel": """
            SELECT event_id, user_id, event_type, value
            FROM events
            WHERE event_id % 2 = 0 AND value >= 100
        """,
        # search_significant_terms: JLH = (fg%-bg%)*(fg%/bg%) over
        # per-doc-distinct term frequencies; Spark's background comes
        # from the commit-time stats parquets, the oracle recomputes
        # it from the corpus — equality proves the artifact exact
        "search_significant_terms": """
            WITH base AS (
              SELECT lang,
                list_distinct(list_transform(
                  list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'),
                              w -> w <> '' AND strlen(w) <= 40),
                  w -> lower(w))) AS toks
              FROM documents
            ), fg AS (
              SELECT t.term, count(*)::BIGINT AS fg_df
              FROM (SELECT unnest(toks) AS term FROM base
                    WHERE lang = 'en') t
              GROUP BY 1
            ), bg AS (
              SELECT t.term, count(*)::BIGINT AS bg_df
              FROM (SELECT unnest(toks) AS term FROM base) t
              GROUP BY 1
            ), n AS (
              SELECT count(*) AS bg_n,
                     count(*) FILTER (WHERE lang = 'en') AS fg_n
              FROM documents
            )
            SELECT term, fg_df, bg_df,
                   round((fg_df::DOUBLE / fg_n - bg_df::DOUBLE / bg_n)
                         * ((fg_df::DOUBLE / fg_n)
                            / (bg_df::DOUBLE / bg_n)), 6) AS score
            FROM fg JOIN bg USING (term), n
            WHERE fg_df >= 3
              AND fg_df::DOUBLE / fg_n > bg_df::DOUBLE / bg_n
            ORDER BY score DESC, term LIMIT 15
        """,
        # embedding_covariance: E[xy]-E[x]E[y] per (i<=j) pair from
        # decimal(38,12)-exact moment sums (products in IEEE double
        # first); the oracle pairs via a rowid self-join — fine at
        # oracle scale, the Spark side never joins
        "embedding_covariance": """
            WITH e AS (
              SELECT row_number() OVER () AS rid, embedding AS v
              FROM embeddings WHERE embedding IS NOT NULL
            ), nn AS (SELECT count(*) AS n FROM e),
            x AS (
              SELECT rid, g.i, CAST(v[g.i] AS DOUBLE) AS x
              FROM e, LATERAL (
                SELECT unnest(generate_series(1, len(v))) AS i
              ) g
            ), m1 AS (
              SELECT i, sum(x::DECIMAL(38,12)) AS s1 FROM x GROUP BY 1
            ), m2 AS (
              SELECT a.i AS i, b.i AS j,
                     sum((a.x * b.x)::DECIMAL(38,12)) AS s2
              FROM x a JOIN x b ON a.rid = b.rid AND a.i <= b.i
              GROUP BY 1, 2
            )
            SELECT (m2.i - 1)::INT AS i, (m2.j - 1)::INT AS j,
                   round(s2::DOUBLE / n
                         - (mi.s1::DOUBLE / n) * (mj.s1::DOUBLE / n),
                         6) + 0.0 AS cov
            FROM m2
            JOIN m1 mi ON mi.i = m2.i
            JOIN m1 mj ON mj.i = m2.j
            CROSS JOIN nn
        """,
        # bitext_margin: rank over RAW cosine (ties by id), top-k
        # scores then rounded; neighborhood averages fold the rounded
        # scores through decimal(38,12) and divide in double — the
        # exact arithmetic of the Spark pipeline
        "bitext_margin": f"""
            WITH s AS (
              SELECT vec_id, embedding FROM embeddings WHERE label < 5
            ), t AS (
              SELECT vec_id, embedding FROM embeddings WHERE label >= 5
            ), fraw AS (
              SELECT q.vec_id AS qid, c.vec_id AS nid,
                     {_COS.format(a="q.embedding", b="c.embedding")} AS sc
              FROM s q JOIN t c ON q.vec_id <> c.vec_id
            ), fwd AS (
              SELECT qid, nid, round(sc, 6) AS score, rank FROM (
                SELECT qid, nid, sc,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY sc DESC, nid ASC) AS rank
                FROM fraw) WHERE rank <= 4
            ), braw AS (
              SELECT q.vec_id AS qid, c.vec_id AS nid,
                     {_COS.format(a="q.embedding", b="c.embedding")} AS sc
              FROM t q JOIN s c ON q.vec_id <> c.vec_id
            ), bwd AS (
              SELECT qid, round(sc, 6) AS score FROM (
                SELECT qid, sc,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY sc DESC, nid ASC) AS rank
                FROM braw) WHERE rank <= 4
            ), cand AS (
              SELECT qid AS src_id,
                     sum(score::DECIMAL(38,12))::DOUBLE / count(*) AS ax,
                     max(CASE WHEN rank = 1 THEN nid END) AS tgt_id,
                     max(CASE WHEN rank = 1 THEN score END) AS cos
              FROM fwd GROUP BY 1
            ), nbh AS (
              SELECT qid AS t_id,
                     sum(score::DECIMAL(38,12))::DOUBLE / count(*) AS ay
              FROM bwd GROUP BY 1
            )
            SELECT src_id, tgt_id, cos,
                   round(cos / ((ax + ay) / 2.0), 6) AS margin
            FROM cand JOIN nbh ON tgt_id = t_id
            WHERE round(cos / ((ax + ay) / 2.0), 6) > 1.0
        """,
        # quality_ensemble: exact global ranks (goodness asc, doc_id
        # tiebreak; word-length signal negated), min-max normalized,
        # mean of the three in declared order — identical arithmetic
        "quality_ensemble": f"""
            WITH s AS (
              SELECT doc_id,
                     n_chars::DOUBLE AS s_len,
                     CASE WHEN len(w) > 0
                          THEN len(list_distinct(w))::DOUBLE / len(w)
                          ELSE 0.0 END AS s_div,
                     CASE WHEN len(w) > 0
                          THEN length(t)::DOUBLE / len(w)
                          ELSE 0.0 END AS s_mwl
              FROM (
                SELECT doc_id, n_chars, coalesce(text, '') AS t,
                       {_WORDS.replace("text", "coalesce(text, '')")} AS w
                FROM documents)
            ), r AS (
              SELECT doc_id,
                row_number() OVER (ORDER BY s_len, doc_id) AS r_len,
                row_number() OVER (ORDER BY s_div, doc_id) AS r_div,
                row_number() OVER (ORDER BY -s_mwl, doc_id) AS r_mwl,
                count(*) OVER () AS n
              FROM s
            )
            SELECT doc_id, r_len::BIGINT AS rank_len,
                   r_div::BIGINT AS rank_div, r_mwl::BIGINT AS rank_mwl,
                   round((
                     (r_len - 1) / (n - 1)
                     + (r_div - 1) / (n - 1)
                     + (r_mwl - 1) / (n - 1)
                   ) / 3.0, 6) AS ensemble
            FROM r
        """,
        # search_deletes: tombstone semantics — NOT(event_type =
        # 'error') over the ingested subset; SQL's NOT also drops
        # null-predicate rows, matching the compiled anti-filter
        "search_deletes": """
            SELECT event_id, user_id, event_type, value
            FROM events
            WHERE user_id < 50 AND NOT (event_type = 'error')
        """,
        # search_percentiles_by: per-group percentile_disc — element
        # at rank ceil(p*n) of each group's sorted multiset
        "search_percentiles_by": """
            WITH hits AS (
                SELECT event_type, value FROM events
                WHERE user_id <= 60 AND value IS NOT NULL
            ), ranked AS (
                SELECT event_type, value,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY value) AS r,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM hits
            )
            SELECT event_type, max(n)::BIGINT AS n_values,
                   max(CASE WHEN r = CAST(ceil(0.50 * n) AS BIGINT)
                       THEN value END)::DOUBLE AS p50,
                   max(CASE WHEN r = CAST(ceil(0.95 * n) AS BIGINT)
                       THEN value END)::DOUBLE AS p95
            FROM ranked GROUP BY event_type
        """,
        # search_top_hits: 3 highest-value hits per event type over
        # the user_id>=80 hit set, ties by event_id asc
        "search_top_hits": """
            SELECT event_type, rank_in_group, event_id, user_id, value
            FROM (
                SELECT event_type, event_id, user_id, value,
                       row_number() OVER (
                           PARTITION BY event_type
                           ORDER BY value DESC, event_id ASC
                       )::INT AS rank_in_group
                FROM events WHERE user_id >= 80
            ) WHERE rank_in_group <= 3
        """,
        "search_bool": """
            SELECT event_id, user_id, event_type, value FROM events
            WHERE (event_type = 'signup' OR event_type = 'click')
              AND user_id > 50 AND NOT (value >= 250)
        """,
        "search_topk": """
            SELECT event_id, epoch_us(ts) AS ts_us FROM events
            ORDER BY ts DESC, event_id ASC LIMIT 10
        """,
        "search_dt_range": """
            SELECT event_id, user_id FROM events
            WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
              AND ts <  TIMESTAMP '2024-01-04 00:00:00'
              AND event_type = 'error'
        """,
        "search_text_term": """
            SELECT doc_id, lang FROM documents
            WHERE regexp_matches(lower(text), '(^|[^a-z0-9])spark([^a-z0-9]|$)')
              AND lang = 'es'
        """,
        "search_phrase": """
            SELECT doc_id FROM documents
            WHERE regexp_matches(lower(text), '(^|[^a-z0-9])key[^a-z0-9]+order([^a-z0-9]|$)')
        """,
        "json_path_filter": """
            SELECT event_id, json_extract_string(props, '$.k')::BIGINT AS k
            FROM events WHERE json_extract_string(props, '$.k')::BIGINT > 80
        """,
        "ingest_roundtrip": """
            SELECT doc_id, text, lang, source, n_chars FROM documents
        """,
        # identical arithmetic to functions/bm25.py (k1=1.2, b=0.75;
        # per-term scores summed left-to-right, round to 4 decimals)
        "search_bm25": f"""
            WITH {_BM25_SPARK_TABLE_CTE}
            SELECT doc_id, bm25 FROM lexsc
        """,
        # mirrors q_hybrid_search_rrf: BM25('spark table') list ∪
        # cosine-kNN(vec 0) list, each ranked/truncated to pool=50,
        # reciprocal-rank fused at rrf_k=60, top-10 by (rrf, id)
        "hybrid_search_rrf": f"""
            WITH {_BM25_SPARK_TABLE_CTE},
            lex_top AS (
              SELECT doc_id AS id,
                row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
              FROM lexsc ORDER BY bm25 DESC, doc_id ASC LIMIT 50),
            vscored AS (
              SELECT c.vec_id AS id,
                     {_COS.format(a="q.embedding", b="c.embedding")} AS s
              FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              WHERE q.vec_id = 0),
            vec_top AS (
              SELECT id, row_number() OVER (ORDER BY s DESC, id ASC) AS vec_rank
              FROM vscored ORDER BY s DESC, id ASC LIMIT 50),
            fused AS (
              SELECT coalesce(l.id, v.id) AS doc_id, l.lex_rank, v.vec_rank,
                round(coalesce(1.0 / (60 + l.lex_rank), 0.0)
                    + coalesce(1.0 / (60 + v.vec_rank), 0.0), 6) AS rrf_score
              FROM lex_top l FULL OUTER JOIN vec_top v ON l.id = v.id),
            ranked AS (
              SELECT doc_id, lex_rank, vec_rank, rrf_score,
                row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS rank
              FROM fused)
            SELECT doc_id, lex_rank, vec_rank, rrf_score, rank
            FROM ranked WHERE rank <= 10
        """,
        # cube_source_lang: GROUP BY CUBE — NULL marks the rolled-up
        # dimension in both engines
        "cube_source_lang": """
            SELECT source, lang,
                   count(*)::BIGINT AS n_docs,
                   sum(n_chars)::BIGINT AS total_chars
            FROM documents GROUP BY CUBE (source, lang)
        """,
        # pivot_event_days: explicit-value pivot == conditional
        # aggregation; absent (day, type) cells are 0
        "pivot_event_days": """
            SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                   sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
                   sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error,
                   sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
                   sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
                   sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view
            FROM events GROUP BY 1
        """,
        "q6_forecast_revenue": """
            SELECT round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                             * CAST(l_discount AS DECIMAL(18,4))), 6)::DOUBLE
                       AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "q10_returned_items": """
            SELECT c_custkey, c_name, c_acctbal, n_name,
              round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * CAST(1-l_discount AS DECIMAL(18,4))), 6)::DOUBLE
                  AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-07-01'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey ASC LIMIT 20
        """,
        "q14_promo_revenue": """
            WITH j AS (
              SELECT p_type,
                     CAST(l_extendedprice AS DECIMAL(18,4))
                     * CAST(1-l_discount AS DECIMAL(18,4)) AS rev
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE l_shipdate >= TIMESTAMP '1996-09-01'
                AND l_shipdate < TIMESTAMP '1996-10-01'
            )
            SELECT round(100.0
                         * sum(CASE WHEN p_type = 'PROMO'
                                    THEN rev ELSE 0 END)::DOUBLE
                         / sum(rev)::DOUBLE, 6) AS promo_pct
            FROM j
        """,
        "q18_large_orders": """
            WITH big AS (
              SELECT l_orderkey,
                     round(sum(CAST(l_quantity AS DECIMAL(18,4))), 6)::DOUBLE
                         AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING round(sum(CAST(l_quantity AS DECIMAL(18,4))), 6)::DOUBLE
                     > 300
            )
            SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty
            FROM big
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        # q4 adapted: "late" = shipped >60 days after the order date
        # (no commit/receipt dates in the testdata)
        "q4_order_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-07-01'
              AND o_orderdate < TIMESTAMP '1996-10-01'
              AND EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey
                  AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
            GROUP BY o_orderpriority
        """,
        "q7_volume_shipping": """
            SELECT supp_nation, cust_nation, l_year,
                   round(sum(rev), 6)::DOUBLE AS revenue
            FROM (
              SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                     year(l_shipdate) AS l_year,
                     CAST(l_extendedprice AS DECIMAL(18,4))
                     * CAST(1-l_discount AS DECIMAL(18,4)) AS rev
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation n1 ON s_nationkey = n1.n_nationkey
              JOIN nation n2 ON c_nationkey = n2.n_nationkey
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1998-01-01'
                AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                  OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
            GROUP BY supp_nation, cust_nation, l_year
        """,
        "q8_market_share": """
            SELECT year(o_orderdate) AS o_year,
                   round(sum(CASE WHEN n2.n_name = 'NATION_1'
                                  THEN CAST(l_extendedprice AS DECIMAL(18,4))
                                       * CAST(1-l_discount AS DECIMAL(18,4))
                                  ELSE 0 END)::DOUBLE
                         / sum(CAST(l_extendedprice AS DECIMAL(18,4))
                               * CAST(1-l_discount AS DECIMAL(18,4)))::DOUBLE,
                         6) AS mkt_share
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region ON n1.n_regionkey = r_regionkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY 1
        """,
        # q12 adapted: groups by l_returnflag (no l_shipmode), "late"
        # = shipped >90 days after the order date
        "q12_late_priority": """
            SELECT l_returnflag,
              sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                       THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
              sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                       THEN 1 ELSE 0 END)::BIGINT AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_shipdate > o_orderdate + INTERVAL 90 DAY
            GROUP BY l_returnflag
        """,
        # q13 adapted: priority exclusion stands in for the o_comment
        # NOT LIKE (column absent)
        "q13_customer_distribution": """
            SELECT c_count, count(*) AS custdist
            FROM (
              SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer LEFT OUTER JOIN orders
                ON c_custkey = o_custkey
                AND o_orderpriority <> '4-NOT SPECIFIED'
              GROUP BY c_custkey)
            GROUP BY c_count
        """,
        "q15_top_supplier": """
            WITH revenue AS (
              SELECT l_suppkey,
                round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                          * CAST(1-l_discount AS DECIMAL(18,4))), 6)::DOUBLE
                    AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1996-04-01'
              GROUP BY l_suppkey)
            SELECT l_suppkey, s_name, total_revenue
            FROM revenue JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        """,
        # q17 adapted: brand alone selects (no p_container); the 20%
        # threshold is the exact decimal-integer form
        # qty < 0.2*sum/n  <=>  5*qty*n < sum
        "q17_small_quantity_revenue": """
            WITH brand_lines AS (
              SELECT l_partkey, l_quantity, l_extendedprice
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_brand = 'Brand#1'),
            per_part AS (
              SELECT l_partkey AS pp_key,
                     sum(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty,
                     count(*) AS n_lines
              FROM brand_lines GROUP BY 1)
            SELECT round(sum(CAST(l_extendedprice AS DECIMAL(18,4)))::DOUBLE
                         / 7.0, 6) AS avg_yearly
            FROM brand_lines JOIN per_part ON l_partkey = pp_key
            WHERE CAST(l_quantity AS DECIMAL(18,4)) * 5 * n_lines < sum_qty
        """,
        # q19 adapted: p_size ranges stand in for p_container sets
        "q19_disjunctive_revenue": """
            SELECT round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                             * CAST(1-l_discount AS DECIMAL(18,4))), 6)::DOUBLE
                       AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        # q21 adapted: lateness surrogate l_shipdate > o_orderdate+90d
        "q21_suppliers_kept_waiting": """
            SELECT s_name, count(*) AS numwait
            FROM lineitem l1
            JOIN orders ON l1.l_orderkey = o_orderkey
            JOIN supplier ON l1.l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE o_orderstatus = 'F' AND n_name = 'NATION_0'
              AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
              AND EXISTS (
                SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (
                SELECT 1 FROM lineitem l3
                WHERE l3.l_orderkey = l1.l_orderkey
                  AND l3.l_suppkey <> l1.l_suppkey
                  AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
            GROUP BY s_name
            ORDER BY numwait DESC, s_name ASC LIMIT 20
        """,
        # q22 adapted: the nation key IS the country code (no c_phone)
        "q22_global_sales_opportunity": """
            WITH pool AS (
              SELECT * FROM customer
              WHERE c_nationkey IN (0, 3, 7, 11, 14, 18, 21)),
            thresh AS (
              SELECT round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 6)::DOUBLE
                     / count(*)::DOUBLE AS avg_bal
              FROM pool WHERE c_acctbal > 0.0)
            SELECT c_nationkey AS cntrycode, count(*) AS numcust,
                   round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 6)::DOUBLE
                       AS totacctbal
            FROM pool, thresh
            WHERE c_acctbal > avg_bal
              AND NOT EXISTS (
                SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '1999-01-01')
            GROUP BY c_nationkey
        """,
        # TPC-H partsupp five: the shared-derivation CTE
        # (_PARTSUPP_SQL) makes the table bit-identical on both
        # engines; costs stay integer cents until the output column
        "q2_min_cost_supplier": f"""
            WITH {_PARTSUPP_SQL}
            SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
                   round(ps_supplycost_cents / 100.0, 6) AS supply_cost
            FROM partsupp
            JOIN part ON p_partkey = ps_partkey
            JOIN supplier ON s_suppkey = ps_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE p_name LIKE '%bolt' AND r_name = 'EUROPE'
              AND ps_supplycost_cents = (
                SELECT min(ps2.ps_supplycost_cents)
                FROM partsupp ps2
                JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
                JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
                JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
                WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
            ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
            LIMIT 100
        """,
        "q9_product_type_profit": f"""
            WITH {_PARTSUPP_SQL}
            SELECT n_name AS nation, year(o_orderdate) AS o_year,
                   round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                             * CAST(1-l_discount AS DECIMAL(18,4))
                             - CAST(ps_supplycost_cents AS DECIMAL(10,0))
                               * CAST(l_quantity AS DECIMAL(8,4))
                               * CAST(0.01 AS DECIMAL(3,2))), 6)::DOUBLE
                       AS sum_profit
            FROM lineitem
            JOIN part ON p_partkey = l_partkey
            JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON n_nationkey = s_nationkey
            JOIN orders ON o_orderkey = l_orderkey
            WHERE p_name LIKE '%gear%'
            GROUP BY 1, 2
            ORDER BY nation ASC, o_year DESC
        """,
        "q11_important_stock": f"""
            WITH {_PARTSUPP_SQL},
            nps AS (
              SELECT ps_partkey, ps_availqty, ps_supplycost_cents
              FROM partsupp
              JOIN supplier ON s_suppkey = ps_suppkey
              JOIN nation ON n_nationkey = s_nationkey
              WHERE n_name = 'NATION_0')
            SELECT ps_partkey,
                   round(sum(ps_supplycost_cents * ps_availqty) / 100.0, 6)
                       AS value
            FROM nps
            GROUP BY ps_partkey
            HAVING sum(ps_supplycost_cents * ps_availqty) * 200 >
                   (SELECT sum(ps_supplycost_cents * ps_availqty) FROM nps)
            ORDER BY value DESC, ps_partkey ASC
        """,
        "q16_part_supplier_relation": f"""
            WITH {_PARTSUPP_SQL}
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT ps_suppkey)::BIGINT AS supplier_cnt
            FROM partsupp JOIN part ON p_partkey = ps_partkey
            WHERE p_brand <> 'Brand#5' AND p_type NOT LIKE 'MEDIUM%'
              AND p_size IN (1, 4, 7, 10, 13, 16, 19, 23)
              AND ps_suppkey NOT IN
                  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY 1, 2, 3
            ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
        """,
        "q20_potential_promotion": f"""
            WITH {_PARTSUPP_SQL},
            red_parts AS (
              SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
            shipped AS (
              SELECT l_partkey, l_suppkey,
                     sum(CAST(l_quantity AS DECIMAL(18,4))) AS qty
              FROM lineitem JOIN red_parts ON p_partkey = l_partkey
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1997-01-01'
              GROUP BY 1, 2)
            SELECT s_name
            FROM supplier
            JOIN nation ON n_nationkey = s_nationkey
            JOIN region ON r_regionkey = n_regionkey
            WHERE r_name = 'EUROPE'
              AND s_suppkey IN (
                SELECT ps_suppkey FROM partsupp
                JOIN red_parts ON p_partkey = ps_partkey
                JOIN shipped ON l_partkey = ps_partkey
                             AND l_suppkey = ps_suppkey
                WHERE CAST(2 * ps_availqty AS DECIMAL(18,4)) > qty)
            ORDER BY s_name ASC
        """,
        # web curation three: derived URLs (shared _url_expr), each
        # canonicalization step replayed with the same regexes
        "url_canonicalize": f"""
            WITH urls AS (
              SELECT doc_id, {_url_expr('//', 'VARCHAR')} AS url
              FROM documents),
            p1 AS (
              SELECT doc_id, url,
                     regexp_replace(url, '#.*$', '') AS no_frag
              FROM urls),
            p2 AS (
              SELECT doc_id, url,
                     regexp_extract(no_frag, '^([^?]*)', 1) AS base,
                     CASE WHEN contains(no_frag, '?')
                          THEN regexp_extract(no_frag, '\\?(.*)$', 1)
                          ELSE '' END AS query
              FROM p1),
            p3 AS (
              SELECT doc_id, url, query,
                lower(regexp_extract(base,
                    '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                regexp_replace(base,
                    '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS after
              FROM p2),
            p4 AS (
              SELECT *,
                regexp_extract(after, '^([^/]*)', 1) AS hostport,
                substring(after,
                    length(regexp_extract(after, '^([^/]*)', 1)) + 1) AS path
              FROM p3),
            p5 AS (
              SELECT *,
                regexp_replace(lower(regexp_replace(hostport, ':\\d+$', '')),
                               '^www\\.', '') AS host,
                regexp_extract(hostport, ':(\\d+)$', 1) AS port,
                regexp_replace(path, '/+$', '') AS path_norm,
                array_to_string(list_sort(list_filter(str_split(query, '&'),
                    x -> x <> '' AND NOT regexp_matches(x,
                '^(utm_[a-z]+|fbclid|gclid|msclkid|mc_eid|ref)='))), '&')
                    AS params
              FROM p4)
            SELECT doc_id, url,
                   scheme || '://' || host ||
                   CASE WHEN port <> ''
                             AND NOT (scheme = 'https' AND port = '443')
                             AND NOT (scheme = 'http' AND port = '80')
                        THEN ':' || port ELSE '' END ||
                   path_norm ||
                   CASE WHEN params <> '' THEN '?' || params ELSE '' END
                       AS canonical_url
            FROM p5
            ORDER BY doc_id LIMIT 60
        """,
        "url_dedup": f"""
            WITH urls AS (
              SELECT doc_id, {_url_expr('//', 'VARCHAR')} AS url
              FROM documents),
            p1 AS (
              SELECT doc_id, url,
                     regexp_replace(url, '#.*$', '') AS no_frag
              FROM urls),
            p2 AS (
              SELECT doc_id, url,
                     regexp_extract(no_frag, '^([^?]*)', 1) AS base,
                     CASE WHEN contains(no_frag, '?')
                          THEN regexp_extract(no_frag, '\\?(.*)$', 1)
                          ELSE '' END AS query
              FROM p1),
            p3 AS (
              SELECT doc_id, url, query,
                lower(regexp_extract(base,
                    '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                regexp_replace(base,
                    '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS after
              FROM p2),
            p4 AS (
              SELECT *,
                regexp_extract(after, '^([^/]*)', 1) AS hostport,
                substring(after,
                    length(regexp_extract(after, '^([^/]*)', 1)) + 1) AS path
              FROM p3),
            p5 AS (
              SELECT *,
                regexp_replace(lower(regexp_replace(hostport, ':\\d+$', '')),
                               '^www\\.', '') AS host,
                regexp_extract(hostport, ':(\\d+)$', 1) AS port,
                regexp_replace(path, '/+$', '') AS path_norm,
                array_to_string(list_sort(list_filter(str_split(query, '&'),
                    x -> x <> '' AND NOT regexp_matches(x,
                '^(utm_[a-z]+|fbclid|gclid|msclkid|mc_eid|ref)='))), '&')
                    AS params
              FROM p4),
            canon AS (
              SELECT doc_id,
                   scheme || '://' || host ||
                   CASE WHEN port <> ''
                             AND NOT (scheme = 'https' AND port = '443')
                             AND NOT (scheme = 'http' AND port = '80')
                        THEN ':' || port ELSE '' END ||
                   path_norm ||
                   CASE WHEN params <> '' THEN '?' || params ELSE '' END
                       AS canonical_url
              FROM p5)
            SELECT canonical_url, min(doc_id) AS keeper_id,
                   count(*)::BIGINT AS n_docs
            FROM canon
            GROUP BY canonical_url
            ORDER BY n_docs DESC, canonical_url ASC LIMIT 50
        """,
        "dedup_incremental_url": f"""
            WITH {_canon_urls_cte()},
            store AS (
              SELECT canonical_url, min(doc_id) AS o_id
              FROM canon WHERE doc_id % 4 <> 0 GROUP BY 1),
            batchc AS (
              SELECT doc_id, canonical_url
              FROM canon WHERE doc_id % 4 = 0),
            firstw AS (
              SELECT canonical_url, min(doc_id) AS b_first
              FROM batchc GROUP BY 1)
            SELECT b.doc_id, b.canonical_url, s.o_id AS owner_id,
                   (s.o_id IS NULL AND b.doc_id = f.b_first) AS keep
            FROM batchc b
            LEFT JOIN store s USING (canonical_url)
            JOIN firstw f USING (canonical_url)
        """,
        "domain_filter": f"""
            WITH urls AS (
              SELECT doc_id, {_url_expr('//', 'VARCHAR')} AS url
              FROM documents),
            doms AS (
              SELECT doc_id,
                regexp_extract(
                  lower(regexp_replace(regexp_extract(url,
                      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
                      ':\\d+$', '')),
                  '([^.]+\\.[^.]+)$', 1) AS domain
              FROM urls)
            SELECT domain, count(*)::BIGINT AS n_docs
            FROM doms
            WHERE domain NOT IN ({", ".join(f"'{d}'" for d in _BLOCKED_DOMAINS)})
            GROUP BY domain
            ORDER BY n_docs DESC, domain ASC
        """,
        "q1_pricing": """
            SELECT l_returnflag, l_linestatus,
              round(sum(CAST(l_quantity AS DECIMAL(18,4))), 6)::DOUBLE AS sum_qty,
              round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 6)::DOUBLE AS sum_base_price,
              round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1-l_discount AS DECIMAL(18,4))), 6)::DOUBLE AS sum_disc_price,
              round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST((1-l_discount)*(1+l_tax) AS DECIMAL(18,4))), 6)::DOUBLE AS sum_charge,
              count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_top_revenue": """
            SELECT l_orderkey,
              round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1-l_discount AS DECIMAL(18,4))), 6)::DOUBLE AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY l_orderkey
            ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
        """,
        "q5_region_revenue": """
            SELECT n_name,
              round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1-l_discount AS DECIMAL(18,4))), 6)::DOUBLE AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
        """,
        "brand_revenue": """
            SELECT p_brand,
              round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1-l_discount AS DECIMAL(18,4))), 6)::DOUBLE AS revenue,
              count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY p_brand
        """,
        "priority_counts": """
            SELECT o_orderpriority, count(*) AS n_orders FROM orders
            WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY o_orderpriority
        """,
        "window_top_orders": """
            SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
              FROM orders) WHERE rn <= 3
        """,
        "user_event_gaps": """
            SELECT event_id, user_id,
              epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                     ORDER BY ts ASC, event_id ASC) AS gap_us
            FROM events WHERE user_id < 20
        """,
        "hourly_events": """
            SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
              count(*) AS n_events,
              round(sum(CAST(value AS DECIMAL(18,4))), 6)::DOUBLE AS sum_value
            FROM events GROUP BY 1
        """,
        "distinct_users": """
            SELECT event_type, count(DISTINCT user_id) AS n_users,
              count(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "heavy_hitter_users": """
            WITH c AS (
              SELECT event_type, user_id, count(*)::BIGINT AS n_events
              FROM events GROUP BY event_type, user_id)
            SELECT event_type, user_id, n_events, rank FROM (
              SELECT *, row_number() OVER (
                PARTITION BY event_type
                ORDER BY n_events DESC, user_id)::BIGINT AS rank
              FROM c)
            WHERE rank <= 3
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_name, c_mktsegment FROM customer
            WHERE NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= TIMESTAMP '1998-01-01')
        """,
        "click_only_users": """
            SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
            EXCEPT
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'purchase' AND value >= 450
        """,
        # session semantics: a new session starts when the gap to the
        # previous event is >= 30 min (Spark session_window contract)
        "user_sessions": """
            WITH g AS (
              SELECT user_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                     THEN 1 ELSE 0 END AS ns
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (
              SELECT user_id, ts,
                sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
              FROM g)
            SELECT user_id,
                   epoch_us(min(ts)) AS session_start_us,
                   epoch_us(max(ts)) AS session_end_us,
                   count(*) AS n_events
            FROM s GROUP BY user_id, sid
        """,
        "rollup_revenue": """
            SELECT l_returnflag, l_linestatus,
              round(sum(CAST(l_quantity AS DECIMAL(18,4))), 6)::DOUBLE AS sum_qty,
              count(*) AS n_items
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "asof_last_click": """
            WITH p AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase'),
            c AS (
              SELECT user_id, ts AS cts, max(value) AS cvalue FROM events
              WHERE event_type = 'click' GROUP BY user_id, ts)
            SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
                   epoch_us(c.cts) AS last_click_ts_us,
                   c.cvalue AS last_click_value
            FROM p ASOF LEFT JOIN c
              ON p.user_id = c.user_id AND p.ts >= c.cts
        """,
        "dedup_exact": """
            WITH u AS (
              SELECT doc_id, text FROM documents
              UNION ALL SELECT doc_id + 1000000, text FROM documents
            )
            SELECT sha256(text) AS content_hash, min(doc_id) AS keeper_id,
                   count(*) AS n_copies
            FROM u GROUP BY text HAVING count(*) > 1
        """,
        "dedup_ngram_jaccard": f"""
            WITH sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM documents),
            ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
            sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
            inter AS (
              SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT a_id, b_id,
                   round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
            FROM inter
            JOIN sz sa ON sa.doc_id = a_id
            JOIN sz sb ON sb.doc_id = b_id
            WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
        """,
        # char-5-gram MinHash variant: shingles are codepoint windows
        # over normalized text (lower/trim/collapse-ws), mirroring
        # dedup.staged_shingles(unit='char'); banding/verify identical
        # to dedup_minhash_lsh
        "dedup_minhash_char": f"""
            WITH nrm AS (
              SELECT doc_id,
                regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
              FROM documents),
            sh AS (
              SELECT doc_id,
                CASE WHEN length(t) >= 5
                     THEN list_distinct(list_transform(range(1, length(t) - 3),
                              i -> substr(t, i, 5)))
                     ELSE [t] END AS shingles
              FROM nrm),
            hs AS (
              SELECT doc_id, shingles,
                list_transform(shingles, s -> {_poly_sql('s', 31, 0, 1_000_000_007)}) AS h1,
                list_transform(shingles, s -> {_poly_sql('s', 37, 7, 1_000_000_007)}) AS h2
              FROM sh),
            sig AS (SELECT doc_id, [{_MH_SIGS}] AS sig FROM hs),
            banded AS (
              SELECT doc_id, b.band,
                array_to_string(sig[b.band*16+1 : b.band*16+16], ',') AS key
              FROM sig, (SELECT unnest(range(0, 8)) AS band) b),
            bfreq AS (
              SELECT band, key FROM banded
              GROUP BY band, key HAVING count(*) <= 1000),
            bok AS (
              SELECT banded.doc_id, banded.band, banded.key
              FROM banded JOIN bfreq USING (band, key)),
            cand AS (
              SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
              FROM bok a JOIN bok b
                ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
            j AS (
              SELECT c.a_id, c.b_id,
                len(list_intersect(sa.shingles, sb.shingles)) * 1.0
                  / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
              FROM cand c
              JOIN sh sa ON sa.doc_id = c.a_id
              JOIN sh sb ON sb.doc_id = c.b_id)
            SELECT a_id, b_id, round(jaccard, 6) AS jaccard
            FROM j WHERE jaccard >= 0.8
        """,
        # connected components over the (already-oracled) jaccard
        # pairs: min reachable id via recursive closure
        "substring_spans_incremental": f"""
            WITH cb AS (
              SELECT doc_id, {_WORDS} AS w, coalesce(len({_WORDS}), 0) AS n,
                     doc_id % 5 = 0 AS is_batch
              FROM documents),
            corpus_g AS (
              SELECT DISTINCT unnest(list_transform(range(0, n - 10 + 1),
                i -> array_to_string(list_slice(w, i + 1, i + 10), ' '))) AS g
              FROM cb WHERE NOT is_batch AND n >= 10),
            bgrams AS (
              SELECT doc_id, n, u.pos AS pos, u.g AS g FROM (
                SELECT doc_id, n,
                  unnest(list_transform(range(0, n - 10 + 1),
                    i -> struct_pack(pos := i,
                           g := array_to_string(list_slice(w, i + 1, i + 10), ' ')))) AS u
                FROM cb WHERE is_batch AND n >= 10)),
            own AS (
              SELECT g, count(*) AS c,
                     min(struct_pack(d := doc_id, p := pos)) AS o
              FROM bgrams GROUP BY g),
            marked AS (
              SELECT bg.doc_id, bg.pos
              FROM bgrams bg
              JOIN own ON bg.g = own.g
              LEFT JOIN (SELECT g, TRUE AS st FROM corpus_g) cg ON bg.g = cg.g
              WHERE coalesce(cg.st, FALSE)
                 OR (own.c >= 2
                     AND NOT (bg.doc_id = own.o.d AND bg.pos = own.o.p))),
            cov AS (
              SELECT doc_id, pos,
                max(pos + 10) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
              FROM marked),
            per_doc AS (
              SELECT doc_id, count(*) AS n_dup_spans,
                     sum(greatest(0, pos + 10 - greatest(pos, coalesce(pe, 0)))) AS covered
              FROM cov GROUP BY doc_id)
            SELECT b.doc_id, b.n::BIGINT AS n_tokens,
                   coalesce(p.n_dup_spans, 0)::BIGINT AS n_dup_spans,
                   coalesce(p.covered, 0)::BIGINT AS covered_tokens,
                   CASE WHEN b.n > 0
                        THEN round(coalesce(p.covered, 0) * 1.0 / b.n, 6)
                        ELSE 0.0 END AS dup_fraction
            FROM (SELECT doc_id, n FROM cb WHERE is_batch) b
            LEFT JOIN per_doc p USING (doc_id)
        """,
        "substring_spans": f"""
            WITH base AS (
              SELECT doc_id, {_WORDS} AS w, coalesce(len({_WORDS}), 0) AS n FROM documents),
            grams AS (
              SELECT doc_id, n, u.pos AS pos, u.g AS g FROM (
                SELECT doc_id, n,
                  unnest(list_transform(range(0, n - 10 + 1),
                    i -> struct_pack(pos := i,
                           g := array_to_string(list_slice(w, i + 1, i + 10), ' ')))) AS u
                FROM base WHERE n >= 10)),
            own AS (
              SELECT g, count(*) AS c,
                     min(struct_pack(d := doc_id, p := pos)) AS o
              FROM grams GROUP BY g HAVING count(*) >= 2),
            marked AS (
              SELECT gr.doc_id, gr.pos
              FROM grams gr JOIN own ON gr.g = own.g
              WHERE NOT (gr.doc_id = own.o.d AND gr.pos = own.o.p)),
            cov AS (
              SELECT doc_id, pos,
                max(pos + 10) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
              FROM marked),
            per_doc AS (
              SELECT doc_id, count(*) AS n_dup_spans,
                     sum(greatest(0, pos + 10 - greatest(pos, coalesce(pe, 0)))) AS covered
              FROM cov GROUP BY doc_id)
            SELECT b.doc_id, b.n::BIGINT AS n_tokens,
                   coalesce(p.n_dup_spans, 0)::BIGINT AS n_dup_spans,
                   coalesce(p.covered, 0)::BIGINT AS covered_tokens,
                   CASE WHEN b.n > 0
                        THEN round(coalesce(p.covered, 0) * 1.0 / b.n, 6)
                        ELSE 0.0 END AS dup_fraction
            FROM base b LEFT JOIN per_doc p USING (doc_id)
        """,
        "leakage_safe_split": f"""
            WITH RECURSIVE {_CLUSTERS_CTE},
            labeled AS (
              SELECT d.doc_id, d.source,
                     coalesce(c.cluster_id, d.doc_id)::BIGINT AS cluster_id
              FROM documents d LEFT JOIN clus c ON c.doc_id = d.doc_id)
            SELECT doc_id, source, cluster_id,
              CASE WHEN h < 8000 THEN 'train'
                   WHEN h < 9000 THEN 'valid'
                   ELSE 'test' END AS split
            FROM (SELECT *,
                    ({_poly_sql('cluster_id::VARCHAR', 1103515245, 0, 1_000_000_007, 5381)})
                    % 10000 AS h
                  FROM labeled)
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE {_CLUSTERS_CTE}
            SELECT doc_id, cluster_id FROM clus
        """,
        # mirrors q_dedup_canonical: the clusters CTE above + the
        # text_quality formula + per-cluster best-quality keeper
        # (singletons cluster with themselves and keep themselves)
        "dedup_canonical": f"""
            WITH RECURSIVE {_CLUSTERS_CTE},
            q AS (
              SELECT doc_id,
                round(0.4 * least(len({wl}) / 32.0, 1.0)
                    + 0.3 * (len(list_distinct({wl})) * 1.0 / len({wl}))
                    + 0.3 * least(len(list_filter({wl}, t -> t IN ({_EN_STOP_SQL}))) * 1.0 / len({wl}) * 4.0, 1.0),
                  6) AS quality
              FROM documents),
            lab AS (
              SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
                     q.quality
              FROM documents d
              LEFT JOIN clus c ON c.doc_id = d.doc_id
              JOIN q ON q.doc_id = d.doc_id)
            SELECT doc_id, cluster_id, quality,
              (row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY quality DESC, doc_id ASC) = 1) AS keep
            FROM lab
        """,
        # mirrors q_multimodal_dedup: sha256 over the utf-8 blob
        "multimodal_dedup": """
            SELECT sha256(text) AS blob_sha256,
              min(doc_id) AS keeper_id, count(*)::BIGINT AS n_copies
            FROM documents
            GROUP BY sha256(text)
        """,
        # mirrors q_source_quality_curves / stats.grouped_linear_fit
        "source_quality_curves": f"""
            WITH b AS (
              SELECT source,
                ln(len({_WORDS})::DOUBLE) AS rx,
                len(list_distinct({_WORDS})) * 1.0 / len({_WORDS}) AS ry
              FROM documents),
            m AS (
              SELECT source, count(*)::DOUBLE AS n,
                sum(CAST(rx AS DECIMAL(38,18)))::DOUBLE AS sx,
                sum(CAST(ry AS DECIMAL(38,18)))::DOUBLE AS sy,
                sum(CAST(rx * rx AS DECIMAL(38,18)))::DOUBLE AS sxx,
                sum(CAST(rx * ry AS DECIMAL(38,18)))::DOUBLE AS sxy,
                sum(CAST(ry * ry AS DECIMAL(38,18)))::DOUBLE AS syy
              FROM b GROUP BY source)
            SELECT source, n::BIGINT AS n,
              round(CASE WHEN (sxx/n - (sx/n)*(sx/n)) > 0
                THEN (sxy/n - (sx/n)*(sy/n)) / (sxx/n - (sx/n)*(sx/n)) END, 6) AS slope,
              round(CASE WHEN (sxx/n - (sx/n)*(sx/n)) > 0
                THEN (sy/n) - ((sxy/n - (sx/n)*(sy/n)) / (sxx/n - (sx/n)*(sx/n))) * (sx/n) END, 6) AS intercept,
              round(CASE WHEN (sxx/n - (sx/n)*(sx/n)) > 0 AND (syy/n - (sy/n)*(sy/n)) > 0
                THEN ((sxy/n - (sx/n)*(sy/n)) * (sxy/n - (sx/n)*(sy/n)))
                     / ((sxx/n - (sx/n)*(sx/n)) * (syy/n - (sy/n)*(sy/n))) END, 6) AS r2
            FROM m
        """,
        # mirrors q_source_drift: per-source decimal token means,
        # cross-source mean/sd in the same op order
        "source_drift": f"""
            WITH per AS (
              SELECT source, count(*)::BIGINT AS n_docs,
                sum(CAST(len({_WORDS}) AS DECIMAL(38,18)))::DOUBLE / count(*) AS m
              FROM documents GROUP BY source),
            g AS (
              SELECT
                sum(CAST(m AS DECIMAL(38,18)))::DOUBLE / count(*) AS gm,
                sum(CAST(m * m AS DECIMAL(38,18)))::DOUBLE / count(*) AS gm2
              FROM per)
            SELECT source, n_docs,
              round(m, 6) AS mean_tokens,
              round(gm, 6) AS global_mean,
              round(CASE WHEN sqrt(gm2 - gm * gm) > 0
                    THEN (m - gm) / sqrt(gm2 - gm * gm) ELSE 0.0 END, 6) AS z
            FROM per, g
        """,
        # mirrors q_quality_regression / operators/stats.py: decimal
        # moment sums, fixed-order double closing arithmetic, scoring
        # with the ROUNDED published coefficients
        "quality_regression": f"""
            WITH b AS (
              SELECT doc_id,
                round(ln(len({_WORDS})::DOUBLE), 6) AS x,
                round(len(list_distinct({_WORDS})) * 1.0 / len({_WORDS}), 6) AS y,
                ln(len({_WORDS})::DOUBLE) AS rx,
                len(list_distinct({_WORDS})) * 1.0 / len({_WORDS}) AS ry
              FROM documents),
            m AS (
              SELECT count(*)::DOUBLE AS n,
                sum(CAST(rx AS DECIMAL(38,18)))::DOUBLE AS sx,
                sum(CAST(ry AS DECIMAL(38,18)))::DOUBLE AS sy,
                sum(CAST(rx * rx AS DECIMAL(38,18)))::DOUBLE AS sxx,
                sum(CAST(rx * ry AS DECIMAL(38,18)))::DOUBLE AS sxy,
                sum(CAST(ry * ry AS DECIMAL(38,18)))::DOUBLE AS syy
              FROM b),
            fit AS (
              SELECT
                round((sxy/n - (sx/n)*(sy/n)) / (sxx/n - (sx/n)*(sx/n)), 6) AS slope,
                round((sy/n) - ((sxy/n - (sx/n)*(sy/n)) / (sxx/n - (sx/n)*(sx/n))) * (sx/n), 6) AS intercept,
                round(sqrt((syy/n - (sy/n)*(sy/n))
                  * (1.0 - ((sxy/n - (sx/n)*(sy/n)) * (sxy/n - (sx/n)*(sy/n)))
                      / ((sxx/n - (sx/n)*(sx/n)) * (syy/n - (sy/n)*(sy/n))))), 6) AS resid_sd
              FROM m)
            SELECT doc_id, x, y,
              round(y - (intercept + slope * x), 6) AS resid,
              round(CASE WHEN resid_sd > 0
                    THEN (y - (intercept + slope * x)) / resid_sd
                    ELSE 0.0 END, 6) AS z,
              (abs(round(CASE WHEN resid_sd > 0
                    THEN (y - (intercept + slope * x)) / resid_sd
                    ELSE 0.0 END, 6)) > 2.0) AS outlier
            FROM b, fit
        """,
        # mirrors q_dedup_crosscheck: the shared Jaccard-pairs CTE +
        # per-pair embedding cosine and the 0.35 agreement flag
        "dedup_crosscheck": f"""
            WITH {_PAIRS_CTE}
            SELECT p.a_id, p.b_id, p.jacc AS jaccard,
              round({_COS.format(a='ea.embedding', b='eb.embedding')}, 6) AS cosine,
              (round({_COS.format(a='ea.embedding', b='eb.embedding')}, 6) >= 0.35) AS embedding_agrees
            FROM pairs p
            JOIN embeddings ea ON ea.vec_id = p.a_id
            JOIN embeddings eb ON eb.vec_id = p.b_id
        """,
        # mirrors q_event_conversions: purchases by the same user in
        # (click_ts, click_ts + 300s], aggregated per click; clicks
        # without conversions keep a 0/NULL row
        "event_conversions": """
            WITH clicks AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'click'),
            buys AS (
              SELECT user_id, ts, value FROM events
              WHERE event_type = 'purchase'),
            prs AS (
              SELECT c.event_id, b.ts AS bts, b.value
              FROM clicks c JOIN buys b
                ON c.user_id = b.user_id
               AND epoch_us(b.ts) > epoch_us(c.ts)
               AND epoch_us(b.ts) <= epoch_us(c.ts) + 300000000),
            agg AS (
              SELECT event_id, count(*)::BIGINT AS n_conversions,
                min(epoch_us(bts)) AS first_conversion_us,
                round(sum(CAST(value AS DECIMAL(18,4))), 6)::DOUBLE AS conv_value
              FROM prs GROUP BY event_id)
            SELECT c.event_id, c.user_id,
              coalesce(a.n_conversions, 0) AS n_conversions,
              a.first_conversion_us, a.conv_value
            FROM clicks c LEFT JOIN agg a ON a.event_id = c.event_id
        """,
        # mirrors similarity.embedding_dim_stats: decimal-exact sums,
        # double division, E[x^2] - mean^2 in the same op order
        "embedding_stats": """
            WITH ex AS (
              SELECT i - 1 AS dim, embedding[i]::DOUBLE AS x
              FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i))
            SELECT dim::BIGINT AS dim, count(*)::BIGINT AS n,
              round(sum(CAST(x AS DECIMAL(38,18)))::DOUBLE / count(*), 6) AS mean,
              round(sum(CAST(x * x AS DECIMAL(38,18)))::DOUBLE / count(*)
                    - (sum(CAST(x AS DECIMAL(38,18)))::DOUBLE / count(*))
                      * (sum(CAST(x AS DECIMAL(38,18)))::DOUBLE / count(*)),
                    6) AS variance
            FROM ex GROUP BY dim
        """,
        # mirrors similarity.normalize_embeddings: sequential-fold
        # sum of squares, per-element double division, rounded 6;
        # exploded to scalar (vec_id, dim, value, norm) rows because
        # the driver canon cannot sort array cells
        "normalize_embeddings": """
            WITH s AS (
              SELECT vec_id, embedding,
                list_reduce(list_prepend(0.0::DOUBLE,
                    list_transform(range(1, len(embedding) + 1),
                        i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)),
                    (x, y) -> x + y) AS sq
              FROM embeddings)
            SELECT vec_id, (i - 1)::BIGINT AS dim,
              CASE WHEN sqrt(sq) > 0
                THEN round(embedding[i]::DOUBLE / sqrt(sq), 6)
                ELSE embedding[i]::DOUBLE
              END AS value,
              round(sqrt(sq), 6) AS norm
            FROM s, unnest(range(1, len(embedding) + 1)) AS t(i)
        """,
        # mirrors similarity.centroid_distances: per-(label, dim)
        # decimal-mean centroid, decimal-exact squared-diff sum
        "embedding_outliers": """
            WITH ex AS (
              SELECT vec_id, label, i - 1 AS dim, embedding[i]::DOUBLE AS x
              FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
            cent AS (
              SELECT label, dim,
                sum(CAST(x AS DECIMAL(38,18)))::DOUBLE / count(*) AS mu
              FROM ex GROUP BY label, dim)
            SELECT e.vec_id, e.label,
              round(sqrt(sum(CAST((e.x - c.mu) * (e.x - c.mu) AS DECIMAL(38,18)))::DOUBLE), 6)
                AS centroid_dist
            FROM ex e JOIN cent c ON c.label = e.label AND c.dim = e.dim
            GROUP BY e.vec_id, e.label
        """,
        # mirrors q_cohort_retention
        "cohort_retention": """
            WITH d AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
            f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id)
            SELECT f.cohort_day,
              date_diff('day', f.cohort_day, d.day)::BIGINT AS day_offset,
              count(*)::BIGINT AS n_users
            FROM d JOIN f ON d.user_id = f.user_id
            GROUP BY 1, 2
        """,
        # mirrors q_funnel_stages: strictly-ordered stage times
        "funnel_stages": """
            WITH s AS (
              SELECT user_id, min(ts) AS s_ts FROM events
              WHERE event_type = 'signup' GROUP BY user_id),
            c AS (
              SELECT e.user_id, min(e.ts) AS c_ts
              FROM events e JOIN s ON s.user_id = e.user_id
              WHERE e.event_type = 'click' AND e.ts > s.s_ts
              GROUP BY e.user_id),
            p AS (
              SELECT e.user_id, min(e.ts) AS p_ts
              FROM events e JOIN c ON c.user_id = e.user_id
              WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
              GROUP BY e.user_id)
            SELECT (SELECT count(*) FROM s)::BIGINT AS n_signup,
                   (SELECT count(*) FROM c)::BIGINT AS n_click_after_signup,
                   (SELECT count(*) FROM p)::BIGINT AS n_purchase_after_click
        """,
        # mirrors textops.bigram_logprob: add-one-smoothed bigram LM,
        # decimal transition sums
        "text_bigram_logprob": f"""
            WITH w AS (SELECT doc_id, {_WORDS} AS ws FROM documents),
            tr AS (
              SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
              FROM w, unnest(range(1, len(ws))) AS t(i)
              WHERE len(ws) >= 2),
            ex AS (SELECT unnest(ws) AS tok FROM w),
            uni AS (SELECT tok AS w, count(*) AS cu FROM ex GROUP BY tok),
            v AS (SELECT count(*)::DOUBLE AS vv FROM uni),
            bg AS (SELECT w1, w2, count(*) AS cb FROM tr GROUP BY w1, w2)
            SELECT t.doc_id, count(*)::BIGINT AS n_transitions,
              round(sum(CAST(ln((b.cb + 1.0) / (u.cu + v.vv)) AS DECIMAL(38,18)))::DOUBLE
                    / count(*), 6) AS avg_logprob
            FROM tr t
            JOIN bg b ON b.w1 = t.w1 AND b.w2 = t.w2
            JOIN uni u ON u.w = t.w1, v
            GROUP BY t.doc_id
        """,
        # mirrors textops.dup_ngram_fraction(k=5, min_docs=2)
        "text_dup_ngrams": f"""
            WITH sh AS (SELECT doc_id, {_shingles_sql(5)} AS shingles FROM documents),
            ex AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
            dfq AS (SELECT g, count(*) AS nd FROM ex GROUP BY g),
            j AS (SELECT e.doc_id, d.nd FROM ex e JOIN dfq d ON d.g = e.g)
            SELECT doc_id, count(*)::BIGINT AS n_grams,
              sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_grams,
              round(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
                AS dup_frac
            FROM j GROUP BY doc_id
        """,
        # mirrors textops.build_vocab(top_k=200)
        "vocab_coverage": f"""
            WITH toks AS (SELECT unnest({_WORDS}) AS token FROM documents),
            freq AS (SELECT token, count(*) AS n FROM toks GROUP BY token),
            tot AS (SELECT count(*) AS t FROM toks),
            head AS (
              SELECT token, n FROM freq
              ORDER BY n DESC, token ASC LIMIT 200)
            SELECT token, n::BIGINT AS n,
              row_number() OVER (ORDER BY n DESC, token ASC) AS rank,
              round(sum(n) OVER (ORDER BY n DESC, token ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    * 1.0 / t, 6) AS cum_coverage
            FROM head, tot
        """,
        # mirrors operators/dedup.py incremental_jaccard_matches: the
        # doc_id % 4 == 0 slice plays the arriving batch, best corpus
        # match per new doc, ties by lowest corpus id
        "dedup_incremental": f"""
            WITH newb AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
            corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0),
            shn AS (SELECT doc_id, {_SHINGLES} AS shingles FROM newb),
            shc AS (SELECT doc_id, {_SHINGLES} AS shingles FROM corp),
            exn AS (SELECT doc_id, unnest(shingles) AS s FROM shn),
            exc AS (SELECT doc_id, unnest(shingles) AS s FROM shc),
            -- max_shingle_freq=1000 (the Spark default): shingles whose
            -- CORPUS frequency exceeds the cap leave BOTH sides of the
            -- intersection join; doc shingle-set sizes stay uncapped
            freqok AS (SELECT s FROM exc GROUP BY s HAVING count(*) <= 1000),
            exn2 AS (SELECT exn.doc_id, exn.s FROM exn JOIN freqok USING (s)),
            exc2 AS (SELECT exc.doc_id, exc.s FROM exc JOIN freqok USING (s)),
            szn AS (SELECT doc_id, len(shingles) AS n FROM shn),
            szc AS (SELECT doc_id, len(shingles) AS n FROM shc),
            inter AS (
              SELECT n.doc_id AS new_id, c.doc_id AS corpus_id, count(*) AS i
              FROM exn2 n JOIN exc2 c ON n.s = c.s GROUP BY 1, 2),
            j AS (
              SELECT new_id, corpus_id, i * 1.0 / (sn.n + sc.n - i) AS jac
              FROM inter
              JOIN szn sn ON sn.doc_id = new_id
              JOIN szc sc ON sc.doc_id = corpus_id
              WHERE i * 1.0 / (sn.n + sc.n - i) >= 0.5),
            r AS (
              SELECT *, row_number() OVER (
                PARTITION BY new_id ORDER BY jac DESC, corpus_id) AS rn
              FROM j)
            SELECT new_id, corpus_id, round(jac, 6) AS jaccard FROM r WHERE rn = 1
        """,
        # mirrors dedup.incremental_minhash_matches with the poly
        # family: corpus signatures precomputed, batch band-joins in,
        # exact-jaccard verify, best match per new doc
        "dedup_incremental_minhash": f"""
            WITH newb AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
            corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0),
            shn AS (SELECT doc_id, {_SHINGLES} AS shingles FROM newb),
            shc AS (SELECT doc_id, {_SHINGLES} AS shingles FROM corp),
            hsn AS (
              SELECT doc_id, shingles,
                list_transform(shingles, s -> {_poly_sql('s', 31, 0, 1_000_000_007)}) AS h1,
                list_transform(shingles, s -> {_poly_sql('s', 37, 7, 1_000_000_007)}) AS h2
              FROM shn),
            hsc AS (
              SELECT doc_id, shingles,
                list_transform(shingles, s -> {_poly_sql('s', 31, 0, 1_000_000_007)}) AS h1,
                list_transform(shingles, s -> {_poly_sql('s', 37, 7, 1_000_000_007)}) AS h2
              FROM shc),
            sign AS (SELECT doc_id, [{_MH_SIGS}] AS sig FROM hsn),
            sigc AS (SELECT doc_id, [{_MH_SIGS}] AS sig FROM hsc),
            bn AS (
              SELECT doc_id, b.band,
                array_to_string(sig[b.band*4+1 : b.band*4+4], ',') AS key
              FROM sign, (SELECT unnest(range(0, 32)) AS band) b),
            bc AS (
              SELECT doc_id, b.band,
                array_to_string(sig[b.band*4+1 : b.band*4+4], ',') AS key
              FROM sigc, (SELECT unnest(range(0, 32)) AS band) b),
            -- max_band_freq=1000 (the Spark default): CORPUS band
            -- buckets larger than the cap are dropped before candidates
            bcok AS (SELECT band, key FROM bc
                     GROUP BY band, key HAVING count(*) <= 1000),
            bc2 AS (SELECT bc.doc_id, bc.band, bc.key
                    FROM bc JOIN bcok USING (band, key)),
            cand AS (
              SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
              FROM bn n JOIN bc2 c
                ON n.band = c.band AND n.key = c.key AND n.doc_id <> c.doc_id),
            j AS (
              SELECT cand.new_id, cand.corpus_id,
                len(list_intersect(sa.shingles, sb.shingles)) * 1.0
                  / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jac
              FROM cand
              JOIN shn sa ON sa.doc_id = cand.new_id
              JOIN shc sb ON sb.doc_id = cand.corpus_id),
            r AS (
              SELECT *, row_number() OVER (
                PARTITION BY new_id ORDER BY jac DESC, corpus_id) AS rn
              FROM j WHERE jac >= 0.5)
            SELECT new_id, corpus_id, round(jac, 6) AS jaccard FROM r WHERE rn = 1
        """,
        # mirrors similarity.quantize_embeddings: scale = max|x|/127,
        # q_i = floor(x/scale + 0.5) — the tie rule native round()
        # disagrees on across engines; floor(+0.5) is IEEE-identical.
        # Exploded to scalar (vec_id, dim, qval, scale) rows because
        # the driver canon cannot sort array cells
        "quantize_embeddings": """
            WITH s AS (
              SELECT vec_id,
                list_transform(embedding, x -> x::DOUBLE) AS v,
                list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0
                  AS scale
              FROM embeddings)
            SELECT vec_id, (i - 1)::BIGINT AS dim,
              CASE WHEN scale = 0 THEN 0
                   ELSE floor(v[i] / scale + 0.5)::INT
              END AS qval,
              round(scale, 6) AS scale
            FROM s, unnest(range(1, len(v) + 1)) AS t(i)
        """,
        # mirrors similarity.semantic_dedup over the seeded (SQL-
        # reproducible) IVF quantizer: assign each vector to its
        # L2-nearest of the 8 lowest-id centroids, drop vectors with a
        # lower-id within-cluster cosine-neighbor at the threshold
        "semantic_dedup": f"""
            WITH cent AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                     embedding AS cv
              FROM embeddings ORDER BY vec_id LIMIT 8),
            assigned AS (
              SELECT e.vec_id, e.embedding AS ev,
                (SELECT c.cid FROM cent c
                 ORDER BY {_L2.format(a="e.embedding", b="c.cv")} ASC, c.cid ASC
                 LIMIT 1) AS cid
              FROM embeddings e),
            dropped AS (
              SELECT DISTINCT b.vec_id
              FROM assigned a JOIN assigned b
                ON a.cid = b.cid AND a.vec_id < b.vec_id
              WHERE {_COS.format(a="a.ev", b="b.ev")} >= 0.42)
            SELECT s.vec_id, s.cid::BIGINT AS cid
            FROM assigned s ANTI JOIN dropped d ON s.vec_id = d.vec_id
        """,
        # semantic_decontaminate: corpus x inlined eval cosines (same
        # sequential fold), max per corpus vector with lowest-eval-id
        # ties, membership decided on the ROUNDED cosine both engines
        "semantic_decontaminate": f"""
            WITH bench AS (
              SELECT vec_id AS bid, embedding AS bv
              FROM embeddings WHERE vec_id < 10),
            corpus AS (
              SELECT vec_id, embedding FROM embeddings
              WHERE vec_id >= 10
                AND list_reduce(list_prepend(0.0::DOUBLE,
                      list_transform(range(1, len(embedding) + 1),
                        i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)),
                      (x, y) -> x + y) > 0),
            scored AS (
              SELECT c.vec_id, b.bid,
                     {_COS.format(a="c.embedding", b="b.bv")} AS cos
              FROM corpus c, bench b),
            best AS (
              SELECT vec_id, bid, cos FROM (
                SELECT vec_id, bid, cos,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, bid ASC) AS rn
                FROM scored)
              WHERE rn = 1)
            SELECT vec_id, bid AS eval_id, round(cos, 6) AS cosine
            FROM best WHERE round(cos, 6) >= 0.3
        """,
        # mirrors decontaminate.contamination_report: distinct word
        # 8-grams per doc (whole-doc fallback under 8 words), hits =
        # grams also present anywhere in the benchmark split
        "decontaminate": f"""
            WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
            corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
            bg AS (SELECT DISTINCT unnest({_shingles_sql(8)}) AS gram FROM bench),
            cg AS (SELECT doc_id, unnest({_shingles_sql(8)}) AS gram FROM corp),
            -- short-benchmark containment: corpus also grams at every
            -- distinct under-n benchmark length (docs with MORE than
            -- L words only — the n-path fallback covers the rest)
            slen AS (SELECT DISTINCT len({_WORDS}) AS L FROM bench
                     WHERE len({_WORDS}) > 0 AND len({_WORDS}) < 8),
            cgx AS (
              SELECT doc_id, unnest(
                CASE WHEN len({_WORDS}) > t.L
                     THEN list_distinct(list_transform(
                            range(1, len({_WORDS}) - t.L + 2),
                            i -> array_to_string(({_WORDS})[i : i + t.L - 1], ' ')))
                     ELSE []::VARCHAR[] END) AS gram
              FROM corp, slen t),
            cga AS (SELECT * FROM cg UNION ALL SELECT * FROM cgx)
            SELECT doc_id, count(*)::BIGINT AS n_hits, min(gram) AS sample_gram
            FROM cga JOIN bg USING (gram)
            GROUP BY doc_id
        """,
        "sample_documents": f"""
            SELECT doc_id, lang, source FROM documents
            WHERE ({_poly_sql('doc_id::VARCHAR', 1103515245, 0, 1_000_000_007, 5381)})
                  % 10000 < 2500
        """,
        # mirrors sampling.weighted_sample: A-ES key ln(u)/w (order-
        # equivalent to u^(1/w) but numerically spread for large
        # weights) with the same hash-derived uniform, rounded 10,
        # ties by doc_id
        "weighted_sample": f"""
            WITH s AS (
              SELECT doc_id, n_chars,
                round(ln(
                  ((({_poly_sql('doc_id::VARCHAR', 1103515245, 0, 1_000_000_007, 5381)}) % 10000) + 1)
                    * 1.0 / 10001)
                  / n_chars::DOUBLE, 10) AS sample_score
              FROM documents WHERE n_chars::DOUBLE > 0)
            SELECT doc_id, n_chars, sample_score FROM s
            ORDER BY sample_score DESC, doc_id ASC LIMIT 50
        """,
        # mirrors sampling.pack_training_sequences(seq_len=256) over
        # word counts: per-source ordered cumsum, floor-division
        # sequence slots, boundary flag
        "pack_sequences": f"""
            WITH t AS (
              SELECT doc_id, source, len({_WORDS}) AS n FROM documents),
            c AS (
              SELECT doc_id, source, n,
                sum(n) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM t WHERE n > 0)
            SELECT source, doc_id,
              (cum - n)::BIGINT AS start_tok,
              cum::BIGINT AS end_tok,
              ((cum - n) // 256)::BIGINT AS seq_id,
              ((cum - 1) // 256)::BIGINT AS end_seq_id,
              ((cum - n) // 256) <> ((cum - 1) // 256) AS spans_boundary
            FROM c
        """,
        # mirrors q_ann_recall: the knn_ivf (2-probe) and
        # knn_bruteforce CTE chains over vec_id < 20 queries, then
        # per-query hit counts against the exact top-5
        "ann_recall": f"""
            WITH cent AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                     embedding AS cv
              FROM embeddings ORDER BY vec_id LIMIT 8),
            q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
            assigned AS (
              SELECT e.vec_id AS neighbor_id, e.embedding AS ev,
                (SELECT c.cid FROM cent c
                 ORDER BY {_L2.format(a="e.embedding", b="c.cv")} ASC, c.cid ASC
                 LIMIT 1) AS cid
              FROM embeddings e),
            probes AS (
              SELECT query_id, qv, cid FROM (
                SELECT q.vec_id AS query_id, q.embedding AS qv, c.cid,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY {_L2.format(a="q.embedding", b="c.cv")} ASC, c.cid ASC) AS pr
                FROM q, cent c) WHERE pr <= 2),
            approx AS (
              SELECT query_id, neighbor_id FROM (
                SELECT p.query_id, a.neighbor_id,
                  row_number() OVER (PARTITION BY p.query_id
                    ORDER BY {_COS.format(a="p.qv", b="a.ev")} DESC, a.neighbor_id ASC)
                    AS rank
                FROM probes p JOIN assigned a ON p.cid = a.cid
                WHERE p.query_id <> a.neighbor_id)
              WHERE rank <= 5),
            exact AS (
              SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY {_COS.format(a="q.embedding", b="c.embedding")} DESC,
                             c.vec_id ASC) AS rank
                FROM q JOIN embeddings c ON q.vec_id <> c.vec_id)
              WHERE rank <= 5),
            hits AS (
              SELECT e.query_id, count(*) AS n
              FROM exact e JOIN approx a
                ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
              GROUP BY e.query_id)
            SELECT q0.query_id,
              coalesce(n, 0)::BIGINT AS n_hits,
              round(coalesce(n, 0) / 5.0, 6) AS recall
            FROM (SELECT DISTINCT query_id FROM exact) q0
            LEFT JOIN hits USING (query_id)
        """,
        # mirrors text.script_profile with the IMPORTED class table
        # (single source of truth): count = len - len(strip(class)),
        # fractions over non-space chars, argmax ties alphabetical
        "script_profile": f"""
            WITH c AS (
              SELECT doc_id,
                length(regexp_replace(text,
                  '[\\x09\\x0A\\x0B\\x0C\\x0D\\x20]', '', 'g')) AS n_nonspace,
                {", ".join(
                    f"length(text) - length(regexp_replace(text, "
                    f"'{_SCRIPT_CLASSES[n]}', '', 'g')) AS c_{n}"
                    for n in sorted(_SCRIPT_CLASSES)
                )}
              FROM documents)
            SELECT doc_id, n_nonspace::BIGINT AS n_nonspace,
              {", ".join(
                  f"CASE WHEN n_nonspace > 0 THEN round(c_{n} * 1.0 / n_nonspace, 6) "
                  f"ELSE 0.0 END AS frac_{n}"
                  for n in sorted(_SCRIPT_CLASSES)
              )},
              CASE WHEN greatest({", ".join("c_" + n for n in sorted(_SCRIPT_CLASSES))}) = 0
                   THEN 'other'
                   {" ".join(
                       f"WHEN c_{n} = greatest({', '.join('c_' + m for m in sorted(_SCRIPT_CLASSES))}) THEN '{n}'"
                       for n in sorted(_SCRIPT_CLASSES)
                   )}
              ELSE 'other'
              END AS dominant_script
            FROM c
        """,
        # mirrors dedup.snapshot_diff over the synthetic next
        # snapshot; hash equality == text equality, so the oracle
        # compares text directly
        "snapshot_diff": """
            WITH oldsnap AS (SELECT doc_id, text FROM documents),
            newsnap AS (
              SELECT doc_id,
                CASE WHEN doc_id % 10 = 0 THEN text || ' v2' ELSE text END AS text
              FROM documents WHERE doc_id % 7 <> 3
              UNION ALL
              SELECT doc_id + 3000000, text FROM documents WHERE doc_id < 50)
            SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
              CASE WHEN o.doc_id IS NULL THEN 'added'
                   WHEN n.doc_id IS NULL THEN 'removed'
                   WHEN o.text IS NOT DISTINCT FROM n.text THEN 'unchanged'
                   ELSE 'changed' END AS status
            FROM oldsnap o FULL OUTER JOIN newsnap n ON o.doc_id = n.doc_id
        """,
        # mirrors text.normalize_text: NFC + control-range strip +
        # whitespace collapse + trim, changed = result <> input
        "normalize_text": r"""
            WITH n AS (
              SELECT doc_id,
                trim(regexp_replace(
                  regexp_replace(
                    regexp_replace(nfc_normalize(text),
                      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
                    '[   -     　]',
                    ' ', 'g'),
                  '\\s+', ' ', 'g')) AS text_norm,
                text
              FROM documents)
            SELECT doc_id, text_norm, (text_norm <> text) AS changed FROM n
        """,
        # mirrors dedup.containment_pairs over the chunk-seeded corpus
        # (documents ∪ 10-word-prefix copies at doc_id+2e6): exact
        # co-shingle intersections, asymmetric containment = i/|Sa|
        # per direction, jaccard riding along
        "containment_pairs": f"""
            WITH docs2 AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 2000000 AS doc_id,
                     array_to_string({_WORDS}[1:10], ' ') AS text
              FROM documents WHERE doc_id % 5 = 0),
            sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM docs2),
            ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
            freqok AS (SELECT s FROM ex0 GROUP BY s HAVING count(*) <= 1000),
            ex AS (SELECT ex0.doc_id, ex0.s FROM ex0 JOIN freqok USING (s)),
            sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
            inter AS (
              SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairsz AS (
              SELECT a_id, b_id, i, sa.n AS na, sb.n AS nb
              FROM inter
              JOIN sz sa ON sa.doc_id = a_id
              JOIN sz sb ON sb.doc_id = b_id),
            u AS (
              SELECT a_id AS contained_id, b_id AS container_id,
                i * 1.0 / na AS c, i * 1.0 / (na + nb - i) AS j
              FROM pairsz
              UNION ALL
              SELECT b_id, a_id, i * 1.0 / nb, i * 1.0 / (na + nb - i)
              FROM pairsz)
            SELECT contained_id, container_id,
              round(c, 6) AS containment, round(j, 6) AS jaccard
            FROM u WHERE c >= 0.8
        """,
        # mirrors dedup.minhash_calibration_pairs (poly family): the
        # dedup_minhash_lsh signature/band/candidate chain INCLUDING
        # the max_band_freq=1000 hot-bucket cap, then slot agreement
        # / 128 vs exact shingle Jaccard, no threshold
        "minhash_calibration": f"""
            WITH sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM documents),
            hs AS (
              SELECT doc_id, shingles,
                list_transform(shingles, s -> {_poly_sql('s', 31, 0, 1_000_000_007)}) AS h1,
                list_transform(shingles, s -> {_poly_sql('s', 37, 7, 1_000_000_007)}) AS h2
              FROM sh),
            sig AS (SELECT doc_id, shingles, [{_MH_SIGS}] AS sig FROM hs),
            banded AS (
              SELECT doc_id, b.band,
                array_to_string(sig[b.band*4+1 : b.band*4+4], ',') AS key
              FROM sig, (SELECT unnest(range(0, 32)) AS band) b),
            bfreq AS (
              SELECT band, key FROM banded
              GROUP BY band, key HAVING count(*) <= 1000),
            bok AS (
              SELECT banded.doc_id, banded.band, banded.key
              FROM banded JOIN bfreq USING (band, key)),
            cand AS (
              SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
              FROM bok a JOIN bok b
                ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
            SELECT c.a_id, c.b_id,
              round(len(list_filter(range(1, 129),
                        t -> sa.sig[t] = sb.sig[t])) / 128.0, 6) AS est_jaccard,
              round(len(list_intersect(sa.shingles, sb.shingles)) * 1.0
                / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6)
                AS jaccard,
              round(abs(len(list_filter(range(1, 129),
                            t -> sa.sig[t] = sb.sig[t])) / 128.0
                - len(list_intersect(sa.shingles, sb.shingles)) * 1.0
                  / len(list_distinct(list_concat(sa.shingles, sb.shingles)))), 6)
                AS abs_err
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.a_id
            JOIN sig sb ON sb.doc_id = c.b_id
        """,
        # mirrors similarity.kmeans_embeddings(8, 2): lowest-id seeds,
        # two rounds of (nearest-L2 assignment, ties lowest cid) ->
        # per-(cid, dim) decimal(38,18) mean (empty cluster keeps its
        # previous centroid — LEFT JOIN + count guard), output is the
        # assignment + sqrt distance under the final centroids
        "kmeans_embeddings": f"""
            WITH e AS (
              SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
              FROM embeddings),
            cent0 AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                     list_transform(embedding, x -> x::DOUBLE) AS cv
              FROM embeddings ORDER BY vec_id LIMIT 8),
            a1 AS (
              SELECT e.vec_id, e.v,
                (SELECT c.cid FROM cent0 c
                 ORDER BY {_L2.format(a="e.v", b="c.cv")} ASC, c.cid ASC
                 LIMIT 1) AS cid
              FROM e),
            x1 AS (
              SELECT cid, i - 1 AS pos, v[i] AS x
              FROM a1, unnest(range(1, len(v) + 1)) AS t(i)),
            m1 AS (
              SELECT cid, pos,
                sum(CAST(x AS DECIMAL(38,18)))::DOUBLE / count(*) AS m
              FROM x1 GROUP BY cid, pos),
            cent1 AS (
              SELECT c0.cid,
                CASE WHEN count(m.pos) = 0 THEN any_value(c0.cv)
                     ELSE list(m.m ORDER BY m.pos) END AS cv
              FROM cent0 c0 LEFT JOIN m1 m ON m.cid = c0.cid
              GROUP BY c0.cid),
            a2 AS (
              SELECT e.vec_id, e.v,
                (SELECT c.cid FROM cent1 c
                 ORDER BY {_L2.format(a="e.v", b="c.cv")} ASC, c.cid ASC
                 LIMIT 1) AS cid
              FROM e),
            x2 AS (
              SELECT cid, i - 1 AS pos, v[i] AS x
              FROM a2, unnest(range(1, len(v) + 1)) AS t(i)),
            m2 AS (
              SELECT cid, pos,
                sum(CAST(x AS DECIMAL(38,18)))::DOUBLE / count(*) AS m
              FROM x2 GROUP BY cid, pos),
            cent2 AS (
              SELECT c1.cid,
                CASE WHEN count(m.pos) = 0 THEN any_value(c1.cv)
                     ELSE list(m.m ORDER BY m.pos) END AS cv
              FROM cent1 c1 LEFT JOIN m2 m ON m.cid = c1.cid
              GROUP BY c1.cid)
            SELECT e.vec_id,
              (SELECT c.cid FROM cent2 c
               ORDER BY {_L2.format(a="e.v", b="c.cv")} ASC, c.cid ASC
               LIMIT 1)::BIGINT AS cid,
              round(sqrt((SELECT min({_L2.format(a="e.v", b="c.cv")})
                          FROM cent2 c)), 6) AS dist
            FROM e
        """,
        # mirrors text.zipf_profile: build_vocab's top-50 head, ln
        # rank/freq points, linear_fit's decimal-moment OLS arithmetic
        # in the same op order, the one-row fit joined back onto rows
        "zipf_profile": f"""
            WITH toks AS (SELECT unnest({_WORDS}) AS token FROM documents),
            freq AS (SELECT token, count(*) AS n FROM toks GROUP BY token),
            head AS (
              SELECT token, n,
                row_number() OVER (ORDER BY n DESC, token ASC) AS rank
              FROM freq ORDER BY n DESC, token ASC LIMIT 50),
            pts AS (
              SELECT token, n, rank,
                ln(rank::DOUBLE) AS lr, ln(n::DOUBLE) AS lf
              FROM head),
            m AS (
              SELECT count(*)::DOUBLE AS cnt,
                sum(CAST(lr AS DECIMAL(38,18)))::DOUBLE AS sx,
                sum(CAST(lf AS DECIMAL(38,18)))::DOUBLE AS sy,
                sum(CAST(lr * lr AS DECIMAL(38,18)))::DOUBLE AS sxx,
                sum(CAST(lr * lf AS DECIMAL(38,18)))::DOUBLE AS sxy,
                sum(CAST(lf * lf AS DECIMAL(38,18)))::DOUBLE AS syy
              FROM pts),
            fit AS (
              SELECT
                round((sxy/cnt - (sx/cnt)*(sy/cnt))
                      / (sxx/cnt - (sx/cnt)*(sx/cnt)), 6) AS zipf_slope,
                round((sy/cnt) - ((sxy/cnt - (sx/cnt)*(sy/cnt))
                      / (sxx/cnt - (sx/cnt)*(sx/cnt))) * (sx/cnt), 6)
                  AS zipf_intercept,
                round(((sxy/cnt - (sx/cnt)*(sy/cnt))
                       * (sxy/cnt - (sx/cnt)*(sy/cnt)))
                      / ((sxx/cnt - (sx/cnt)*(sx/cnt))
                         * (syy/cnt - (sy/cnt)*(sy/cnt))), 6) AS zipf_r2
              FROM m)
            SELECT rank::BIGINT AS rank, token, n::BIGINT AS freq,
              round(lr, 6) AS log_rank, round(lf, 6) AS log_freq,
              zipf_slope, zipf_intercept, zipf_r2
            FROM pts, fit
        """,
        # mirrors dedup.cluster_size_histogram over the SHARED
        # pairs->components CTE (dedup_clusters' oracle): cluster
        # sizes, then the size distribution
        "cluster_size_histogram": f"""
            WITH RECURSIVE {_CLUSTERS_CTE},
            sizes AS (
              SELECT cluster_id, count(*) AS size FROM clus GROUP BY cluster_id)
            SELECT size::BIGINT AS size, count(*)::BIGINT AS n_clusters,
              (size * count(*))::BIGINT AS n_docs
            FROM sizes GROUP BY size
        """,
        # mirrors stats.length_histogram: integer bit-length buckets
        # (length(bin(v)) - 1 — float log2 flips at powers of two),
        # within-source pct over the group-bucket aggregate
        "length_histogram": """
            WITH b AS (
              SELECT source, (length(bin(n_chars)) - 1)::BIGINT AS bucket
              FROM documents WHERE n_chars > 0)
            SELECT source, bucket,
              (1::BIGINT << bucket) AS lo,
              ((1::BIGINT << (bucket + 1)) - 1) AS hi,
              count(*)::BIGINT AS n_docs,
              round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY source), 6)
                AS pct
            FROM b GROUP BY source, bucket
        """,
        # mirrors sampling.chunk_documents(max_tokens=24, overlap=8):
        # starts stride by 16 up to max(n_words - 8, 1); DuckDB list
        # slicing is 1-based inclusive and clamps, same as F.slice
        "chunk_documents": f"""
            WITH w AS (SELECT doc_id, {_WORDS} AS ws FROM documents),
            ex AS (
              SELECT doc_id, ws,
                t.s AS start,
                (row_number() OVER (PARTITION BY doc_id ORDER BY t.s) - 1) AS chunk_idx
              FROM w, LATERAL (
                SELECT unnest(range(1, greatest(len(ws) - 8, 1) + 1, 16)) AS s) t)
            SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
                   array_to_string(ws[start : start + 23], ' ') AS chunk_text,
                   len(ws[start : start + 23])::BIGINT AS n_tokens
            FROM ex
        """,
        "token_budget_pack": f"""
            -- ::BIGINT casts: DuckDB types sum(BIGINT) as HUGEINT, whose
            -- driver-side stringification differs from Spark's long
            SELECT doc_id, source, n_tokens::BIGINT AS n_tokens,
                   cum_tokens::BIGINT AS cum_tokens FROM (
              SELECT doc_id, source, len({_WORDS}) AS n_tokens,
                sum(len({_WORDS})) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING) AS cum_tokens
              FROM documents)
            WHERE cum_tokens <= 800
        """,
        "source_mixture": f"""
            -- n_tokens ::BIGINT: DuckDB sum(BIGINT) -> HUGEINT, whose
            -- stringification differs from Spark's long.  The normalizer
            -- sums per-source doubles as DECIMAL(38,18) so the total is
            -- exact and associative (partition/engine order can't drift
            -- it by an ulp and flip round(weight, 6) at a tie).
            WITH per AS (
              SELECT source, count(*) AS n_docs,
                     sum(len({_WORDS}))::BIGINT AS n_tokens
              FROM documents GROUP BY source),
            sc AS (SELECT *, sqrt(n_tokens::DOUBLE) AS scaled FROM per),
            tot AS (SELECT sum(scaled::DECIMAL(38,18)) AS total_scaled FROM sc)
            SELECT source, n_docs, n_tokens,
                   round(scaled / total_scaled::DOUBLE, 6) AS weight
            FROM sc, tot
        """,
        # mirrors sampling.apply_mixture over the source_mixture
        # weights: budget B = min(tokens/weight), per-source rate =
        # min(1, weight*B/tokens), keep rows whose sampling-hash
        # bucket < floor(rate*10000). All-double IEEE arithmetic from
        # the 6-decimal rounded weight, identical in both engines.
        "apply_mixture": f"""
            WITH per AS (
              SELECT source, sum(len({_WORDS}))::BIGINT AS n_tokens
              FROM documents GROUP BY source),
            sc AS (SELECT *, sqrt(n_tokens::DOUBLE) AS scaled FROM per),
            tot AS (SELECT sum(scaled::DECIMAL(38,18)) AS total_scaled FROM sc),
            w AS (
              SELECT source, n_tokens::DOUBLE AS t,
                     round(scaled / total_scaled::DOUBLE, 6) AS wt
              FROM sc, tot),
            b AS (SELECT min(t / wt) AS budget FROM w),
            r AS (
              SELECT source, least(wt * budget / t, 1.0) AS rate
              FROM w, b)
            SELECT d.doc_id, d.source
            FROM documents d JOIN r ON d.source = r.source
            WHERE ({_poly_sql('d.doc_id::VARCHAR', 1103515245, 0, 1_000_000_007, 5381)})
                  % 10000 < floor(r.rate * 10000.0 + 1e-6)
        """,
        "source_token_profile": f"""
            -- ::BIGINT: DuckDB sums/counts to HUGEINT; quantile_cont's
            -- linear interpolation matches Spark's exact percentile
            -- repr-for-repr (both sort + interpolate in doubles)
            SELECT source,
                   count(*)::BIGINT AS n_docs,
                   sum(len({_WORDS}))::BIGINT AS total_tokens,
                   quantile_cont(len({_WORDS}), 0.5) AS p50_tokens,
                   quantile_cont(len({_WORDS}), 0.9) AS p90_tokens,
                   quantile_cont(len({_WORDS}), 0.95) AS p95_tokens,
                   max(len({_WORDS}))::BIGINT AS max_tokens
            FROM documents GROUP BY source
        """,
        "select_training_set": f"""
            WITH RECURSIVE sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM documents),
            ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
            sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
            inter AS (
              SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            prs AS (
              SELECT a_id, b_id FROM inter
              JOIN sz sa ON sa.doc_id = a_id
              JOIN sz sb ON sb.doc_id = b_id
              WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5),
            edges AS (
              SELECT a_id AS src, b_id AS dst FROM prs
              UNION ALL SELECT b_id, a_id FROM prs),
            reach(id, r) AS (
              SELECT DISTINCT src, src FROM edges
              UNION
              SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
            losers AS (
              SELECT id AS doc_id FROM reach GROUP BY id HAVING min(r) <> id),
            quality AS (
              SELECT doc_id,
                round(0.4 * least(len({wl}) / 32.0, 1.0)
                    + 0.3 * (len(list_distinct({wl})) * 1.0 / len({wl}))
                    + 0.3 * least(len(list_filter({wl}, t -> t IN ({_EN_STOP_SQL}))) * 1.0 / len({wl}) * 4.0, 1.0),
                  6) AS quality
              FROM documents)
            SELECT d.doc_id, d.source, q.quality
            FROM documents d
            JOIN quality q ON q.doc_id = d.doc_id
            WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
              AND q.quality >= 0.55
              AND ({_poly_sql('d.doc_id::VARCHAR', 1103515245, 0, 1_000_000_007, 5381)})
                  % 10000 < 5000
        """,
        "pii_scrub": """
            WITH t AS (
              SELECT doc_id,
                text || ' contact user' || doc_id::VARCHAR
                     || '@example.com at 10.0.0.1 or 555-123-4567' AS text
              FROM documents)
            SELECT doc_id,
              regexp_replace(
                regexp_replace(
                  regexp_replace(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
                '\\b\\d{3}[- ]\\d{3}[- ]\\d{4}\\b', '<PHONE>', 'g') AS clean_text,
              len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
              len(regexp_extract_all(text,
                '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ipv4,
              len(regexp_extract_all(text,
                '\\b\\d{3}[- ]\\d{3}[- ]\\d{4}\\b')) AS n_phone
            FROM t
        """,
        # IVF, approximate path: the oracle reproduces the ENTIRE
        # pipeline — lowest-id seed centroids, L2 argmin assignment
        # (ties to lowest cid), top-2 probe selection, in-bucket exact
        # cosine, rank — with identical sequential-fold arithmetic
        "knn_ivf": f"""
            WITH cent AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                     embedding AS cv
              FROM embeddings ORDER BY vec_id LIMIT 8
            ),
            q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3),
            assigned AS (
              SELECT e.vec_id AS neighbor_id, e.embedding AS ev,
                (SELECT c.cid FROM cent c
                 ORDER BY {_L2.format(a="e.embedding", b="c.cv")} ASC, c.cid ASC
                 LIMIT 1) AS cid
              FROM embeddings e
            ),
            probes AS (
              SELECT query_id, qv, cid FROM (
                SELECT q.vec_id AS query_id, q.embedding AS qv, c.cid,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY {_L2.format(a="q.embedding", b="c.cv")} ASC, c.cid ASC) AS pr
                FROM q, cent c) WHERE pr <= 2
            ),
            scored AS (
              SELECT p.query_id, a.neighbor_id,
                     {_COS.format(a="p.qv", b="a.ev")} AS score
              FROM probes p JOIN assigned a ON p.cid = a.cid
              WHERE p.query_id <> a.neighbor_id
            )
            SELECT query_id, neighbor_id, round(score, 6) AS score, rank
            FROM (
              SELECT query_id, neighbor_id, score,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id ASC) AS rank
              FROM scored)
            WHERE rank <= 5
        """,
        # MinHash-LSH, poly family: the oracle rebuilds all 128
        # signatures, the 32 band keys, the candidate self-join, the
        # bucket set and the exact-Jaccard verification
        "dedup_minhash_lsh": f"""
            WITH sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM documents),
            hs AS (
              SELECT doc_id, shingles,
                list_transform(shingles, s -> {_poly_sql('s', 31, 0, 1_000_000_007)}) AS h1,
                list_transform(shingles, s -> {_poly_sql('s', 37, 7, 1_000_000_007)}) AS h2
              FROM sh),
            sig AS (SELECT doc_id, [{_MH_SIGS}] AS sig FROM hs),
            banded AS (
              SELECT doc_id, b.band,
                array_to_string(sig[b.band*4+1 : b.band*4+4], ',') AS key
              FROM sig, (SELECT unnest(range(0, 32)) AS band) b),
            cand AS (
              SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
            j AS (
              SELECT c.a_id, c.b_id,
                len(list_intersect(sa.shingles, sb.shingles)) * 1.0
                  / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
              FROM cand c
              JOIN sh sa ON sa.doc_id = c.a_id
              JOIN sh sb ON sb.doc_id = c.b_id)
            SELECT a_id, b_id, round(jaccard, 6) AS jaccard
            FROM j WHERE jaccard >= 0.5
        """,
        # SimHash, 60-bit poly family: signatures + 4x15-bit chunk
        # blocking + hamming, all reproduced
        "dedup_simhash": f"""
            WITH t AS (SELECT doc_id, {_WORDS.replace('text', 'lower(text)')} AS w FROM documents),
            hs AS (
              SELECT doc_id,
                list_transform(w, tk -> {_poly_sql('tk', 1103515245, 0, 1 << 30, 5381)}) AS h1,
                list_transform(w, tk -> {_poly_sql('tk', 1588635695, 1, 1 << 30, 7919)}) AS h2
              FROM t),
            sig AS (SELECT doc_id, ({_simhash_sig_sql()}) AS sig FROM hs),
            chunks AS (
              SELECT doc_id, sig, c.ci,
                (sig // (CASE c.ci WHEN 0 THEN 1 WHEN 1 THEN 32768
                         WHEN 2 THEN 1073741824 ELSE 35184372088832 END)) % 32768 AS cv
              FROM sig, (SELECT unnest(range(0, 4)) AS ci) c),
            cand AS (
              SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                     a.sig AS siga, b.sig AS sigb
              FROM chunks a JOIN chunks b
                ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id)
            SELECT a_id, b_id, bit_count(xor(siga, sigb)) AS hamming
            FROM cand WHERE bit_count(xor(siga, sigb)) <= 3
        """,
        # hyperplane LSH, LCG plane family: buckets + multi-probe
        # (radius 1) + in-bucket cosine + rank, all reproduced
        "kcenter_select": f"""
            WITH {_kcenter_ctes(6)}
            SELECT * FROM (
              SELECT 1 AS rank, vec_id, 0.0 AS dist FROM s0\n              UNION ALL SELECT 2 AS rank, vec_id, round(sqrt(dd), 6) AS dist FROM s1\n              UNION ALL SELECT 3 AS rank, vec_id, round(sqrt(dd), 6) AS dist FROM s2\n              UNION ALL SELECT 4 AS rank, vec_id, round(sqrt(dd), 6) AS dist FROM s3\n              UNION ALL SELECT 5 AS rank, vec_id, round(sqrt(dd), 6) AS dist FROM s4\n              UNION ALL SELECT 6 AS rank, vec_id, round(sqrt(dd), 6) AS dist FROM s5
            ) ORDER BY rank
        """,
        "semantic_clusters": f"""
            WITH RECURSIVE {_lsh_refine_ctes()},
            scored AS (
              SELECT p.query_id, s.vec_id AS neighbor_id,
                     {_COS.format(a="p.qv", b="s.embedding")} AS score
              FROM probes p JOIN ref s
                ON p.rb = s.rb AND p.st = s.st
              WHERE p.query_id <> s.vec_id),
            g AS (
              SELECT query_id, neighbor_id, score FROM (
                SELECT query_id, neighbor_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id ASC) AS rank
                FROM scored)
              WHERE rank <= 5 AND round(score, 6) >= 0.3),
            pairs AS (
              SELECT a.query_id AS a_id, a.neighbor_id AS b_id
              FROM g a JOIN g b
                ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
              WHERE a.query_id < a.neighbor_id),
            edges AS (
              SELECT a_id AS src, b_id AS dst FROM pairs
              UNION ALL SELECT b_id, a_id FROM pairs),
            reach(id, r) AS (
              SELECT DISTINCT src, src FROM edges
              UNION
              SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
            clus AS (SELECT id, min(r) AS cid FROM reach GROUP BY id)
            SELECT e.vec_id, coalesce(c.cid, e.vec_id)::BIGINT AS cluster_id
            FROM embeddings e LEFT JOIN clus c ON c.id = e.vec_id
        """,
        "knn_graph": f"""
            WITH {_lsh_refine_ctes()},
            scored AS (
              SELECT p.query_id, s.vec_id AS neighbor_id,
                     {_COS.format(a="p.qv", b="s.embedding")} AS score
              FROM probes p JOIN ref s
                ON p.rb = s.rb AND p.st = s.st
              WHERE p.query_id <> s.vec_id)
            SELECT query_id, neighbor_id, round(score, 6) AS score, rank
            FROM (
              SELECT query_id, neighbor_id, score,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id ASC) AS rank
              FROM scored)
            WHERE rank <= 5
        """,
        "knn_lsh": f"""
            WITH sigged AS (
              SELECT vec_id, embedding,
                     ({_lsh_sig_sql('embedding', 8)}) AS bucket
              FROM embeddings),
            q AS (
              SELECT vec_id AS query_id, embedding AS qv, bucket AS qb
              FROM sigged WHERE vec_id < 3),
            probes AS (
              SELECT query_id, qv,
                unnest([qb, {", ".join(f"xor(qb, {1 << i})" for i in range(8))}]) AS bucket
              FROM q),
            scored AS (
              SELECT p.query_id, s.vec_id AS neighbor_id,
                     {_COS.format(a="p.qv", b="s.embedding")} AS score
              FROM probes p JOIN sigged s ON p.bucket = s.bucket
              WHERE p.query_id <> s.vec_id)
            SELECT query_id, neighbor_id, round(score, 6) AS score, rank
            FROM (
              SELECT query_id, neighbor_id, score,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id ASC) AS rank
              FROM scored)
            WHERE rank <= 5
        """,
        "dedup_embedding": f"""
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   round({_COS.format(a="a.embedding", b="b.embedding")}, 6) AS cosine
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE {_COS.format(a="a.embedding", b="b.embedding")} >= 0.35
        """,
        # knn_ivf_exact: full-probe IVF scores every (query, corpus)
        # pair exactly once -> identical to brute force
        "knn_ivf_exact": f"""
            WITH scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     {_COS.format(a="q.embedding", b="c.embedding")} AS score
              FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              WHERE q.vec_id < 3),
            ranked AS (
              SELECT query_id, neighbor_id, score,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id ASC) AS rank
              FROM scored)
            SELECT query_id, neighbor_id, round(score, 6) AS score, rank
            FROM ranked WHERE rank <= 5
        """,
        "knn_bruteforce": f"""
            WITH scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     {_COS.format(a="q.embedding", b="c.embedding")} AS score
              FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              WHERE q.vec_id < 3),
            ranked AS (
              SELECT query_id, neighbor_id, score,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id ASC) AS rank
              FROM scored)
            SELECT query_id, neighbor_id, round(score, 6) AS score, rank
            FROM ranked WHERE rank <= 5
        """,
        # mirrors q_knn_quantized: quantize -> dequantize with the
        # ROUNDED scale (exactly what the Spark entry reads from the
        # quantize output) -> exact cosine top-k
        "knn_quantized": f"""
            WITH s AS (
              SELECT vec_id,
                list_transform(embedding, x -> x::DOUBLE) AS v,
                list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0
                  AS rscale
              FROM embeddings),
            qz AS (
              SELECT vec_id, round(rscale, 6) AS scale,
                CASE WHEN rscale = 0 THEN list_transform(v, x -> 0)
                     ELSE list_transform(v, x -> floor(x / rscale + 0.5)::INT)
                END AS qvec
              FROM s),
            deq AS (
              SELECT vec_id,
                list_transform(qvec, x -> x::DOUBLE * scale) AS embedding
              FROM qz),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     {_COS.format(a="q.embedding", b="c.embedding")} AS score
              FROM deq q JOIN deq c ON q.vec_id <> c.vec_id
              WHERE q.vec_id < 3),
            ranked AS (
              SELECT query_id, neighbor_id, score,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id ASC) AS rank
              FROM scored)
            SELECT query_id, neighbor_id, round(score, 6) AS score, rank
            FROM ranked WHERE rank <= 5
        """,
        "text_token_stats": f"""
            SELECT doc_id,
              len({_WORDS}) AS n_tokens,
              len(list_distinct({_WORDS})) AS n_distinct_tokens,
              length(text) AS n_chars,
              strlen(text) AS n_bytes,
              len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+'))
                AS n_regex_tokens,
              CAST(ceil(strlen(text) / 4.0) AS BIGINT) AS n_bpe_est
            FROM documents
        """,
        # mirrors text.unigram_logprob: per-occurrence ln of the
        # token's corpus MLE probability, summed as DECIMAL(38,18) so
        # partition/engine fold order cannot drift round(avg, 6)
        "text_unigram_logprob": f"""
            WITH toks AS (SELECT doc_id, unnest({_WORDS}) AS w FROM documents),
            freq AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
            tot AS (SELECT count(*) AS t FROM toks)
            SELECT doc_id, count(*)::BIGINT AS n_tokens,
              round((sum(ln(c / t::DOUBLE)::DECIMAL(38,18))
                     / count(*))::DOUBLE, 6) AS avg_logprob
            FROM toks JOIN freq USING (w), tot
            GROUP BY doc_id
        """,
        # mirrors text.lm_quality_buckets: the unigram-LM scoring CTE
        # + per-source ntile(3) over (avg_logprob desc, doc_id) —
        # rank-based, so integer-exact cross-engine
        "bpe_merges": f"""
            WITH {_bpe_ctes(6)}
            SELECT * FROM (
              SELECT 1 AS rank, a AS merge_left, b AS merge_right, c::BIGINT AS pair_count FROM best0\n              UNION ALL SELECT 2 AS rank, a AS merge_left, b AS merge_right, c::BIGINT AS pair_count FROM best1\n              UNION ALL SELECT 3 AS rank, a AS merge_left, b AS merge_right, c::BIGINT AS pair_count FROM best2\n              UNION ALL SELECT 4 AS rank, a AS merge_left, b AS merge_right, c::BIGINT AS pair_count FROM best3\n              UNION ALL SELECT 5 AS rank, a AS merge_left, b AS merge_right, c::BIGINT AS pair_count FROM best4\n              UNION ALL SELECT 6 AS rank, a AS merge_left, b AS merge_right, c::BIGINT AS pair_count FROM best5
            ) ORDER BY rank
        """,
        "bpe_token_counts": f"""
            WITH {_bpe_ctes(6)},
            dw AS (
              SELECT doc_id,
                unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                       x -> x <> '')) AS w
              FROM documents),
            per_doc AS (
              SELECT dw.doc_id,
                count(*) AS n_words,
                sum(len(list_filter(string_split(v.s, chr(31)),
                        x -> x <> '')))::BIGINT AS n_bpe
              FROM dw JOIN v6 v ON v.w = dw.w
              GROUP BY dw.doc_id)
            SELECT d.doc_id,
              coalesce(p.n_words, 0)::BIGINT AS n_words,
              coalesce(p.n_bpe, 0)::BIGINT AS n_bpe_tokens
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
        """,
        "dsir_weights": f"""
            WITH {_dsir_ctes()}
            SELECT doc_id, n_feats, log_weight FROM lwf
        """,
        # curriculum_order: ntile stages over (n_chars, doc_id) +
        # seeded poly-hash within-stage shuffle + global row_number —
        # the Spark side computes the SAME values with zero global
        # windows (two grouped_prefix two-level scans + the ntile
        # arithmetic identity)
        "curriculum_order": f"""
            WITH r AS (
              SELECT doc_id,
                ntile(3) OVER (ORDER BY n_chars, doc_id) AS stage
              FROM documents),
            s AS (
              SELECT doc_id, stage,
                ({_poly_sql('doc_id::VARCHAR', 1103515245, 7, 1_000_000_007, 5381)})
                  % 10000 AS b
              FROM r)
            SELECT doc_id, stage::BIGINT AS stage,
              row_number() OVER (ORDER BY stage, b, doc_id)::BIGINT AS position
            FROM s
        """,
        # tokenizer_fertility: the bpe_token_counts per-doc CTEs
        # grouped by language; ratios divide the exact integer sums
        "tokenizer_fertility": f"""
            WITH {_bpe_ctes(6)},
            dw AS (
              SELECT doc_id,
                unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                       x -> x <> '')) AS w
              FROM documents),
            per_doc AS (
              SELECT dw.doc_id,
                count(*) AS n_words,
                sum(len(list_filter(string_split(v.s, chr(31)),
                        x -> x <> '')))::BIGINT AS n_bpe
              FROM dw JOIN v6 v ON v.w = dw.w
              GROUP BY dw.doc_id),
            j AS (
              SELECT d.lang, coalesce(p.n_words, 0)::BIGINT AS w,
                     coalesce(p.n_bpe, 0)::BIGINT AS t,
                     strlen(d.text)::BIGINT AS bts
              FROM documents d LEFT JOIN per_doc p USING (doc_id))
            SELECT lang, count(*)::BIGINT AS n_docs,
              sum(w)::BIGINT AS n_words,
              sum(t)::BIGINT AS n_bpe_tokens,
              sum(bts)::BIGINT AS n_bytes,
              CASE WHEN sum(w) > 0
                   THEN round(sum(t) / sum(w)::DOUBLE, 6) END AS fertility,
              CASE WHEN sum(t) > 0
                   THEN round(sum(bts) / sum(t)::DOUBLE, 6) END AS bytes_per_token
            FROM j GROUP BY lang
        """,
        # repeat_plan / epoch_expand: the source_mixture weight CTEs
        # feed repeat factors f = weight * 200000 / tokens; floor(f +
        # 1e-6) whole copies + a hash-sample at the 6-decimal-rounded
        # fractional rate (the apply_mixture epsilon discipline)
        "repeat_plan": f"""
            WITH per AS (
              SELECT source, sum(len({_WORDS}))::BIGINT AS n_tokens
              FROM documents GROUP BY source),
            sc AS (SELECT *, sqrt(n_tokens::DOUBLE) AS scaled FROM per),
            tot AS (SELECT sum(scaled::DECIMAL(38,18)) AS total_scaled FROM sc),
            w AS (
              SELECT source, n_tokens,
                     round(scaled / total_scaled::DOUBLE, 6) AS weight
              FROM sc, tot),
            fac AS (
              SELECT source, n_tokens, weight,
                     weight * 200000.0 / n_tokens::DOUBLE AS f
              FROM w)
            SELECT source, n_tokens, weight,
              round(f, 6) AS repeat_factor,
              floor(f + 1e-6)::BIGINT AS n_full_copies,
              round(greatest(f - floor(f + 1e-6), 0), 6) AS frac_rate
            FROM fac
        """,
        "epoch_expand": f"""
            WITH per AS (
              SELECT source, sum(len({_WORDS}))::BIGINT AS n_tokens
              FROM documents GROUP BY source),
            sc AS (SELECT *, sqrt(n_tokens::DOUBLE) AS scaled FROM per),
            tot AS (SELECT sum(scaled::DECIMAL(38,18)) AS total_scaled FROM sc),
            w AS (
              SELECT source, n_tokens,
                     round(scaled / total_scaled::DOUBLE, 6) AS weight
              FROM sc, tot),
            p AS (
              SELECT source,
                floor(weight * 200000.0 / n_tokens::DOUBLE + 1e-6)::BIGINT AS nf,
                round(greatest(
                  weight * 200000.0 / n_tokens::DOUBLE
                    - floor(weight * 200000.0 / n_tokens::DOUBLE + 1e-6),
                  0), 6) AS fr
              FROM w),
            x AS (
              SELECT d.doc_id, d.source,
                (p.nf + CASE WHEN ({_poly_sql('d.doc_id::VARCHAR', 1103515245, 11, 1_000_000_007, 5381)})
                             % 10000 < floor(p.fr * 10000.0 + 1e-6)
                        THEN 1 ELSE 0 END) AS n
              FROM documents d JOIN p USING (source))
            SELECT doc_id, source, unnest(range(1, n + 1))::BIGINT AS copy
            FROM x WHERE n >= 1
        """,
        # stratified_sample: exact per-source quota by seeded hash
        # order, ties by doc_id
        "stratified_sample": f"""
            WITH r AS (
              SELECT doc_id, source, lang,
                row_number() OVER (
                  PARTITION BY source
                  ORDER BY ({_poly_sql('doc_id::VARCHAR', 1103515245, 13, 1_000_000_007, 5381)})
                    % 10000 ASC, doc_id ASC) AS rk
              FROM documents)
            SELECT doc_id, source, lang FROM r WHERE rk <= 25
        """,
        # shard_balance: seeded poly-hash shard assignment (seed 3,
        # 8 shards) + per-shard doc/token totals and relative
        # deviation from the cross-shard mean
        "shard_balance": f"""
            WITH a AS (
              SELECT doc_id, len({_WORDS})::BIGINT AS t,
                (({_poly_sql('doc_id::VARCHAR', 1103515245, 3, 1_000_000_007, 5381)})
                  % 10000) % 8 AS shard
              FROM documents),
            per AS (
              SELECT shard, count(*)::BIGINT AS n_docs,
                     sum(t)::BIGINT AS n_tokens
              FROM a GROUP BY shard),
            g AS (SELECT sum(n_tokens)::DOUBLE / count(*) AS m FROM per)
            SELECT shard::BIGINT AS shard, n_docs, n_tokens,
              round(CASE WHEN m > 0 THEN n_tokens / m - 1.0
                         ELSE 0.0 END, 6) AS rel_dev
            FROM per, g
        """,
        # line_dedup: the page construction (5-doc pages + per-source
        # header/footer chrome) is mirrored, then line-level dedup —
        # lines verbatim in >= 2 pages are stripped, body survives in
        # order; string_agg ORDER BY pos == the Spark (pos, line)
        # array_sort reassembly
        "line_dedup": """
            WITH pages AS (
              SELECT source || '#' || (doc_id // 100)::VARCHAR AS page_id,
                '== ' || source || ' ==' || chr(10)
                  || string_agg(text, chr(10) ORDER BY doc_id)
                  || chr(10) || '-- ' || source || ' --' AS text
              FROM documents GROUP BY source, doc_id // 100),
            lines AS (
              SELECT page_id, u.pos, u.line FROM (
                SELECT page_id,
                  unnest(list_transform(range(1, len(ls) + 1),
                    i -> struct_pack(pos := i - 1, line := ls[i]))) AS u
                FROM (SELECT page_id, string_split(text, chr(10)) AS ls
                      FROM pages))),
            hot AS (
              SELECT line FROM lines WHERE trim(line) <> ''
              GROUP BY line HAVING count(DISTINCT page_id) >= 2),
            kept AS (
              SELECT * FROM lines
              WHERE line NOT IN (SELECT line FROM hot)),
            reasm AS (
              SELECT page_id, count(*) AS n_kept,
                     string_agg(line, chr(10) ORDER BY pos) AS text_clean
              FROM kept GROUP BY page_id)
            SELECT p.page_id,
              len(string_split(p.text, chr(10)))::BIGINT AS n_lines,
              (len(string_split(p.text, chr(10)))
                - coalesce(r.n_kept, 0))::BIGINT AS n_removed,
              coalesce(r.text_clean, '') AS text_clean
            FROM pages p LEFT JOIN reasm r USING (page_id)
        """,
        # line_dedup_incremental: batch pages (pg >= 3) against the
        # standing corpus line store (pg < 3, min-page owner); a
        # non-blank batch line survives only in its global first
        # owner (store owner, else batch min page)
        "line_dedup_incremental": """
            WITH pages AS (
              SELECT (doc_id // 100) AS pg,
                source || '#' || (doc_id // 100)::VARCHAR AS page_id,
                '== ' || source || ' ==' || chr(10)
                  || string_agg(text, chr(10) ORDER BY doc_id)
                  || chr(10) || '-- ' || source || ' --' AS text
              FROM documents GROUP BY source, doc_id // 100),
            batch AS (SELECT page_id, text FROM pages WHERE pg >= 3),
            corpus AS (SELECT page_id, text FROM pages WHERE pg < 3),
            store AS (
              SELECT line, min(page_id) AS o_id FROM (
                SELECT page_id, unnest(string_split(text, chr(10))) AS line
                FROM corpus)
              WHERE trim(line) <> '' GROUP BY line),
            lines AS (
              SELECT page_id, u.pos, u.line FROM (
                SELECT page_id,
                  unnest(list_transform(range(1, len(ls) + 1),
                    i -> struct_pack(pos := i - 1, line := ls[i]))) AS u
                FROM (SELECT page_id, string_split(text, chr(10)) AS ls
                      FROM batch))),
            bfirst AS (
              SELECT line, min(page_id) AS b_first FROM lines
              WHERE trim(line) <> '' GROUP BY line),
            owners AS (
              SELECT b.line, coalesce(s.o_id, b.b_first) AS owner
              FROM bfirst b LEFT JOIN store s USING (line)),
            marked AS (
              SELECT l.page_id, l.pos, l.line,
                (o.owner IS NOT NULL AND l.page_id <> o.owner) AS hot
              FROM lines l LEFT JOIN owners o USING (line))
            SELECT page_id,
              count(*)::INT AS n_lines,
              sum(CASE WHEN hot THEN 1 ELSE 0 END)::BIGINT AS n_removed,
              coalesce(string_agg(line, chr(10) ORDER BY pos)
                FILTER (WHERE NOT hot), '') AS text_clean
            FROM marked GROUP BY page_id
        """,
        # dsir_select: A-ES resampling over exp(log_weight). The A-ES
        # score is computed but NOT output — ln(u)/exp(lw) reaches
        # ~1e11 for off-target docs, where round(·,10) is an identity
        # and the low decimals are engine-exp-ulp noise; the ORDER is
        # robust (adjacent gaps dwarf ulp error by >10 orders).
        "dsir_select": f"""
            WITH {_dsir_ctes()},
            s AS (
              SELECT doc_id, n_feats, log_weight,
                round(ln(
                  ((({_poly_sql('doc_id::VARCHAR', 1103515245, 0, 1_000_000_007, 5381)}) % 10000) + 1)
                    * 1.0 / 10001)
                  / exp(log_weight), 10) AS sample_score
              FROM lwf WHERE exp(log_weight) > 0)
            SELECT row_number() OVER (ORDER BY sample_score DESC, doc_id ASC) AS rank,
              doc_id, n_feats, log_weight
            FROM s ORDER BY sample_score DESC, doc_id ASC LIMIT 50
        """,
        "quality_classifier": f"""
            WITH wt AS (
              SELECT i::BIGINT AS idx,
                ((1103515245::BIGINT * (i + 1) + 12345) % 2147483648)::DOUBLE
                  / 1073741824.0 - 1.0 AS w
              FROM range(4096) t(i)),
            base AS (
              SELECT doc_id,
                list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            x -> x <> '') AS ws
              FROM documents),
            feats AS (
              SELECT doc_id, unnest(
                ws || CASE WHEN len(ws) >= 2
                  THEN list_transform(range(1, len(ws)),
                         i -> ws[i] || ' ' || ws[i + 1])
                  ELSE [] END) AS f
              FROM base),
            idxed AS (
              SELECT doc_id,
                ({_poly_sql('f', 1103515245, 0, 1_000_000_007, 5381)}) % 4096 AS idx
              FROM feats),
            agg AS (
              SELECT doc_id, count(*) AS n_feats,
                sum(w::DECIMAL(38,18))::DOUBLE AS wsum
              FROM idxed JOIN wt USING (idx) GROUP BY doc_id)
            SELECT b.doc_id,
              coalesce(a.n_feats, 0)::BIGINT AS n_feats,
              coalesce(round(1.0 / (1.0 + exp(-(a.wsum / a.n_feats))), 6), 0.0)
                AS prob,
              coalesce(round(1.0 / (1.0 + exp(-(a.wsum / a.n_feats))), 6) >= 0.5,
                       FALSE) AS label
            FROM base b LEFT JOIN agg a USING (doc_id)
        """,
        "ccnet_select": f"""
            WITH toks AS (SELECT doc_id, unnest({_WORDS}) AS w FROM documents),
            freq AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
            tot AS (SELECT count(*) AS t FROM toks),
            scored AS (
              SELECT doc_id,
                round((sum(ln(c / t::DOUBLE)::DECIMAL(38,18))
                       / count(*))::DOUBLE, 6) AS avg_logprob
              FROM toks JOIN freq USING (w), tot
              GROUP BY doc_id),
            bucketed AS (
              SELECT s.doc_id, d.source, s.avg_logprob,
                ntile(3) OVER (PARTITION BY d.source
                               ORDER BY s.avg_logprob DESC, s.doc_id ASC)::INTEGER
                  AS bucket
              FROM scored s JOIN documents d ON d.doc_id = s.doc_id)
            SELECT doc_id, source, avg_logprob, bucket,
              CASE WHEN bucket = 3 THEN 'tail_sample'
                   ELSE 'head_middle' END AS kept_by
            FROM bucketed
            WHERE bucket < 3 OR
              ({_poly_sql('doc_id::VARCHAR', 1103515245, 0, 1_000_000_007, 5381)})
              % 10000 < 2000
        """,
        "lm_quality_buckets": f"""
            WITH toks AS (SELECT doc_id, unnest({_WORDS}) AS w FROM documents),
            freq AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
            tot AS (SELECT count(*) AS t FROM toks),
            scored AS (
              SELECT doc_id,
                round((sum(ln(c / t::DOUBLE)::DECIMAL(38,18))
                       / count(*))::DOUBLE, 6) AS avg_logprob
              FROM toks JOIN freq USING (w), tot
              GROUP BY doc_id)
            SELECT s.doc_id, d.source, s.avg_logprob,
              ntile(3) OVER (PARTITION BY d.source
                             ORDER BY s.avg_logprob DESC, s.doc_id ASC)::INTEGER
                AS bucket
            FROM scored s JOIN documents d ON d.doc_id = s.doc_id
        """,
        "text_quality": f"""
            SELECT doc_id,
              len({wl}) AS n_tokens,
              round(len(list_distinct({wl})) * 1.0 / len({wl}), 6) AS diversity,
              round(len(list_filter({wl}, t -> t IN ({_EN_STOP_SQL}))) * 1.0 / len({wl}), 6) AS stopword_ratio,
              round(0.4 * least(len({wl}) / 32.0, 1.0)
                  + 0.3 * (len(list_distinct({wl})) * 1.0 / len({wl}))
                  + 0.3 * least(len(list_filter({wl}, t -> t IN ({_EN_STOP_SQL}))) * 1.0 / len({wl}) * 4.0, 1.0),
                6) AS quality
            FROM documents
        """,
        "text_langid": f"""
            WITH s AS (
              SELECT doc_id,
                len(list_filter({wl}, t -> t IN ({_LANG_SQL['de']}))) AS score_de,
                len(list_filter({wl}, t -> t IN ({_LANG_SQL['en']}))) AS score_en,
                len(list_filter({wl}, t -> t IN ({_LANG_SQL['es']}))) AS score_es,
                len(list_filter({wl}, t -> t IN ({_LANG_SQL['fr']}))) AS score_fr
              FROM documents)
            SELECT doc_id, score_de, score_en, score_es, score_fr,
              CASE
                WHEN score_de = 0 AND score_en = 0 AND score_es = 0 AND score_fr = 0 THEN 'und'
                WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
                WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
                WHEN score_es >= score_fr THEN 'es'
                ELSE 'fr' END AS lang_pred
            FROM s
        """,
        "text_fingerprint": """
            SELECT doc_id,
              list_reduce(
                list_prepend(0::BIGINT,
                  list_transform(
                    list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ''), c -> c <> ''),
                    c -> ord(c)::BIGINT)),
                (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
            FROM documents
        """,
        # mirrors operators/text.py gopher_rules exactly: rounded
        # metric columns feed the pass conjunction, greatest(n,1)
        # guards match the Spark side
        "text_gopher_rules": f"""
            WITH b AS (
              SELECT doc_id, text, {_WORDS} AS w,
                list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines
              FROM documents),
            -- ws: the 1000-word repetition window (gopher_rules's
            -- repetition_window default), full doc when shorter
            bw AS (
              SELECT *, list_slice(w, 1, 1000) AS ws FROM b),
            m AS (
              SELECT doc_id, text, w, lines,
                len(w) AS n_words,
                greatest(len(w), 1) AS nd,
                len(ws) AS n_win,
                CASE WHEN len(ws) >= 2
                     THEN list_transform(range(1, len(ws)),
                              i -> ws[i] || ' ' || ws[i+1])
                     ELSE []::VARCHAR[] END AS bg
              FROM bw),
            -- top-bigram via unnest/group-by (relational, linear) —
            -- a per-distinct-bigram list_filter lambda is O(n^2) in
            -- DuckDB's interpreter and took ~90s over 500 docs
            topbg AS (
              SELECT doc_id, max(c) AS topc FROM (
                SELECT doc_id, b, count(*) AS c
                FROM (SELECT doc_id, unnest(bg) AS b FROM m)
                GROUP BY doc_id, b)
              GROUP BY doc_id),
            sel AS (
              SELECT m.doc_id AS doc_id,
                n_words::BIGINT AS n_words,
                round(list_reduce(list_prepend(0::BIGINT,
                        list_transform(w, x -> length(x)::BIGINT)),
                      (a, c) -> a + c) * 1.0 / nd, 6) AS mean_word_len,
                round(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / nd, 6) AS frac_alpha_words,
                round((length(text) - length(replace(text, '#', ''))
                       + len(regexp_extract_all(text, '\\.\\.\\.'))) * 1.0 / nd, 6) AS symbol_word_ratio,
                round((len(lines) - len(list_distinct(lines))) * 1.0
                      / greatest(len(lines), 1), 6) AS dup_line_frac,
                CASE WHEN n_win >= 2
                     THEN round(topbg.topc * 1.0 / (n_win - 1), 6)
                     ELSE 0.0 END AS top_bigram_frac
              FROM m LEFT JOIN topbg ON topbg.doc_id = m.doc_id)
            SELECT *,
              (n_words >= 10 AND mean_word_len >= 3 AND mean_word_len <= 10
               AND frac_alpha_words > 0.8 AND symbol_word_ratio < 0.1
               AND dup_line_frac < 0.3 AND top_bigram_frac < 0.2) AS passes
            FROM sel
        """,
        "multimodal_meta": """
            SELECT doc_id, strlen(text) AS blob_bytes, sha256(text) AS blob_sha256
            FROM documents
        """,
        # mirrors multimodal._fake_audio_decode: digest byte j =
        # hex pair (2j+1, 2) of sha256
        "multimodal_audio_meta": """
            WITH h AS (
              SELECT doc_id,
                CAST(('0x' || substr(sha256(text), 1, 2)) AS INTEGER) AS b0,
                CAST(('0x' || substr(sha256(text), 3, 2)) AS INTEGER) AS b1,
                CAST(('0x' || substr(sha256(text), 5, 2)) AS INTEGER) AS b2,
                CAST(('0x' || substr(sha256(text), 7, 2)) AS INTEGER) AS b3
              FROM documents)
            SELECT doc_id,
              (8000 * (1 + b0 % 6))::INTEGER AS sample_rate,
              (CASE WHEN b1 % 2 = 0 THEN 1 ELSE 2 END)::INTEGER AS channels,
              (1000 + (b2 * 256 + b3) % 64000)::BIGINT AS n_samples,
              round((1000 + (b2 * 256 + b3) % 64000) * 1000.0
                    / (8000 * (1 + b0 % 6)), 3) AS duration_ms
            FROM h
        """,
        # mirrors multimodal.audio_window_energy stub: n_windows =
        # 1 + b4 % 8, energy_i = digest byte (5+i) mod 32 over 255
        "multimodal_audio_energy": """
            WITH h AS (
              SELECT doc_id, sha256(text) AS d,
                CAST(('0x' || substr(sha256(text), 9, 2)) AS INTEGER) AS b4
              FROM documents)
            SELECT doc_id, t.i::INTEGER AS window_idx,
              round(CAST(('0x' || substr(d, ((5 + t.i) % 32) * 2 + 1, 2)) AS INTEGER)
                    / 255.0, 6) AS rms
            FROM h, (SELECT unnest(range(0, 8)) AS i) t
            WHERE t.i < 1 + b4 % 8
        """,
        "multimodal_image_meta": """
            SELECT doc_id,
              64 + (CAST(('0x' || substr(sha256(text), 1, 2)) AS INTEGER) % 192) AS width,
              64 + (CAST(('0x' || substr(sha256(text), 3, 2)) AS INTEGER) % 192) AS height,
              CASE WHEN CAST(('0x' || substr(sha256(text), 5, 2)) AS INTEGER) % 4 = 0
                   THEN 1 ELSE 3 END AS channels
            FROM documents
        """,
        "multimodal_frames": """
            SELECT doc_id, t.i AS frame_idx,
              strlen(substr(text, (t.i * 64 + 1)::INT, 64)) AS frame_bytes,
              sha256(substr(text, (t.i * 64 + 1)::INT, 64)) AS frame_sha256
            FROM documents, (SELECT unnest(range(0, 8)) AS i) t
            WHERE strlen(substr(text, (t.i * 64 + 1)::INT, 64)) > 0
        """,
        # the stub resize truncates/pads the blob to 784 bytes
        # (224*224/64); the byte math runs in hex space because this
        # DuckDB build has no BLOB substr/sha256 — hex() here and
        # F.hex() on the Spark side are both uppercase, so the strings
        # compare exactly
        "multimodal_resize": """
            WITH b AS (
              SELECT doc_id, hex(encode(text)) AS hx,
                     octet_length(encode(text)) AS bl
              FROM documents),
            r AS (
              SELECT doc_id,
                substr(repeat(hx, (784 // greatest(bl, 1))::INT + 1), 1, 1568) AS rh
              FROM b)
            SELECT doc_id, (strlen(rh) // 2)::BIGINT AS resized_bytes,
                   rh AS resized_hex
            FROM r
        """,
    }
    # the scale-mode twins must produce byte-identical results to the
    # windowed defaults (two-level prefix decomposition is exact), so
    # they share the same oracle — a driver-gated proof of equality
    d["lm_quality_buckets_scaled"] = d["lm_quality_buckets"]
    d["token_budget_pack_scaled"] = d["token_budget_pack"]
    d["knn_pq_persisted"] = d["knn_pq"]
    # search_collapse: ES field collapsing — one best hit per user
    # (value desc, event_id asc) + the group's inner-hit count,
    # collapsed list ordered by winning values, top 15
    d["search_collapse"] = """
        WITH hits AS (SELECT * FROM events WHERE value >= 50),
        g AS (
          SELECT user_id, event_id, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY value DESC,
                                             event_id ASC) AS rn,
                 count(*) OVER (PARTITION BY user_id) AS nig
          FROM hits)
        SELECT user_id, event_id, value, nig::BIGINT AS n_in_group
        FROM g WHERE rn = 1
        ORDER BY value DESC, event_id ASC LIMIT 15
    """
    # audience_overlap: KMV set ops — union the two bottom-64
    # sketches, re-take bottom-64 (a valid union sketch), estimate
    # |A∪B| by (k-1)*M/h_k and |A∩B| by the both-sides fraction;
    # exact four-way ground truth alongside
    _ph = _poly_sql("user_id::VARCHAR", 1103515245, 0,
                    1_000_000_007, 5381)
    d["audience_overlap"] = f"""
        WITH a AS (SELECT * FROM events
                   WHERE event_type = 'click' AND value >= 120),
        b AS (SELECT * FROM events
              WHERE event_type = 'purchase' AND value >= 120),
        ha AS (SELECT DISTINCT {_ph} AS h FROM a
               WHERE user_id IS NOT NULL),
        hb AS (SELECT DISTINCT {_ph} AS h FROM b
               WHERE user_id IS NOT NULL),
        sa AS (SELECT h FROM ha ORDER BY h LIMIT 64),
        sb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
        u AS (SELECT h FROM (
                SELECT DISTINCT h FROM (
                  SELECT h FROM sa UNION ALL SELECT h FROM sb))
              ORDER BY h LIMIT 64),
        sk AS (SELECT count(*)::BIGINT AS kk, max(h) AS hk FROM u),
        kb AS (SELECT count(*)::BIGINT AS kb FROM u
               WHERE h IN (SELECT h FROM sa)
                 AND h IN (SELECT h FROM sb)),
        ua AS (SELECT DISTINCT user_id AS x FROM a
               WHERE user_id IS NOT NULL),
        ub AS (SELECT DISTINCT user_id AS x FROM b
               WHERE user_id IS NOT NULL),
        ex AS (SELECT
          (SELECT count(*) FROM ua)::BIGINT AS n_a,
          (SELECT count(*) FROM ub)::BIGINT AS n_b,
          (SELECT count(*) FROM ua JOIN ub USING(x))::BIGINT AS n_inter,
          (SELECT count(*) FROM (
             SELECT x FROM ua UNION SELECT x FROM ub))::BIGINT AS n_union)
        SELECT n_a, n_b, n_inter, n_union,
          round(CASE WHEN kk < 64 THEN kk::DOUBLE
                     ELSE round(63 * 1000000007.0 / hk, 6) END,
                6) AS kmv_union,
          round((kb::DOUBLE / kk::DOUBLE)
                * CASE WHEN kk < 64 THEN kk::DOUBLE
                       ELSE round(63 * 1000000007.0 / hk, 6) END,
                6) AS kmv_intersection
        FROM ex, sk, kb
    """
    # hard_negatives: cosine top-5 per anchor with the label-mismatch
    # predicate fused; rank by the unrounded score (score desc,
    # neighbor asc), round only on output — same order as the entry
    d["hard_negatives"] = f"""
        WITH anchors AS (
          SELECT vec_id AS aid, embedding AS qe, label AS al
          FROM embeddings ORDER BY vec_id LIMIT 3),
        scored AS (
          SELECT a.aid, a.al, c.vec_id AS nid, c.label AS nl,
                 {_COS.format(a="a.qe", b="c.embedding")} AS score
          FROM anchors a JOIN embeddings c
            ON c.vec_id <> a.aid AND c.label <> a.al),
        ranked AS (
          SELECT aid, al, nid, nl, score,
            row_number() OVER (PARTITION BY aid
                               ORDER BY score DESC, nid ASC) AS rank
          FROM scored)
        SELECT aid AS anchor_id, al AS anchor_label,
               nid AS neighbor_id, nl AS neighbor_label,
               round(score, 6) AS score, rank
        FROM ranked WHERE rank <= 5
    """
    # knn_pq_rerank: the knn_pq oracle's encode/LUT/score half cut to
    # the 40-candidate shortlist, then exact full-dim L2 re-rank of
    # only those rows — FAISS refine, replayed end-to-end
    d["knn_pq_rerank"] = f"""
        WITH cb AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cj,
                 embedding AS cbe
          FROM (SELECT vec_id, embedding FROM embeddings
                ORDER BY vec_id LIMIT 16)
        ), ms AS (SELECT * FROM range(4) t(m)),
        q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        corpus AS (
          SELECT vec_id, embedding AS ce FROM embeddings
          WHERE vec_id <> 0
        ), pairs AS (
          SELECT c.vec_id, ms.m, cb.cj,
            {_L2.format(a="list_slice(c.ce, ms.m*16+1, ms.m*16+16)",
                        b="list_slice(cb.cbe, ms.m*16+1, ms.m*16+16)")}
                AS d
          FROM corpus c CROSS JOIN ms CROSS JOIN cb
        ), enc AS (
          SELECT vec_id, m, cj FROM (
            SELECT vec_id, m, cj,
              row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY d ASC, cj ASC) AS rn
            FROM pairs) WHERE rn = 1
        ), lut AS (
          SELECT ms.m, cb.cj,
            {_L2.format(a="list_slice(q.qe, ms.m*16+1, ms.m*16+16)",
                        b="list_slice(cb.cbe, ms.m*16+1, ms.m*16+16)")}
                AS qd
          FROM ms CROSS JOIN cb CROSS JOIN q
        ), scored AS (
          SELECT e.vec_id,
            max(CASE WHEN e.m = 0 THEN l.qd END) AS d0,
            max(CASE WHEN e.m = 1 THEN l.qd END) AS d1,
            max(CASE WHEN e.m = 2 THEN l.qd END) AS d2,
            max(CASE WHEN e.m = 3 THEN l.qd END) AS d3
          FROM enc e JOIN lut l ON e.m = l.m AND e.cj = l.cj
          GROUP BY e.vec_id
        ), cands AS (
          SELECT vec_id,
                 round((((d0 + d1) + d2) + d3), 6) AS adc_dist
          FROM scored
          ORDER BY round((((d0 + d1) + d2) + d3), 6) ASC, vec_id ASC
          LIMIT 40
        ), rer AS (
          SELECT c.vec_id, c.adc_dist,
                 round({_L2.format(a="e.embedding", b="q.qe")}, 6)
                     AS exact_l2
          FROM cands c JOIN embeddings e ON c.vec_id = e.vec_id, q
        )
        SELECT vec_id, adc_dist, exact_l2,
               row_number() OVER (ORDER BY exact_l2 ASC, vec_id ASC)
                   AS rank
        FROM rer
        ORDER BY exact_l2 ASC, vec_id ASC LIMIT 10
    """
    # domain_pagerank: 5 unrolled integer fixed-point iterations —
    # bit-equal to web.pagerank's div/floor arithmetic
    d["domain_pagerank"] = _pagerank_sql(iters=5)
    # matryoshka_recall: prefix-sliced cosine top-5 per (dims, query)
    # vs full-dim ground truth; DuckDB slices dynamically off the
    # dims table where Spark runs one narrow pass per prefix
    d["matryoshka_recall"] = f"""
        WITH dims AS (SELECT unnest([8, 16, 32]) AS d),
        q AS (SELECT vec_id AS qid, embedding AS qe
              FROM embeddings WHERE vec_id < 5),
        exact AS (
          SELECT qid, nid FROM (
            SELECT q.qid, c.vec_id AS nid,
              row_number() OVER (PARTITION BY q.qid
                ORDER BY {_COS.format(a="q.qe", b="c.embedding")} DESC,
                         c.vec_id ASC) AS rn
            FROM q JOIN embeddings c ON c.vec_id <> q.qid)
          WHERE rn <= 5),
        approx AS (
          SELECT d, qid, nid FROM (
            SELECT dims.d, q.qid, c.vec_id AS nid,
              row_number() OVER (PARTITION BY dims.d, q.qid
                ORDER BY {_COS.format(
                    a="list_slice(q.qe, 1, dims.d)",
                    b="list_slice(c.embedding, 1, dims.d)")} DESC,
                         c.vec_id ASC) AS rn
            FROM dims CROSS JOIN q
                 JOIN embeddings c ON c.vec_id <> q.qid)
          WHERE rn <= 5),
        hits AS (
          SELECT a.d, a.qid, count(*)::BIGINT AS n
          FROM approx a JOIN exact e
            ON a.qid = e.qid AND a.nid = e.nid
          GROUP BY a.d, a.qid)
        SELECT dims.d::BIGINT AS dims, q.qid AS query_id,
               coalesce(h.n, 0)::BIGINT AS n_hits,
               round(coalesce(h.n, 0) / 5.0::DOUBLE, 6) AS recall
        FROM dims CROSS JOIN q
             LEFT JOIN hits h ON h.d = dims.d AND h.qid = q.qid
    """
    # terms_error_bounds: sharded top-3 terms merge with ES's
    # doc_count_error_upper_bound (sum of non-reporting shards'
    # cut-off counts; a shard that returned all its terms hides 0)
    d["terms_error_bounds"] = """
        WITH hits AS (
          SELECT *, user_id % 4 AS s FROM events WHERE value >= 20),
        counts AS (
          SELECT s, event_type, count(*)::BIGINT AS c
          FROM hits GROUP BY s, event_type),
        ranked AS (
          SELECT s, event_type, c,
            row_number() OVER (PARTITION BY s
                               ORDER BY c DESC, event_type ASC) AS rn
          FROM counts),
        reported AS (SELECT * FROM ranked WHERE rn <= 3),
        per_shard AS (
          SELECT s,
            (CASE WHEN count(*) >= 3
                  THEN max(CASE WHEN rn = 3 THEN c END)
                  ELSE 0 END)::BIGINT AS last
          FROM ranked GROUP BY s),
        total AS (
          SELECT coalesce(sum(last), 0)::BIGINT AS t FROM per_shard),
        merged AS (
          SELECT r.event_type,
                 sum(r.c)::BIGINT AS doc_count,
                 sum(p.last)::BIGINT AS covered
          FROM reported r JOIN per_shard p USING(s)
          GROUP BY r.event_type)
        SELECT event_type, doc_count,
               (t - covered)::BIGINT AS doc_count_error_upper_bound
        FROM merged, total
        ORDER BY doc_count DESC, event_type ASC LIMIT 5
    """
    # rank_eval: label-match relevance over the cosine top-10 for
    # query 0 — discount table interpolated as the SAME driver
    # literals rank_eval folds, DCG summed in decimal(38,18)
    from toshokan_spark.search import ndcg_discounts as _nd

    _disc = _nd(10)
    _cum = []
    _acc = 0.0
    for _x in _disc:
        _acc = _acc + _x
        _cum.append(_acc)
    _dl = ", ".join(repr(x) for x in _disc)
    _cl = ", ".join(repr(x) for x in _cum)
    d["rank_eval"] = f"""
        WITH q AS (SELECT embedding AS qe, label AS ql
                   FROM embeddings WHERE vec_id = 0),
        ranked AS (
          SELECT vec_id, rn AS r FROM (
            SELECT c.vec_id,
              row_number() OVER (
                ORDER BY {_COS.format(a="q.qe", b="c.embedding")} DESC,
                         c.vec_id ASC) AS rn
            FROM embeddings c, q WHERE c.vec_id <> 0)
          WHERE rn <= 10),
        judg AS (
          SELECT c.vec_id,
                 (c.label = q.ql)::INT AS rel
          FROM embeddings c, q WHERE c.vec_id <> 0),
        topk AS (
          SELECT r.r, coalesce(j.rel, 0) AS rel
          FROM ranked r LEFT JOIN judg j ON r.vec_id = j.vec_id),
        agg AS (
          SELECT
            coalesce(sum(rel), 0)::BIGINT AS n_retrieved_relevant,
            coalesce(max(CASE WHEN rel = 1
                          THEN 1.0::DOUBLE / r END), 0.0) AS mrr_raw,
            (coalesce(sum(CAST(CASE WHEN rel = 1
                  THEN list_extract([{_dl}], r::INT)
                  ELSE 0.0::DOUBLE END AS DECIMAL(38,18))),
                0::DECIMAL(38,18)))::DOUBLE AS dcg
          FROM topk),
        nr AS (
          SELECT coalesce(sum(rel), 0)::BIGINT AS n_relevant FROM judg)
        SELECT n_relevant, n_retrieved_relevant,
               round(n_retrieved_relevant / 10.0::DOUBLE, 6)
                   AS precision_at_k,
               CASE WHEN n_relevant > 0
                    THEN round(n_retrieved_relevant
                               / n_relevant::DOUBLE, 6)
                    ELSE 0.0 END AS recall_at_k,
               round(mrr_raw, 6) AS mrr,
               CASE WHEN n_relevant > 0
                    THEN round(dcg / list_extract([{_cl}],
                         least(10, n_relevant)::INT), 6)
                    ELSE 0.0 END AS ndcg_at_k
        FROM agg, nr
    """
    # search_suggest / search_spell_correct: both read the same
    # doc-distinct default-tokenizer vocabulary (the
    # significant_terms mirror) — prefix-filtered df ranking and
    # banded-levenshtein correction ranking
    _vocab = """
        WITH base AS (
          SELECT list_distinct(list_transform(
            list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'),
                        w -> w <> '' AND strlen(w) <= 40),
            w -> lower(w))) AS toks
          FROM documents),
        vdf AS (
          SELECT t.term, count(*)::BIGINT AS df
          FROM (SELECT unnest(toks) AS term FROM base) t
          GROUP BY 1)
    """
    # search_regex: anchored full-match token regex (DuckDB
    # regexp_full_match == the ^(?:...)$ wrap on the Spark side)
    d["search_regex"] = """
        SELECT event_id, user_id, event_type, value
        FROM events
        WHERE (regexp_full_match(event_type, 'c.*k')
               OR regexp_full_match(event_type, 's.+p'))
          AND value >= 300
    """
    # search_percolate: the four stored monitors as UNION ALL arms
    d["search_percolate"] = """
        SELECT event_id, 'big_click' AS query_id FROM events
        WHERE event_type = 'click' AND value >= 300
        UNION ALL
        SELECT event_id, 'any_error' FROM events
        WHERE event_type = 'error'
        UNION ALL
        SELECT event_id, 'sign_or_view' FROM events
        WHERE event_type IN ('signup', 'view')
        UNION ALL
        SELECT event_id, 'regex_sp' FROM events
        WHERE regexp_full_match(event_type, 's.+p')
    """
    d["search_suggest"] = _vocab + """
        SELECT term, df FROM vdf
        WHERE term LIKE 's%'
        ORDER BY df DESC, term ASC LIMIT 10
    """
    d["search_spell_correct"] = _vocab + """
        SELECT term, levenshtein(term, 'vale')::INT AS dist, df
        FROM vdf
        WHERE abs(strlen(term) - 4) <= 2
          AND term <> 'vale'
          AND levenshtein(term, 'vale') <= 2
        ORDER BY dist ASC, df DESC, term ASC LIMIT 5
    """
    # search_sibling_aggs: max/min/avg/sum_bucket over the purchase
    # 6h histogram; extremes by (value, earliest-bucket) total order
    d["search_sibling_aggs"] = """
        WITH hits AS (
          SELECT * FROM events WHERE event_type = 'purchase'),
        hist AS (
          SELECT ((epoch_us(ts) // 21600000000) * 21600)::BIGINT AS e,
                 round(sum(value::DECIMAL(38,6))::DOUBLE, 6) AS tv
          FROM hits GROUP BY 1)
        SELECT count(*)::BIGINT AS n_buckets,
          round(sum(tv::DECIMAL(38,6))::DOUBLE, 6) AS sum_bucket,
          round(sum(tv::DECIMAL(38,6))::DOUBLE / count(*)::DOUBLE, 6)
              AS avg_bucket,
          (SELECT tv FROM hist ORDER BY tv DESC, e ASC LIMIT 1)
              AS max_bucket_value,
          (SELECT e FROM hist ORDER BY tv DESC, e ASC LIMIT 1)
              AS max_bucket_epoch,
          (SELECT tv FROM hist ORDER BY tv ASC, e ASC LIMIT 1)
              AS min_bucket_value,
          (SELECT e FROM hist ORDER BY tv ASC, e ASC LIMIT 1)
              AS min_bucket_epoch
        FROM hist
    """
    # search_more_like_this: Lucene MLT — seed-term selection by
    # seed-tf · BM25-idf (tf≥2, df≥5, top 5, term-asc ties on the
    # round-6 key), then the standard BM25 arithmetic over the
    # selected terms with the sum ORDERED by selection rank
    # (list_reduce over an ordered list == Spark's left-to-right
    # term-order chain; +0.0 terms drop out exactly in IEEE)
    d["search_more_like_this"] = """
        WITH base AS (
          SELECT doc_id,
            list_transform(
              list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'),
                          w -> w <> '' AND strlen(w) <= 40),
              w -> lower(w)) AS toks
          FROM documents),
        b2 AS (SELECT doc_id, toks, len(toks) AS dl FROM base),
        st AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM b2),
        seedtf AS (
          SELECT t.term, count(*)::BIGINT AS tf
          FROM (SELECT unnest(toks) AS term FROM b2 WHERE doc_id = 7) t
          GROUP BY 1 HAVING count(*) >= 2),
        dfs AS (
          SELECT s.term, s.tf,
            (SELECT count(*) FROM b2 b
             WHERE list_contains(b.toks, s.term))::BIGINT AS df
          FROM seedtf s),
        sel AS (
          SELECT term, df,
            row_number() OVER (
              ORDER BY round(tf * ln(1.0 + (st.n - df + 0.5) / (df + 0.5)), 6)
                           DESC,
                       term ASC) AS rank
          FROM dfs, st WHERE df >= 5
          ORDER BY 3 LIMIT 5),
        comp AS (
          SELECT b.doc_id, s.rank,
            ln(1.0 + (st.n - s.df + 0.5) / (s.df + 0.5))
              * (len(list_filter(b.toks, x -> x = s.term)) * 2.2)
              / (len(list_filter(b.toks, x -> x = s.term))
                 + 1.2 * (0.25 + 0.75 * b.dl / (st.sumdl / st.n))) AS c
          FROM b2 b, sel s, st
          WHERE list_contains(b.toks, s.term)),
        scored AS (
          SELECT doc_id,
            round(list_reduce(
              list_prepend(0.0::DOUBLE, list(c ORDER BY rank)),
              (x, y) -> x + y), 4) AS mlt
          FROM comp GROUP BY doc_id)
        SELECT doc_id, mlt FROM scored
        WHERE doc_id <> 7
        ORDER BY mlt DESC, doc_id ASC LIMIT 10
    """
    # search_multi_match: per-field BM25 (independent corpus stats),
    # best_fields combine = max + 0.3·(sum − max)
    d["search_multi_match"] = f"""
        WITH {_bm25_field_cte("mt", "text", ["spark", "src3"], "s_text")},
        {_bm25_field_cte("ms", "source", ["spark", "src3"], "s_source")},
        j AS (
          SELECT coalesce(t.doc_id, s.doc_id) AS doc_id,
                 coalesce(t.s_text, 0.0) AS s_text,
                 coalesce(s.s_source, 0.0) AS s_source
          FROM mtsc t FULL OUTER JOIN mssc s ON t.doc_id = s.doc_id)
        SELECT doc_id, s_text, s_source,
          round(greatest(s_text, s_source)
                + 0.3 * ((s_text + s_source) - greatest(s_text, s_source)),
                6) AS score
        FROM j ORDER BY score DESC, doc_id ASC LIMIT 10
    """
    # search_dis_max: per-clause BM25 over text, best + 0.2·rest
    d["search_dis_max"] = f"""
        WITH {_bm25_field_cte("da", "text", ["spark", "table"], "s_q0")},
        {_bm25_field_cte("db", "text", ["query", "filter"], "s_q1")},
        j AS (
          SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                 coalesce(a.s_q0, 0.0) AS s_q0,
                 coalesce(b.s_q1, 0.0) AS s_q1
          FROM dasc a FULL OUTER JOIN dbsc b ON a.doc_id = b.doc_id)
        SELECT doc_id, s_q0, s_q1,
          round(greatest(s_q0, s_q1)
                + 0.2 * ((s_q0 + s_q1) - greatest(s_q0, s_q1)), 6) AS score
        FROM j ORDER BY score DESC, doc_id ASC LIMIT 10
    """
    # search_function_score: gauss recency decay × ln1p(value); the
    # decay constants are the SAME Python doubles inlined via repr
    d["search_function_score"] = f"""
        WITH hits AS (
          SELECT event_id, value,
            abs(epoch_us(ts) - {_FS_ORIGIN_US})::DOUBLE / 86400000000.0 AS dd
          FROM events WHERE event_type = 'purchase'),
        sc AS (
          SELECT event_id,
            round(exp((-(greatest(dd - 1.0, 0.0) * greatest(dd - 1.0, 0.0)))
                      / {_FS_TWO_SIGMA2!r})
                  * ln(1.0 + value * 1.0), 6) AS score
          FROM hits)
        SELECT event_id, score FROM sc
        ORDER BY score DESC, event_id ASC LIMIT 20
    """
    # search_terms_set: ≥3 distinct matches of the 4 query terms
    d["search_terms_set"] = """
        WITH base AS (
          SELECT doc_id,
            list_distinct(list_transform(
              list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'),
                          w -> w <> '' AND strlen(w) <= 40),
              w -> lower(w))) AS toks
          FROM documents)
        SELECT doc_id,
          len(list_intersect(toks, ['spark', 'query', 'data', 'join']))::INT
              AS n_matched
        FROM base
        WHERE len(list_intersect(toks, ['spark', 'query', 'data', 'join'])) >= 3
    """
    # search_wildcard: glob -> anchored regex (s?gnup -> s.gnup,
    # cl*ck -> cl.*ck), same composition rule as search_regex
    d["search_wildcard"] = """
        SELECT event_id, user_id, event_type, value
        FROM events
        WHERE (regexp_full_match(event_type, 's.gnup')
               OR regexp_full_match(event_type, 'cl.*ck'))
          AND value >= 250
    """
    # search_boxplot: exact quartiles + 1.5·IQR whiskers as actual
    # data elements (conditional min/max against the fences)
    d["search_boxplot"] = """
        WITH hits AS (
          SELECT value::DOUBLE AS v FROM events WHERE event_type = 'click'),
        q AS (
          SELECT count(*)::BIGINT AS n_values,
            min(v) AS min_v, max(v) AS max_v,
            (percentile_disc(0.25) WITHIN GROUP (ORDER BY v))::DOUBLE AS q1,
            (percentile_disc(0.5) WITHIN GROUP (ORDER BY v))::DOUBLE AS q2,
            (percentile_disc(0.75) WITHIN GROUP (ORDER BY v))::DOUBLE AS q3
          FROM hits)
        SELECT n_values, min_v, max_v, q1, q2, q3,
          round(q3 - q1, 6) AS iqr,
          (SELECT min(v) FROM hits WHERE v >= q.q1 - 1.5 * (q.q3 - q.q1))
              AS lower,
          (SELECT max(v) FROM hits WHERE v <= q.q3 + 1.5 * (q.q3 - q.q1))
              AS upper
        FROM q
    """
    # search_string_stats: length moments + ordered-fold Shannon
    # entropy over the corpus character distribution
    d["search_string_stats"] = """
        WITH lens AS (
          SELECT count(*)::BIGINT AS n_values,
            min(length(text))::BIGINT AS min_length,
            max(length(text))::BIGINT AS max_length,
            round(sum(length(text)::DECIMAL(38,6))::DOUBLE / count(*), 6)
                AS avg_length
          FROM documents),
        cc AS (
          SELECT t.ch, count(*)::BIGINT AS cnt
          FROM (SELECT unnest(string_split(text, '')) AS ch
                FROM documents) t
          WHERE t.ch <> ''
          GROUP BY 1),
        tot AS (SELECT sum(cnt)::BIGINT AS tot FROM cc),
        ent AS (
          SELECT round(list_reduce(
            list_prepend(0.0::DOUBLE,
              list(-(cnt / tot.tot) * log2(cnt / tot.tot) ORDER BY ch)),
            (x, y) -> x + y), 6) AS entropy
          FROM cc, tot)
        SELECT n_values, min_length, max_length, avg_length, entropy
        FROM lens, ent
    """
    # search_t_test: Welch's t from one conditional-aggregation pass,
    # decimal-exact moments, sample (n-1) variances
    d["search_t_test"] = """
        WITH m AS (
          SELECT
            count(CASE WHEN event_type = 'purchase' THEN value END)::BIGINT
                AS n_a,
            sum((CASE WHEN event_type = 'purchase' THEN value
                 END)::DECIMAL(38,6)) AS s1_a,
            sum((CASE WHEN event_type = 'purchase' THEN value * value
                 END)::DECIMAL(38,6)) AS s2_a,
            count(CASE WHEN event_type = 'click' THEN value END)::BIGINT
                AS n_b,
            sum((CASE WHEN event_type = 'click' THEN value
                 END)::DECIMAL(38,6)) AS s1_b,
            sum((CASE WHEN event_type = 'click' THEN value * value
                 END)::DECIMAL(38,6)) AS s2_b
          FROM events),
        s AS (
          SELECT n_a, n_b,
            s1_a::DOUBLE / n_a AS mean_a,
            s1_b::DOUBLE / n_b AS mean_b,
            greatest((s2_a::DOUBLE - s1_a::DOUBLE * s1_a::DOUBLE / n_a)
                     / (n_a - 1), 0.0) AS var_a,
            greatest((s2_b::DOUBLE - s1_b::DOUBLE * s1_b::DOUBLE / n_b)
                     / (n_b - 1), 0.0) AS var_b
          FROM m)
        SELECT n_a, n_b,
          round(mean_a, 6) AS mean_a,
          round(mean_b, 6) AS mean_b,
          round((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b), 6)
              AS t_stat
        FROM s
    """
    # search_boosting: positive BM25 x (0.4 when any negative term
    # present else 1)
    d["search_boosting"] = f"""
        WITH {_BM25_SPARK_TABLE_CTE},
        neg AS (
          SELECT doc_id,
            (list_contains(toks, 'slow') OR list_contains(toks, 'legacy'))
              AS hit
          FROM base)
        SELECT l.doc_id,
          round(l.bm25 * CASE WHEN n.hit THEN 0.4 ELSE 1.0 END, 6) AS score,
          (CASE WHEN n.hit THEN 1 ELSE 0 END)::INT AS demoted
        FROM lexsc l JOIN neg n USING (doc_id)
        ORDER BY score DESC, l.doc_id ASC LIMIT 10
    """

    # search_matrix_stats: exact-decimal moment sums (18,6 inputs ->
    # 37,12 products), double arithmetic on the exact sums, round 6
    # products widened to DECIMAL(19,6)*DECIMAL(18,6): DuckDB does
    # not auto-widen decimal multiplication and sf0.1 magnitudes
    # (1.5e9 squared) overflow width 18 (CORRECTNESS_SF01_r16)
    d["search_matrix_stats"] = """
        WITH h AS (SELECT value, user_id FROM events
                   WHERE event_type = 'purchase'),
        s AS (SELECT count(*) AS n,
          sum(value::DECIMAL(18,6)) AS s_v,
          sum(user_id::DECIMAL(18,6)) AS s_u,
          sum(value::DECIMAL(19,6) * value::DECIMAL(18,6)) AS p_vv,
          sum(value::DECIMAL(19,6) * user_id::DECIMAL(18,6)) AS p_vu,
          sum(user_id::DECIMAL(19,6) * user_id::DECIMAL(18,6)) AS p_uu
         FROM h)
        SELECT 'value' AS field, 'value' AS other, n::BIGINT AS n_values,
      round(s_v::DOUBLE / n, 6) AS mean,
      round(p_vv::DOUBLE / n - (s_v::DOUBLE / n) * (s_v::DOUBLE / n), 6) AS variance,
      round(p_vv::DOUBLE / n - (s_v::DOUBLE / n) * (s_v::DOUBLE / n), 6) AS covariance,
      round(CASE WHEN (p_vv::DOUBLE / n - (s_v::DOUBLE / n) * (s_v::DOUBLE / n)) > 0
                  AND (p_vv::DOUBLE / n - (s_v::DOUBLE / n) * (s_v::DOUBLE / n)) > 0
        THEN (p_vv::DOUBLE / n - (s_v::DOUBLE / n) * (s_v::DOUBLE / n))
             / sqrt((p_vv::DOUBLE / n - (s_v::DOUBLE / n) * (s_v::DOUBLE / n))
                  * (p_vv::DOUBLE / n - (s_v::DOUBLE / n) * (s_v::DOUBLE / n)))
        END, 6) AS correlation
      FROM s UNION ALL SELECT 'value' AS field, 'user_id' AS other, n::BIGINT AS n_values,
      round(s_v::DOUBLE / n, 6) AS mean,
      round(p_vv::DOUBLE / n - (s_v::DOUBLE / n) * (s_v::DOUBLE / n), 6) AS variance,
      round(p_vu::DOUBLE / n - (s_v::DOUBLE / n) * (s_u::DOUBLE / n), 6) AS covariance,
      round(CASE WHEN (p_vv::DOUBLE / n - (s_v::DOUBLE / n) * (s_v::DOUBLE / n)) > 0
                  AND (p_uu::DOUBLE / n - (s_u::DOUBLE / n) * (s_u::DOUBLE / n)) > 0
        THEN (p_vu::DOUBLE / n - (s_v::DOUBLE / n) * (s_u::DOUBLE / n))
             / sqrt((p_vv::DOUBLE / n - (s_v::DOUBLE / n) * (s_v::DOUBLE / n))
                  * (p_uu::DOUBLE / n - (s_u::DOUBLE / n) * (s_u::DOUBLE / n)))
        END, 6) AS correlation
      FROM s UNION ALL SELECT 'user_id' AS field, 'value' AS other, n::BIGINT AS n_values,
      round(s_u::DOUBLE / n, 6) AS mean,
      round(p_uu::DOUBLE / n - (s_u::DOUBLE / n) * (s_u::DOUBLE / n), 6) AS variance,
      round(p_vu::DOUBLE / n - (s_u::DOUBLE / n) * (s_v::DOUBLE / n), 6) AS covariance,
      round(CASE WHEN (p_uu::DOUBLE / n - (s_u::DOUBLE / n) * (s_u::DOUBLE / n)) > 0
                  AND (p_vv::DOUBLE / n - (s_v::DOUBLE / n) * (s_v::DOUBLE / n)) > 0
        THEN (p_vu::DOUBLE / n - (s_u::DOUBLE / n) * (s_v::DOUBLE / n))
             / sqrt((p_uu::DOUBLE / n - (s_u::DOUBLE / n) * (s_u::DOUBLE / n))
                  * (p_vv::DOUBLE / n - (s_v::DOUBLE / n) * (s_v::DOUBLE / n)))
        END, 6) AS correlation
      FROM s UNION ALL SELECT 'user_id' AS field, 'user_id' AS other, n::BIGINT AS n_values,
      round(s_u::DOUBLE / n, 6) AS mean,
      round(p_uu::DOUBLE / n - (s_u::DOUBLE / n) * (s_u::DOUBLE / n), 6) AS variance,
      round(p_uu::DOUBLE / n - (s_u::DOUBLE / n) * (s_u::DOUBLE / n), 6) AS covariance,
      round(CASE WHEN (p_uu::DOUBLE / n - (s_u::DOUBLE / n) * (s_u::DOUBLE / n)) > 0
                  AND (p_uu::DOUBLE / n - (s_u::DOUBLE / n) * (s_u::DOUBLE / n)) > 0
        THEN (p_uu::DOUBLE / n - (s_u::DOUBLE / n) * (s_u::DOUBLE / n))
             / sqrt((p_uu::DOUBLE / n - (s_u::DOUBLE / n) * (s_u::DOUBLE / n))
                  * (p_uu::DOUBLE / n - (s_u::DOUBLE / n) * (s_u::DOUBLE / n)))
        END, 6) AS correlation
      FROM s
    """
    # search_top_metrics: latest value per event_type, ties to the
    # larger event_id (the explicit total order)
    d["search_top_metrics"] = """
        SELECT event_type, epoch_us(ts) AS ts_us, event_id, value
        FROM (SELECT event_type, ts, event_id, value,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY ts DESC, event_id DESC) AS rn
              FROM events)
        WHERE rn = 1
    """
    # search_rate: per-day value sum normalized to a per-hour rate
    # (fixed 86400-second buckets / 3600-second unit = 24)
    d["search_rate"] = """
        WITH g AS (SELECT date_trunc('day', ts) AS bucket,
                     count(*)::BIGINT AS n_hits,
                     sum(value::DECIMAL(38,6)) AS s
                   FROM events GROUP BY 1)
        SELECT epoch_us(bucket) AS bucket_us, n_hits,
          round(s::DOUBLE / (86400.0 / 3600.0), 6) AS rate
        FROM g
    """

    # search_change_point: exact least-squares change detection on
    # the daily purchase-value series — same decimal-exact bucket
    # sums, same double expression order, same rounded-score argmax
    # and tie-breaks as search.py::change_point_agg
    d["search_change_point"] = """
        WITH g AS (
          SELECT date_trunc('day', ts) AS bucket,
            CAST(coalesce(sum(CAST(value AS DECIMAL(18,6))),
                          0) AS DECIMAL(18,6)) AS v
          FROM events WHERE event_type = 'purchase' GROUP BY 1),
        s AS (
          -- v2 via an explicit (19,6)x(18,6) -> (37,12) product:
          -- duckdb does not widen a decimal product the way the
          -- engine does, and the bare square overflows width 18
          SELECT bucket, v,
            CAST(v AS DECIMAL(19,6)) * v AS v2,
            row_number() OVER (ORDER BY bucket) AS k,
            sum(v) OVER (ORDER BY bucket
              ROWS UNBOUNDED PRECEDING) AS cv,
            sum(CAST(v AS DECIMAL(19,6)) * v) OVER (ORDER BY bucket
              ROWS UNBOUNDED PRECEDING) AS cv2,
            epoch_us(bucket) AS ts,
            lead(epoch_us(bucket)) OVER (ORDER BY bucket) AS nts
          FROM g),
        tot AS (SELECT count(*)::BIGINT AS nb,
                  count(*)::DOUBLE AS n,
                  sum(v)::DOUBLE AS t,
                  sum(CAST(v AS DECIMAL(19,6)) * v)::DOUBLE AS t2
                FROM g),
        c AS (SELECT s.*, tot.nb, tot.n, tot.t, tot.t2,
                tot.t2 - tot.t * tot.t / tot.n AS sse0
              FROM s, tot),
        cand AS (
          SELECT CASE WHEN sse0 > 0 THEN round(1.0 -
              ((cv2::DOUBLE - cv::DOUBLE * cv::DOUBLE / k::DOUBLE)
               + ((t2 - cv2::DOUBLE)
                  - (t - cv::DOUBLE) * (t - cv::DOUBLE)
                    / (n - k::DOUBLE))) / sse0, 9)
            ELSE 0.0 END AS score,
            1 AS prio, -nts AS negts, 'step_change' AS kind,
            nts AS ts2
          FROM c WHERE k < nb AND nb >= 3
          UNION ALL
          SELECT CASE WHEN sse0 > 0 THEN round(1.0 -
              ((t2 - v::DOUBLE * v::DOUBLE)
               - (t - v::DOUBLE) * (t - v::DOUBLE) / (n - 1.0))
              / sse0, 9) ELSE 0.0 END,
            0, -ts,
            CASE WHEN v::DOUBLE > (t - v::DOUBLE) / (n - 1.0)
              THEN 'spike' ELSE 'dip' END,
            ts
          FROM c WHERE nb >= 3),
        best AS (SELECT * FROM cand
                 ORDER BY score DESC, prio DESC, negts DESC LIMIT 1)
        SELECT
          CASE WHEN b.score IS NULL OR b.score < 0.25
            THEN 'stationary' ELSE b.kind END AS type,
          CASE WHEN b.score IS NOT NULL AND b.score >= 0.25
            THEN b.ts2 END AS bucket_us,
          round(coalesce(b.score, 0.0), 6) AS score,
          (SELECT nb FROM tot) AS n_buckets
        FROM (SELECT 1 AS one) LEFT JOIN best b ON true
    """

    # search_frequent_item_sets: per-user transactions over
    # event_type, items + pairs at support >= 0.3 (events hold <=5
    # distinct types per user, far under the operator's 64-item
    # transaction cap, so the exact join form is identical)
    d["search_frequent_item_sets"] = """
        WITH du AS (SELECT DISTINCT user_id, event_type FROM events
                    WHERE user_id IS NOT NULL),
        tx AS (SELECT user_id FROM du GROUP BY user_id),
        n AS (SELECT count(*)::DOUBLE AS ntx FROM tx),
        u AS (
          SELECT event_type AS item_a, NULL::VARCHAR AS item_b FROM du
          UNION ALL
          SELECT x.event_type, y.event_type
          FROM du x JOIN du y ON x.user_id = y.user_id
            AND x.event_type < y.event_type),
        c AS (SELECT item_a, item_b, count(*)::BIGINT AS support_count
              FROM u GROUP BY 1, 2)
        SELECT item_a, item_b,
          (CASE WHEN item_b IS NULL THEN 1 ELSE 2 END)::INT
            AS set_size,
          support_count,
          round(support_count::DOUBLE / (SELECT ntx FROM n), 6)
            AS support
        FROM c
        WHERE round(support_count::DOUBLE / (SELECT ntx FROM n), 6)
          >= 0.3
    """

    # search_rank_feature: BM25('spark table') + 2.0 * saturation of
    # n_chars at pivot 500 (x/(x+500)); matches keep >=1 term
    d["search_rank_feature"] = f"""
        WITH {_BM25_SPARK_TABLE_CTE}
        SELECT l.doc_id,
          round(l.bm25 + 2.0 * (greatest(d.n_chars::DOUBLE, 0.0)
              / (greatest(d.n_chars::DOUBLE, 0.0) + 500.0)), 6) AS score
        FROM lexsc l JOIN documents d USING (doc_id)
        ORDER BY score DESC, l.doc_id ASC LIMIT 10
    """
    # search_distance_feature: BM25('query filter') +
    # 1.5 * 150/(150 + |n_chars - 800|)
    d["search_distance_feature"] = f"""
        WITH {_bm25_field_cte("dfq", "text", ["query", "filter"], "s")}
        SELECT q.doc_id,
          round(q.s + CASE WHEN d.n_chars IS NOT NULL THEN
              1.5 * 150.0 / (150.0 + abs(d.n_chars::DOUBLE - 800.0))
            ELSE 0.0 END, 6) AS score
        FROM dfqsc q JOIN documents d USING (doc_id)
        ORDER BY score DESC, q.doc_id ASC LIMIT 10
    """
    # search_pinned: ids 42,7,3 first in list order (organic score
    # kept, 0 for non-matches), then organic matches minus the pins
    d["search_pinned"] = f"""
        WITH {_BM25_SPARK_TABLE_CTE},
        organic AS (
          SELECT d.doc_id, round(coalesce(l.bm25, 0.0), 6) AS score
          FROM documents d LEFT JOIN lexsc l USING (doc_id)),
        p AS (
          SELECT doc_id, score,
            CASE doc_id WHEN 42 THEN 0 WHEN 7 THEN 1 WHEN 3 THEN 2
              ELSE 3 END AS pin
          FROM organic)
        SELECT doc_id, score, (pin < 3)::INT AS pinned
        FROM p WHERE pin < 3 OR score > 0
        ORDER BY pin ASC, score DESC, doc_id ASC LIMIT 10
    """

    # search_span_near: min intervening gap over occurrence pairs
    # (integers — min is fold-order-free)
    d["search_span_near"] = """
        WITH b AS (
          SELECT doc_id,
            list_transform(
              list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'),
                          w -> w <> '' AND strlen(w) <= 40),
              w -> lower(w)) AS toks
          FROM documents),
        p AS (
          SELECT doc_id,
            list_filter(range(1, len(toks) + 1),
                        i -> toks[i] = 'slow') AS pa,
            list_filter(range(1, len(toks) + 1),
                        i -> toks[i] = 'query') AS pb
          FROM b),
        g AS (
          SELECT doc_id,
            list_min(flatten(list_transform(pa,
              x -> list_transform(pb, y -> abs(x - y) - 1))))::INT AS span_gap
          FROM p WHERE len(pa) > 0 AND len(pb) > 0)
        SELECT doc_id, span_gap FROM g WHERE span_gap <= 2
    """
    # search_explain_score: the BM25 CTE's arms re-emitted per term
    # for the top-3 hits (ES _explain)
    d["search_explain_score"] = f"""
        WITH {_BM25_SPARK_TABLE_CTE},
        fullsc AS (
          SELECT t.doc_id, t.dl, t.tf0, t.tf1, s.n, s.sumdl, s.df0, s.df1,
            round(
              (CASE WHEN tf0 > 0 THEN
                 ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * 2.2)
                 / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
               ELSE 0.0 END)
              +
              (CASE WHEN tf1 > 0 THEN
                 ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2)
                 / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
               ELSE 0.0 END), 4) AS bm25
          FROM tf t, st s WHERE tf0 > 0 OR tf1 > 0),
        top AS (
          SELECT * FROM fullsc ORDER BY bm25 DESC, doc_id ASC LIMIT 3)
        SELECT doc_id, 'spark' AS term, tf0::INT AS tf, dl::INT AS dl,
          df0::BIGINT AS df,
          round(ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)), 6) AS idf,
          round(CASE WHEN tf0 > 0 THEN
            ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * 2.2)
            / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
          ELSE 0.0 END, 6) AS contribution, bm25
        FROM top
        UNION ALL
        SELECT doc_id, 'table', tf1::INT, dl::INT, df1::BIGINT,
          round(ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)), 6),
          round(CASE WHEN tf1 > 0 THEN
            ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2)
            / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
          ELSE 0.0 END, 6), bm25
        FROM top
    """
    # text_char_entropy: run-length entropy over sorted chars, fold
    # in run order; 0.0 - sum avoids the -0.0 representation split
    d["text_char_entropy"] = """
        WITH b AS (
          SELECT doc_id, length(text)::BIGINT AS n_chars_text,
            list_sort(string_split(text, '')) AS s,
            len(string_split(text, '')) AS n
          FROM documents),
        r AS (
          SELECT doc_id, n_chars_text, n,
            list_filter(range(1, n + 1),
                        i -> i = 1 OR s[i] <> s[i - 1]) AS starts
          FROM b),
        l AS (
          SELECT doc_id, n_chars_text, n,
            list_transform(range(1, len(starts) + 1),
              j -> (CASE WHEN j < len(starts) THEN starts[j + 1]
                    ELSE n + 1 END) - starts[j]) AS lens
          FROM r),
        e AS (
          SELECT doc_id, n_chars_text,
            round(CASE WHEN n > 0 THEN
              0.0 - list_reduce(list_prepend(0.0::DOUBLE,
                list_transform(lens, x -> (x / n) * ln(x / n))),
                (a, b) -> a + b)
              ELSE 0.0 END, 6) AS entropy
          FROM l)
        SELECT doc_id, n_chars_text, entropy,
          CASE WHEN entropy < 2.0 THEN 'low'
               WHEN entropy > 4.5 THEN 'high'
               ELSE 'ok' END AS entropy_band
        FROM e
    """
    # search_phrase_suggest: the phrase-suggester pipeline in SQL
    d["search_phrase_suggest"] = _phrase_suggest_oracle_sql(
        ["the", "sart", "hast"], k=3, max_dist=1, per_word=5
    )
    # search_cumulative_cardinality: first-seen decomposition, all
    # integers
    d["search_cumulative_cardinality"] = """
        WITH hits AS (
          SELECT * FROM events WHERE event_type = 'view'),
        spine AS (
          SELECT ((epoch_us(ts) // 1000000)
                  - ((epoch_us(ts) // 1000000) % 86400))::BIGINT
                     AS bucket_epoch,
                 count(*)::BIGINT AS n_hits
          FROM hits GROUP BY 1),
        firstb AS (
          SELECT user_id,
            min(((epoch_us(ts) // 1000000)
                 - ((epoch_us(ts) // 1000000) % 86400))::BIGINT) AS fb
          FROM hits GROUP BY 1),
        nk AS (
          SELECT fb AS bucket_epoch, count(*)::BIGINT AS new_keys
          FROM firstb GROUP BY 1)
        SELECT s.bucket_epoch, s.n_hits,
          coalesce(nk.new_keys, 0)::BIGINT AS new_keys,
          sum(coalesce(nk.new_keys, 0))
              OVER (ORDER BY s.bucket_epoch
                    ROWS UNBOUNDED PRECEDING)::BIGINT
              AS cumulative_cardinality
        FROM spine s LEFT JOIN nk ON s.bucket_epoch = nk.bucket_epoch
    """
    # search_ks_test: shared-grid two-sample KS D
    d["search_ks_test"] = """
        WITH hist AS (
          SELECT floor(value / 50.0)::BIGINT AS bucket,
            sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
                AS ca,
            sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
                AS cb
          FROM events
          WHERE event_type = 'purchase' OR event_type = 'click'
          GROUP BY 1),
        cum AS (
          SELECT bucket,
            sum(ca) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
                AS cum_a,
            sum(cb) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
                AS cum_b
          FROM hist),
        tot AS (
          SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b FROM hist)
        SELECT n_a, n_b,
          round(max(abs(cum_a / n_a - cum_b / n_b)), 6) AS ks_d
        FROM cum, tot GROUP BY n_a, n_b
    """
    # search_ip_range: the ip band maps back to a user_id band — an
    # INDEPENDENT derivation, so a key bug cannot self-confirm
    d["search_ip_range"] = """
        SELECT event_id, user_id,
          '10.' || ((event_id // 256) % 256)::VARCHAR || '.'
               || (event_id % 256)::VARCHAR || '.1' AS ip
        FROM events
        WHERE event_type = 'purchase'
          AND event_id % 65536 >= 968 AND event_id % 65536 <= 1079
    """
    # mmr_rerank: the greedy replayed as chained SQL steps
    d["mmr_rerank"] = _mmr_oracle_sql(query_id=0, k=5, pool=12, lam=0.7)
    # knn_filtered: pre-filtered exact cosine top-10 (ES kNN filter)
    d["knn_filtered"] = f"""
        WITH q0 AS (
          SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        SELECT c.vec_id, c.label,
               round({_COS.format(a="c.embedding", b="q0.qv")}, 6)
                   AS cos_sim
        FROM embeddings c, q0
        WHERE c.label = 3 AND c.vec_id <> 0
        ORDER BY cos_sim DESC, c.vec_id ASC LIMIT 10
    """
    # search_categorize_text: leading 3-token signature buckets
    d["search_categorize_text"] = """
        WITH base AS (
          SELECT doc_id,
            array_to_string(list_transform(
              list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'),
                          w -> w <> '' AND strlen(w) <= 40),
              w -> lower(w))[1:3], ' ') AS signature
          FROM documents)
        SELECT signature, count(*)::BIGINT AS n_docs,
               min(doc_id) AS example_doc
        FROM base GROUP BY 1
        ORDER BY n_docs DESC, signature ASC LIMIT 10
    """
    # search_diversified_sampler: ≤2 per user, global top-25 by
    # (value desc, id asc)
    d["search_diversified_sampler"] = """
        WITH ranked AS (
          SELECT event_id, user_id, value,
            row_number() OVER (PARTITION BY user_id
                               ORDER BY value DESC, event_id ASC) AS r
          FROM events WHERE event_type = 'view')
        SELECT event_id, user_id, value FROM ranked
        WHERE r <= 2
        ORDER BY value DESC, event_id ASC LIMIT 25
    """
    return d
