"""URL / domain-level curation operators — the FineWeb/C4 URL-filtering
stage of an LLM training-data pipeline (URL canonicalization, exact URL
dedup, domain block/allowlisting).

The reference engine has no web-curation surface (it is a log-search
engine); these operators extend the pipeline the same way the dedup /
quality families do. Everything here is pure JVM column algebra —
regexp/split/filter/array_sort built-ins, no Python crossing — so the
canonicalization runs inside whole-stage codegen at any corpus size,
and the dedup/domain joins are standard hash/broadcast joins:

* ``canonical_url`` never shuffles (per-row expression);
* ``url_dedup`` shuffles one (canonical_url)-keyed partial-aggregated
  groupBy — map-side combine collapses per-partition duplicates before
  the exchange, so the shuffle carries one row per distinct URL per
  partition, not one per document;
* ``domain_filter`` broadcasts the domain list (block/allowlists are
  dimension-sized — thousands of domains vs billions of documents) and
  anti/semi-joins it, so the corpus never shuffles at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from toshokan_spark.literals import literal_relation

#: query parameters that carry tracking state, not content identity —
#: the strip set used by the common web-curation stacks (utm_* click
#: attribution, Facebook/Google/Microsoft click ids, Mailchimp email
#: id, bare referrer tags)
TRACKING_PARAM_RE = r"^(utm_[a-z]+|fbclid|gclid|msclkid|mc_eid|ref)="


def canonical_url(url: Column) -> Column:
    """Canonical form of an absolute URL, as one codegen-able column
    expression:

    1. fragment dropped (``#...``);
    2. scheme and host lowercased;
    3. default ports stripped (``:80`` for http, ``:443`` for https);
       non-default ports kept;
    4. leading ``www.`` stripped from the host;
    5. trailing slashes stripped from the path;
    6. tracking query params dropped (:data:`TRACKING_PARAM_RE`),
       surviving params sorted by text so param order never
       distinguishes two URLs; an emptied query drops its ``?``.

    The DuckDB oracle mirrors each step with the same regexes
    (``__spark_entry__`` ``url_canonicalize``), so canonical forms are
    value-checked bit-for-bit.
    """
    no_frag = F.regexp_replace(url, r"#.*$", "")
    base = F.regexp_extract(no_frag, r"^([^?]*)", 1)
    query = F.when(
        no_frag.contains("?"), F.regexp_extract(no_frag, r"\?(.*)$", 1)
    ).otherwise(F.lit(""))
    scheme = F.lower(F.regexp_extract(base, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    after = F.regexp_replace(base, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.regexp_extract(after, r"^([^/]*)", 1)
    path = F.substring(after, F.length(hostport) + 1, 1 << 30)
    host = F.regexp_replace(
        F.lower(F.regexp_replace(hostport, r":\d+$", "")), r"^www\.", ""
    )
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    keep_port = (
        (port != "")
        & ~((scheme == "https") & (port == "443"))
        & ~((scheme == "http") & (port == "80"))
    )
    path_norm = F.regexp_replace(path, r"/+$", "")
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda x: (x != "") & ~x.rlike(TRACKING_PARAM_RE),
            )
        ),
        "&",
    )
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path_norm,
        F.when(params != "", F.concat(F.lit("?"), params)).otherwise(F.lit("")),
    )


def registered_domain(host_or_url: Column, *, is_url: bool = False) -> Column:
    """Last-two-label registered domain of a host (``news.site3.com``
    -> ``site3.com``). A public-suffix list would refine multi-label
    TLDs (``.co.uk``) — out of scope for the synthetic corpus, and the
    operator's join shape is identical either way."""
    host = (
        F.lower(
            F.regexp_replace(
                F.regexp_extract(
                    host_or_url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1
                ),
                r":\d+$",
                "",
            )
        )
        if is_url
        else host_or_url
    )
    return F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)


def url_dedup(df: DataFrame, url_col: str = "url", id_col: str = "doc_id") -> DataFrame:
    """Exact URL dedup on the canonical form: one row per canonical
    URL with the keeper (smallest id — first-writer-wins, the same
    keeper rule the text dedup family uses) and the duplicate count.
    Partial aggregation collapses duplicates map-side before the one
    canonical-URL-keyed exchange."""
    return (
        df.select(canonical_url(F.col(url_col)).alias("canonical_url"), id_col)
        .groupBy("canonical_url")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def url_store_frame(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """The standing corpus's ``(canonical_url, o_id)`` table — every
    canonical URL with its first (min-id) owner; the store side of
    :func:`incremental_url_dedup` (the URL sibling of
    ``text.line_store_frame``)."""
    return (
        df.select(
            canonical_url(F.col(url_col)).alias("canonical_url"),
            F.col(id_col).alias("o_id"),
        )
        .groupBy("canonical_url")
        .agg(F.min("o_id").alias("o_id"))
    )


def write_url_store(
    df: DataFrame,
    table_name: str,
    path: str,
    buckets: int = 64,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> None:
    """Persist :func:`url_store_frame` bucketed+sorted on the
    canonical URL so per-batch probes read the stored side
    pre-partitioned (no Exchange — the ``write_gram_store`` /
    ``write_line_store`` discipline, plan-asserted for those)."""
    (
        url_store_frame(df, url_col, id_col)
        .write.bucketBy(buckets, "canonical_url")
        .sortBy("canonical_url")
        .option("path", path)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table_name)
    )


def append_url_store(
    df: DataFrame,
    table_name: str,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> None:
    """Grow the URL store with a batch's NEW canonical URLs (existing
    ones keep their earlier owner — first writer wins, so ownership
    never changes once set). Count-free, therefore idempotent under
    replay: a re-run's URLs all exist, the anti-join yields nothing,
    zero rows append."""
    spark = df.sparkSession
    fresh = url_store_frame(df, url_col, id_col).join(
        spark.table(table_name).select("canonical_url"),
        "canonical_url",
        "left_anti",
    )
    fresh.write.format("parquet").insertInto(table_name, overwrite=False)


def incremental_url_dedup(
    batch: DataFrame,
    store: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Arriving-batch URL dedup against the standing store (the
    re-crawl path: the same page surfaces with fresh tracking params
    every fetch): per batch document, its canonical URL, the standing
    owner when the URL was already ingested (``owner_id``, null for
    unseen), and ``keep`` — unseen AND the batch's own first writer
    (batch-internal collisions keep one).

    Scale: canonicalization is per-row column algebra; the probe is
    one equi-join on the canonical key (Exchange-free when the store
    side is the bucketed table :func:`write_url_store` lays down);
    the batch-internal tiebreak is a batch-sized groupBy, never a
    window over the store."""
    canon = batch.select(
        F.col(id_col), canonical_url(F.col(url_col)).alias("canonical_url")
    )
    first = canon.groupBy("canonical_url").agg(
        F.min(id_col).alias("__b_first")
    )
    return (
        canon.join(
            store.select(
                "canonical_url", F.col("o_id").alias("owner_id")
            ),
            "canonical_url",
            "left",
        )
        .join(first, "canonical_url")
        .select(
            id_col,
            "canonical_url",
            "owner_id",
            (
                F.col("owner_id").isNull()
                & (F.col(id_col) == F.col("__b_first"))
            ).alias("keep"),
        )
    )


def domain_filter(
    df: DataFrame,
    domains: DataFrame,
    url_col: str = "url",
    mode: str = "block",
) -> DataFrame:
    """Drop (``mode='block'``) or keep-only (``mode='allow'``) rows
    whose URL's registered domain appears in ``domains`` (a 1-column
    ``domain`` frame). The domain table is broadcast — block/allow
    lists are dimension-sized — and the membership test is a LEFT
    ANTI / LEFT SEMI hash join, so the corpus side never shuffles."""
    if mode not in ("block", "allow"):
        raise ValueError(f"mode must be 'block' or 'allow', got {mode!r}")
    tagged = df.withColumn(
        "__domain", registered_domain(F.col(url_col), is_url=True)
    )
    # lowercase the LIST side too (ADVICE r12): registered_domain
    # output is always lowercased, so a blocklist entry with any
    # uppercase (CLI --block-domains Example.COM) would silently
    # never match and the blocked site would pass through
    joined = tagged.join(
        F.broadcast(domains),
        tagged["__domain"] == F.lower(domains["domain"]),
        "left_anti" if mode == "block" else "left_semi",
    )
    return joined.drop("__domain")


def _pagerank_local(
    edge_pairs: "list[tuple[int, int]]",
    iterations: int,
    damping_num: int,
    damping_den: int,
    scale: int,
) -> "list[tuple[int, int]]":
    """Driver-local twin of the distributed iteration in
    :func:`pagerank` — the same exact int64 fixed-point recurrence
    (truncating division, identical evaluation order per term), so
    the two paths are bit-equal for any shared input (property-
    tested). Runs on the DISTINCT (src, dst) edge list."""
    nodes = sorted({s for s, _ in edge_pairs} | {d for _, d in edge_pairs})
    n = len(nodes)
    if n == 0:
        return []
    outdeg: dict = {}
    for s, _ in edge_pairs:
        outdeg[s] = outdeg.get(s, 0) + 1
    teleport = ((damping_den - damping_num) * scale) // (damping_den * n)
    ranks = {v: scale // n for v in nodes}
    for _ in range(iterations):
        dangling = sum(r for v, r in ranks.items() if v not in outdeg)
        dangling_share = (damping_num * dangling) // (damping_den * n)
        inflow: dict = {}
        for s, d in edge_pairs:
            c = (ranks[s] * damping_num) // (damping_den * outdeg[s])
            inflow[d] = inflow.get(d, 0) + c
        ranks = {
            v: teleport + dangling_share + inflow.get(v, 0) for v in nodes
        }
    return [(v, ranks[v]) for v in nodes]


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
    src_col: str = "src",
    dst_col: str = "dst",
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """Fixed-point PageRank over a (src, dst) edge list — the domain
    authority signal web-curation stacks weight sampling by (Common
    Crawl seed ranking / host-level quality priors): after
    ``iterations`` rounds of ``r' = (1-d)/N + d * (Σ_in r/deg +
    dangling/N)``, each node's rank is returned as ``rank_e12``, the
    rank scaled by ``scale`` in EXACT integer arithmetic.

    Integer fixed-point, not floats, for a reason that matters at
    scale as much as for the oracle: every per-iteration quantity is
    a BIGINT computed with truncating division (``div``), so the
    result is independent of partition count, partition order, and
    reduction tree shape — a double-summed PageRank drifts run to
    run, this one is bit-stable (and the DuckDB oracle unrolls the
    same iterations with ``//``). Bounds: ranks sum to ~scale, so
    ``rank * damping_num`` tops out near ``scale * damping_den``
    (1e14 here) — 4 orders of magnitude inside int64.

    Scale shape per iteration: one equi-join of the edge list against
    the node-sized rank table on ``src`` + one partial-aggregated
    groupBy on ``dst`` (the contribution sum — exact, longs), plus
    two 1-row aggregates (dangling mass, for nodes with no out-edges,
    and N). The edge list partitions by src once and every iteration
    reuses that layout; ranks are node-sized (hosts, not documents —
    100 TB of pages aggregates to ~1e7 hosts), so the join broadcasts
    the rank side when it fits and shuffles only edges otherwise.
    The doc->host extraction that FEEDS this is the heavy map; the
    iteration itself runs on the aggregated graph."""
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    # Hybrid execution (the duplicate_clusters / bpe_train_local
    # discipline): the AGGREGATED graph is host-sized (100 TB of
    # pages -> ~1e7 hosts), so once the distinct edge list fits the
    # driver the 5 damped iterations run as a Python loop over dicts
    # with the IDENTICAL truncating integer arithmetic (// == Spark's
    # `div` on the non-negative ranks) — bit-equality is property-
    # tested against the distributed loop. The distributed path's
    # per-iteration join + groupBy chain costs ~15 sequential shuffle
    # stages, pure scheduling overhead for a model-sized graph; it
    # remains the path for graphs that exceed the threshold.
    # Bounded probe-collect (r17, the duplicate_clusters shape): ONE
    # job decides the split and delivers the edges when they fit —
    # no persist before the split, so nothing can leak (ADVICE r16).
    # Driver memory at the default 10⁶ threshold is dominated by the
    # collected Row objects (order 100s of MB transiently), not the
    # 16 bytes/edge the long pairs themselves need — lower the
    # threshold for memory-tight drivers.
    probe = e.limit(local_threshold + 1).collect()
    if len(probe) <= local_threshold:
        out_rows = _pagerank_local(
            [(r["src"], r["dst"]) for r in probe],
            iterations, damping_num, damping_den, scale,
        )
        del probe
        spark = edges.sparkSession
        return literal_relation(spark, out_rows, "node long, rank_e12 long")
    del probe
    # the loop-invariant frames (edges, out-degrees, node set) are
    # read EVERY iteration — persist once or each round would rescan
    # and re-dedup the document-derived edge list (5 iterations +
    # the per-iteration dangling action = 10+ recomputes otherwise)
    e = e.persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n_nodes = nodes.count()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist()
    # teleport share floor((1-d)*scale / N), identical every round
    teleport = ((damping_den - damping_num) * scale) // (
        damping_den * n_nodes
    )
    ranks = nodes.select(
        "node", F.lit(scale // n_nodes).cast("long").alias("r")
    )
    # the DANGLING NODE SET is loop-invariant (only the mass on it
    # changes) — decide once. With no dangling nodes the whole
    # iteration chain stays LAZY (one linear-depth plan, ONE job at
    # the final materialization); with them, each round needs the
    # dangling-mass scalar as a literal, which forces a per-round
    # action — so only then pay the persist/count/unpersist
    # lineage-truncation discipline
    has_dangling = (
        nodes.join(
            outdeg, nodes["node"] == outdeg["src"], "left_anti"
        ).limit(1).count() > 0
    )
    prev = None
    for _ in range(iterations):
        if has_dangling:
            with_deg = ranks.join(
                outdeg, ranks["node"] == outdeg["src"], "left"
            ).select("node", "r", "deg")
            # dangling nodes leak their damped mass uniformly —
            # one scalar per iteration
            dangling = (
                with_deg.where(F.col("deg").isNull())
                .agg(F.coalesce(F.sum("r"), F.lit(0)).alias("dm"))
                .first()[0]
            )
            dangling_share = (damping_num * dangling) // (
                damping_den * n_nodes
            )
        else:
            dangling_share = 0
        contribs = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(
                "dst",
                F.expr(
                    f"(r * {damping_num}) div ({damping_den} * deg)"
                ).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = nodes.join(
            contribs, nodes["node"] == contribs["dst"], "left"
        ).select(
            "node",
            (
                F.lit(int(teleport + dangling_share)).cast("long")
                + F.coalesce(F.col("inflow"), F.lit(0))
            ).cast("long").alias("r"),
        )
        if has_dangling:
            # materialize THROUGH the still-cached previous ranks
            # before releasing them (unpersisting first would cascade
            # the recompute back to iteration 1)
            ranks = ranks.persist()
            ranks.count()
            if prev is not None:
                prev.unpersist()
            prev = ranks
    from toshokan_spark.operators.util import finalize_cached

    cached = [nodes, e, outdeg] + ([prev] if prev is not None else [])
    return finalize_cached(
        ranks.select("node", F.col("r").alias("rank_e12")), *cached
    )
