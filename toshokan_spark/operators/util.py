"""Shared operator plumbing."""

from __future__ import annotations

import logging
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)

_DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024


def _size_bytes(s: str) -> int:
    s = s.strip().lower()
    for suf, mult in (("g", 1 << 30), ("m", 1 << 20), ("k", 1 << 10), ("b", 1)):
        if s.endswith(suf):
            return int(float(s[: -len(suf)]) * mult)
    return int(s)


#: diagnostic seam (VERDICT r16 finding 2): when a list is installed
#: here, :func:`finalize_cached` appends the EXECUTED (post-AQE) plan
#: string of every frame it materializes — the real pre-checkpoint
#: shape that the returned frame's own ``explain()`` can no longer
#: show (it is a bare ``Scan ExistingRDD`` over the checkpoint).
#: Installed only by measurement tooling (tools/profile_entry.py
#: --plan-at); must stay ``None`` in production.
PLAN_SINK: "list[str] | None" = None


def finalize_cached(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Materialize *result* now with an eager ``localCheckpoint()``,
    then release every intermediate in *cached* (frames the caller
    persisted because *result* reads them more than once).

    Why not just return the lazy plan: ``DataFrame.persist()``
    registers the plan in the session-wide CacheManager, which holds
    a reference until an explicit ``unpersist()`` — in a long-lived
    pipeline service each operator call would leak its cached
    partitions forever. The checkpointed result's blocks are only
    plan-referenced, so the ContextCleaner frees them once the caller
    drops the returned DataFrame; its plan is one RDD scan, so a
    caller composing it pays no analysis or plan-printing cost for
    the lineage behind it. The results this wraps (candidate /
    duplicate pairs) are output-sized — tiny next to the corpus —
    so eager materialization is the cheap side of the trade.

    The checkpoint runs through the adaptive (AQE) plan: on PySpark
    4.1.2 a join + aggregate over 64 shuffle partitions checkpoints
    through ``AdaptiveSparkPlan isFinalPlan=true`` with coalesced
    shuffle reads (1 output partition; pinned by
    ``tests/test_plan_audit.py``). An older recipe ran persist →
    ``count()`` → ``localCheckpoint()`` on the belief that a bare
    checkpoint skipped AQE; the cached plan instead pinned the
    partitioning (``canChangeCachedPlanOutputPartitioning``), which
    blocked the coalescing and cost extra jobs per call (sf0.01,
    ``local[2]``: ``dedup_ngram_jaccard`` 14 → 11 jobs;
    ``dedup_minhash_lsh``, whose intermediates are checkpointed too,
    23 → 13).
    """
    try:
        out = result.localCheckpoint()
        if PLAN_SINK is not None:
            try:
                PLAN_SINK.append(
                    result._jdf.queryExecution().executedPlan().toString()
                )
            except Exception:  # diagnostics must never fail the query
                pass
        return out
    finally:
        for df in cached:
            df.unpersist()


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str] | str,
    salt: int = 16,
    how: str = "inner",
    salt_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Equi-join with explicit key salting — the manual remedy for a
    join whose key distribution is so skewed that one key's rows
    exceed an executor (AQE's skew-join split handles moderate skew
    automatically, but it can only SPLIT a sort-merge partition; when
    a single hot key dominates a join against a non-broadcastable
    side, salting is the standard fix):

    * the BIG side gets a deterministic per-row salt in [0, salt),
      splitting each hot key across ``salt`` reducers;
    * the SMALL side is exploded ``salt``-fold so every (key, salt)
      bucket finds its match.

    Use when `small` is too big to broadcast but far smaller than
    `big` (a dim table of millions of rows): costs salt× duplication
    of the small side in exchange for salt-way parallelism on every
    hot key. Results are identical to the plain join (asserted by
    test).

    Only ``inner`` and ``left`` joins are supported: under right/full
    semantics every unmatched (key, salt) copy of the small side
    would surface as its own null-padded output row (salt× duplicated
    unmatched rows).

    The salt is a hash of big-row CONTENT, never
    ``monotonically_increasing_id`` — a recomputed map task after a
    shuffle-fetch failure must assign every row the same salt, or the
    retry silently duplicates/drops rows. Pass ``salt_cols`` (columns
    that vary WITHIN a hot key — a row id, a timestamp) to salt on
    ``keys + salt_cols`` only; by default the salt hashes every
    hashable big-side column (map-typed columns are skipped —
    ``xxhash64`` cannot hash them). Hashing the keys ALONE would be
    useless: constant per key, so a hot key would land on one salt.
    Identical full rows colliding on one salt merely spreads a touch
    less."""
    keys = [on] if isinstance(on, str) else list(on)
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join supports inner/left joins only, got {how!r}: "
            "right/full would duplicate unmatched small-side rows salt times"
        )
    if salt < 2:
        return big.join(small, keys, how)
    if salt_cols is not None:
        hash_cols = [*keys, *salt_cols]
    else:
        from pyspark.sql.types import ArrayType, MapType, StructType

        def _bears_map(dt) -> bool:
            # xxhash64 rejects MapType at ANY nesting depth
            # (array<map<...>>, struct<m: map<...>>), not just
            # top-level — recurse the whole type tree
            if isinstance(dt, MapType):
                return True
            if isinstance(dt, ArrayType):
                return _bears_map(dt.elementType)
            if isinstance(dt, StructType):
                return any(_bears_map(f.dataType) for f in dt.fields)
            return False

        hash_cols = [
            f.name
            for f in big.schema.fields
            if not _bears_map(f.dataType)
        ]
        if not hash_cols:
            raise ValueError(
                "salted_join: every big-side column bears a map type, "
                "so no deterministic salt can be derived — pass "
                "salt_cols naming map-free columns that vary within a "
                "hot key"
            )
    b = big.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in hash_cols]), F.lit(salt)).cast("int"),
    )
    s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return b.join(s, [*keys, "__salt"], how).drop("__salt")


def spread(df: DataFrame, min_factor: int = 1) -> DataFrame:
    """Repartition ``df`` up to the cluster's default parallelism when
    the scan would produce fewer partitions than cores.

    Why: per-row-heavy operators (shingling, 128-way MinHash, SimHash
    bit votes, pairwise cosine) are narrow — Spark runs them with the
    scan's partitioning, and a small parquet file arrives as ONE
    partition, serializing the whole pass on one core. The round-robin
    exchange costs one shuffle of the (slim, pre-projected) input and
    buys full-cluster parallelism for the expensive expression work.

    The decision uses the optimizer's size estimate (plan stats), NOT
    ``df.rdd.getNumPartitions()`` — materializing the RDD lineage per
    operator call compiles a non-AQE physical plan on the driver and
    defeats AQE's own runtime coalescing. An input larger than
    cores × maxPartitionBytes already scans as ≥ one split per core,
    so this is a no-op at real scale (a 100 TB table is tens of
    thousands of splits).
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism * min_factor
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return df.repartition(target)
    try:
        max_pb = _size_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", str(_DEFAULT_MAX_PARTITION_BYTES))
        )
    except Exception:
        max_pb = _DEFAULT_MAX_PARTITION_BYTES
    if size <= target * max_pb:
        return df.repartition(target)
    return df


def numeric_order_proxy(col, dtype):
    """A numeric expression that is (non-strictly) monotone in the
    column's sort order — the coarse-bucketing key for
    :func:`grouped_prefix`. Monotone NON-strict is all the two-level
    decomposition needs: rows that collide on the proxy merely share
    a coarse bucket and are ordered by the true key inside it.

    * numeric types: cast to double (rounding a long > 2^53 can
      merge neighbors but never reorders them);
    * strings: the first 7 UTF-8 bytes folded big-endian into a long
      via hex — UTF-8 byte order equals code-point order, and
      right-padding the hex with '0' keeps shorter strings below
      longer extensions exactly as Spark's string comparison does;
    * timestamps/dates/booleans: their natural numeric cast.
    """
    from pyspark.sql.types import (
        BooleanType,
        DateType,
        NumericType,
        StringType,
        TimestampType,
    )

    if isinstance(dtype, NumericType):
        return col.cast("double")
    if isinstance(dtype, StringType):
        return F.conv(
            F.rpad(F.hex(col.cast("binary")).substr(1, 14), 14, "0"), 16, 10
        ).cast("long")
    if isinstance(dtype, (TimestampType, DateType)):
        return col.cast("timestamp").cast("double")
    if isinstance(dtype, BooleanType):
        return col.cast("int")
    raise ValueError(
        f"numeric_order_proxy: no monotone numeric proxy for {dtype}"
    )


def grouped_prefix(
    df: DataFrame,
    group_col: str,
    proxy,
    order_cols: Sequence,
    *,
    value=None,
    n_coarse: int = 64,
    accuracy: int = 10000,
    rank_col: str = "__rank",
    cumsum_col: str = "__cumsum",
    materialize: bool = True,
    nulls_last: bool = True,
    total_col: str | None = None,
    fixed_bounds: "Sequence[float] | None" = None,
) -> DataFrame:
    """Exact per-group rank (and optional running sum) WITHOUT a
    per-group window — the scale-safe replacement for
    ``Window.partitionBy(group)`` when the group cardinality is low
    (a handful of sources): that window funnels every row of a group
    through ONE task, the classic skewed-key shuffle. Here no task
    ever holds more than ~1/n_coarse of a group:

    1. per-group coarse-bucket boundaries from one
       ``approx_percentile`` pass over *proxy* (deterministic sketch,
       no sampling), broadcast back;
    2. each row's coarse bucket by comparing its proxy to the
       boundaries — monotone in the sort order, so bucket order IS
       key order and proxy ties always share a bucket;
    3. the expensive window runs per ``(group, coarse)`` — n_coarse-way
       parallelism per group, bounded partition sizes;
    4. per-bucket totals (a tiny ``G × n_coarse`` frame) turn into
       per-bucket offsets via a broadcast triangular self-join — NOT a
       per-group window, so the whole plan carries no window
       partitioned by the group alone (asserted by plan test);
    5. global rank/cumsum = local + preceding-bucket offset.

    This is the standard distributed prefix-sum decomposition (the
    two-level scan of parallel-algorithms textbooks) expressed in
    DataFrame ops. Results are EXACTLY the single-window answers —
    rank ties are impossible when *order_cols* is a total order.

    *proxy* must be oriented ASCENDING in the desired order (negate
    for descending keys); rows where it is null are routed to the
    LAST bucket by default (desc-nulls-last / asc-nulls-last
    composite orderings) or the FIRST with ``nulls_last=False``
    (plain ``asc()`` = NULLS FIRST — pass this when *order_cols* use
    Spark's ascending default, or null-keyed rows would rank in a
    different place than the single-window answer). *order_cols* are
    the full tie-broken ordering expressions. *value*, when given,
    adds ``cumsum_col`` (running sum inclusive of the current row).

    The plan references *df* twice (boundaries + data pass) and the
    windowed frame twice (totals + final join), so both are persisted
    for the duration of one eager materialization and released before
    returning (the :func:`finalize_cached` discipline) — without it an
    expensive upstream (the unigram-LM scorer, a tokenize pass) runs
    once per reference. The persisted frames are the SLIM projection
    the caller hands in, never the wide corpus; at cluster scale
    they spill per ``MEMORY_AND_DISK`` instead of recomputing.
    ``materialize=False`` returns the lazy plan un-persisted (for
    plan-shape tests; production callers keep the default).

    *total_col*, when given, adds the per-group ROW COUNT as a long
    column — it falls out of the same tiny per-bucket-totals
    broadcast join that computes the rank offsets (the group total is
    the sum over ALL of the group's buckets, the offset over the
    PRECEDING ones), so callers that need N alongside the rank (ntile
    arithmetic) skip a whole extra counting pass over the input.

    *fixed_bounds*, when given (an ascending numeric list, length
    n_coarse-1 by convention), replaces the per-group percentile
    sketch: every group buckets against these literal boundaries and
    the boundary-aggregation job disappears, as does the input
    persist (with one pass over *df* nothing references it twice).
    Ranks are EXACT for any monotone bucketing — boundary placement
    only affects balance — so this is for proxies with a known
    uniform domain (hash keys): equal-width literals are as balanced
    as a sketch and one corpus pass cheaper.
    """
    if materialize and fixed_bounds is None:
        # fixed_bounds leaves df single-referenced (no boundary pass):
        # the windowed frame's persist covers it
        df = df.persist()
        cached = [df]
    else:
        cached = []
    # any exception between persist() and finalize_cached() — e.g. a
    # bad order/proxy expression resolving at action time — must not
    # leak CacheManager entries for the session lifetime (the
    # train_ivf_centroids try/finally discipline, ADVICE r8)
    try:
        return _grouped_prefix_body(
            df, group_col, proxy, order_cols, value=value,
            n_coarse=n_coarse, accuracy=accuracy, rank_col=rank_col,
            cumsum_col=cumsum_col, materialize=materialize,
            nulls_last=nulls_last, cached=cached,
            total_col=total_col, fixed_bounds=fixed_bounds,
        )
    except BaseException:
        for c in cached:
            c.unpersist()
        raise


def _sql_lit(v) -> "str | None":
    """Render a collected Python scalar as a bit-exact SQL literal —
    the one-``F.expr``-trip trick of ``text._literal_frame``: a
    driver-side map built from thousands of ``F.lit``/``create_map``
    Column calls costs one py4j round trip PER node (measured ~13 s of
    pure driver time for a 20-group × 64-bucket offset map), where a
    rendered string parses in a single trip. Returns None for types
    without an exact rendering (callers fall back to the join path).
    Doubles use ``repr`` (shortest round-trip form) + the ``D``
    suffix, so parsed values are bit-identical; strings are
    backslash-escaped for Spark's default (non-legacy) literal
    parser."""
    import math

    if isinstance(v, bool):
        return None
    if isinstance(v, int):
        return f"{v}L"
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return f"{v!r}D"
    if isinstance(v, str):
        s = v.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"
    return None


def _grouped_prefix_body(
    df, group_col, proxy, order_cols, *, value, n_coarse, accuracy,
    rank_col, cumsum_col, materialize, nulls_last, cached,
    total_col, fixed_bounds,
):
    from pyspark.sql.window import Window

    if fixed_bounds is not None:
        d = df.withColumn("__proxy", proxy).withColumn(
            "__coarse",
            F.when(
                F.col("__proxy").isNull(),
                F.lit(len(fixed_bounds) + 1 if nulls_last else 1),
            )
            .otherwise(
                F.lit(1)
                + F.size(
                    F.filter(
                        F.array(*[F.lit(b) for b in fixed_bounds]),
                        lambda b: b < F.col("__proxy"),
                    )
                )
            )
            .cast("int"),
        ).drop("__proxy")
        return _grouped_prefix_rank(
            d, group_col, order_cols, value=value, rank_col=rank_col,
            cumsum_col=cumsum_col, materialize=materialize,
            cached=cached, total_col=total_col,
        )

    qs = [i / n_coarse for i in range(1, n_coarse)]
    bounds = df.groupBy(group_col).agg(
        F.percentile_approx(proxy, qs, accuracy).alias("__bounds")
    )
    bounds_arr = F.col("__bounds")
    attach_literal = None
    if materialize:
        # Collapsed-boundary detection (VERDICT r8 #3): a
        # near-constant proxy collapses the percentile boundaries,
        # one coarse bucket holds the whole group, and the operator
        # silently reverts to the single-task window it exists to
        # avoid. The boundary frame is tiny (G × n_coarse, group
        # cardinality is low by contract), so collect it, warn per
        # degenerate group, and re-enter the boundaries as a LITERAL
        # group→bounds map — the former createDataFrame(rows)
        # broadcast side parallelized a pickled RDD whose broadcast
        # cost its own collect job, where a literal map is a plain
        # expression in the data pass (the _literal_frame rationale).
        rows = bounds.collect()
        # cap the floor by the number of REQUESTED boundaries (len(qs)
        # = n_coarse - 1): at n_coarse=2 a group has one boundary, so
        # "distinct < 2" would flag every perfectly-spread proxy —
        # with a capped floor the warning needs an actually-collapsed
        # (empty/null) boundary list to fire there
        floor = min(max(2, n_coarse // 8), len(qs))
        for r in rows:
            bs = r["__bounds"] or []
            distinct = len(set(bs))
            if distinct < floor:
                _LOG.warning(
                    "grouped_prefix: group %r has only %d distinct "
                    "coarse boundaries (< %d) — proxy is near-constant,"
                    " one bucket will hold ~the whole group and scale "
                    "mode buys no parallelism there",
                    r[group_col], distinct, floor,
                )
        gdt = df.schema[group_col].dataType
        bdt = bounds.schema["__bounds"].dataType
        entries = []
        for r in rows:
            if r[group_col] is None:
                # the former inner join on group_col dropped
                # null-group rows; the literal path mirrors that with
                # an explicit filter below, so a null key never enters
                # the map (ANSI map literals reject it anyway)
                continue
            gl = _sql_lit(r[group_col])
            bs = r["__bounds"]
            if bs is None:
                arr = "NULL"
            else:
                parts = [_sql_lit(x) for x in bs]
                arr = (
                    f"array({','.join(parts)})"
                    if all(p is not None for p in parts)
                    else None
                )
            if gl is None or arr is None:
                entries = []
                break  # unrenderable type: keep the join path
            entries.append(f"{gl},{arr}")
        if entries:
            # ONE parsed expression (see _sql_lit) — the CAST pins the
            # exact key/element types so element_at and the boundary
            # comparisons see the same types the joined column had
            bmap = F.expr(
                f"CAST(map({','.join(entries)}) AS "
                f"MAP<{gdt.simpleString()},{bdt.simpleString()}>)"
            )
            bounds_arr = F.element_at(bmap, F.col(group_col))
            attach_literal = True
        # no non-null groups at all (empty input) or an unrenderable
        # group/boundary type: fall through to the lazy join
    if attach_literal:
        base = df.filter(F.col(group_col).isNotNull())
    else:
        base = df.join(F.broadcast(bounds), group_col)
    d = (
        base.withColumn("__proxy", proxy)
        .withColumn(
            "__coarse",
            F.when(
                F.col("__proxy").isNull(),
                F.lit(n_coarse if nulls_last else 1),
            )
            .otherwise(
                F.lit(1)
                + F.size(
                    F.filter(
                        bounds_arr, lambda b: b < F.col("__proxy")
                    )
                )
            )
            .cast("int"),
        )
        .drop(*(["__proxy"] if attach_literal else ["__bounds", "__proxy"]))
    )
    return _grouped_prefix_rank(
        d, group_col, order_cols, value=value, rank_col=rank_col,
        cumsum_col=cumsum_col, materialize=materialize, cached=cached,
        total_col=total_col,
    )


def _grouped_prefix_rank(
    d, group_col, order_cols, *, value, rank_col, cumsum_col,
    materialize, cached, total_col,
):
    """Stages 3–5 of :func:`grouped_prefix`, given the coarse-bucketed
    frame *d* (carrying ``__coarse``): per-(group, coarse) window,
    per-bucket totals, broadcast offsets, global rank/cumsum."""
    from pyspark.sql.window import Window

    wr = Window.partitionBy(group_col, "__coarse").orderBy(*order_cols)
    d = d.withColumn("__lrank", F.row_number().over(wr))
    aggs = [F.count(F.lit(1)).alias("__cnt")]
    if value is not None:
        ws = wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        d = d.withColumn("__lsum", F.sum(value).over(ws))
        aggs.append(F.sum(value).alias("__vsum"))
    if materialize:
        d = d.persist()
        cached.append(d)
    tot = d.groupBy(group_col, "__coarse").agg(*aggs)
    if materialize:
        # The per-bucket totals are G × n_coarse — model-sized by
        # contract — so collect them (one job, which also fills d's
        # cache) and prefix-sum in the driver: the rank/cumsum offsets
        # and the group totals re-enter as LITERAL group→coarse maps,
        # deleting the triangular broadcast self-join AND the second
        # broadcast join that attached its output (two broadcast
        # exchanges, each its own job under AQE; at scale two
        # model-sized shuffle stages). Counts are longs and the
        # driver sums are exact; a non-integer *value* falls back to
        # the join path below — reassociating float bucket sums in
        # the driver could drift the committed cumsum in the last
        # ulp, and no current caller pays that fallback.
        rows = tot.collect()
        literal_ok = bool(rows) and (
            value is None
            or all(isinstance(r["__vsum"], int) for r in rows)
        )
        if literal_ok:
            gdt = d.schema[group_col].dataType
            gsql = gdt.simpleString()
            per: dict = {}
            for r in rows:
                if r[group_col] is None:
                    # the join path's inner equi-join dropped
                    # null-group rows; mirrored by the filter below
                    continue
                per.setdefault(r[group_col], {})[r["__coarse"]] = r
            # rendered as SQL text, one F.expr parse per map — NOT
            # per-node Column calls (see _sql_lit)
            cnt_entries, tot_entries, sum_entries = [], [], []
            for g, sub in per.items():
                gl = _sql_lit(g)
                if gl is None:
                    literal_ok = False
                    break
                run_c, run_v = 0, 0
                inner_cnt, inner_sum = [], []
                for c in sorted(sub):
                    inner_cnt.append(f"{c},{run_c}L")
                    if value is not None:
                        inner_sum.append(f"{c},{run_v}L")
                    run_c += sub[c]["__cnt"]
                    if value is not None:
                        run_v += sub[c]["__vsum"]
                cnt_entries.append(f"{gl},map({','.join(inner_cnt)})")
                if total_col is not None:
                    tot_entries.append(f"{gl},{run_c}L")
                if value is not None:
                    sum_entries.append(f"{gl},map({','.join(inner_sum)})")
        if literal_ok:
            def _mapexpr(items, vsql):
                return F.expr(
                    f"CAST(map({','.join(items)}) AS MAP<{gsql},{vsql}>)"
                )

            gk, ck = F.col(group_col), F.col("__coarse")
            off_cnt = F.element_at(
                F.element_at(
                    _mapexpr(cnt_entries, "MAP<INT,BIGINT>"), gk
                ),
                ck,
            )
            out = d.filter(gk.isNotNull()).withColumn(
                rank_col, (off_cnt + F.col("__lrank")).cast("long")
            )
            if total_col is not None:
                out = out.withColumn(
                    total_col,
                    F.element_at(_mapexpr(tot_entries, "BIGINT"), gk),
                )
            if value is not None:
                out = out.withColumn(
                    cumsum_col,
                    F.element_at(
                        F.element_at(
                            _mapexpr(sum_entries, "MAP<INT,BIGINT>"), gk
                        ),
                        ck,
                    )
                    + F.col("__lsum"),
                ).drop("__lsum")
            out = out.drop("__coarse", "__lrank")
            return finalize_cached(out, *cached)
        # fall through (empty input or float value sums): the lazy
        # broadcast-join path below is the semantics of record
    a, b = tot.alias("a"), tot.alias("b")
    preceding = F.col("b.__coarse") < F.col("a.__coarse")
    if total_col is None:
        offs = [
            F.coalesce(F.sum("b.__cnt"), F.lit(0)).cast("long").alias("__off_cnt")
        ]
        if value is not None:
            offs.append(
                F.coalesce(F.sum("b.__vsum"), F.lit(0)).alias("__off_sum")
            )
        cond = (
            (F.col(f"a.{group_col}") == F.col(f"b.{group_col}")) & preceding
        )
        how = "left"
    else:
        # group-wide join (every a-row matches at least itself):
        # the offset restricts to PRECEDING buckets inside the
        # aggregate, the group total sums ALL buckets — same tiny
        # G x n_coarse broadcast self-join, one extra column
        offs = [
            F.sum(F.when(preceding, F.col("b.__cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias("__off_cnt"),
            F.sum("b.__cnt").cast("long").alias(total_col),
        ]
        if value is not None:
            offs.append(
                F.sum(
                    F.when(preceding, F.col("b.__vsum")).otherwise(F.lit(0))
                ).alias("__off_sum")
            )
        cond = F.col(f"a.{group_col}") == F.col(f"b.{group_col}")
        how = "inner"
    off = (
        a.join(F.broadcast(b), cond, how)
        .groupBy(F.col(f"a.{group_col}"), F.col("a.__coarse"))
        .agg(*offs)
    )
    out = d.join(F.broadcast(off), [group_col, "__coarse"]).withColumn(
        rank_col, (F.col("__off_cnt") + F.col("__lrank")).cast("long")
    )
    if value is not None:
        out = out.withColumn(
            cumsum_col, F.col("__off_sum") + F.col("__lsum")
        ).drop("__lsum", "__off_sum")
    out = out.drop("__coarse", "__lrank", "__off_cnt")
    if not materialize:
        return out
    return finalize_cached(out, *cached)
