"""Search: manifest scan -> compiled predicate -> limit -> JSON docs.

Replaces the reference's per-segment tantivy search + mpsc merge
(`/root/reference/src/commands/search.rs:111-238`) with one
declarative plan::

    spark.read.parquet(*manifested_segments).filter(pred).limit(k)

The manifest prunes whole segments first (day ranges, zone maps,
token blooms); Catalyst/Parquet then give predicate pushdown,
row-group skipping, column pruning and a short-circuiting global
limit. Two deliberate deviations from the reference, both stricter
(SURVEY §2.5, §3.1):

* results are globally deterministic under ``sort_by`` — the
  reference returns the first ``limit`` docs to arrive over a channel
  with no cross-file re-rank;
* only segments of the *queried* index are opened — the reference
  opens every file of every index (`src/commands/mod.rs:107`).

Output shaping parity (`search.rs:25-94`): one JSON object per doc,
keys sorted lexically, ``_dynamic`` keys spliced into the top level,
static objects emitted nested, datetimes as RFC3339 ``Z``, absent /
null fields omitted. The shaping runs driver-side over the ≤ limit
collected rows — O(k), while the scan/filter stays distributed.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone
from decimal import Decimal
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from toshokan_spark.catalog import FsCatalog
from toshokan_spark.config import DYNAMIC_FIELD_NAME, IndexConfig
from toshokan_spark.ingest import is_internal
from toshokan_spark.query import time_bounds
from toshokan_spark.literals import literal_relation, sql_literal
from toshokan_spark.query_sql import _DBL, _STR, _q, compile_query_fast, sql_expr
from toshokan_spark.plans.ast import parse_query


def read_segments(
    spark: SparkSession,
    paths: list[str],
    schemas: "Optional[list]" = None,
) -> DataFrame:
    """ONE multi-path scan node over the manifested segments (the
    reference's equivalent is the implicit union-of-segments at search,
    `search.rs:162-204`), so a query that keeps 10k segments analyzes
    in O(1) plan nodes, not a 10k-arm union.

    ``schemas`` lists each segment's recorded schema
    (``SegmentEntry.schema``, parallel to *paths*). When every segment
    has one, the scan's schema is the recorded schemas folded in
    Python, before any Spark call, the way ``mergeSchema`` folds
    footers: in file-path order (the order Spark sorts the files in,
    not the manifest's), first-seen column order, new columns
    appended. No parquet footer is read while planning; inferring a
    schema costs a Spark job. A column missing from a segment
    null-fills, exactly like ``unionByName(allowMissingColumns=True)``.

    Files are listed recursively, so segments written in the old
    ``seg-X/__day=YYYY-MM-DD/part-*.parquet`` layout read in the same
    scan: their day directories are not partition columns, and the
    ``__day`` their recorded schemas name is dropped.

    A segment without a recorded schema (old manifests), or recorded
    types the fold cannot reconcile, sends the read down the inference
    path: ``mergeSchema`` over the footers.
    """
    reader = spark.read.option("recursiveFileLookup", "true")
    pinned = _recorded_schemas(schemas, len(paths))
    if pinned is not None:
        # every file of a segment shares its schema, so the files'
        # path order is the order of the segment paths plus "/"
        by_path = sorted(range(len(paths)), key=lambda i: paths[i].rstrip("/") + "/")
        merged = merge_schemas([pinned[i] for i in by_path])
        if merged is not None:
            return reader.schema(merged).parquet(*paths)
    if len(paths) > 1:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*paths)


#: the day-directory column of segments written in the old
#: ``seg-X/__day=.../`` layout; a recursive listing never reads it
_OLD_LAYOUT_DAY_COL = "__day"


def _recorded_schemas(schemas, n: int):
    """Each segment's recorded schema as a StructType, or None when
    any segment has none."""
    from pyspark.sql.types import StructType

    if schemas is None or len(schemas) != n or any(s is None for s in schemas):
        return None
    parsed: dict = {}  # segments of one manifest share schema objects
    out = []
    for s in schemas:
        t = parsed.get(id(s))
        if t is None:
            t = parsed[id(s)] = StructType([
                f for f in StructType.fromJson(s).fields
                if f.name != _OLD_LAYOUT_DAY_COL
            ])
        out.append(t)
    return out


def merge_schemas(schemas: list) -> "Optional[StructType]":
    """Fold segment schemas the way a ``mergeSchema`` parquet read
    folds its files' footers: left to right, a column keeps its
    first-seen position and new columns are appended; nested structs
    merge the same way. Returns None when two schemas disagree on a
    column's type or metadata, or name columns that differ only in
    case: Spark settles those itself, so the caller falls back to
    inference rather than guess its answer."""
    out = schemas[0]
    for s in schemas[1:]:
        out = _merge_type(out, s)
        if out is None:
            return None
    return out


def _merge_type(a, b):
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if a == b:
        return a
    if isinstance(a, StructType) and isinstance(b, StructType):
        fields = list(a.fields)
        at = {f.name: i for i, f in enumerate(fields)}
        lower = {f.name.lower() for f in fields}
        for f in b.fields:
            i = at.get(f.name)
            if i is None:
                if f.name.lower() in lower:
                    return None
                at[f.name] = len(fields)
                lower.add(f.name.lower())
                fields.append(f)
                continue
            left = fields[i]
            t = _merge_type(left.dataType, f.dataType)
            if t is None or left.metadata != f.metadata:
                return None
            fields[i] = StructField(
                left.name, t, left.nullable or f.nullable, left.metadata
            )
        return StructType(fields)
    if isinstance(a, ArrayType) and isinstance(b, ArrayType):
        t = _merge_type(a.elementType, b.elementType)
        return None if t is None else ArrayType(t, a.containsNull or b.containsNull)
    if isinstance(a, MapType) and isinstance(b, MapType):
        k = _merge_type(a.keyType, b.keyType)
        v = _merge_type(a.valueType, b.valueType)
        if k is None or v is None:
            return None
        return MapType(k, v, a.valueContainsNull or b.valueContainsNull)
    return None


def _pruned_segments(config, segs, node, verdict_sink=None):
    """MANIFEST-LEVEL pruning: drop segments whose recorded stats
    cannot overlap the query's bounds BEFORE building any scan — the
    day range against the query's time bounds, and each NUMBER
    field's [min, max] zone map (``SegmentEntry.field_stats``)
    against the query's numeric bounds. At 10k segments this
    collapses the scan to the overlapping few paths; pushed filters
    and parquet row-group stats then prune WITHIN the survivors.
    Segments without recorded stats are conservatively kept. Returns
    ``(lo, hi, surviving_segments)``.

    ``verdict_sink``: optional list; when given, one
    ``(segment_id, rule)`` tuple is appended per segment — the rule
    that PRUNED it (``"day-range"``, ``"time-zone-map"``,
    ``"zone-map:<field>"``, ``"bloom:<field>"``) or ``None`` when it
    is kept — so ``explain`` can show WHY a scan touches N files (at
    100× scale the audit trail for an unexpectedly wide scan)."""
    from toshokan_spark.functions.bloom import (
        bloom_absent_any,
        required_term_tokens,
    )
    from toshokan_spark.query import ip_bounds, numeric_bounds, raw_term_bounds

    # required query tokens per TOKENIZED text field (term/phrase
    # conjuncts) — probed against each segment's manifest token bloom
    # (SegmentEntry.token_blooms); computed once, O(query size)
    req_tokens: dict[str, set[str]] = {}
    for f in config.fields:
        if f.type == "text" and (f.tokenizer != "raw" or f.array):
            req = required_term_tokens(node, f.name, f.tokenizer)
            if req:
                req_tokens[f.name] = req

    lo = hi = None
    lo_us = hi_us = None
    if config.time_field:
        lo, hi = time_bounds(node, config.time_field)
        # sub-day pruning compares in the epoch-micros space the
        # manifest records (lo/hi are tz-aware UTC datetimes)
        if lo is not None:
            lo_us = int(lo.timestamp() * 1_000_000)
        if hi is not None:
            hi_us = int(hi.timestamp() * 1_000_000)
    num_bounds = {}
    for f in config.fields:
        if f.array:
            continue  # no zone maps for array columns
        if f.type == "number":
            nlo, nhi = numeric_bounds(node, f.name)
        elif f.type == "text" and f.tokenizer == "raw":
            nlo, nhi = raw_term_bounds(node, f.name)
        elif f.type == "ip":
            nlo, nhi = ip_bounds(node, f.name)
        else:
            continue
        if nlo is not None or nhi is not None:
            num_bounds[f.name] = (nlo, nhi)
    out = []
    for s in segs:
        rule = _segment_prune_rule(
            s, config, lo, hi, lo_us, hi_us, num_bounds, req_tokens,
            bloom_absent_any,
        )
        if verdict_sink is not None:
            verdict_sink.append((s.id, rule))
        if rule is None:
            out.append(s)
    return lo, hi, out


def _segment_prune_rule(
    s, config, lo, hi, lo_us, hi_us, num_bounds, req_tokens, bloom_absent_any
):
    """The FIRST rule that proves segment *s* cannot match, or None
    (kept). Rule order = cheapest check first, same order the prune
    loop always ran them."""
    if s.min_day and s.max_day:
        if hi is not None and s.min_day > str(hi.date()):
            return "day-range"
        if lo is not None and s.max_day < str(lo.date()):
            return "day-range"
    # sub-day time zone map: at streaming cadence many segments
    # share a day — the recorded [min, max] epoch micros drop the
    # non-overlapping micro-batches the day range cannot
    ts = (s.field_stats or {}).get(config.time_field) if config.time_field else None
    if ts:
        if (hi_us is not None and ts[0] > hi_us) or (
            lo_us is not None and ts[1] < lo_us
        ):
            return "time-zone-map"
    if num_bounds and s.field_stats:
        for name, (nlo, nhi) in num_bounds.items():
            st = s.field_stats.get(name)
            if not st:
                continue
            smin, smax = st
            if (nhi is not None and smin > nhi) or (
                nlo is not None and smax < nlo
            ):
                return f"zone-map:{name}"
    if req_tokens and s.token_blooms:
        for fname, req in req_tokens.items():
            bl = s.token_blooms.get(fname)
            if not bl:
                continue  # no bloom for this field: cannot prune
            if bloom_absent_any(bl, req):
                return f"bloom:{fname}"  # a REQUIRED token provably absent
    return None


def apply_deletes(pred, config: IndexConfig, columns: set, deletes) -> "object":
    """AND NOT(compiled tombstone) onto *pred* for every pending
    delete (`catalog.DeleteEntry`). NULL never deletes: the compiled
    tombstone is coalesced to FALSE before negation, so a row where
    the delete predicate is UNKNOWN survives — SQL ``DELETE WHERE p``
    semantics (only TRUE rows go), and consistent with the compiler's
    own absent-field rule (query_sql.py: an `alter`-added field absent
    from every scanned segment compiles to a typed NULL that "matches
    nothing"). Without the coalesce, a tombstone on such a field
    would mask — and at merge time physically destroy — EVERY row.
    Compiled fresh per read, so deletes survive schema drift the same
    way queries do."""
    for d in deletes:
        pred = pred & ~F.coalesce(
            compile_query_fast(d.query, config, columns), F.lit(False)
        )
    return pred


def _filtered_scan(
    spark: SparkSession,
    catalog: FsCatalog,
    index_name: str,
    node,
    at_version: Optional[int],
    compile_pred,
):
    """The scan every index search shares: one manifest snapshot, its
    segments pruned against *node*, the survivors' scan, the compiled
    query (``compile_pred(config, columns)``) with the snapshot's
    delete tombstones masked out. Returns ``(config, segments, scan,
    predicate)``; scan and predicate are None when pruning kept no
    segment."""
    from toshokan_spark.storage import join_path

    config = catalog.get_index(index_name)
    _ver, segs, deletes = catalog.snapshot(index_name, at_version=at_version)
    _lo, _hi, segs = _pruned_segments(config, segs, node)
    if not segs:
        return config, segs, None, None
    df = read_segments(
        spark,
        [join_path(config.path, s.file_name) for s in segs],
        schemas=[s.schema for s in segs],
    )
    columns = set(df.columns)
    pred = apply_deletes(
        compile_pred(config, columns), config, columns, deletes
    )
    return config, segs, df, pred


def search_df(
    spark: SparkSession,
    catalog: FsCatalog,
    index_name: str,
    query: str,
    limit: Optional[int] = 1,
    sort_by: Optional[list] = None,
    at_version: Optional[int] = None,
) -> DataFrame:
    """The distributed part: scan manifested segments, filter, limit.
    ``at_version`` time-travels the scan to a retained manifest
    snapshot (`catalog.snapshot`) — the query plan, pruning and all,
    is built against exactly the segments manifested then."""
    node = parse_query(query)

    def compile_pred(config, columns):
        # compile the ALREADY-parsed node: one F.expr py4j round trip
        from toshokan_spark.query_sql import render_node_sql

        return sql_expr(render_node_sql(node, config, columns), spark)

    config, _segs, df, pred = _filtered_scan(
        spark, catalog, index_name, node, at_version, compile_pred
    )
    if df is None:
        return spark.createDataFrame([], config.spark_schema())
    out = df.filter(pred)
    if sort_by:
        out = out.orderBy(*sort_by)
    if limit is not None:
        if limit == 0:
            # early exit (`search.rs:117-119`)
            return out.limit(0)
        out = out.limit(limit)
    return out


def _positive_highlight_words(node, field: str) -> "list[str]":
    """The POSITIVE query words that target *field* (or are
    unqualified): Term/Prefix/Phrase/PhrasePrefix under must/should;
    must_not branches are excluded (ES's highlighter likewise never
    marks negated terms). Phrases contribute their words."""
    from toshokan_spark.plans.ast import (
        BoolQuery,
        Fuzzy,
        Phrase,
        PhrasePrefix,
        Prefix,
        Term,
    )

    out: "list[str]" = []

    def walk(n, negated: bool) -> None:
        if isinstance(n, BoolQuery):
            for c in n.must + n.should:
                walk(c, negated)
            for c in n.must_not:
                walk(c, True)
            return
        if negated:
            return
        tgt = getattr(n, "field", None)
        if tgt is not None and tgt[0] != field:
            return
        if isinstance(n, (Term, Fuzzy)):
            out.append((n.text, False))
        elif isinstance(n, Prefix):
            out.append((n.text, True))
        elif isinstance(n, (Phrase, PhrasePrefix)):
            last = isinstance(n, PhrasePrefix)
            words = n.text.split()
            for i, w in enumerate(words):
                out.append((w, last and i == len(words) - 1))

    walk(node, False)
    return out


def highlight(
    hits: DataFrame,
    query: str,
    field: str,
    pre: str = "<em>",
    post: str = "</em>",
    fragment_size: "int | None" = None,
) -> DataFrame:
    """ES/quickwit-style hit highlighting (the reference CLI prints
    raw docs only — search-layer extension like the panel aggs): a
    ``snippet`` column of *field* with every word the query
    positively matches wrapped in ``pre``/``post`` markers,
    case-insensitive on word boundaries; ``fragment_size`` trims to
    a window around the first match (1-based ``locate`` + substring
    — the same arithmetic in both engines). Pure JVM regex — one
    narrow projection, nothing per-row in Python.

    Approximation contract: marking is word-boundary regex over the
    RAW text (prefixes become ``word\\w*``), not a replay of the
    tokenizer — stemmed matches ('running' for ``text:run``) are not
    marked. That is also ES's plain-highlighter behavior."""
    import re as _re

    # unqualified -> _dynamic routing (the §2.4 query rule): an
    # undeclared field reads its JSON-decoded remainder value
    src = F.col(field)
    if field not in hits.columns and DYNAMIC_FIELD_NAME in hits.columns:
        src = F.get_json_object(
            F.col(DYNAMIC_FIELD_NAME).getItem(field), "$"
        )
    node = parse_query(query)
    words = _positive_highlight_words(node, field)
    if not words:
        return hits.withColumn("snippet", src)
    alts = "|".join(
        _re.escape(w.lower()) + (r"\w*" if is_pre else "")
        for w, is_pre in dict.fromkeys(words)
    )
    pat = r"(?i)\b(" + alts + r")\b"
    snip = F.regexp_replace(src, pat, pre + "$1" + post)
    if fragment_size is not None:
        start = F.greatest(
            F.lit(1), F.locate(pre, snip) - F.lit(fragment_size // 4)
        )
        snip = F.substring(snip, start, fragment_size)
    return hits.withColumn("snippet", snip)


def keyset_page(
    hits: DataFrame,
    sort_field: str,
    tiebreak_field: str,
    after: "tuple | None" = None,
    limit: int = 10,
    descending: bool = False,
) -> DataFrame:
    """Deep-hit pagination (ES/quickwit ``search_after`` keyset
    continuation; the reference's collector is limit-only —
    ``src/commands/search.rs:188`` — so it cannot paginate at all):
    return the next ``limit`` hits strictly AFTER the
    ``(sort_value, tiebreak_value)`` cursor of the previous page's
    last hit. The tiebreak (a unique doc key) is always ascending;
    the sort field honours ``descending``.

    Scale: the cursor compiles to a RANGE PRUNE —
    ``sort > v OR (sort = v AND tie > t)`` — applied BEFORE the
    top-k cut, so the ``sort > v`` disjunct pushes to the parquet
    scan (zone maps / row-group stats skip everything already
    paged past) and the cut itself is a distributed TakeOrdered of
    ``limit`` rows per partition. Page N costs the same as page 1 —
    unlike offset pagination, which re-sorts and discards N·k rows.

    NULL sort values are ordered LAST (both directions — ES's
    ``missing: _last`` default) and the cursor predicate handles them
    explicitly (ADVICE r12: the naive ``s > v OR (s = v AND t > tc)``
    evaluates to SQL NULL for null sort values, silently filtering
    the whole null cohort off every page after the first): a non-null
    cursor keeps all null-sort rows (they sort after every non-null
    value), and a null cursor — ``after=(None, t)`` — means the walk
    has entered the null tail, where only the tiebreak advances."""
    s, t = F.col(sort_field), F.col(tiebreak_field)
    if after is not None:
        av, tv = after
        tl = F.lit(tv).cast(hits.schema[tiebreak_field].dataType)
        if av is None:
            # inside the null tail: nulls are last, so every non-null
            # row is already paged past — only later-tiebreak nulls
            # remain
            hits = hits.filter(s.isNull() & (t > tl))
        else:
            sl = F.lit(av).cast(hits.schema[sort_field].dataType)
            beyond = (s < sl) if descending else (s > sl)
            hits = hits.filter(
                beyond | ((s == sl) & (t > tl)) | s.isNull()
            )
    return hits.orderBy(
        s.desc_nulls_last() if descending else s.asc_nulls_last(), t.asc()
    ).limit(limit)


def search_after_df(
    spark: SparkSession,
    catalog: FsCatalog,
    index_name: str,
    query: str,
    sort_field: str,
    tiebreak_field: str,
    after: "tuple | None" = None,
    limit: int = 10,
    descending: bool = False,
    at_version: Optional[int] = None,
) -> DataFrame:
    """Catalog-level ``search_after``: the compiled query's hit frame
    (manifest-pruned, delete-masked) paged by :func:`keyset_page` —
    the cursor predicate lands on top of the scan filter, so Catalyst
    folds both into one pushed conjunction."""
    base = search_df(
        spark, catalog, index_name, query, limit=None, at_version=at_version
    )
    return keyset_page(
        base, sort_field, tiebreak_field,
        after=after, limit=limit, descending=descending,
    )


def scored_search_df(
    spark: SparkSession,
    catalog: FsCatalog,
    index_name: str,
    query: str,
    score_field: str,
    limit: int = 10,
    at_version: Optional[int] = None,
) -> DataFrame:
    """BM25-ranked search (the reference's relevance path,
    `search.rs:188` — but globally re-ranked, SURVEY §2.5 deviation):
    docs matching the compiled query, ordered by the BM25 score of the
    query's positive term literals against *score_field*.

    Corpus statistics come from the commit-time per-segment stats
    parquets when every manifested segment has one (integer sums
    across segments reproduce the corpus-level N / Σdl / df exactly,
    and the term filter pushes down to the stats scan) — so scoring
    costs one scan of the index for MATCHING, zero for stats. Indexes
    with pre-stats segments, or score fields outside the declared
    text schema, fall back to the full-corpus aggregation.

    Time-bounded queries prune at the MANIFEST level before either
    scan is built (same :func:`_pruned_segments` walk as unscored
    search): both the match scan and the stats read list only the
    surviving segments' files, so at 10k segments a one-day query
    plans and scores against the overlapping few. Trade-off: the BM25
    corpus becomes the set of time-OVERLAPPING segments (Lucene-style
    per-segment stats), so scores depend on segment layout — a
    compaction that merges a window-overlapping segment with others
    enlarges the stats corpus and can shift time-bounded scores.
    Full-corpus stats (the fallback path) are the merge-invariant
    choice; pruned stats are the cheaper one at 10k segments."""
    from toshokan_spark.functions.bm25 import merged_stats_provider, with_bm25
    from toshokan_spark.indexer import stats_path, text_stat_fields
    from toshokan_spark.plans import ast

    node = parse_query(query)
    config, segs, df, pred = _filtered_scan(
        spark, catalog, index_name, node, at_version,
        lambda config, columns: compile_query_fast(query, config, columns),
    )
    if df is None:
        # keep the scored shape (schema + _score) even when pruning
        # eliminates every segment
        return (
            spark.createDataFrame([], config.spark_schema())
            .withColumn("_score", F.lit(0.0))
        )

    def positive_terms(node: ast.Node) -> list[str]:
        if isinstance(node, (ast.Term, ast.Phrase)):
            if node.field is None or node.field == (score_field,):
                return [node.text]
            return []
        if isinstance(node, ast.BoolQuery):
            out: list[str] = []
            for child in node.must + node.should:  # never must_not
                out.extend(positive_terms(child))
            return out
        return []

    terms = " ".join(positive_terms(node))
    fld = next((f for f in config.fields if f.name == score_field), None)
    tokenizer = getattr(fld, "tokenizer", None) or "default"
    matched = df.filter(pred)

    provider = None
    if any(n == score_field for n, _ in text_stat_fields(config)):
        st = catalog.data_storage(config)
        spaths = [stats_path(config, s.file_name) for s in segs]
        if all(st.exists(p) for p in spaths):
            provider = merged_stats_provider(spark, spaths, score_field)
    # corpus-level stats (N / avgdl / df — one 1-row frame broadcast
    # back); from the per-segment stats parquets when available, else
    # one full-index agg. Either way NEVER over the filtered match
    # set — idf over matches would distort multi-term weights vs the
    # reference's corpus-stats BM25
    scored = with_bm25(
        matched, terms, text_col=score_field, out_col="_score",
        tokenizer=tokenizer, corpus=df, stats_provider=provider,
    )
    return scored.orderBy(F.col("_score").desc()).limit(limit)


def search(
    spark: SparkSession,
    catalog: FsCatalog,
    index_name: str,
    query: str,
    limit: int = 1,
    sort_by: Optional[list] = None,
    at_version: Optional[int] = None,
    fields: Optional[list] = None,
) -> list[str]:
    """Reference-CLI-shaped search: JSON lines, prettified.
    ``fields`` projects the output to the named schema fields BEFORE
    the collect — Catalyst prunes the scan's ReadSchema to just those
    columns, so a 2-field projection over a wide index reads 2
    columns, not the row."""
    if limit == 0:
        return []
    df = search_df(
        spark, catalog, index_name, query, limit, sort_by,
        at_version=at_version,
    )
    config = catalog.get_index(index_name)
    if fields:
        known = {f.name for f in config.fields}
        bad = [f for f in fields if f not in known]
        if bad:
            raise ValueError(f"unknown field(s) in --fields: {bad}")
        types = {sf.name: sf.dataType for sf in config.spark_schema().fields}
        df = df.select(*[
            F.col(f) if f in df.columns
            # declared but absent from every scanned segment (alter
            # before any new-schema ingest): a typed null, not a
            # silent drop
            else F.lit(None).cast(types[f]).alias(f)
            for f in fields
        ])
    return [prettify_doc(r.asDict(recursive=True), config) for r in df.collect()]


# ---------------------------------------------------------------------------
# output shaping (`search.rs:25-94`)
# ---------------------------------------------------------------------------

def _json_value(v):
    if isinstance(v, datetime):
        # stored UTC; RFC3339 with Z and no sub-second when zero, the
        # shape the reference's goldens assert ("2016-04-13T06:46:53Z")
        dt = v if v.tzinfo else v.replace(tzinfo=timezone.utc)
        dt = dt.astimezone(timezone.utc)
        if dt.microsecond:
            return dt.strftime("%Y-%m-%dT%H:%M:%S.%f").rstrip("0") + "Z"
        return dt.strftime("%Y-%m-%dT%H:%M:%SZ")
    if isinstance(v, Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, dict):
        return {k: _json_value(x) for k, x in v.items() if x is not None}
    if isinstance(v, (list, tuple)):
        return [_json_value(x) for x in v]
    return v


def prettify_doc(row: dict, config: IndexConfig) -> str:
    doc: dict = {}
    for k, v in row.items():
        if is_internal(k) or k == DYNAMIC_FIELD_NAME or v is None:
            continue
        doc[k] = _json_value(v)
    # splice _dynamic to the top level (`search.rs:47-60`); values are
    # exact raw-JSON text captured at ingest
    dyn = row.get(DYNAMIC_FIELD_NAME) or {}
    for k, raw in dyn.items():
        if raw is None or k in doc:
            continue
        try:
            doc[k] = json.loads(raw)
        except (ValueError, TypeError):
            doc[k] = raw
    # keys in sorted (BTreeMap) order, compact separators — the golden
    # outputs compare exact strings
    return json.dumps(doc, sort_keys=True, separators=(",", ":"), ensure_ascii=False)


def facet_counts(
    hits: DataFrame,
    by: str,
    k: "int | None" = None,
    value_col: "str | None" = None,
    order_by: str = "count",
) -> DataFrame:
    """Terms aggregation over a query's hit set — the Kibana /
    quickwit-style facet panel the reference CLI has no analog for
    (search-layer extension): per distinct ``by`` value, hit count
    (plus the sum of ``value_col`` when given), optionally top-``k``
    facets by descending count (ties by value, deterministic).

    Scale: the hit FILTER stays pushed at the scan (this consumes the
    already-compiled search DataFrame), the facet groupBy partial-
    aggregates map-side to a cardinality-sized frame, and top-k is
    ``orderBy().limit()`` — Spark's distributed take-ordered, never a
    global sort of the facet table."""
    aggs = [F.count(F.lit(1)).cast("long").alias("n_hits")]
    if value_col is not None:
        aggs.append(
            F.round(
                F.sum(F.col(value_col).cast("decimal(38,6)")).cast("double"), 6
            ).alias("total_value")
        )
    out = hits.groupBy(F.col(by)).agg(*aggs)
    if k is not None:
        # ES terms agg supports ordering by a sub-metric ("order":
        # {"total_value": "desc"}) — same distributed TakeOrdered, a
        # different sort key; ties still break on the term
        if order_by == "value":
            if value_col is None:
                raise ValueError("order_by='value' needs value_col")
            out = out.orderBy(
                F.col("total_value").desc(), F.col(by).asc()
            ).limit(k)
        else:
            out = out.orderBy(
                F.col("n_hits").desc(), F.col(by).asc()
            ).limit(k)
    return out


def date_histogram(
    hits: DataFrame,
    time_col: str,
    interval_seconds: int,
    value_col: "str | None" = None,
    fill_empty: bool = False,
) -> DataFrame:
    """Date-histogram aggregation over a query's hit set (the other
    half of the log-analytics panel): hits bucketed into fixed
    ``interval_seconds`` windows aligned to the epoch, per-bucket hit
    count and optional value sum. One partial-aggregated groupBy on
    the bucket key — bucket count is time-range/interval, never
    corpus-sized.

    ``fill_empty=True`` is ES's ``min_doc_count: 0``: gap buckets
    between the first and last populated bucket are emitted with zero
    counts/sums (charting and the pipeline stages want a contiguous
    series — a derivative across a silent hour should see the dip).
    The spine is one ``sequence()`` explode off the histogram's own
    1-row min/max aggregate — metadata-sized, joined back broadcast;
    the corpus-side work is unchanged."""
    if interval_seconds <= 0:
        raise ValueError(
            f"interval_seconds must be positive, got {interval_seconds}"
        )
    m = interval_seconds * 1_000_000
    # unix_micros is unambiguous in every engine; pmod aligns
    # pre-epoch timestamps to the bucket START (floor-div semantics)
    # and `div` keeps the arithmetic integral end-to-end (a double
    # quotient would lose exactness past 2^53 us)
    u = f"unix_micros(`{time_col}`)"
    bucket = F.expr(
        f"CAST((({u} - pmod({u}, {m})) div {m}) * {interval_seconds} AS BIGINT)"
    ).alias("bucket_epoch")
    aggs = [F.count(F.lit(1)).cast("long").alias("n_hits")]
    if value_col is not None:
        aggs.append(
            F.round(
                F.sum(F.col(value_col).cast("decimal(38,6)")).cast("double"), 6
            ).alias("total_value")
        )
    hist = hits.groupBy(bucket).agg(*aggs)
    if not fill_empty:
        return hist
    spine = (
        hist.agg(
            F.min("bucket_epoch").alias("mn"), F.max("bucket_epoch").alias("mx")
        )
        .select(
            F.explode(
                F.sequence(
                    F.col("mn"), F.col("mx"), F.lit(interval_seconds).cast("long")
                )
            ).alias("bucket_epoch")
        )
    )
    filled = spine.join(hist, "bucket_epoch", "left").select(
        "bucket_epoch",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        *(
            [
                F.coalesce("total_value", F.lit(0.0)).alias("total_value")
            ]
            if value_col is not None
            else []
        ),
    )
    return filled

def stats_agg(hits: DataFrame, field: str) -> DataFrame:
    """Stats aggregation over a query's hit set — the search-layer
    ``stats`` panel (count / min / max / sum / avg of one numeric
    field; the quickwit-class engines expose the same five): ONE
    partial-aggregated full pass, no shuffle beyond the single-row
    final combine. The sum folds through decimal(38,6) so the value
    is partition-order-free (the repo-wide discipline — a plain
    double sum can drift the 6-decimal rounding), and avg is derived
    from that exact sum rather than summed separately."""
    c = F.col(field)
    dsum = F.sum(c.cast("decimal(38,6)"))
    return hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.count(c).cast("long").alias("n_values"),
        F.min(c).cast("double").alias("min_v"),
        F.max(c).cast("double").alias("max_v"),
        F.round(dsum.cast("double"), 6).alias("sum_v"),
        F.round((dsum / F.count(c)).cast("double"), 6).alias("avg_v"),
    )


def percentiles_agg(
    hits: DataFrame, field: str, ps: "tuple[float, ...]" = (0.25, 0.5, 0.75, 0.9, 0.99)
) -> DataFrame:
    """Percentiles aggregation over a query's hit set (the latency-
    panel staple): SQL-standard ``percentile_disc`` — the smallest
    actual value whose cumulative distribution reaches p — so the
    result is always an element of the data and two engines agree
    bit-for-bit (continuous interpolation would hand back derived
    doubles whose last ulp differs between implementations).

    Scale: exact discrete percentiles buffer the hit set's values for
    ONE column in the aggregation buffer — bounded by the hit count,
    fine for the filtered hit sets this serves. For corpus-scale
    unfiltered columns use ``approx_percentile`` (t-digest, bounded
    memory) — the same panel with a documented error bound, as
    :func:`toshokan_spark.operators.util.grouped_prefix` does."""
    cols = [
        F.expr(
            f"percentile_disc({p}) WITHIN GROUP (ORDER BY `{field}`)"
        ).cast("double").alias(f"p{str(p).replace('0.', '').ljust(2, '0')}")
        for p in ps
    ]
    return hits.agg(
        F.count(F.col(field)).cast("long").alias("n_values"), *cols
    )


def cardinality_agg(
    hits: DataFrame, field: str, k: int = 256, sketch_only: bool = False
) -> DataFrame:
    """Cardinality aggregation over a query's hit set: the EXACT
    distinct count side-by-side with a KMV (bottom-k minimum values,
    Bar-Yossef et al. 2002) estimate computed from the k smallest
    distinct polynomial hash values — the estimator the engine would
    serve at corpus scale, where exact distinct is a full shuffle of
    the key space but the KMV sketch is a k-row TakeOrdered.

    The hash family is the repo's SQL-auditable poly fold
    (`operators/dedup.py::poly_hash`), so a DuckDB oracle reproduces
    the estimate bit-for-bit — same discipline as the MinHash /
    SimHash entries. Estimate = (k-1) * M / h_k for distinct >= k
    (hash space M = 1e9+7), else the exact count; deterministic, no
    RNG. Exact distinct here doubles as the sketch's ground truth —
    at 100 TB you pass ``sketch_only=True`` (CLI
    ``--cardinality-sketch-only``) and keep only the sketch path,
    which never pays the ``count_distinct`` exchange of the raw key
    space (plan-asserted): its one exchange carries map-side-deduped
    int64 hashes, and nothing past the distinct-hash scan
    materializes more than k rows. In sketch-only mode the
    below-k case answers with the bottom-k size itself — the count
    of distinct hashes IS the distinct count there (modulo hash
    collisions, the documented sketch trade)."""
    from toshokan_spark.operators.dedup import POLY_MOD, poly_hash

    h = (
        hits.select(
            poly_hash(
                F.col(field).cast("string"), base=1103515245, init=5381
            ).alias("h")
        )
        .where(F.col("h").isNotNull())
        .distinct()
    )
    bottom = h.orderBy("h").limit(k).agg(
        F.count(F.lit(1)).alias("kk"), F.max("h").alias("hk")
    )
    over_k_est = F.round(
        (F.lit(k - 1) * F.lit(float(POLY_MOD))) / F.col("hk"), 6
    )
    if sketch_only:
        est = F.when(
            F.col("kk") < k, F.col("kk").cast("double")
        ).otherwise(over_k_est)
        counts = hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
        return counts.crossJoin(F.broadcast(bottom)).select(
            "n_hits", est.alias("kmv_estimate")
        )
    est = F.when(
        F.col("kk") < k, F.col("distinct_exact").cast("double")
    ).otherwise(over_k_est)
    exact = hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.count_distinct(F.col(field)).cast("long").alias("distinct_exact"),
    )
    return (
        exact.crossJoin(F.broadcast(bottom))
        .select(
            "n_hits",
            "distinct_exact",
            est.alias("kmv_estimate"),
        )
    )


def top_hits_per_group(
    hits: DataFrame,
    by: str,
    k: int,
    order_col: str,
    id_col: str,
    descending: bool = True,
) -> DataFrame:
    """Top-hits aggregation: the k best hits WITHIN each ``by`` group
    (the search-layer "top_hits" collector — one exemplar panel per
    facet value). Ties broken by ``id_col`` ascending so the result
    is total-ordered and deterministic.

    Scale: rank <= k over a partitioned window is Spark's
    WindowGroupLimit — per-group top-k pushed before the window sort
    materializes, never a global sort; the shuffle is the one
    group-key exchange any per-group operator needs."""
    from pyspark.sql import Window

    oc = F.col(order_col).desc() if descending else F.col(order_col).asc()
    w = Window.partitionBy(by).orderBy(oc, F.col(id_col).asc())
    return (
        hits.withColumn("rank_in_group", F.row_number().over(w))
        .where(F.col("rank_in_group") <= k)
    )


def manifest_stats(
    spark: SparkSession,
    catalog: FsCatalog,
    config: IndexConfig,
    field: str,
    at_version: Optional[int] = None,
) -> Optional[DataFrame]:
    """MATCH-ALL stats panel answered from the MANIFEST alone — zero
    data scans. Each segment records, at commit time, its row count,
    per-number-field ``[min, max]`` zone map (`catalog.SegmentEntry.
    field_stats`) and ``[non_null_count, decimal-sum]`` additive stats
    (`field_sums`); a match-all stats query is then pure metadata
    arithmetic: counts and decimal sums add, min/max fold. This is the
    Delta/Iceberg file-statistics aggregation pattern — at 10k
    segments over 100 TB the panel costs one manifest JSON read where
    the scan path costs a full-corpus pass.

    Returns ``None`` when any manifested segment predates the additive
    stats (old manifests) or never recorded the field — the caller
    falls back to :func:`stats_agg` over a real scan, so the fast path
    is never wrong, only sometimes unavailable.

    The final projection re-derives sum/avg with the SAME Spark
    expressions as :func:`stats_agg` (decimal cast, decimal/long
    division, round 6), so the two paths are value-identical by
    construction, not by luck."""
    from pyspark.sql import types as T

    _ver, segs, deletes = catalog.snapshot(config.name, at_version=at_version)
    if deletes:
        # pending tombstones are invisible to commit-time stats — the
        # panel would count deleted rows; fall back to the scan (which
        # applies them) until a merge materializes the deletes
        return None
    if any(s.field_sums is None or field not in s.field_sums for s in segs):
        return None
    n_hits = sum(s.num_rows for s in segs)
    n_values = sum(s.field_sums[field][0] for s in segs)
    total = sum(
        (Decimal(s.field_sums[field][1]) for s in segs), Decimal(0)
    ).quantize(Decimal("0.000001"))
    bounds = [
        s.field_stats[field]
        for s in segs
        if s.field_stats and field in s.field_stats
    ]
    if n_values > 0 and not bounds:
        # count>0 implies a zone map entry; a manifest violating that
        # invariant is not one we should answer from
        return None
    min_v = float(min(b[0] for b in bounds)) if bounds else None
    max_v = float(max(b[1] for b in bounds)) if bounds else None

    schema = T.StructType([
        T.StructField("n_hits", T.LongType(), False),
        T.StructField("n_values", T.LongType(), False),
        T.StructField("min_v", T.DoubleType(), True),
        T.StructField("max_v", T.DoubleType(), True),
        # the 6-place decimal sum rides as its exact text
        T.StructField("sum_txt", T.StringType(), True),
    ])
    one = literal_relation(
        spark, [(n_hits, n_values, min_v, max_v, str(total))], schema
    ).withColumn("sum_dec", F.col("sum_txt").cast(T.DecimalType(38, 6)))
    return one.select(
        "n_hits",
        "n_values",
        "min_v",
        "max_v",
        # an empty value set sums to NULL on the scan path (SQL
        # sum-of-nothing) — mirror it, not 0.0
        F.when(
            F.col("n_values") > 0,
            F.round(F.col("sum_dec").cast("double"), 6),
        ).alias("sum_v"),
        F.when(
            F.col("n_values") > 0,
            F.round(
                (F.col("sum_dec") / F.col("n_values")).cast("double"), 6
            ),
        ).alias("avg_v"),
    )


def extended_stats_agg(hits: DataFrame, field: str) -> DataFrame:
    """Extended-stats aggregation over a query's hit set (the search-
    layer ``extended_stats`` panel): the :func:`stats_agg` five plus
    sum-of-squares, population variance and population stddev. Both
    moment sums fold through decimal(38,6) — the square is computed in
    IEEE double first (bit-identical across engines), then the SUM is
    made partition-order-free by the decimal cast. Variance derives
    from the two exact sums in double arithmetic (E[x²] − E[x]²), so
    an oracle repeating the same formula agrees bit-for-bit; the
    ``greatest(·, 0)`` clamp absorbs the tiny negative a cancellation
    can leave. One partial-aggregated pass, single-row combine."""
    c = F.col(field)
    n = F.count(c)
    s1 = F.sum(c.cast("decimal(38,6)"))
    s2 = F.sum((c * c).cast("decimal(38,6)"))
    mean = s1.cast("double") / n
    var = F.greatest(s2.cast("double") / n - mean * mean, F.lit(0.0))
    return hits.agg(
        n.cast("long").alias("n_values"),
        F.min(c).cast("double").alias("min_v"),
        F.max(c).cast("double").alias("max_v"),
        F.round(s1.cast("double"), 6).alias("sum_v"),
        F.round((s1 / n).cast("double"), 6).alias("avg_v"),
        F.round(s2.cast("double"), 6).alias("sum_sq"),
        F.round(var, 6).alias("variance_v"),
        F.round(F.sqrt(var), 6).alias("stddev_v"),
    )


def histogram_agg(
    hits: DataFrame,
    field: str,
    interval: float,
    value_col: Optional[str] = None,
) -> DataFrame:
    """Numeric histogram aggregation (fixed-width buckets over a
    numeric field — the value-distribution panel next to
    :func:`date_histogram`'s time axis): bucket lower bound is
    ``floor(v / interval) * interval``, correct for negatives (floor,
    not truncation). Null field values are dropped, as in the
    search-engine semantics. Partial-aggregated to one row per
    occupied bucket — frame size is value-range/interval, never hit
    count; empty buckets are omitted (render-side zero-fill is the
    display layer's job, not a reason to ship empty rows)."""
    c = F.col(field)
    bucket = (F.floor(c / F.lit(float(interval))) * F.lit(float(interval))).alias(
        "bucket_lo"
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_hits")]
    if value_col is not None:
        aggs.append(
            F.round(
                F.sum(F.col(value_col).cast("decimal(38,6)")).cast("double"), 6
            ).alias("total_value")
        )
    return hits.where(c.isNotNull()).groupBy(bucket).agg(*aggs)


def range_agg(
    hits: DataFrame,
    field: str,
    edges: "list[float]",
    value_col: Optional[str] = None,
) -> DataFrame:
    """Range aggregation (user-defined buckets — the search-layer
    ``range`` agg): k edges make k+1 buckets, each ``[lo, hi)`` (from
    inclusive, to exclusive, the Elasticsearch convention), the first
    open below, the last open above. Output carries the bucket index
    plus its numeric bounds (NULL for the open ends). Nulls dropped;
    only occupied buckets are returned. The bucket id is a when-chain
    over k literals — whole-stage-codegen'd, no join, no UDF; the
    aggregation is one group-key exchange over at most k+1 groups."""
    if sorted(edges) != list(edges) or len(set(edges)) != len(edges):
        raise ValueError("range_agg edges must be strictly increasing")
    c = F.col(field)
    idx = F.lit(len(edges))
    for i in reversed(range(len(edges))):
        idx = F.when(c < F.lit(float(edges[i])), F.lit(i)).otherwise(idx)
    lo_of = {i: (None if i == 0 else float(edges[i - 1])) for i in range(len(edges) + 1)}
    hi_of = {i: (float(edges[i]) if i < len(edges) else None) for i in range(len(edges) + 1)}
    lo = F.lit(None).cast("double")
    hi = F.lit(None).cast("double")
    for i in range(len(edges) + 1):
        if lo_of[i] is not None:
            lo = F.when(F.col("bucket_idx") == i, F.lit(lo_of[i])).otherwise(lo)
        if hi_of[i] is not None:
            hi = F.when(F.col("bucket_idx") == i, F.lit(hi_of[i])).otherwise(hi)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_hits")]
    if value_col is not None:
        aggs.append(
            F.round(
                F.sum(F.col(value_col).cast("decimal(38,6)")).cast("double"), 6
            ).alias("total_value")
        )
    return (
        hits.where(c.isNotNull())
        .groupBy(idx.cast("int").alias("bucket_idx"))
        .agg(*aggs)
        .select(
            "bucket_idx",
            lo.alias("range_lo"),
            hi.alias("range_hi"),
            "n_hits",
            *(["total_value"] if value_col is not None else []),
        )
    )


def _doc_frequencies(df: DataFrame, text_col: str, tokenizer: str) -> DataFrame:
    """(term, df) document frequencies: each doc contributes each of
    its DISTINCT tokens once — the same df definition the commit-time
    BM25 stats record (`functions/bm25.py::segment_field_stats`)."""
    from toshokan_spark.functions.tokenizers import tokenize

    toks = tokenize(F.col(text_col), tokenizer)
    return (
        df.select(F.explode(F.array_distinct(toks)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )


def _significant_join(
    fg: DataFrame,
    fg_n: DataFrame,
    bg: DataFrame,
    bg_n: DataFrame,
    k: int,
    min_doc_count: int,
) -> DataFrame:
    """Shared scoring tail of the significant-terms variants: join the
    foreground term df's (hit-vocab-sized) to the background df's on
    term, attach the two 1-row totals by broadcast, score with JLH
    ((fg%−bg%)·fg%/bg% — Elasticsearch's default significance
    heuristic: absolute lift × relative lift), keep positively
    significant terms only, distributed top-k. All divisions are
    IEEE double on both engines, so an oracle repeating the formula
    agrees bit-for-bit after the shared round-6."""
    fgp = F.col("fg_df") / F.col("fg_n")
    bgp = F.col("bg_df") / F.col("bg_n")
    scored = (
        fg.join(bg, "term")
        .crossJoin(F.broadcast(fg_n))
        .crossJoin(F.broadcast(bg_n))
        .where((F.col("fg_df") >= min_doc_count) & (fgp > bgp))
        .select(
            "term",
            "fg_df",
            "bg_df",
            F.round((fgp - bgp) * (fgp / bgp), 6).alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), F.asc("term")).limit(k)


def significant_terms(
    hits: DataFrame,
    corpus: DataFrame,
    text_col: str,
    tokenizer: str = "default",
    k: int = 10,
    min_doc_count: int = 1,
) -> DataFrame:
    """Significant-terms aggregation (the search-layer "what makes
    this hit set DIFFERENT" panel): terms statistically overrepresented
    in the query's hit set relative to the background corpus, JLH-
    scored. One tokenize pass over the hit set, one over the corpus;
    the join is vocabulary-sized, the totals are broadcast 1-row
    frames, the result is a distributed top-k — never a global sort.

    Prefer :func:`significant_terms_from_stats` over an index: the
    background side then comes from the commit-time ``_stats``
    parquets (metadata-sized) instead of re-tokenizing the corpus."""
    fg = _doc_frequencies(hits, text_col, tokenizer).withColumnRenamed(
        "df", "fg_df"
    )
    bg = _doc_frequencies(corpus, text_col, tokenizer).withColumnRenamed(
        "df", "bg_df"
    )
    fg_n = hits.agg(F.count(F.lit(1)).cast("long").alias("fg_n"))
    bg_n = corpus.agg(F.count(F.lit(1)).cast("long").alias("bg_n"))
    return _significant_join(fg, fg_n, bg, bg_n, k, min_doc_count)


def significant_terms_from_stats(
    spark: SparkSession,
    hits: DataFrame,
    text_col: str,
    stats_paths: "list[str]",
    field: str,
    tokenizer: str = "default",
    k: int = 10,
    min_doc_count: int = 1,
) -> DataFrame:
    """Index-backed significant terms: the BACKGROUND model reads the
    commit-time per-segment BM25 stats parquets (per-term df + doc
    count, integer-exact across segments — the same artifact scored
    search reads) instead of re-tokenizing the corpus. Per query, only
    the HIT SET is tokenized: at 100 TB the background side is a
    metadata-sized aggregation over vocabulary rows, not a corpus
    pass."""
    from toshokan_spark.functions.bm25 import STATS_SCHEMA

    sdf = spark.read.schema(STATS_SCHEMA).parquet(*stats_paths).where(
        F.col("field") == F.lit(field)
    )
    bg = (
        sdf.where(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("bg_df"))
    )
    bg_n = sdf.where(F.col("term").isNull()).agg(
        F.sum("n_docs").cast("long").alias("bg_n")
    )
    fg = _doc_frequencies(hits, text_col, tokenizer).withColumnRenamed(
        "df", "fg_df"
    )
    fg_n = hits.agg(F.count(F.lit(1)).cast("long").alias("fg_n"))
    return _significant_join(fg, fg_n, bg, bg_n, k, min_doc_count)


def percentiles_by(
    hits: DataFrame,
    by: str,
    field: str,
    ps: "tuple[float, ...]" = (0.5, 0.95),
) -> DataFrame:
    """Per-facet percentiles (the "p99 by service" panel): SQL-
    standard ``percentile_disc`` WITHIN each ``by`` group — actual
    data elements, so engines agree bit-for-bit (same discreteness
    rationale as :func:`percentiles_agg`). One group-key exchange;
    the aggregation buffers each group's values for ONE column —
    bounded by the largest group's hit count, the panel trade
    documented on the global variant (approx_percentile is the
    corpus-scale fallback)."""
    cols = [
        F.expr(
            f"percentile_disc({p}) WITHIN GROUP (ORDER BY `{field}`)"
        ).cast("double").alias(f"p{str(p).replace('0.', '').ljust(2, '0')}")
        for p in ps
    ]
    return hits.groupBy(by).agg(
        F.count(F.col(field)).cast("long").alias("n_values"), *cols
    )


def percentiles_agg_approx(
    hits: DataFrame,
    field: str,
    ps: "tuple[float, ...]" = (0.25, 0.5, 0.75, 0.9, 0.99),
    accuracy: int = 10000,
) -> DataFrame:
    """The corpus-scale twin of :func:`percentiles_agg` (VERDICT r9
    directive 4): Spark ``approx_percentile`` (Greenwald-Khanna
    summary) instead of exact ``percentile_disc``. Same output schema.

    Error bound: the GK summary guarantees RANK error <= n/accuracy —
    the returned value's rank is within n/accuracy positions of the
    true percentile rank, and it is always an actual element of the
    data. When the hit count is <= ``accuracy`` the summary never
    compresses, so the answer EQUALS percentile_disc bit-for-bit
    (tolerance-tested against the exact panel; the sf0.01 oracle
    proves the equality end-to-end). Memory: O(accuracy) per
    aggregation buffer — bounded regardless of hit count, which is
    the whole point: the exact panel buffers the hit set's values,
    this one never holds more than the summary."""
    cols = [
        F.expr(
            f"percentile_approx(`{field}`, {p}, {int(accuracy)})"
        ).cast("double").alias(f"p{str(p).replace('0.', '').ljust(2, '0')}")
        for p in ps
    ]
    return hits.agg(
        F.count(F.col(field)).cast("long").alias("n_values"), *cols
    )


def percentiles_by_approx(
    hits: DataFrame,
    by: str,
    field: str,
    ps: "tuple[float, ...]" = (0.5, 0.95),
    accuracy: int = 10000,
) -> DataFrame:
    """Per-facet approx percentiles — the corpus-scale twin of
    :func:`percentiles_by` with the same schema and the same
    O(accuracy)-per-group buffer bound as
    :func:`percentiles_agg_approx` (rank error <= group_n/accuracy;
    exact when every group fits the summary)."""
    cols = [
        F.expr(
            f"percentile_approx(`{field}`, {p}, {int(accuracy)})"
        ).cast("double").alias(f"p{str(p).replace('0.', '').ljust(2, '0')}")
        for p in ps
    ]
    return hits.groupBy(by).agg(
        F.count(F.col(field)).cast("long").alias("n_values"), *cols
    )


def panel_agg(
    hits: DataFrame,
    facet_field: str,
    stats_field: str,
    interval: float,
) -> DataFrame:
    """The composed search panel in ONE pass (VERDICT r9 directive
    6): facets + numeric histogram + global stats/percentiles over a
    single scan of the hit set, where the per-section CLI used to run
    one job (one scan) per panel section — ES answers a multi-agg
    request in one pass, and at 100 TB N scans of the hit set is the
    difference between one shuffle-free pass and N.

    Shape: GROUPING SETS ((facet), (bucket), ()) — Spark's Expand +
    ONE partial-aggregated exchange; the plan contains exactly one
    data scan (plan-asserted). Each output row is tagged by
    ``section`` ('facet' / 'histogram' / 'stats'); rows carry the
    panel metrics (count, decimal-exact sum, min/max/avg) and the
    stats row adds p50/p95 discrete percentiles (elements of the
    data, the oracle-stable choice). The grouping keys are coalesced
    to sentinels ('' / -inf never collide with real values because
    each section reads only its own key column) so the frame is
    scalar, null-stable, and driver-canon-safe."""
    c = F.col(stats_field)
    bucket = (
        F.floor(c / F.lit(float(interval))) * F.lit(float(interval))
    ).alias("bucket_lo")
    sel = hits.select(
        F.col(facet_field).alias("facet"), bucket, c.alias("__v")
    )
    dsum = F.sum(F.col("__v").cast("decimal(38,6)"))
    gs = sel.groupingSets(
        [["facet"], ["bucket_lo"], []], "facet", "bucket_lo"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.count("__v").cast("long").alias("n_values"),
        F.min("__v").cast("double").alias("min_v"),
        F.max("__v").cast("double").alias("max_v"),
        F.round(dsum.cast("double"), 6).alias("sum_v"),
        F.round((dsum / F.count("__v")).cast("double"), 6).alias("avg_v"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY __v)")
        .cast("double").alias("p50"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY __v)")
        .cast("double").alias("p95"),
        # grouping() is only legal inside the grouped select — emit
        # the set-membership flags as columns for the section logic
        F.grouping("facet").alias("__gf"),
        F.grouping("bucket_lo").alias("__gb"),
    )
    section = (
        F.when(F.col("__gf") == 0, F.lit("facet"))
        .when(F.col("__gb") == 0, F.lit("histogram"))
        .otherwise(F.lit("stats"))
    )
    # a NULL bucket_lo INSIDE the histogram set is the null-value
    # bucket — histogram_agg drops nulls (search-engine semantics),
    # so the composed panel must too (facet/stats rows keep counting
    # every hit, same as their standalone panels)
    gs = gs.where(
        ~((F.col("__gb") == 0) & F.col("bucket_lo").isNull())
    )
    return gs.select(
        section.alias("section"),
        F.coalesce(F.col("facet"), F.lit("")).alias("facet"),
        F.coalesce(F.col("bucket_lo"), F.lit(float("-inf"))).alias(
            "bucket_lo"
        ),
        "n_hits", "n_values", "min_v", "max_v", "sum_v", "avg_v",
        # percentiles are a stats-row metric; the per-facet panel has
        # its own entry (percentiles_by) — null them elsewhere so the
        # facet/histogram rows stay the familiar panel shape
        F.when(section == "stats", F.col("p50")).alias("p50"),
        F.when(section == "stats", F.col("p95")).alias("p95"),
    )


def composite_agg(
    hits: DataFrame,
    keys: "list[str]",
    size: int = 10,
    after: "tuple | None" = None,
) -> DataFrame:
    """Composite aggregation — ES's resumable terms pagination: the
    next ``size`` distinct key tuples in ascending key order, starting
    strictly AFTER the ``after`` tuple (the caller passes the last
    tuple of the previous page; ``None`` starts from the beginning).
    Each page row carries the tuple's hit count and the bucket key.

    Scale: this is THE way to enumerate a billion-bucket terms space
    without the global sort a ranked terms agg needs — every page is
    (a) an after-key range filter that prunes BEFORE the aggregation
    (on a lexicographic tuple predicate the scan can push for the
    leading key), (b) one partial-aggregated groupBy of the surviving
    keys, (c) an ascending distributed top-``size`` (TakeOrdered,
    never a full sort). Page cost shrinks as pagination advances;
    state between pages is one tuple, not a cursor server-side.
    """
    if not keys:
        raise ValueError("composite_agg needs at least one key")
    out = hits
    if after is not None:
        if len(after) != len(keys):
            raise ValueError(
                f"after tuple arity {len(after)} != {len(keys)} keys"
            )
        # lexicographic "tuple > after": (k1 > a1) OR (k1 = a1 AND
        # k2 > a2) OR ... — the leading-key disjunct is sargable
        pred = None
        for i in range(len(keys)):
            clause = F.col(keys[i]) > F.lit(after[i])
            for j in range(i):
                clause = clause & (F.col(keys[j]) == F.lit(after[j]))
            pred = clause if pred is None else (pred | clause)
        out = out.filter(pred)
    grouped = out.groupBy(*[F.col(k) for k in keys]).agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    order = [F.col(k).asc() for k in keys]
    return grouped.orderBy(*order).limit(size)


def rare_terms_agg(
    hits: DataFrame, by: str, max_doc_count: int = 1
) -> DataFrame:
    """Rare-terms aggregation — the long-tail complement of the terms
    facet: every ``by`` value appearing in at most ``max_doc_count``
    hits, ascending by (count, term). ES implements this with a CuckooFilter
    because its terms agg is ranked-by-descending-count; here the
    groupBy already partial-aggregates to the full cardinality frame,
    so the rare tail is just a filter on the counts — exact, no false
    positives, and the post-filter result is tail-sized (the common
    terms, which dominate rows, are dropped before any ordering).
    One exchange on the term key; no global sort (ascending top-all
    of the surviving tail is returned unordered; callers page it)."""
    return (
        hits.groupBy(F.col(by))
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
        .where(F.col("n_hits") <= max_doc_count)
    )


def filters_agg(
    df: DataFrame,
    config: "IndexConfig",
    named_queries: "dict[str, str]",
) -> DataFrame:
    """Filters aggregation — N named query buckets counted in ONE
    scan (ES ``filters``): each name maps to a search-language query
    compiled through the real query compiler; the counts are
    conditional aggregates (sum-of-when), so the plan has exactly one
    data pass and no join, regardless of N. A hit matching k filters
    counts in all k buckets (ES semantics — buckets overlap).

    Output is long form, one row per named bucket — stacked from the
    single aggregate row, so the unpivot costs nothing (N is panel-
    sized). Scale: the one scan reads only columns the predicates
    reference; at 100 TB this replaces N search round-trips."""
    from .query_sql import compile_query_fast as _cq

    cols = set(df.columns)
    names = sorted(named_queries)
    aggs = [
        F.sum(
            F.when(
                F.coalesce(_cq(named_queries[n], config, cols), F.lit(False)),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).cast("long").alias(n)
        for n in names
    ]
    one = df.agg(*aggs)
    stack = ", ".join(f"{sql_literal(n, _STR)}, {_q(n)}" for n in names)
    return one.select(
        F.expr(f"stack({len(names)}, {stack}) AS (bucket, n_hits)")
    )


def multi_terms_agg(
    hits: DataFrame, keys: "list[str]", k: "int | None" = None
) -> DataFrame:
    """Multi-terms aggregation — terms buckets over a COMPOSITE key
    (ES ``multi_terms``): per distinct key tuple, hit count, top-k by
    descending count with the key tuple as the deterministic
    tiebreak. Same shape discipline as ``facet_counts``: one partial-
    aggregated exchange on the tuple, distributed TakeOrdered for the
    cut — never a global sort of the bucket table."""
    grouped = hits.groupBy(*[F.col(c) for c in keys]).agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    if k is not None:
        grouped = grouped.orderBy(
            F.col("n_hits").desc(), *[F.col(c).asc() for c in keys]
        ).limit(k)
    return grouped


def pipeline_histogram_agg(
    hits: DataFrame,
    time_col: str,
    interval_seconds: int,
    value_col: str,
    moving_window: int = 3,
    serial_diff_lag: "int | None" = None,
) -> DataFrame:
    """Pipeline aggregations over a date histogram — ES's
    ``derivative`` / ``cumulative_sum`` / ``moving_fn`` stages in one
    frame: per bucket, the value sum plus its bucket-over-bucket
    delta, running total, and trailing ``moving_window``-bucket
    moving average. ``serial_diff_lag=N`` adds ES's ``serial_diff``
    stage — the lag-``N`` difference (seasonality removal; lag 1
    coincides with the derivative).

    Scale: the pipeline stages are windows ordered by bucket over the
    ALREADY-AGGREGATED histogram frame — its row count is
    time_range/interval (metadata-sized, thousands at most, never
    corpus-sized), so the unpartitioned window is a deliberate,
    bounded single-task pass over a tiny frame; the corpus-sized work
    (the histogram groupBy) partial-aggregates map-side exactly like
    :func:`date_histogram`. The sums fold through decimal(38,6) and
    every derived metric is computed from those exact sums, so both
    engines agree bit-for-bit."""
    hist = date_histogram(hits, time_col, interval_seconds, value_col)
    w = Window.orderBy("bucket_epoch")
    dsum = F.col("total_value")
    prev = F.lag(dsum).over(w)
    run = F.sum(dsum.cast("decimal(38,6)")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    mov_sum = F.sum(dsum.cast("decimal(38,6)")).over(
        w.rowsBetween(-(moving_window - 1), 0)
    )
    mov_n = F.count(dsum).over(w.rowsBetween(-(moving_window - 1), 0))
    cols = [
        F.col("bucket_epoch"),
        F.col("n_hits"),
        F.col("total_value"),
        F.round(dsum - prev, 6).alias("derivative"),
        F.round(run.cast("double"), 6).alias("cumulative"),
        # double-side division of the decimal-exact window sum: a
        # decimal/bigint quotient would carry engine-specific result
        # scales — the double divide is one IEEE op both engines share
        F.round(
            mov_sum.cast("double") / mov_n.cast("double"), 6
        ).alias("moving_avg"),
    ]
    if serial_diff_lag is not None:
        if serial_diff_lag <= 0:
            raise ValueError(
                f"serial_diff_lag must be positive, got {serial_diff_lag}"
            )
        cols.append(
            F.round(dsum - F.lag(dsum, serial_diff_lag).over(w), 6).alias(
                "serial_diff"
            )
        )
    return hist.select(*cols)


def bucket_selector(buckets: DataFrame, condition: str) -> DataFrame:
    """HAVING-style bucket filtering (ES ``bucket_selector`` pipeline
    stage; the reference's collector has no pipeline stages —
    ``src/commands/search.rs:188`` is limit-only — so this is an ES
    parity extension like the other panel aggs): keep only aggregated
    buckets whose metrics satisfy ``condition``, a SQL boolean
    expression over the bucket frame's columns (e.g.
    ``"n_hits >= 10 AND total_value > 500"``).

    Scale: the filter runs on the ALREADY-AGGREGATED bucket frame
    (bucket-count-sized, never corpus-sized) — strictly
    post-aggregation, so it adds no exchange, no scan, and no window;
    the plan keeps the single partial-aggregated groupBy of the host
    aggregation."""
    return buckets.filter(F.expr(condition))


def bucket_script(buckets: DataFrame, exprs: "dict[str, str]") -> DataFrame:
    """ES ``bucket_script`` pipeline stage: add computed metric
    columns — SQL expressions over the existing bucket metrics — to
    the aggregated bucket frame (e.g.
    ``{"avg_value": "round(total_value / n_hits, 6)"}``). Composes
    with :func:`bucket_selector` / :func:`bucket_sort`, which may
    reference the computed columns (ES's stage-chaining semantics).

    Scale: pure column algebra on the post-aggregation frame — no
    exchange, no scan, no window."""
    out = buckets
    for name, expr in exprs.items():
        out = out.withColumn(name, F.expr(expr))
    return out


def bucket_sort(
    buckets: DataFrame,
    sort_spec,
    offset: int = 0,
    size: "int | None" = None,
) -> DataFrame:
    """ES ``bucket_sort`` pipeline stage: order the aggregated bucket
    frame by metric columns, with ``from``/``size`` truncation.
    ``sort_spec`` is ``"col:desc,col2:asc"`` (or a list of
    ``(column, ascending)`` pairs).

    Scale: sorts the post-aggregation bucket frame only. With
    ``size`` set and no offset, Catalyst compiles the sort+limit to a
    distributed TakeOrdered (top-k) — the bucket table is never
    globally sorted; with an offset the sorted prefix is
    ``offset+size`` rows, still bucket-sized."""
    if isinstance(sort_spec, str):
        pairs = []
        for part in sort_spec.split(","):
            col, _, d = part.strip().partition(":")
            d = (d or "asc").lower()
            if not col or d not in ("asc", "desc"):
                raise ValueError(
                    f"bucket_sort wants COL[:asc|desc][,...], got {part!r}"
                )
            pairs.append((col, d == "asc"))
    else:
        pairs = list(sort_spec)
    ordered = buckets.orderBy(
        *[F.asc(c) if asc else F.desc(c) for c, asc in pairs]
    )
    if offset:
        ordered = ordered.offset(offset)
    return ordered.limit(size) if size is not None else ordered


def weighted_avg_agg(
    hits: DataFrame, value_col: str, weight_col: str
) -> DataFrame:
    """Weighted-average aggregation (ES ``weighted_avg``): Σ(v·w)/Σw
    over the hit set, both moment sums folded through decimal(38,6)
    so the result is partition-order-free, the final division done
    once in double (one IEEE op both engines share). Rows where
    either side is NULL drop from BOTH sums (ES skips them); a zero
    total weight yields NULL, not a division error. ONE partial-
    aggregated pass — same shape as :func:`stats_agg`."""
    # decimal(18,6) factors: the product is decimal(37,12) — exact
    # and inside BOTH engines' 38-digit ceiling (38,6 factors would
    # overflow the multiply and the engines truncate differently)
    v = F.col(value_col).cast("decimal(18,6)")
    w = F.col(weight_col).cast("decimal(18,6)")
    both = v.isNotNull() & w.isNotNull()
    num = F.sum(F.when(both, v * w))
    den = F.sum(F.when(both, w))
    return hits.agg(
        F.count(F.when(both, F.lit(1))).cast("long").alias("n_values"),
        F.round(den.cast("double"), 6).alias("total_weight"),
        F.when(
            den != 0,
            F.round(num.cast("double") / den.cast("double"), 6),
        ).alias("weighted_avg"),
    )


def mad_agg(hits: DataFrame, field: str) -> DataFrame:
    """Median-absolute-deviation aggregation (ES
    ``median_absolute_deviation`` — the robust dispersion panel):
    median(|x - median(x)|), both medians the SQL-standard
    percentile_disc elements so two engines agree bit-for-bit.

    Two aggregation passes by definition (the inner median must be
    known before deviations exist): pass 1 reduces to a 1-row median
    broadcast back into the plan, pass 2 aggregates the deviations —
    the same 1-row-broadcast discipline as q15/q22, never a window
    over the hit set. ES serves this from one t-digest pass at a
    documented error; this exact form is the oracle-provable twin and
    the hit-set scale caveat matches :func:`percentiles_agg`."""
    med = hits.agg(
        F.expr(
            f"percentile_disc(0.5) WITHIN GROUP (ORDER BY `{field}`)"
        ).cast("double").alias("median_v")
    )
    dev = hits.join(F.broadcast(med)).select(
        F.abs(F.col(field).cast("double") - F.col("median_v")).alias("__d"),
        "median_v",
    )
    return dev.groupBy("median_v").agg(
        F.count("__d").cast("long").alias("n_values"),
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY `__d`)"
        ).cast("double").alias("mad"),
    )


def adjacency_matrix_agg(
    df: DataFrame,
    config: "IndexConfig",
    named_queries: "dict[str, str]",
) -> DataFrame:
    """Adjacency-matrix aggregation (ES ``adjacency_matrix``): for N
    named query buckets, the hit count of every bucket AND of every
    pairwise intersection — N + N(N-1)/2 conditional aggregates in
    ONE scan, no join (the same one-pass discipline as
    :func:`filters_agg`; ES caps N at indices.query.bool.max_clause
    for the same quadratic reason — callers keep N panel-sized).
    Intersection keys are ``a&b`` with names in sorted order, ES's
    convention; empty buckets are kept (count 0) so the matrix shape
    is stable."""
    from .query_sql import compile_query_fast as _cq

    cols = set(df.columns)
    names = sorted(named_queries)
    preds = {
        n: F.coalesce(_cq(named_queries[n], config, cols), F.lit(False))
        for n in names
    }
    cells: list[tuple[str, object]] = [(n, preds[n]) for n in names]
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            cells.append((f"{a}&{b}", preds[a] & preds[b]))
    aggs = [
        F.sum(F.when(p, F.lit(1)).otherwise(F.lit(0)))
        .cast("long").alias(key)
        for key, p in cells
    ]
    one = df.agg(*aggs)
    stack = ", ".join(f"{sql_literal(key, _STR)}, {_q(key)}" for key, _ in cells)
    return one.select(
        F.expr(f"stack({len(cells)}, {stack}) AS (bucket, n_hits)")
    )


#: ES-style auto_date_histogram interval ladder (seconds): second /
#: minute / hour / day / week / month-ish steps — the smallest entry
#: whose epoch-aligned bucket count fits the target wins
AUTO_HISTOGRAM_LADDER = (
    1, 5, 10, 30, 60, 300, 600, 1800, 3600, 10800, 21600, 43200,
    86400, 604800, 2592000, 7776000, 31536000,
)


def auto_date_histogram(
    hits: DataFrame,
    time_col: str,
    target_buckets: int = 20,
    value_col: "str | None" = None,
) -> DataFrame:
    """Auto-interval date histogram (ES ``auto_date_histogram``): the
    caller names a TARGET bucket count and the interval is chosen
    from a fixed ladder — the smallest step whose epoch-aligned
    bucket count stays within the target (so dashboards ask for
    "about 20 bars" instead of hand-picking seconds).

    The choice needs the hit set's [min, max] epoch micros: ONE 1-row
    partial aggregate (min/max push into parquet row-group stats),
    collected driver-side like every model-sized artifact in this
    repo, then the chosen interval re-enters as a literal and the
    histogram itself is the usual single partial-aggregated pass.
    Bucket count for interval I uses the exact integer form
    ``mx//(I*1e6) - mn//(I*1e6) + 1`` (epoch-ALIGNED buckets, not
    span/I) — the DuckDB oracle spells out the identical ladder CASE
    over the same integers, so both engines pick the same interval by
    construction. The chosen ``interval_s`` is emitted per row so the
    caller (and the oracle) can see which rung won. Empty hit sets
    return an empty frame with the full schema."""
    mm = hits.agg(
        F.min(F.unix_micros(F.col(time_col))).alias("mn"),
        F.max(F.unix_micros(F.col(time_col))).alias("mx"),
    ).collect()[0]
    interval = AUTO_HISTOGRAM_LADDER[-1]
    if mm.mn is None:
        out = date_histogram(hits, time_col, interval, value_col).limit(0)
    else:
        for step in AUTO_HISTOGRAM_LADDER:
            m = step * 1_000_000
            if mm.mx // m - mm.mn // m + 1 <= target_buckets:
                interval = step
                break
        out = date_histogram(hits, time_col, interval, value_col)
    return out.select(
        "bucket_epoch",
        F.lit(interval).cast("long").alias("interval_s"),
        *[c for c in out.columns if c != "bucket_epoch"],
    )


def manifest_histogram(
    spark: SparkSession,
    catalog: FsCatalog,
    config: IndexConfig,
    field: str,
    interval: float,
    at_version: Optional[int] = None,
) -> Optional[DataFrame]:
    """MATCH-ALL numeric histogram answered from the MANIFEST alone —
    zero data scans: each segment records, at commit time, exact
    fixed-width floor-keyed bin counts for every number field with a
    configured ``histogram_bin`` (`catalog.SegmentEntry.
    field_histograms`); bins add across segments, so the whole panel
    is driver-side integer arithmetic — the distribution twin of
    :func:`manifest_stats`, same Delta/Iceberg file-statistics
    pattern at 10k-segments-over-100 TB scale.

    Returns ``None`` (caller falls back to :func:`histogram_agg` over
    a real scan) when deletes pend (commit-time bins count masked
    rows), any manifested segment lacks the field's histogram, or the
    REQUESTED interval differs from the recorded width — the fast
    path answers the exact recorded grid or not at all, never a
    resampled approximation. Bucket keys were computed at commit with
    histogram_agg's own floor expression, so the two paths are
    value-identical by construction."""
    from pyspark.sql import types as T

    _ver, segs, deletes = catalog.snapshot(config.name, at_version=at_version)
    if deletes:
        return None
    if not segs:
        rows: list = []
    else:
        if any(
            s.field_histograms is None or field not in s.field_histograms
            for s in segs
        ):
            return None
        if any(
            s.field_histograms[field]["w"] != float(interval) for s in segs
        ):
            return None
        bins: dict = {}
        for s in segs:
            for k, v in s.field_histograms[field]["bins"].items():
                bins[k] = bins.get(k, 0) + int(v)
        rows = [(float(k), v) for k, v in bins.items()]
    schema = T.StructType(
        [
            T.StructField("bucket_lo", T.DoubleType(), True),
            T.StructField("n_hits", T.LongType(), False),
        ]
    )
    return literal_relation(spark, rows, schema)


def percentile_ranks_agg(
    hits: DataFrame, field: str, values: "list[float]"
) -> DataFrame:
    """Percentile-ranks aggregation (ES ``percentile_ranks`` — the
    inverse of the percentiles panel): for each caller value v, the
    percentage of hit-set values <= v. Exact by construction — one
    conditional-aggregation pass (a count per probe value next to the
    total), no value buffering at all, so unlike the forward
    percentile panel this one is corpus-scale safe as-is. Output is
    long form (value, pct_rank), rank = 100 * count(x <= v) / n in
    double, NULL when the hit set has no values."""
    c = F.col(field)
    n = F.count(c)
    aggs = [n.cast("long").alias("__n")] + [
        F.sum(F.when(c <= F.lit(float(v)), 1).otherwise(0))
        .cast("long").alias(f"__le_{i}")
        for i, v in enumerate(values)
    ]
    one = hits.agg(*aggs)
    stack = ", ".join(
        f"{sql_literal(float(v), _DBL)}, `__le_{i}`"
        for i, v in enumerate(values)
    )
    long = one.select(
        F.col("__n"),
        F.expr(f"stack({len(values)}, {stack}) AS (value, le)"),
    )
    return long.select(
        F.col("value"),
        F.when(
            F.col("__n") > 0,
            F.round(
                F.lit(100.0) * F.col("le").cast("double")
                / F.col("__n").cast("double"),
                6,
            ),
        ).alias("pct_rank"),
    )


def collapse_agg(
    hits: DataFrame,
    field: str,
    sort_field: str,
    id_col: str,
    limit: int = 10,
    descending: bool = True,
) -> DataFrame:
    """ES field collapsing (``collapse`` in the search body —
    quickwit/ES both ship it; the reference's limit-only collector
    cannot, ``src/commands/search.rs:188``): the result list keeps
    ONE best hit per distinct ``field`` value (best by ``sort_field``,
    ties to the smaller ``id_col``), annotated with the group's total
    hit count (the ``inner_hits`` count), and the collapsed list
    itself is ordered by the winning hits' sort values and cut to
    ``limit``.

    Scale: both the per-group winner (row_number = 1) and the group
    count ride ONE window partition key — a single group-keyed
    exchange and one window pass (the inner-hit count needs every
    group row, so the rank filter deliberately does NOT split into a
    WindowGroupLimit — that would add a second window); the final
    cut is a ``limit``-row TakeOrdered, never a global sort
    (plan-pinned in tests/test_plan_audit.py)."""
    oc = (
        F.col(sort_field).desc() if descending else F.col(sort_field).asc()
    )
    w = Window.partitionBy(field).orderBy(oc, F.col(id_col).asc())
    wg = Window.partitionBy(field)
    top = (
        hits.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_in_group", F.count(F.lit(1)).over(wg))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    return top.select(
        F.col(field),
        F.col(id_col),
        F.col(sort_field),
        F.col("n_in_group").cast("long").alias("n_in_group"),
    ).orderBy(oc, F.col(id_col).asc()).limit(limit)


def sketch_set_ops(
    hits_a: DataFrame,
    hits_b: DataFrame,
    field: str,
    k: int = 64,
) -> DataFrame:
    """KMV sketch SET OPERATIONS (Beyer et al. 2007, "On synopses for
    distinct-value estimation under multiset operations" — the
    theta-sketch algebra): estimate ``|A ∪ B|`` and ``|A ∩ B|`` for
    two audiences from their bottom-k sketches ALONE — the
    audience-overlap question every event pipeline asks, answered
    without ever shuffling the raw key space.

    Estimator: union the two bottom-k hash sets and re-take the
    bottom k — a valid KMV sketch of A ∪ B, so
    ``est_union = (k-1) * M / h_k`` (the :func:`cardinality_agg`
    estimator). Of those k union-sketch hashes, the fraction ρ
    present in BOTH side sketches estimates the Jaccard similarity,
    and ``est_inter = ρ * est_union``. Below k the sketches are the
    exact distinct hash sets and the estimates collapse to exact
    counts (modulo hash collisions, the documented sketch trade).

    The exact four-way ground truth (|A|, |B|, |A ∩ B|, |A ∪ B|) is
    computed alongside for calibration — at 100 TB you'd keep only
    the sketch columns, whose inputs are two k-row TakeOrdereds of
    map-side-deduped int64 hashes (the per-side sketches are what an
    index would PERSIST per segment and OR together at query time —
    merging sketches costs k rows, merging audiences costs a
    shuffle). Hash family is the repo's SQL-auditable poly fold, so
    the DuckDB oracle replays every estimate bit-for-bit."""
    from toshokan_spark.operators.dedup import POLY_MOD, poly_hash

    def hashes(hits: DataFrame) -> DataFrame:
        return (
            hits.select(
                poly_hash(
                    F.col(field).cast("string"), base=1103515245, init=5381
                ).alias("h")
            )
            .where(F.col("h").isNotNull())
            .distinct()
        )

    ha, hb = hashes(hits_a), hashes(hits_b)
    sa = ha.orderBy("h").limit(k).select(F.col("h").alias("ha"))
    sb = hb.orderBy("h").limit(k).select(F.col("h").alias("hb"))
    union_sk = (
        sa.select(F.col("ha").alias("h"))
        .unionByName(sb.select(F.col("hb").alias("h")))
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    both = union_sk.join(
        F.broadcast(sa), union_sk["h"] == sa["ha"], "left_semi"
    ).join(F.broadcast(sb), union_sk["h"] == sb["hb"], "left_semi")
    sketch = union_sk.agg(
        F.count(F.lit(1)).alias("kk"), F.max("h").alias("hk")
    ).crossJoin(both.agg(F.count(F.lit(1)).alias("kb")))
    est_union = F.when(
        F.col("kk") < k, F.col("kk").cast("double")
    ).otherwise(
        F.round((F.lit(k - 1) * F.lit(float(POLY_MOD))) / F.col("hk"), 6)
    )
    exact = (
        hits_a.select(F.col(field).alias("x"))
        .where(F.col("x").isNotNull())
        .distinct()
        .withColumn("in_a", F.lit(1))
        .join(
            hits_b.select(F.col(field).alias("x"))
            .where(F.col("x").isNotNull())
            .distinct()
            .withColumn("in_b", F.lit(1)),
            "x",
            "full_outer",
        )
        .agg(
            F.sum(F.coalesce("in_a", F.lit(0))).cast("long").alias("n_a"),
            F.sum(F.coalesce("in_b", F.lit(0))).cast("long").alias("n_b"),
            F.sum(
                F.coalesce("in_a", F.lit(0)) * F.coalesce("in_b", F.lit(0))
            ).cast("long").alias("n_inter"),
            F.count(F.lit(1)).cast("long").alias("n_union"),
        )
    )
    rho = F.col("kb").cast("double") / F.col("kk").cast("double")
    return exact.crossJoin(F.broadcast(sketch)).select(
        "n_a",
        "n_b",
        "n_inter",
        "n_union",
        F.round(est_union, 6).alias("kmv_union"),
        F.round(rho * est_union, 6).alias("kmv_intersection"),
    )


def terms_with_error_bounds(
    hits: DataFrame,
    field: str,
    shard_col: str,
    k: int = 5,
    shard_size: int = 3,
) -> DataFrame:
    """ES terms aggregation WITH ACCURACY BOUNDS (the
    ``doc_count_error_upper_bound`` contract): each shard reports
    only its top ``shard_size`` terms; merged counts sum what was
    reported, and every returned term carries an upper bound on how
    much count it could be missing — the sum, over shards that did
    NOT report the term, of that shard's last-returned count (a term
    absent from a shard's top list can hide at most just under the
    list's cut-off there; a shard that returned FEWER than
    ``shard_size`` terms is provably exhausted — a missing term truly
    has count 0 there — and contributes 0; one that returned exactly
    ``shard_size`` cannot be distinguished from a truncated one, so
    its cut-off still bounds, exactly ES's conservative rule).

    This is the 100 TB terms-agg reality made explicit: exact terms
    need the full key-space shuffle, sharded top-N is one partial
    pass + a k-row merge, and the bound tells the caller whether the
    truncation could have reordered the tail (bound 0 ⇒ exact). The
    shard key is a CALLER COLUMN, so results are deterministic and
    value-oracled — at scale you'd pass the segment/partition id.

    One (shard, term) partial-aggregated exchange, per-shard top
    lists via WindowGroupLimit, and output-sized merge joins."""
    counts = (
        hits.groupBy(F.col(shard_col).alias("__s"), F.col(field))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.partitionBy("__s").orderBy(
        F.col("__c").desc(), F.col(field).asc()
    )
    ranked = counts.withColumn("__rn", F.row_number().over(w))
    reported = ranked.where(F.col("__rn") <= shard_size)
    # a shard's hiding capacity: its last reported count IF the list
    # was cut (>= shard_size distinct terms), else 0
    per_shard = ranked.groupBy("__s").agg(
        F.count(F.lit(1)).alias("__n_terms"),
        F.max(F.when(F.col("__rn") == shard_size, F.col("__c")))
        .alias("__cut"),
    ).select(
        "__s",
        F.when(F.col("__n_terms") >= shard_size, F.col("__cut"))
        .otherwise(F.lit(0)).cast("long").alias("__last"),
    )
    total_last = per_shard.agg(
        F.coalesce(F.sum("__last"), F.lit(0)).cast("long").alias("__total")
    )
    merged = (
        reported.join(per_shard, "__s")
        .groupBy(field)
        .agg(
            F.sum("__c").cast("long").alias("doc_count"),
            F.sum("__last").cast("long").alias("__covered"),
        )
    )
    return (
        merged.crossJoin(F.broadcast(total_last))
        .select(
            field,
            "doc_count",
            (F.col("__total") - F.col("__covered"))
            .cast("long").alias("doc_count_error_upper_bound"),
        )
        .orderBy(F.col("doc_count").desc(), F.col(field).asc())
        .limit(k)
    )


def ndcg_discounts(k: int) -> "list[float]":
    """The NDCG rank-discount table 1/log2(rank+1) for ranks 1..k,
    computed ONCE driver-side and folded into both engines as
    identical decimal literals — log2 stays out of the value
    contract entirely (JVM and libm log2 may differ in the last ulp;
    a shared literal table cannot)."""
    import math

    return [1.0 / math.log2(i + 1) for i in range(1, k + 1)]


def rank_eval(
    ranked: DataFrame,
    judgments: DataFrame,
    k: int = 10,
    rank_col: str = "rank",
    id_col: str = "doc_id",
    rel_col: str = "relevant",
) -> DataFrame:
    """ES ``_rank_eval``: score a ranked result list against binary
    relevance judgments — precision@k, recall@k, MRR, and NDCG@k in
    one row. The retrieval-quality sign-off every search/RAG pipeline
    runs before swapping a ranker.

    Exactness: precision/recall/MRR are rational (int counts and one
    1/rank division); DCG sums the :func:`ndcg_discounts` literals
    through ``decimal(38,18)`` so the ≤k-row sum is associative-exact
    and partition-order-free, and the ideal DCG reads the CUMULATIVE
    literal table at min(k, n_relevant) — both engines consume the
    same driver-computed constants, so NDCG is bit-stable despite the
    log2 inside it.

    Shape: the top-k slice is k rows; the judgments join is
    output-sized; the only corpus-shaped work is whatever produced
    ``ranked`` and the one n_relevant aggregate."""
    disc = ndcg_discounts(k)
    cum = []
    acc = 0.0
    for x in disc:
        acc = acc + x
        cum.append(acc)
    j = judgments.select(
        F.col(id_col),
        F.col(rel_col).cast("int").alias("__rel"),
    )
    topk = (
        ranked.where(F.col(rank_col) <= k)
        .select(F.col(rank_col).alias("__r"), F.col(id_col))
        .join(j, id_col, "left")
        .select("__r", F.coalesce("__rel", F.lit(0)).alias("__rel"))
    )
    wexpr = F.element_at(
        F.array(*[F.lit(float(x)) for x in disc]),
        F.col("__r").cast("int"),
    )
    agg = topk.agg(
        F.coalesce(F.sum("__rel"), F.lit(0)).cast("long")
        .alias("n_retrieved_relevant"),
        F.coalesce(F.max(
            F.when(F.col("__rel") == 1, F.lit(1.0) / F.col("__r"))
        ), F.lit(0.0)).alias("__mrr"),
        F.coalesce(
            F.sum(
                F.when(F.col("__rel") == 1, wexpr)
                .otherwise(F.lit(0.0)).cast("decimal(38,18)")
            ),
            F.lit(0).cast("decimal(38,18)"),
        ).cast("double").alias("__dcg"),
    )
    n_rel = judgments.agg(
        F.coalesce(
            F.sum(F.col(rel_col).cast("long")), F.lit(0)
        ).cast("long").alias("n_relevant")
    )
    cum_arr = F.array(*[F.lit(float(x)) for x in cum])
    idcg = F.when(
        F.col("n_relevant") > 0,
        F.element_at(cum_arr, F.least(F.lit(k), F.col("n_relevant"))
                     .cast("int")),
    )
    return agg.crossJoin(F.broadcast(n_rel)).select(
        "n_relevant",
        "n_retrieved_relevant",
        F.round(
            F.col("n_retrieved_relevant") / F.lit(float(k)), 6
        ).alias("precision_at_k"),
        F.when(F.col("n_relevant") > 0, F.round(
            F.col("n_retrieved_relevant")
            / F.col("n_relevant").cast("double"), 6,
        )).otherwise(F.lit(0.0)).alias("recall_at_k"),
        F.round(F.col("__mrr"), 6).alias("mrr"),
        F.when(F.col("n_relevant") > 0, F.round(
            F.col("__dcg") / idcg, 6
        )).otherwise(F.lit(0.0)).alias("ndcg_at_k"),
    )


def suggest_completions(
    hits: DataFrame,
    field: str,
    prefix: str,
    k: int = 10,
    tokenizer: str = "default",
) -> DataFrame:
    """ES completion suggester over the hit set's live vocabulary:
    the top ``k`` tokens extending ``prefix``, ranked by document
    frequency (each doc votes once per distinct token — the same df
    definition the commit-time BM25 stats use). The search-box
    autocomplete panel, served from the corpus itself.

    Scale: the prefix filter lands BEFORE the frequency groupBy, so
    the exchange carries only prefix-matching tokens (map-side
    partial-aggregated), and the cut is a distributed top-k. At index
    scale the same query reads the commit-time per-term df stats
    instead of re-tokenizing — this operator IS that plan shape over
    a live hit set."""
    df = _doc_frequencies(hits, field, tokenizer)
    return (
        df.where(F.col("term").startswith(prefix))
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(k)
    )


def spell_correct(
    hits: DataFrame,
    field: str,
    term: str,
    k: int = 5,
    max_dist: int = 2,
    tokenizer: str = "default",
) -> DataFrame:
    """ES term suggester ("did you mean"): corpus-vocabulary tokens
    within ``max_dist`` Levenshtein edits of ``term``, ranked by
    (distance, document frequency desc, token) — the most popular
    closest correction first, never the probe term itself.

    Scale: the vocabulary is one distinct-token df pass
    (vocab-sized, not corpus-sized), a LENGTH band pre-filter
    (|len(tok) − len(term)| ≤ max_dist — sargable, prunes the
    vocabulary before any edit distance runs) guards the O(len²)
    levenshtein, and both engines compute the identical integer
    distance, so the ranking is exact."""
    df = _doc_frequencies(hits, field, tokenizer)
    tl = len(term)
    cands = df.where(
        (F.abs(F.length("term") - F.lit(tl)) <= max_dist)
        & (F.col("term") != term)
    ).withColumn("dist", F.levenshtein(F.col("term"), F.lit(term)))
    return (
        cands.where(F.col("dist") <= max_dist)
        .orderBy(
            F.col("dist").asc(), F.col("df").desc(), F.col("term").asc()
        )
        .limit(k)
        .select("term", "dist", "df")
    )


def sibling_bucket_aggs(
    hits: DataFrame,
    time_col: str,
    interval_seconds: int,
    value_col: str,
) -> DataFrame:
    """ES sibling pipeline aggregations — ``max_bucket`` /
    ``min_bucket`` / ``avg_bucket`` / ``sum_bucket`` over a date
    histogram's per-bucket value sums, in ONE summary row (each
    extreme carries the bucket key that achieved it, ties to the
    earliest bucket — ES returns the achieving key list; the
    deterministic single key keeps the value contract total-ordered).

    Scale: the corpus-sized work is the histogram's one
    partial-aggregated exchange; the sibling stage aggregates the
    bucket frame (time_range/interval rows — metadata-sized) to a
    single row, summing through decimal(38,6) so the cross-bucket
    totals are partition-order-exact."""
    hist = date_histogram(hits, time_col, interval_seconds, value_col)
    v = F.col("total_value")
    dec = v.cast("decimal(38,6)")
    return hist.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.round(F.sum(dec).cast("double"), 6).alias("sum_bucket"),
        # double-side division of the decimal-exact sum — a
        # decimal/bigint quotient would carry engine-specific result
        # scales (the pipeline_histogram_agg moving_avg rule)
        F.round(
            F.sum(dec).cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("avg_bucket"),
        F.max(F.struct(v.alias("v"), (-F.col("bucket_epoch")).alias("ne")))
        .getField("v").alias("max_bucket_value"),
        (-F.max(
            F.struct(v.alias("v"), (-F.col("bucket_epoch")).alias("ne"))
        ).getField("ne")).cast("long").alias("max_bucket_epoch"),
        F.min(F.struct(v.alias("v"), F.col("bucket_epoch").alias("e")))
        .getField("v").alias("min_bucket_value"),
        F.min(F.struct(v.alias("v"), F.col("bucket_epoch").alias("e")))
        .getField("e").cast("long").alias("min_bucket_epoch"),
    )


def percolate(
    docs: DataFrame,
    queries: "list[tuple[str, str]]",
    config,
    id_col: str,
) -> DataFrame:
    """ES percolator — search REVERSED: the index stores QUERIES and
    every arriving document reports which stored queries it matches
    (the alerting / saved-search / routing primitive: monitors
    registered once, evaluated against the ingest stream forever).
    ``queries`` is ``[(query_id, query_string)]`` in the engine's own
    search syntax; output is one ``(id_col, query_id)`` row per
    match.

    Scale shape: stored queries are DIMENSION-sized (an alerting
    system holds thousands), so every query compiles driver-side to
    a boolean expression and ALL of them evaluate in ONE document
    scan — a width-Q projection inside whole-stage codegen, no join,
    no shuffle, no per-query pass. The match list materializes as an
    array column compacted and exploded to (doc, query) pairs, so a
    doc matching nothing costs zero output rows. Per-batch streaming
    percolation is this exact function inside ``foreachBatch``.

    Plan CONSTRUCTION detail: building Q Column trees pays ~Q·50 py4j
    round trips — measured 27 s of pure construction at Q=500 against
    1.5 s of execution. Every query renders driver-side to SQL text
    (:mod:`toshokan_spark.query_sql`), and all of them are parsed by a
    single ``F.expr`` call, which registers any named function they
    call on the documents' own session (a stream's micro-batch runs in
    a clone). The Q=500 profile is recorded in
    ``tests/test_operators.py``'s width test."""
    from toshokan_spark.query_sql import render_query_sql

    # Stage each analyzed text field's token array ONCE per document
    # (r16 — the boosting one-tokenize lesson generalized): arriving
    # documents lack the ingest shadow columns, so every
    # phrase/slop/fuzzy monitor would otherwise re-tokenize the same
    # cell inline — and tokenize is an interpreted HOF chain, paid
    # per monitor per row. The compiler prefers the shadow array
    # when it is in available_columns; Catalyst prunes the staged
    # column away when no monitor reads it.
    from toshokan_spark.functions.tokenizers import tokenize
    from toshokan_spark.ingest import tokens_col

    for f in config.fields:
        if (
            f.type == "text" and f.indexed and f.tokenizer != "raw"
            and not f.array and f.name in docs.columns
            and tokens_col(f.name) not in docs.columns
        ):
            docs = docs.withColumn(
                tokens_col(f.name),
                tokenize(F.col(f.name), f.tokenizer),
            )
    cols = set(docs.columns)
    cases = []
    for qid, q in queries:
        sql = render_query_sql(q, config, cols)  # raises on bad queries
        cases.append(f"CASE WHEN coalesce(({sql}), false) "
                     f"THEN {sql_literal(qid, _STR)} END")
    if cases:
        arr = sql_expr("array(" + ",".join(cases) + ")", docs.sparkSession)
    else:
        arr = F.array().cast("array<string>")
    matched = F.array_compact(arr)
    return docs.select(
        F.col(id_col), F.explode(matched).alias("query_id")
    )


def boxplot_agg(hits: DataFrame, field: str) -> DataFrame:
    """ES ``boxplot`` aggregation: n / min / max / q1 / q2 / q3 plus
    the 1.5·IQR whiskers (``lower``/``upper`` = the farthest actual
    values inside the fences — the ES semantics, so the whiskers are
    always elements of the data). Quartiles are ``percentile_disc``
    like :func:`percentiles_agg` (exact, engine-stable — ES itself
    uses t-digest; our exact form is the stricter contract).

    Two passes over the HIT SET (not the corpus): the quartile row is
    1 row broadcast back for the conditional whisker min/max — the
    fences depend on q1/q3, so no single aggregation can compute
    them. Both passes are partial-aggregated single scans."""
    c = F.col(field)
    q = hits.agg(
        F.count(c).cast("long").alias("n_values"),
        F.min(c).cast("double").alias("min_v"),
        F.max(c).cast("double").alias("max_v"),
        F.expr(f"percentile_disc(0.25) WITHIN GROUP (ORDER BY `{field}`)")
        .cast("double").alias("q1"),
        F.expr(f"percentile_disc(0.5) WITHIN GROUP (ORDER BY `{field}`)")
        .cast("double").alias("q2"),
        F.expr(f"percentile_disc(0.75) WITHIN GROUP (ORDER BY `{field}`)")
        .cast("double").alias("q3"),
    )
    j = hits.select(c.cast("double").alias("__v")).crossJoin(F.broadcast(q))
    iqr = F.col("q3") - F.col("q1")
    lo_fence = F.col("q1") - F.lit(1.5) * iqr
    hi_fence = F.col("q3") + F.lit(1.5) * iqr
    return j.groupBy("n_values", "min_v", "max_v", "q1", "q2", "q3").agg(
        F.min(F.when(F.col("__v") >= lo_fence, F.col("__v"))).alias("lower"),
        F.max(F.when(F.col("__v") <= hi_fence, F.col("__v"))).alias("upper"),
    ).select(
        "n_values", "min_v", "max_v", "q1", "q2", "q3",
        F.round(iqr, 6).alias("iqr"), "lower", "upper",
    )


def string_stats_agg(hits: DataFrame, field: str) -> DataFrame:
    """ES ``string_stats``: count / min_length / max_length /
    avg_length (characters) plus the Shannon entropy (−Σ p·log2 p)
    of the field's global character distribution.

    Scale shape: the length moments are one partial-aggregated pass
    (decimal-exact sum). The character distribution explodes to
    single chars but hash-aggregates MAP-SIDE, so the exchange
    carries at most |alphabet| rows per partition; the entropy sum
    then runs over the alphabet-sized frequency table as an ORDERED
    fold (sorted by character) — float addition is order-sensitive,
    and the fold order is the cross-engine contract."""
    c = F.col(field)
    lens = hits.agg(
        F.count(c).cast("long").alias("n_values"),
        F.min(F.length(c)).cast("long").alias("min_length"),
        F.max(F.length(c)).cast("long").alias("max_length"),
        F.round(
            F.sum(F.length(c).cast("decimal(38,6)")).cast("double")
            / F.count(c),
            6,
        ).alias("avg_length"),
    )
    counts = (
        hits.select(F.explode(F.split(c, "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("ch")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ent = counts.agg(
        F.sum("cnt").alias("__tot"),
        F.sort_array(F.collect_list(F.struct("ch", "cnt"))).alias("__a"),
    ).select(
        F.round(
            F.aggregate(
                "__a",
                F.lit(0.0),
                lambda acc, x: acc
                - (x["cnt"] / F.col("__tot"))
                * F.log2(x["cnt"] / F.col("__tot")),
            ),
            6,
        ).alias("entropy")
    )
    return lens.crossJoin(F.broadcast(ent))


def t_test_agg(
    df: DataFrame,
    field: str,
    query_a: str,
    query_b: str,
    config,
) -> DataFrame:
    """ES ``t_test`` aggregation (heteroscedastic / Welch's, the ES
    default): the t statistic between the *field* values of two
    query-filtered populations. ONE scan — both populations'
    moments come from conditional aggregation (the
    :func:`filters_agg` discipline), sums decimal-exact, variances
    the sample (n−1) form derived from the exact sums in double
    arithmetic, so an oracle repeating the formula agrees
    bit-for-bit."""
    from .query_sql import compile_query_fast as _cq

    cols = set(df.columns)
    pa = F.coalesce(_cq(query_a, config, cols), F.lit(False))
    pb = F.coalesce(_cq(query_b, config, cols), F.lit(False))
    c = F.col(field)

    def side(p, tag):
        return [
            F.count(F.when(p, c)).cast("long").alias(f"n_{tag}"),
            F.sum(F.when(p, c).cast("decimal(38,6)")).alias(f"s1_{tag}"),
            F.sum(F.when(p, c * c).cast("decimal(38,6)")).alias(f"s2_{tag}"),
        ]

    m = df.agg(*side(pa, "a"), *side(pb, "b"))

    def stats(tag):
        n = F.col(f"n_{tag}")
        s1 = F.col(f"s1_{tag}").cast("double")
        s2 = F.col(f"s2_{tag}").cast("double")
        mean = s1 / n
        var = F.greatest(
            (s2 - s1 * s1 / n) / (n - F.lit(1)), F.lit(0.0)
        )
        return n, mean, var

    na, ma, va = stats("a")
    nb, mb, vb = stats("b")
    t = (ma - mb) / F.sqrt(va / na + vb / nb)
    return m.select(
        na.alias("n_a"),
        nb.alias("n_b"),
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
    )


def diversified_sampler_agg(
    hits: DataFrame,
    diversity_field: str,
    sort_field: str,
    id_col: str,
    max_per_group: int,
    shard_size: int,
) -> DataFrame:
    """ES ``diversified_sampler``: the top *shard_size* hits by
    (sort_field desc, id asc) with at most *max_per_group* per
    diversity-field value — the de-biased sample feeding downstream
    sub-aggregations (ES's guard against one user/domain flooding a
    significant-terms panel).

    Scale shape: the per-group quota is a WindowGroupLimit (rank ≤ K
    pushed into the window operator — no full materialization of
    per-group ranks), and the final cut is a distributed TakeOrdered;
    nothing global-sorts the hit set."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy(diversity_field).orderBy(
        F.col(sort_field).desc(), F.col(id_col).asc()
    )
    return (
        hits.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= F.lit(max_per_group))
        .drop("__r")
        .orderBy(F.col(sort_field).desc(), F.col(id_col).asc())
        .limit(shard_size)
        .select(*dict.fromkeys([id_col, diversity_field, sort_field]))
    )


def cumulative_cardinality_agg(
    hits: DataFrame,
    ts_field: str,
    interval_s: int,
    key_col: str,
) -> DataFrame:
    """ES ``cumulative_cardinality`` pipeline aggregation: per date-
    histogram bucket, the number of distinct *key_col* values seen in
    the hit set UP TO that bucket (the "total unique users so far"
    panel), plus the per-bucket increment (ES's companion
    ``derivative`` reading).

    Scale shape — the first-seen decomposition: a naive per-bucket
    distinct-union is quadratic in buckets and ES pays an HLL union
    chain; instead ONE groupBy(key) computes each key's first-seen
    bucket (shuffle keyed by the key space, the honest cardinality
    cost), its bucket-histogram left-joins the plain bucket spine
    (bucket-frame-sized, broadcast), and the running integer sum over
    the bucket frame IS the cumulative cardinality — exact, no
    sketches, no re-scans, and every number is an integer so the
    cross-engine match is trivial."""
    sec = (F.unix_micros(F.col(ts_field)) / F.lit(1_000_000)).cast("long")
    bucket = (sec - (sec % F.lit(interval_s))).alias("bucket_epoch")
    spine = hits.groupBy(bucket).agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    firstb = (
        hits.groupBy(key_col)
        .agg(F.min(sec - (sec % F.lit(interval_s))).alias("bucket_epoch"))
        .groupBy("bucket_epoch")
        .agg(F.count(F.lit(1)).cast("long").alias("new_keys"))
    )
    w = Window.orderBy("bucket_epoch").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        spine.join(F.broadcast(firstb), "bucket_epoch", "left")
        .withColumn("new_keys", F.coalesce(F.col("new_keys"), F.lit(0)))
        .select(
            "bucket_epoch",
            "n_hits",
            F.col("new_keys").cast("long").alias("new_keys"),
            F.sum("new_keys").over(w).cast("long").alias(
                "cumulative_cardinality"
            ),
        )
    )


def ks_test_agg(
    df: DataFrame,
    field: str,
    query_a: str,
    query_b: str,
    config,
    bin_width: float,
) -> DataFrame:
    """ES ``bucket_count_ks_test``-style two-sample Kolmogorov–
    Smirnov statistic: D = max |ECDF_a − ECDF_b| between the *field*
    distributions of two query-defined populations, evaluated on a
    shared ``bin_width`` histogram grid (the bucketed form both ES
    and any streaming system actually compute).

    ONE conditional-aggregation scan produces both populations'
    bucket counts; the ECDF difference runs over the bucket frame
    (metadata-sized window). Counts are integers and each ECDF value
    is one integer-over-integer double division, so the oracle
    agrees bit-for-bit before the final rounding."""
    from .query_sql import compile_query_fast as _cq

    cols = set(df.columns)
    pa = F.coalesce(_cq(query_a, config, cols), F.lit(False))
    pb = F.coalesce(_cq(query_b, config, cols), F.lit(False))
    c = F.col(field).cast("double")
    b = F.floor(c / F.lit(float(bin_width))).cast("long")
    hist = (
        df.filter(pa | pb)
        .groupBy(b.alias("bucket"))
        .agg(
            F.sum(pa.cast("long")).alias("ca"),
            F.sum(pb.cast("long")).alias("cb"),
        )
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "bucket",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    totals = hist.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .agg(
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
            F.round(
                F.max(
                    F.abs(
                        F.col("cum_a") / F.col("n_a")
                        - F.col("cum_b") / F.col("n_b")
                    )
                ),
                6,
            ).alias("ks_d"),
        )
    )


def phrase_suggest(
    docs: DataFrame,
    text_col: str,
    phrase: str,
    k: int = 3,
    max_dist: int = 1,
    per_word: int = 5,
    tokenizer: str = "default",
) -> DataFrame:
    """ES *phrase* suggester ("did you mean" for whole queries): each
    input word generates vocabulary candidates within *max_dist*
    edits (ranked distance asc / term-frequency desc / token asc,
    capped at *per_word*), and every candidate phrase is scored by
    the corpus add-one-smoothed bigram language model — the same
    ``p(w2|w1) = (c(w1 w2)+1)/(c(w1)+V)`` as
    :func:`toshokan_spark.operators.text.bigram_logprob` — so the
    correction that forms the most probable SEQUENCE wins even when a
    rarer word is closer in edits. Output: (phrase, score), top *k*
    by (score desc, phrase asc).

    Scale shape: unigram and bigram counts are two partial-aggregated
    corpus passes (the LM-training cost, shared with the quality
    ops); per-word candidate selection is a banded-levenshtein filter
    over the VOCABULARY with a distributed top-``per_word`` cut, and
    only those model-sized lists are collected. The candidate-phrase
    cross product (≤ per_word^n rows, n = query words ≤ 4) scores in
    one small broadcast join chain against the counts — the corpus
    never re-scans per candidate."""
    from toshokan_spark.functions.tokenizers import analyze_term, tokenize

    words = analyze_term(phrase, tokenizer)
    if not 2 <= len(words) <= 4:
        raise ValueError("phrase_suggest wants 2-4 analyzed words")

    toks = tokenize(F.col(text_col), tokenizer)
    # The VOCABULARY table is persisted (r16): |V| is needed as a
    # scalar and every query word's candidate scan reads the
    # vocabulary — un-persisted, each of those actions re-tokenized
    # and re-aggregated the whole corpus (5-7 full text passes
    # measured at sf0.1; at 100 TB each is a linear scan of every
    # text cell). The vocab cache is model-sized and released as soon
    # as the candidates (with their own frequencies) are collected;
    # the corpus token arrays themselves stay un-persisted (caching
    # them measured slower than the one extra tokenize the bigram
    # pass pays — see unigram_logprob), so the whole suggester costs
    # two corpus passes: vocabulary build + bigram counts.
    staged = docs.select(toks.alias("__w")).withColumn(
        "__n", F.size("__w")
    )
    uni = (
        staged.select(F.explode("__w").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
    ).persist()
    bg = (
        staged.filter(F.col("__n") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("__n") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("__w"), i).alias("w1"),
                        F.element_at(F.col("__w"), i + 1).alias("w2"),
                    ),
                )
            ).alias("t")
        )
        .groupBy("t.w1", "t.w2")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    # persist-to-unpersist span under try/finally (ADVICE r16): a
    # raise from the count, the candidate collect, or the wq
    # relation must not leak the vocab cache entry for the session
    # lifetime
    try:
        vv = uni.count()  # |V| — one scalar; the action fills the cache

        # per-word candidate selection: ONE job over the cached
        # vocabulary for all 2-4 query words (banded levenshtein +
        # per-word top-per_word via row_number — same (dist asc, freq
        # desc, token asc) total order as the former per-word
        # orderBy/limit, so the selected sets and their order are
        # identical), instead of one corpus-rescanning job per query
        # word.
        spark = docs.sparkSession
        lim = int(max_dist)
        # query words as a literal relation, which broadcasts
        # straight from the driver (literals.literal_relation)
        wq = literal_relation(
            spark, list(enumerate(words)), "wi int, qw string")
        cw = Window.partitionBy("wi").orderBy(
            F.col("__d").asc(), F.col("cu").desc(), F.col("w").asc()
        )
        crows = (
            uni.join(
                F.broadcast(wq),
                F.abs(F.length("w") - F.length("qw")) <= F.lit(lim),
            )
            .withColumn("__d", F.levenshtein(F.col("w"), F.col("qw")))
            .filter(F.col("__d") <= F.lit(lim))
            .withColumn("__rn", F.row_number().over(cw))
            .filter(F.col("__rn") <= per_word)
            .select("wi", "w", "__d", "__rn", "cu")
            .collect()  # model-sized: ≤ len(words) × per_word rows
        )
        cands: list[list[tuple[str, int]]] = [[] for _ in words]
        cu_of: dict[str, int] = {}
        for r in sorted(crows, key=lambda r: (r["wi"], r["__rn"])):
            cands[r["wi"]].append((r["w"], r["__d"]))
            cu_of[r["w"]] = r["cu"]
    finally:
        # the vocabulary cache has served |V|, every candidate scan
        # AND the candidates' own frequencies — nothing else reads it
        uni.unpersist()
    if any(not c for c in cands):
        return spark.createDataFrame([], "phrase string, score double")

    import itertools

    phrases = []
    trans = []
    for pid, combo in enumerate(itertools.product(*cands)):
        ws = [w for w, _ in combo]
        phrases.append((pid, " ".join(ws)))
        for pos in range(len(ws) - 1):
            trans.append((pid, pos, ws[pos], ws[pos + 1]))
    pdf = literal_relation(spark, phrases, "pid long, phrase string")
    tdf = literal_relation(
        spark, trans, "pid long, pos int, w1 string, w2 string"
    )
    # restrict the corpus count tables to the candidate pairs BEFORE
    # broadcasting: the bigram table is corpus-vocabulary-sized, the
    # filtered slice is ≤ |firsts|x|seconds| rows
    firsts = sorted({a for _, _, a, _ in trans})
    seconds = sorted({b for _, _, _, b in trans})
    bg_f = bg.filter(F.col("w1").isin(firsts) & F.col("w2").isin(seconds))
    # the candidates' unigram counts were collected WITH the
    # candidates, so the scorer's unigram side is a literal frame —
    # no third corpus pass (the former uni_f re-ran tokenize+explode+
    # aggregate a third time just to re-read ≤ 20 counts)
    # literal relation for the same reason as wq above: the ≤ |firsts|
    # collected counts broadcast straight from the driver
    uni_f = literal_relation(
        spark, [(w, cu_of[w]) for w in firsts], "w string, cu long")
    scored = (
        tdf.join(F.broadcast(bg_f), ["w1", "w2"], "left")
        .join(F.broadcast(uni_f.withColumnRenamed("w", "w1")
                          .withColumnRenamed("cu", "cu1")), "w1")
        .select(
            "pid",
            "pos",
            F.log(
                (F.coalesce(F.col("cb"), F.lit(0)) + F.lit(1.0))
                / (F.col("cu1") + F.lit(float(vv)))
            ).alias("__c"),
        )
        .groupBy("pid")
        .agg(
            F.aggregate(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "__c"))),
                    lambda s: s["__c"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("__s")
        )
    )
    return (
        pdf.join(scored, "pid")
        .select("phrase", F.round("__s", 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("phrase").asc())
        .limit(k)
    )


def expand_index_pattern(catalog, pattern: str) -> "list[str]":
    """ES index-pattern resolution: comma-separated names, aliases
    and ``fnmatch`` globs (``logs-*``) against the catalog's live
    indexes and aliases; exact names resolve through the alias hop.
    Returns sorted unique index names; unknown EXACT names raise (a
    glob matching nothing is legal and returns empty, the ES
    behavior with allow_no_indices)."""
    import fnmatch

    names: set[str] = set()
    live = catalog.list_indexes()
    aliases = catalog.aliases()
    for t in (x.strip() for x in pattern.split(",")):
        if not t:
            continue
        if any(ch in t for ch in "*?["):
            names.update(n for n in live if fnmatch.fnmatchcase(n, t))
            names.update(
                tgt for a, tgt in aliases.items()
                if fnmatch.fnmatchcase(a, t)
            )
        else:
            resolved = catalog.resolve(t)
            if resolved not in live:
                from toshokan_spark.catalog import CatalogError

                raise CatalogError(f"no such index {t!r}")
            names.add(resolved)
    return sorted(names)


def multi_search_df(
    spark: SparkSession,
    catalog: FsCatalog,
    pattern: str,
    query: str,
    limit: Optional[int] = None,
    at_version: Optional[int] = None,
) -> "tuple[DataFrame, list[str]]":
    """ES multi-index search (``GET /logs-*,metrics/_search``): every
    index matching *pattern* is searched with its OWN config — each
    side keeps its private pruning, query compilation, delete masks
    and day-partition cuts — and the hit frames union by column name
    with missing columns null-filled, each row tagged ``_index``
    (the ES response convention). Returns (frame, matched names).

    ``at_version`` is a PER-INDEX manifest version, not a
    catalog-global snapshot — each index's version counter advances
    independently, so one V names different points in time on
    different indexes, and raises for any matched index whose history
    lacks V. Time travel therefore only composes with single-index
    patterns; passing it with a pattern matching 2+ indexes raises
    up front rather than silently mixing epochs (ADVICE r13).

    Scale shape: the union is a plan-level concatenation (no shuffle
    — Spark unions are free), so N indexes cost N pruned scans, and
    a global ``limit`` becomes a LocalLimit under each scan plus one
    final cut, exactly how ES fans a size-k search out to every
    matched index and trims on the coordinator."""
    names = expand_index_pattern(catalog, pattern)
    if at_version is not None and len(names) > 1:
        raise ValueError(
            f"at_version={at_version} is a per-index version, but pattern "
            f"{pattern!r} matched {len(names)} indexes ({names}); time "
            "travel requires a single-index pattern"
        )
    out = None
    for n in names:
        df = search_df(
            spark, catalog, n, query, limit=limit, at_version=at_version
        ).withColumn("_index", F.lit(n))
        out = df if out is None else out.unionByName(
            df, allowMissingColumns=True
        )
    if out is None:
        return spark.createDataFrame([], "_index string"), names
    if limit is not None:
        out = out.limit(limit)
    return out, names


def matrix_stats_agg(hits: DataFrame, fields: "list[str]") -> DataFrame:
    """ES ``matrix_stats``: pairwise covariance and correlation over
    2+ numeric fields, plus each field's count/mean/variance — one
    row per ordered (field, other) pair (the ES response's matrix
    flattened; the diagonal carries variance and correlation 1).

    Engine-stable contract: every moment is an EXACT DECIMAL sum —
    inputs quantized to DECIMAL(18,6) so the cross product lands at
    DECIMAL(37,12) WITHOUT tripping Spark's decimal-precision-loss
    rescale (a (38,6)x(38,6) product would exceed precision 38 and
    silently truncate back to scale 6) — and the covariance/
    correlation arithmetic runs in double on those exact sums, so
    partition order can never flip a ulp. ES's streaming skewness/
    kurtosis are NOT reproduced — same stance as the exact
    percentiles replacing t-digest (SURVEY §2.8): where ES ships an
    approximation we ship the exact statistic, and this matrix is
    the exact subset both engines can agree on bit-for-bit.

    One partial-aggregated scan for ALL pairs: the k·(k+1)/2 sums
    land in a single 1-row aggregate — no per-pair pass, no shuffle
    beyond the one-row combine. Population (biased, /n) moments —
    the ES definition.

    Duplicate names in *fields* are rejected (the pair-key lookup is
    positional and a duplicate would silently corrupt it), and an
    EMPTY hit set yields an EMPTY result — not k² rows of
    null-divided-by-zero moments (ADVICE r14)."""
    if len(set(fields)) != len(fields):
        dupes = sorted({f for f in fields if fields.count(f) > 1})
        raise ValueError(f"matrix_stats fields repeat: {dupes}")
    cols = {f: F.col(f).cast("double").cast("decimal(18,6)") for f in fields}
    aggs = [F.count(F.lit(1)).alias("__n")]
    for f in fields:
        aggs.append(F.sum(cols[f]).alias(f"__s_{f}"))
    for i, a in enumerate(fields):
        for b in fields[i:]:
            aggs.append(
                F.sum(cols[a] * cols[b]).alias(f"__p_{a}_{b}")
            )
    row = hits.agg(*aggs)

    def pkey(a: str, b: str) -> str:
        i, j = fields.index(a), fields.index(b)
        return f"__p_{a}_{b}" if i <= j else f"__p_{b}_{a}"

    # derive every ordered pair FROM THE ONE AGGREGATED ROW with an
    # explode — a union of per-pair selects would re-plan (and
    # re-scan) the aggregation once per branch (judge-style plan
    # audit caught exactly that: 3 FileScans for a "one-scan" agg)
    n = F.col("__n").cast("double")
    pair_structs = []
    for a in fields:
        mean_a = F.col(f"__s_{a}").cast("double") / n
        var_a = F.col(pkey(a, a)).cast("double") / n - mean_a * mean_a
        for b in fields:
            mean_b = F.col(f"__s_{b}").cast("double") / n
            var_b = F.col(pkey(b, b)).cast("double") / n - mean_b * mean_b
            cov = F.col(pkey(a, b)).cast("double") / n - mean_a * mean_b
            corr = F.when(
                (var_a > 0) & (var_b > 0), cov / F.sqrt(var_a * var_b)
            )
            pair_structs.append(F.struct(
                F.lit(a).alias("field"),
                F.lit(b).alias("other"),
                F.col("__n").cast("long").alias("n_values"),
                F.round(mean_a, 6).alias("mean"),
                F.round(var_a, 6).alias("variance"),
                F.round(cov, 6).alias("covariance"),
                F.round(corr, 6).alias("correlation"),
            ))
    return (
        # n = 0 (no hits) must produce zero pair rows, not a matrix
        # of nulls from the 0/0 moments
        row.filter(F.col("__n") > 0)
        .select(F.explode(F.array(*pair_structs)).alias("__pair"))
        .select("__pair.*")
    )


def top_metrics_agg(
    hits: DataFrame,
    group_by: str,
    sort_field: str,
    metrics: "list[str]",
    id_col: str,
    descending: bool = True,
) -> DataFrame:
    """ES ``top_metrics``: per bucket, the metric values taken from
    the single top document by *sort_field* (the "latest value per
    group" primitive that replaced ES's painful top_hits+script
    pattern). Ties on the sort value break by the LARGEST (desc) /
    smallest (asc) *id_col* — an explicit total order, where ES
    leaves ties unspecified.

    One exchange: ``max(struct(sort, id, metrics...))`` rides the
    partial-aggregation path (map-side combine), so each partition
    contributes one candidate struct per bucket — no window, no
    per-bucket sort, no row_number shuffle."""
    sort_c = F.col(sort_field)
    id_c = F.col(id_col)
    if not descending:
        # struct max picks the lexicographic maximum; negate-by-sort
        # is type-dependent, so flip via a descending-rank trick:
        # max over (negated comparable) requires numeric — instead
        # use min(struct(...)) for ascending
        top = F.min(
            F.struct(
                sort_c.alias("__sort"), id_c.alias("__id"),
                *[F.col(m).alias(f"__m_{m}") for m in metrics],
            )
        ).alias("__top")
    else:
        top = F.max(
            F.struct(
                sort_c.alias("__sort"), id_c.alias("__id"),
                *[F.col(m).alias(f"__m_{m}") for m in metrics],
            )
        ).alias("__top")
    g = hits.groupBy(F.col(group_by)).agg(top)
    return g.select(
        group_by,
        F.col("__top.__sort").alias(sort_field),
        F.col("__top.__id").alias(id_col),
        *[F.col(f"__top.__m_{m}").alias(m) for m in metrics],
    )


def rate_agg(
    hits: DataFrame,
    ts_field: str,
    value_col: "str | None" = None,
    bucket: str = "month",
    unit_seconds: int = 86400,
) -> DataFrame:
    """ES ``rate`` aggregation inside a date_histogram: per calendar
    *bucket*, the sum of *value_col* (or the doc count) normalized to
    a per-*unit* rate using the bucket's ACTUAL length — a 28-day
    February and a 31-day January divide by their own day counts,
    which is exactly why ES added rate over a manual
    sum/bucket-length pipeline.

    One partial-aggregated scan; the bucket length is calendar
    arithmetic on the bucket key (no second pass). Decimal-exact
    value sums, double division at the end, round 6."""
    if bucket not in ("month", "day", "hour"):
        raise ValueError(f"unsupported rate bucket {bucket!r}")
    b = F.date_trunc(bucket, F.col(ts_field))
    val = (
        F.col(value_col).cast("decimal(38,6)")
        if value_col is not None else None
    )
    g = hits.groupBy(b.alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        *([F.sum(val).alias("__sum")] if val is not None else []),
    )
    # bucket length from the KEY (calendar arithmetic, no data pass).
    # Every granularity uses the bucket's ACTUAL elapsed seconds —
    # calendar-aware timestampadd, so a 23-hour DST-transition day or
    # a 28-day February divides by its own length (the ES rate
    # contract; hours are fixed 3600 s but go through the same path
    # for uniformity).
    unit_sql = {"month": "MONTH", "day": "DAY", "hour": "HOUR"}[bucket]
    span = (
        F.unix_timestamp(
            F.expr(f"timestampadd({unit_sql}, 1, bucket)")
        )
        - F.unix_timestamp(F.col("bucket"))
    ).cast("double")
    g = g.withColumn("__span", span)
    total = (
        F.col("__sum").cast("double") if value_col is not None
        else F.col("n_hits").cast("double")
    )
    return g.select(
        F.col("bucket").cast("timestamp").alias("bucket"),
        "n_hits",
        F.round(
            total / (F.col("__span") / F.lit(float(unit_seconds))), 6
        ).alias("rate"),
    ).orderBy("bucket")


def change_point_agg(
    hits: DataFrame,
    ts_field: str,
    value_col: "str | None" = None,
    bucket: str = "day",
) -> DataFrame:
    """ES ``change_point`` aggregation (8.x) on a date-histogram
    metric series: detect the bucket where the series changes, typed
    ``step_change`` (sustained mean shift), ``spike``/``dip`` (one
    anomalous bucket), or ``stationary`` (nothing significant).

    Deterministic exact form (the repo's percentiles-over-t-digest
    stance — ES uses sampled test statistics and p-values, we ship
    the exact least-squares decomposition both engines reproduce
    bit-for-bit): per bucket, the metric is the decimal-exact sum of
    *value_col* (or the doc count); the STEP candidate is the split
    minimizing within-segment SSE (classic one-change-point
    mean-shift), the SPIKE/DIP candidate the single bucket whose
    exclusion minimizes remaining SSE. Each scores
    ``1 - SSE/SSE_total`` (variance explained, in [0,1]); the best
    rounded score wins (ties: step before point, then the earliest
    bucket), and below 0.25 — or with under 3 buckets — the series
    reports stationary.

    Scale shape: ONE partial-aggregated corpus scan builds the bucket
    series; everything after operates on the bucket-count-bounded
    frame (the deliberate bounded pass every pipeline agg here takes
    — cumulative sums over B date buckets, then one 1-row argmax
    aggregate). Output: one row
    ``(type, bucket, score, n_buckets)``."""
    from pyspark.sql.window import Window

    b = F.date_trunc(bucket, F.col(ts_field))
    val = (
        F.sum(F.col(value_col).cast("decimal(18,6)"))
        if value_col is not None
        else F.count(F.lit(1)).cast("decimal(18,6)")
    )
    # bucket sums re-quantized to DECIMAL(18,6): the engine widens a
    # decimal SUM's precision, and an (unbounded)x(unbounded) square
    # would trip the precision-loss rescale — the matrix_stats
    # contract (bucket magnitudes above 1e12 are out of scope)
    g = hits.groupBy(b.alias("bucket")).agg(
        F.coalesce(val, F.lit(0).cast("decimal(18,6)"))
        .cast("decimal(18,6)").alias("__v")
    )
    # bounded pass: B buckets (cumulative sums need the series order)
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    s = (
        g.withColumn("__v2", (F.col("__v") * F.col("__v")))
        .withColumn("__k", F.count(F.lit(1)).over(
            Window.orderBy("bucket").rowsBetween(
                Window.unboundedPreceding, Window.currentRow)))
        .withColumn("__cv", F.sum("__v").over(w))
        .withColumn("__cv2", F.sum("__v2").over(w))
        # the step CHANGE POINT is the first bucket of the new
        # regime (the ES reading), i.e. the row after the split
        .withColumn(
            "__nts",
            F.lead(F.unix_micros(F.col("bucket").cast("timestamp")))
            .over(Window.orderBy("bucket")),
        )
    )
    tot = s.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__v").alias("__t"),
        F.sum("__v2").alias("__t2"),
    )
    j = s.crossJoin(F.broadcast(tot))
    n = F.col("__n").cast("double")
    t = F.col("__t").cast("double")
    t2 = F.col("__t2").cast("double")
    sse0 = t2 - t * t / n
    k = F.col("__k").cast("double")
    cv = F.col("__cv").cast("double")
    cv2 = F.col("__cv2").cast("double")
    v = F.col("__v").cast("double")
    # step split AFTER this bucket (rows 1..n-1)
    sse_step = (
        (cv2 - cv * cv / k)
        + ((t2 - cv2) - (t - cv) * (t - cv) / (n - k))
    )
    # this bucket excluded (needs n >= 2)
    sse_point = (t2 - v * v) - (t - v) * (t - v) / (n - F.lit(1.0))
    score_of = lambda sse: F.when(  # noqa: E731
        sse0 > 0, F.round(F.lit(1.0) - sse / sse0, 9)
    ).otherwise(F.lit(0.0))
    epoch = F.unix_micros(F.col("bucket").cast("timestamp"))
    # candidates as structs; argmax by (score, kind priority
    # step>point, earliest bucket) in ONE aggregate
    step_c = F.when(
        (F.col("__k") < F.col("__n")) & (F.col("__n") >= 3),
        F.struct(
            score_of(sse_step).alias("score"),
            F.lit(1).alias("prio"),
            (-F.col("__nts")).alias("negts"),
            F.lit("step_change").alias("kind"),
            F.col("__nts").alias("ts"),
            (v / k).alias("vref"),
        ),
    )
    mean_others = (t - v) / (n - F.lit(1.0))
    point_c = F.when(
        F.col("__n") >= 3,
        F.struct(
            score_of(sse_point).alias("score"),
            F.lit(0).alias("prio"),
            (-epoch).alias("negts"),
            F.when(v > mean_others, F.lit("spike"))
            .otherwise(F.lit("dip")).alias("kind"),
            epoch.alias("ts"),
            v.alias("vref"),
        ),
    )
    best = j.agg(
        F.max(step_c).alias("__s"),
        F.max(point_c).alias("__p"),
        F.max("__n").alias("__nb"),
    )
    win = F.when(
        F.col("__p").isNull()
        | (F.col("__s").isNotNull()
           & (F.struct(F.col("__s.score"), F.col("__s.prio"),
                       F.col("__s.negts"))
              >= F.struct(F.col("__p.score"), F.col("__p.prio"),
                          F.col("__p.negts")))),
        F.col("__s"),
    ).otherwise(F.col("__p"))
    return best.select(
        F.when(
            win.isNull() | (win["score"] < 0.25), F.lit("stationary")
        ).otherwise(win["kind"]).alias("type"),
        F.when(
            win.isNotNull() & (win["score"] >= 0.25), win["ts"]
        ).alias("bucket_us"),
        F.round(F.coalesce(win["score"], F.lit(0.0)), 6).alias("score"),
        F.col("__nb").cast("long").alias("n_buckets"),
    )


def frequent_item_sets_agg(
    hits: DataFrame,
    group_col: str,
    item_col: str,
    min_support: float = 0.1,
    max_items_per_group: int = 64,
) -> DataFrame:
    """ES ``frequent_item_sets`` aggregation (8.x), sizes 1 and 2:
    treat each *group_col* value as a transaction holding its DISTINCT
    *item_col* values, and report every item and ordered item pair
    whose support (fraction of transactions containing it) reaches
    *min_support*. ES runs approximate ECLAT with sampling; this is
    the exact form on the same contract (the repo's exact-statistic
    stance), capped at pair sets — the size ES defaults to.

    Scale shape: one partial-aggregated exchange builds the
    transaction set (``collect_set`` per group — bounded by
    *max_items_per_group*, the runaway-transaction guard ES enforces
    with its own limit; larger baskets are truncated to the smallest
    items, deterministically, and counted against the cap); pairs
    explode from each transaction's sorted item array via HOFs — no
    self-join, no second shuffle over the corpus. Output:
    ``(item_a, item_b, set_size, support_count, support)`` with
    ``item_b`` null for singletons. Rows whose *group_col* is NULL
    are excluded before grouping — ES does not count documents
    missing the group field as a transaction, and counting them
    would deflate every support fraction."""
    tx = (
        hits.filter(F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("__g"))
        .agg(F.collect_set(F.col(item_col).cast("string")).alias("__items"))
        .select(
            F.slice(
                F.array_sort("__items"), 1, int(max_items_per_group)
            ).alias("__items")
        )
    )
    # ALL itemsets from ONE HOF expression and ONE explode: a
    # (NULL, NULL) sentinel per transaction (collect_set never emits
    # nulls, so it cannot collide with a real item) carries the
    # transaction count through the same aggregation — a
    # singles/pairs union would re-plan (and re-run) the heavy
    # collect_set exchange once per branch, the matrix_stats
    # per-branch re-scan defect all over again
    null_s = F.lit(None).cast("string")
    sets = F.concat(
        F.array(F.struct(null_s.alias("a"), null_s.alias("b"))),
        F.transform(
            "__items",
            lambda a: F.struct(a.alias("a"), null_s.alias("b")),
        ),
        F.flatten(
            F.transform(
                "__items",
                lambda a, i: F.transform(
                    F.slice(
                        F.col("__items"), i + F.lit(2),
                        F.size("__items"),
                    ),
                    lambda b: F.struct(a.alias("a"), b.alias("b")),
                ),
            )
        ),
    )
    counts = (
        tx.select(F.explode(sets).alias("__p"))
        .groupBy(
            F.col("__p.a").alias("item_a"),
            F.col("__p.b").alias("item_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("support_count"))
    )
    n_tx = counts.filter(F.col("item_a").isNull()).select(
        F.col("support_count").alias("__ntx"))
    out = counts.filter(F.col("item_a").isNotNull()).crossJoin(
        F.broadcast(n_tx)).select(
        "item_a", "item_b",
        F.when(F.col("item_b").isNull(), F.lit(1))
        .otherwise(F.lit(2)).cast("int").alias("set_size"),
        "support_count",
        F.round(
            F.col("support_count").cast("double")
            / F.col("__ntx").cast("double"), 6
        ).alias("support"),
    )
    return out.filter(
        F.col("support") >= F.lit(float(min_support))
    ).orderBy(
        F.col("support_count").desc(), F.col("item_a").asc(),
        F.col("item_b").asc_nulls_first(),
    )


def moving_fn_agg(
    hits: DataFrame,
    time_col: str,
    interval_seconds: int,
    value_col: str,
    window: int = 3,
    shift: int = 0,
) -> DataFrame:
    """ES ``moving_fn`` pipeline aggregation (an ES-parity extension
    like the other panel aggs — the reference's collector is
    limit-only, ``src/commands/search.rs:188``): the six built-in
    window functions over a date-histogram series in ONE frame —
    ``mov_sum`` / ``mov_min`` / ``mov_max`` / ``mov_avg``
    (unweightedAvg) / ``mov_stddev`` (population, ES MovingFunctions.
    stdDev) / ``mov_lwa`` (linearWeightedAvg: weights 1..n, oldest to
    newest). ES's window covers the ``window`` buckets BEFORE the
    current one (exclusive) and ``shift`` slides it forward —
    ``shift=1`` includes the current bucket; buckets whose window is
    empty report NULL, matching ES's null gaps at the series head.

    Scale: the windows run over the ALREADY-AGGREGATED histogram
    frame (time_range/interval rows — metadata-sized, the
    :func:`pipeline_histogram_agg` discipline), so the unpartitioned
    ordering is a deliberate bounded single-task pass; corpus-sized
    work is the one partial-aggregated histogram groupBy. Sums fold
    through decimal(38,6); stddev derives from the exact sum/sumsq
    pair in double arithmetic and linearWeightedAvg from the exact
    position-weighted sum over the frame's collect_list (frame order
    IS the window order in both engines), so the DuckDB oracle
    agrees bit-for-bit."""
    if window <= 0:
        raise ValueError(f"window must be positive, got {window}")
    hist = date_histogram(hits, time_col, interval_seconds, value_col)
    w = Window.orderBy("bucket_epoch").rowsBetween(
        shift - window, shift - 1)
    v = F.col("total_value")
    dec = v.cast("decimal(38,6)")
    s1 = F.sum(dec).over(w)
    # squares via (18,6): the (18,6)x(18,6) product lands exactly at
    # (37,12) in BOTH engines — a (38,6) square would hit Spark's
    # 38-precision cap and round at scale 6 while DuckDB refuses the
    # width outright (the decimal cross-engine lesson)
    d18 = v.cast("decimal(18,6)")
    s2 = F.sum(d18 * d18).over(w)
    n = F.count(v).over(w)
    nd = n.cast("double")
    mean = s1.cast("double") / nd
    var = s2.cast("double") / nd - mean * mean
    vals = F.collect_list(v).over(w)
    lwa_num = F.aggregate(
        F.zip_with(
            vals,
            F.sequence(F.lit(1), F.greatest(F.size(vals), F.lit(1))),
            lambda x, i: x * i.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    lwa_den = (nd * (nd + 1)) / 2
    return hist.select(
        "bucket_epoch",
        "n_hits",
        "total_value",
        F.round(s1.cast("double"), 6).alias("mov_sum"),
        F.round(F.min(v).over(w), 6).alias("mov_min"),
        F.round(F.max(v).over(w), 6).alias("mov_max"),
        F.round(mean, 6).alias("mov_avg"),
        # the n > 0 guard matters: greatest() IGNORES nulls in both
        # engines, so an empty window's null variance would otherwise
        # leak out as stddev 0.0 instead of ES's null gap
        F.round(
            F.when(n > 0, F.sqrt(F.greatest(var, F.lit(0.0)))), 6
        ).alias("mov_stddev"),
        F.round(
            F.when(n > 0, lwa_num / lwa_den), 6).alias("mov_lwa"),
    )


def normalize_agg(
    buckets: DataFrame,
    metric_col: str,
    order_col: str,
) -> DataFrame:
    """ES ``normalize`` pipeline aggregation (8.x): rescale a bucket
    metric across the whole aggregation — all of ES's bit-stable
    methods as columns in one pass: ``percent_of_sum``
    (100·x/Σx), ``rescale_0_1`` ((x−min)/(max−min)), ``rescale_0_100``,
    ``norm_mean`` (ES's ``mean`` method, (x−mean)/(max−min)) and
    ``zscore`` ((x−mean)/σ, population σ). ES's remaining method,
    ``softmax``, is deliberately absent: ``exp`` is a
    platform-transcendental whose last-ulp differs across engines,
    outside the repo's exact-statistic stance — compose it via
    :func:`bucket_script` where bit-parity is not required.
    Degenerate spans (max == min, σ == 0, Σ == 0) report NULL for the
    affected methods, matching ES's skipped buckets.

    Scale: five global aggregates over the ALREADY-AGGREGATED bucket
    frame via an unpartitioned window — bucket-count-sized, the
    :func:`pipeline_histogram_agg` discipline; no corpus scan, no
    exchange beyond the host aggregation's own. Sums fold through
    decimal(38,6); every method derives from the exact sums in
    double arithmetic, so the oracle agrees bit-for-bit."""
    w = Window.orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    x = F.col(metric_col).cast("double")
    dec = F.col(metric_col).cast("decimal(38,6)")
    s1 = F.sum(dec).over(w).cast("double")
    # (18,6) squares: exact (37,12) products in both engines (see
    # moving_fn_agg)
    d18 = F.col(metric_col).cast("decimal(18,6)")
    s2 = F.sum(d18 * d18).over(w).cast("double")
    n = F.count(x).over(w).cast("double")
    mn = F.min(x).over(w)
    mx = F.max(x).over(w)
    mean = s1 / n
    sd = F.sqrt(F.greatest(s2 / n - mean * mean, F.lit(0.0)))
    span = mx - mn
    return buckets.select(
        *buckets.columns,
        F.round(F.when(s1 != 0, 100.0 * x / s1), 6).alias(
            "percent_of_sum"),
        F.round(F.when(span != 0, (x - mn) / span), 6).alias(
            "rescale_0_1"),
        F.round(F.when(span != 0, 100.0 * (x - mn) / span), 6).alias(
            "rescale_0_100"),
        F.round(F.when(span != 0, (x - mean) / span), 6).alias(
            "norm_mean"),
        F.round(F.when(sd != 0, (x - mean) / sd), 6).alias("zscore"),
    )


def mlt_search_df(
    spark: SparkSession,
    catalog: FsCatalog,
    index_name: str,
    seed_id,
    mlt_field: "str | None" = None,
    k: int = 10,
    at_version: Optional[int] = None,
) -> DataFrame:
    """ES ``more_like_this`` over an INDEX (the `_mlt` API the CLI
    exposes as ``--more-like-this SEED``): documents most similar to
    the seed document, ranked by BM25 over the seed's characteristic
    terms, seed excluded, delete masks honored. Corpus statistics —
    both the term-selection df probe and the scorer's N/Σdl/df — come
    from the commit-time per-segment stats parquets when every
    manifested segment has one (the :func:`scored_search_df` rule);
    pre-stats segments fall back to the corpus aggregation.

    Returns the top-*k* full documents plus their ``_score`` — the
    rank join is k-sized (broadcast), so the display join never
    shuffles the index."""
    from toshokan_spark.functions.bm25 import merged_stats_provider
    from toshokan_spark.indexer import stats_path, text_stat_fields
    from toshokan_spark.operators.relevance import more_like_this

    config, segs, df, pred = _filtered_scan(
        spark, catalog, index_name, parse_query("*"), at_version,
        lambda config, columns: compile_query_fast("*", config, columns),
    )
    id_col = config.fields[0].name
    fld = mlt_field or next(
        (f.name for f in config.fields if f.type == "text"), None
    )
    if fld is None:
        raise ValueError(f"index {index_name!r} has no text field")
    if df is None:
        return (
            spark.createDataFrame([], config.spark_schema())
            .withColumn("_score", F.lit(0.0))
        )
    live = df.filter(pred)

    provider = None
    if any(n == fld for n, _ in text_stat_fields(config)):
        st = catalog.data_storage(config)
        spaths = [stats_path(config, s.file_name) for s in segs]
        if spaths and all(st.exists(p) for p in spaths):
            provider = merged_stats_provider(spark, spaths, fld)
    fcfg = next((f for f in config.fields if f.name == fld), None)
    tok = getattr(fcfg, "tokenizer", None) or "default"
    ranked = more_like_this(
        live, seed_id, id_col=id_col, text_col=fld, tokenizer=tok,
        k=k, stats_provider=provider,
    ).withColumnRenamed("mlt", "_score")
    # the display join is unordered — restore the ranking before
    # returning (ES hits are always rank-ordered)
    return (
        live.join(F.broadcast(ranked), id_col)
        .select(*live.columns, "_score")
        .orderBy(F.col("_score").desc(), F.col(id_col).asc())
    )
