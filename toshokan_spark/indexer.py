"""Batch indexing: JSON lines -> typed Parquet segment -> manifest.

The Spark reshape of `toshokan index <index> <file.jsonl>`
(`/root/reference/src/commands/index.rs:95-242`): the reference
builds a tantivy segment under a 1 GiB memory budget, merges to one
segment, streams a unified file to object storage in 5 MB chunks and
inserts a catalog row. Here a segment is simply one committed Parquet
write; Parquet's footer replaces the unified-file footer+hotcache
machinery (SURVEY §2.3) and the memory budget is Spark's executor
memory management.

Scale notes (100 TB):
* the write is a single narrow stage (parse -> coerce -> write) into
  one flat directory per segment, ``seg-X/part-*.parquet``, one file
  per input partition (callers shape partitions first). Time pruning
  needs no directory layout: the manifest records each segment's day
  range and time zone map, and rows are sorted by the time field
  inside each file, so parquet row-group min/max skip within a file;
* empty batches write nothing (`index.rs:164-170` suppression).
"""

from __future__ import annotations

import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from toshokan_spark.catalog import FsCatalog, SegmentEntry, uuid7
from toshokan_spark.config import IndexConfig
from toshokan_spark.ingest import ingest_projection
from toshokan_spark.storage import join_path

#: per-segment BM25 stats live under <index path>/_stats/<seg name>;
#: the underscore prefix keeps Spark's file-listing from ever treating
#: them as data
STATS_DIR = "_stats"


def text_stat_fields(config: IndexConfig) -> list[tuple[str, str]]:
    """(name, tokenizer) for the scalar text fields that get
    commit-time BM25 stats."""
    return [
        (f.name, f.tokenizer or "default")
        for f in config.fields
        if f.type == "text" and not f.array
    ]


def plain_stat_value(v):
    """Manifest-JSON form of an observed zone-map bound: u64 columns
    are decimal(20,0) — Decimal is not JSON-serializable and int keeps
    the full range exactly; timestamps (naive UTC under the session
    timezone) become epoch MICROS — exact and ordered."""
    from datetime import datetime, timezone
    from decimal import Decimal

    if isinstance(v, Decimal):
        return int(v)
    if isinstance(v, datetime):
        return int(v.replace(tzinfo=timezone.utc).timestamp() * 1_000_000)
    return v


def stats_path(config: IndexConfig, seg_name: str) -> str:
    return join_path(config.path, STATS_DIR, seg_name)


def write_segment_stats(
    config: IndexConfig, seg_name: str, written: DataFrame, observe_blooms: bool = False
) -> dict:
    """Compute + write the segment's BM25 corpus stats (see
    `functions/bm25.py:segment_field_stats`): one grouped aggregate
    over every scalar text field (one exchange, two Spark jobs) buys
    scored search a metadata-sized stats read instead of a per-query
    full-corpus tokenize+agg — the pay-once-at-commit trade every
    index format makes (the reference's tantivy segments store term
    dictionaries for the same reason).

    The sidecar is one file sorted by ``(field, term)``: deterministic
    row order, and row-group ``field``/``term`` statistics that prune
    large sidecars. With *observe_blooms* the write also observes, for
    each scalar tokenized (non-raw) field, the ``(n, positions)`` its
    token bloom folds from (`functions/bloom.py:token_position_aggs`)
    — the per-term rows are the distinct tokens, so the blooms cost no
    job. Returns ``{field: (n, positions)}`` (empty without
    *observe_blooms*)."""
    from pyspark.sql import Observation

    from toshokan_spark.functions.bloom import observed_positions, token_position_aggs
    from toshokan_spark.functions.bm25 import segment_field_stats

    fields = [(n, t) for n, t in text_stat_fields(config) if n in written.columns]
    stats = segment_field_stats(written, fields)
    if stats is None:
        return {}
    out = stats.coalesce(1).sortWithinPartitions("field", "term")
    bloom_fields = [n for n, t in fields if t != "raw"] if observe_blooms else []
    obs = None
    if bloom_fields:
        obs = Observation(f"stats_blooms_{seg_name}")
        out = out.observe(obs, *[
            agg
            for i, n in enumerate(bloom_fields)
            for agg in token_position_aggs(
                F.when(F.col("field") == F.lit(n), F.col("term")), f"__b{i}"
            )
        ])
    out.write.mode("overwrite").parquet(stats_path(config, seg_name))
    if obs is None:
        return {}
    row = obs.get
    return {n: observed_positions(row, f"__b{i}") for i, n in enumerate(bloom_fields)}


def index_batch(
    spark: SparkSession,
    catalog: FsCatalog,
    index_name: str,
    jsonl_path: Optional[str] = None,
    lines: Optional[DataFrame] = None,
) -> Optional[SegmentEntry]:
    """Ingest one batch into a new segment; returns the manifest entry
    (None for an empty batch)."""
    config = catalog.get_index(index_name)
    if lines is None:
        if jsonl_path is None:
            raise ValueError("need jsonl_path or lines")
        lines = spark.read.text(jsonl_path)
    typed = ingest_projection(lines, config)
    return write_segment(catalog, config, typed)


def write_segment(
    catalog: FsCatalog,
    config: IndexConfig,
    typed: DataFrame,
    batch_id: Optional[str] = None,
) -> Optional[SegmentEntry]:
    if batch_id is not None and catalog.has_batch(config.name, batch_id):
        # replayed stream micro-batch (crash after manifest commit,
        # before offset checkpoint): already durable, skip — this is
        # the exactly-once upgrade over the reference's at-least-once
        # contract (`kafka_source.rs:380-394`, SURVEY §2.7)
        return None
    built = build_segment(catalog, config, typed, batch_id=batch_id)
    if built is None:
        return None
    entry, seg_path, seg_name = built
    # data first, manifest second (`src/commands/mod.rs:178-187`)
    if not catalog.commit_segment(config.name, entry):
        # lost the idempotence race — leave no orphan data behind
        catalog.data_storage(config).delete_tree(seg_path)
        catalog.data_storage(config).delete_tree(stats_path(config, seg_name))
        return None
    return entry


def build_segment(
    catalog: FsCatalog,
    config: IndexConfig,
    typed: DataFrame,
    batch_id: Optional[str] = None,
) -> "Optional[tuple[SegmentEntry, str, str]]":
    """Write a new segment's data + stats and DESCRIBE it (row count,
    day range, zone maps, additive sums, histograms, BM25 stats, token
    blooms, schema) WITHOUT manifesting it — returns ``(entry,
    seg_path, seg_name)``, or None for an empty batch (the data is
    cleaned up). Every segment is written and described here: commits,
    merges and range-clustered merges alike, one file per partition of
    *typed*. Callers pick the commit: :func:`write_segment` appends via
    ``commit_segment``; the merges (`maintenance._rewrite`) swap their
    output in for the segments they read."""
    seg_id = uuid7()
    seg_name = f"seg-{seg_id}"
    # scheme-preserving join: the same URI drives the Spark write
    # below and the storage-backend deletes (file://, s3a://, ...)
    seg_path = join_path(config.path, seg_name)

    df = typed
    # the reference's dead `time_field` (`src/config/mod.rs:229-231`,
    # never read — SURVEY §1.1) is live here: the day range observed
    # below prunes whole segments at the manifest
    timed = bool(config.time_field) and config.time_field in df.columns
    if timed:
        # cluster rows by time WITHIN each task's output file (no
        # extra shuffle): parquet records per-row-group min/max for
        # the sorted column, so a time-range predicate skips whole row
        # groups (SURVEY §7 item 7's "Z-order-ish sort"; one sort
        # column, so a plain sort is strictly better than a Z-curve)
        df = df.sortWithinPartitions(config.time_field)

    # Row count + day range + per-field zone maps are OBSERVED during
    # the write itself (df.observe piggybacks aggregates on the write
    # job's pass over the rows) — zero extra scans per batch; the old
    # formulation re-read every zone-mapped column after the write,
    # roughly doubling ingest I/O on large/streaming batches.
    #
    # (field_name, source_column) pairs to zone-map. Scalar columns
    # only: min/max of an ARRAY column is element-wise array ordering,
    # not a value bound. Raw-tokenizer text fields ride along — a raw
    # term compiles to exact equality, so a string [min, max] prunes
    # it the same way (UTF-8 byte order == codepoint order). IP fields
    # map through their order-preserving 32-hex __ipkey__ shadow — the
    # exact space the compiled predicate compares in.
    from pyspark.sql import Observation

    from toshokan_spark.ingest import ipkey_col

    stat_cols: list[tuple[str, str]] = []
    for f in config.fields:
        if f.array:
            continue
        if f.type == "number" and f.name in df.columns:
            stat_cols.append((f.name, f.name))
        elif f.type == "text" and f.tokenizer == "raw" and f.name in df.columns:
            stat_cols.append((f.name, f.name))
        elif f.type == "ip" and ipkey_col(f.name) in df.columns:
            stat_cols.append((f.name, ipkey_col(f.name)))
    if timed:
        # SUB-DAY time zone map (epoch micros): the day range prunes
        # at day granularity, but a streaming index commits many
        # segments per day — a five-minute query should drop the other
        # micro-batches of the same day at the manifest too
        stat_cols.append((config.time_field, config.time_field))
    aggs = [F.count(F.lit(1)).alias("__n")]
    if timed:
        tcol = F.col(config.time_field)
        aggs += [F.to_date(F.min(tcol)).alias("__dlo"), F.to_date(F.max(tcol)).alias("__dhi")]
    for name, src in stat_cols:
        aggs += [F.min(src).alias(f"__lo_{name}"), F.max(src).alias(f"__hi_{name}")]
    # additive stats (non-null count + decimal(38,6)-exact sum) for
    # NUMBER fields — ride the same observed write pass. With the
    # zone maps these answer the whole match-all stats panel
    # (count/min/max/sum/avg) from the manifest alone
    # (`search.manifest_stats`): zero data scans at query time.
    sum_fields = [
        f.name
        for f in config.fields
        if f.type == "number" and not f.array and f.name in df.columns
    ]
    for name in sum_fields:
        aggs += [
            F.count(F.col(name)).alias(f"__cnt_{name}"),
            F.sum(F.col(name).cast("decimal(38,6)")).alias(f"__sum_{name}"),
        ]
    obs = Observation(f"seg_stats_{seg_id}")
    df = df.observe(obs, *aggs)

    df.write.mode("error").parquet(seg_path)

    # from here on the directory is this call's own: any step that
    # raises (the stats sidecar, the histograms, the blooms) deletes
    # it and the sidecar before the error propagates
    try:
        r = obs.get
        num_rows = int(r["__n"])
        if num_rows == 0:
            # empty-batch suppression (`index.rs:164-170`)
            catalog.data_storage(config).delete_tree(seg_path)
            return None

        min_day = max_day = None
        if timed and r["__dlo"] is not None:
            min_day, max_day = str(r["__dlo"]), str(r["__dhi"])

        _plain = plain_stat_value
        stats = {
            name: [_plain(r[f"__lo_{name}"]), _plain(r[f"__hi_{name}"])]
            for name, _ in stat_cols
            if r[f"__lo_{name}"] is not None
        }
        field_stats = stats or None

        field_sums = {
            name: [
                int(r[f"__cnt_{name}"]),
                str(r[f"__sum_{name}"]) if r[f"__sum_{name}"] is not None else "0",
            ]
            for name in sum_fields
        } or None

        # stats are derived data: write them BEFORE the manifest commit so
        # a manifested segment always has its stats sibling. The read's
        # schema is recorded on the entry, so searches never infer it.
        written = df.sparkSession.read.parquet(seg_path)
        observed = write_segment_stats(config, seg_name, written, observe_blooms=True)

        # fixed-width histogram stats for configured number fields — the
        # distribution twin of field_sums (manifest-only match-all
        # histogram panels); exact counts, additive across segments
        field_histograms = compute_field_histograms(config, written)

        # token Bloom filters for TOKENIZED text fields — the term-query
        # analog of the zone maps above (raw fields already have string
        # zone maps): scalar fields fold what the stats write observed (no
        # job), array fields run one aggregate each; either buys
        # manifest-level segment skipping for every future term query
        # (functions/bloom.py has the sizing/caps/conservatism story)
        from toshokan_spark.functions.bloom import build_token_bloom

        # eligible: every text field EXCEPT scalar raw (those have string
        # zone maps); raw ARRAYS are included — they had no pruning tier
        # at all (zone maps skip arrays), and a raw term is its own token
        token_blooms: dict = {}
        for f in config.fields:
            if (
                f.type == "text"
                and (f.tokenizer != "raw" or f.array)
                and f.name in written.columns
            ):
                b = build_token_bloom(
                    written, f.name, f.tokenizer, is_array=f.array,
                    observed=observed.get(f.name),
                )
                if b is not None:
                    token_blooms[f.name] = b

        entry = SegmentEntry(
            id=seg_id,
            file_name=seg_name,
            num_rows=num_rows,
            created_at_ms=int(time.time() * 1000),
            batch_id=batch_id,
            min_day=min_day,
            max_day=max_day,
            field_stats=field_stats,
            token_blooms=token_blooms or None,
            field_sums=field_sums,
            field_histograms=field_histograms,
            schema=written.schema.jsonValue(),
        )
        return entry, seg_path, seg_name
    except BaseException:
        st = catalog.data_storage(config)
        st.delete_tree(seg_path)
        st.delete_tree(stats_path(config, seg_name))
        raise


def compute_field_histograms(config, df) -> "dict | None":
    """Fixed-width floor-keyed histograms for every scalar NUMBER
    field with a configured ``histogram_bin`` — the manifest's
    distribution stats (`catalog.SegmentEntry.field_histograms`).

    One bucket-count-sized groupBy+collect per configured field at
    segment build time (two Spark jobs each); the
    bucket expression is byte-identical to
    ``search.histogram_agg``'s, so the manifest-served panel is
    value-identical to the scan-served one by construction. Bin keys
    serialize as ``repr(float)`` — an exact round-trip through the
    manifest JSON."""
    from pyspark.sql import functions as F

    out: dict = {}
    for f in config.fields:
        if (
            f.type == "number"
            and not f.array
            and f.histogram_bin
            and f.name in df.columns
        ):
            w = float(f.histogram_bin)
            c = F.col(f.name)
            rows = (
                df.where(c.isNotNull())
                .groupBy(
                    (F.floor(c / F.lit(w)) * F.lit(w)).alias("b")
                )
                .count()
                .collect()
            )
            out[f.name] = {
                "w": w,
                "bins": {repr(float(r["b"])): int(r["count"]) for r in rows},
            }
    return out or None
