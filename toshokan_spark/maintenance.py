"""Index lifecycle: create / drop / merge (compaction).

Reference parity:
* create — validate config, register in catalog
  (`/root/reference/src/commands/create.rs:9-33`); the
  array-of-static_object rejection lives in config.py
* drop — catalog rows first, best-effort data delete
  (`src/commands/drop.rs:11-48`) — in catalog.py
* merge — needs >= 2 segments (`src/commands/merge.rs:28-31`), reads
  them all, rewrites as ONE segment, atomically swaps manifest rows,
  best-effort deletes old data (`merge.rs:19-73`)

Compaction on Spark is read -> coalesce -> write; there is no shuffle
(coalesce narrows partitions) and query answers are invariant under it
(asserted by tests, mirroring `tests/merge.rs:54-97`).
"""

from __future__ import annotations

import math
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from toshokan_spark.catalog import FsCatalog, SegmentEntry, uuid7
from toshokan_spark.config import IndexConfig
from toshokan_spark.storage import join_path

#: target rows per output file at compaction; at 100 TB this is the
#: knob that keeps files ~0.5-1 GiB so scans get good split sizes
DEFAULT_ROWS_PER_FILE = 4_000_000


class MergeError(RuntimeError):
    pass


def create_index(catalog: FsCatalog, config: IndexConfig) -> None:
    catalog.create_index(config)
    if config.path:
        catalog.data_storage(config).mkdirs(config.path)


def drop_index(catalog: FsCatalog, name: str) -> None:
    catalog.drop_index(name)


def merge_segments(
    spark: SparkSession,
    catalog: FsCatalog,
    index_name: str,
    rows_per_file: int = DEFAULT_ROWS_PER_FILE,
    max_segments: int | None = None,
) -> SegmentEntry | None:
    """Compact manifested segments into one (``None`` when pending
    deletes wiped every covered row — the merge then materializes as
    pure segment removal).

    ``max_segments`` enables size-tiered compaction: only the N
    smallest segments merge (the reference always merges everything,
    `merge.rs:38-48` — fine for its scale, but at 100 TB rewriting the
    full index per compaction is O(index) churn; tiering rewrites only
    the small-file tail that actually hurts scan planning).
    """
    # ONE consistent manifest snapshot drives everything: the segment
    # selection, the pending-delete list that gets materialized, the
    # covers_all coverage decision, and the tombstone ids cleared at
    # swap. Separate segments()/deletes() reads can straddle a
    # concurrent commit — a tombstone recorded between them would be
    # materialized into the rewrite while a stale list drove the
    # clear (the swap-time re-check saves correctness, but the
    # bookkeeping should come from one snapshot to begin with).
    _ver, all_segs, deletes = catalog.snapshot(index_name)
    segs = all_segs
    if len(segs) < 2:
        # `merge.rs:28-31`: "need at least 2 files to merge"
        raise MergeError("need at least 2 segments to merge")
    if max_segments is not None:
        if max_segments < 2:
            raise MergeError("max_segments must be >= 2")
        segs = sorted(segs, key=lambda s: (s.num_rows, s.id))[:max_segments]
    config = catalog.get_index(index_name)
    paths = [join_path(config.path, s.file_name) for s in segs]

    from toshokan_spark.search import read_segments

    df = read_segments(
        spark, paths, partitioned=config.time_field is not None,
        schemas=[s.schema for s in segs],
    )
    # materialize pending delete tombstones while rewriting (the merge
    # IS the physical delete): survivors only. Tombstones clear from
    # the manifest ONLY when this merge covered every segment — a
    # tiered (partial) merge applies the filter to what it rewrites
    # but leaves the tombstone pending for the untouched segments
    # (predicate filtering is idempotent, so re-application is safe).
    covers_all = {s.id for s in segs} == {s.id for s in all_segs}
    n_obs = None
    sum_fields: list = []
    if deletes:
        from pyspark.sql import Observation

        from toshokan_spark.search import apply_deletes

        pred = apply_deletes(
            F.lit(True), config, set(df.columns), deletes
        )
        df = df.filter(pred)
        n_obs = Observation(f"merge_rows_{index_name}")
        # the SURVIVORS are flowing through this write anyway — ride
        # the same observed pass to re-record the additive stats
        # ([non-null count, decimal(38,6)-exact sum], exactly the
        # shape indexer.write_segment records) so the manifest-stats
        # fast path survives a GDPR delete + ONE merge instead of
        # falling back to scans until a second, delete-free merge.
        sum_fields = [
            f.name
            for f in config.fields
            if f.type == "number" and not f.array and f.name in df.columns
        ]
        aggs = [F.count(F.lit(1)).alias("__n")]
        for name in sum_fields:
            aggs += [
                F.count(F.col(name)).alias(f"__cnt_{name}"),
                F.sum(F.col(name).cast("decimal(38,6)")).alias(
                    f"__sum_{name}"
                ),
            ]
        # survivor zone maps too (same eligible set as
        # indexer.write_segment): the input-combined maps bound the
        # PRE-delete values, and manifest_stats serves min/max as
        # ANSWERS, not just prune bounds — they must be exact again.
        from toshokan_spark.indexer import zone_map_cols

        for name, src in zone_map_cols(config, set(df.columns)):
            aggs += [
                F.min(src).alias(f"__lo_{name}"),
                F.max(src).alias(f"__hi_{name}"),
            ]
        df = df.observe(n_obs, *aggs)
    total = sum(s.num_rows for s in segs)
    nfiles = max(1, math.ceil(total / rows_per_file))

    seg_id = uuid7()
    seg_name = f"seg-{seg_id}"
    seg_path = join_path(config.path, seg_name)
    if "__day" in df.columns:
        # preserve the time_field partition layout (and its pruning)
        # across compaction: repartition on the partition value so each
        # task writes few files, then write partitioned. The
        # within-file time sort survives compaction too (same
        # row-group-skipping rationale as the initial segment write,
        # indexer.py) — without it a merge would silently degrade
        # time-range scans over merged segments.
        out = df.repartition(nfiles, "__day")
        if config.time_field and config.time_field in df.columns:
            out = out.sortWithinPartitions("__day", config.time_field)
        out.write.mode("error").partitionBy("__day").parquet(seg_path)
    else:
        df.coalesce(nfiles).write.mode("error").parquet(seg_path)

    obs_row = None
    if n_obs is not None:
        # the write already ran (stats recompute below reads it back);
        # the observation holds the SURVIVOR count + additive stats
        obs_row = n_obs.get
        total = int(obs_row["__n"])
        if total == 0:
            # the tombstones wiped everything this merge covered: a
            # zero-row partitioned write leaves no readable footer, so
            # materialize the wipe as segment REMOVAL — old segments
            # out, nothing in, tombstones cleared if fully covered
            st0 = catalog.data_storage(config)
            st0.delete_tree(seg_path)
            from toshokan_spark.indexer import stats_path as _sp

            catalog.swap_segments(
                index_name,
                [s.id for s in segs],
                None,
                clear_delete_ids=(
                    [d.id for d in deletes] if covers_all else None
                ),
            )
            for s_, p_ in zip(segs, paths):
                st0.delete_tree(p_)
                st0.delete_tree(_sp(config, s_.file_name))
            return None
    # carry the day-range stats through compaction (conservative: any
    # input without stats leaves the merged range unknown)
    min_day = max_day = None
    if all(s.min_day and s.max_day for s in segs):
        min_day = min(s.min_day for s in segs)
        max_day = max(s.max_day for s in segs)
    # zone maps combine exactly under union: min of mins, max of maxes
    # — but only when EVERY input recorded the field (a missing map
    # means unknown values, so the merged map must stay conservative)
    field_stats = None
    if deletes:
        # input-combined maps bound PRE-delete values; re-record from
        # the survivors (observed during the write) — manifest_stats
        # serves min/max as ANSWERS, not just prune bounds, so they
        # must be exact again after the materialization
        from toshokan_spark.indexer import plain_stat_value, zone_map_cols

        field_stats = {
            name: [
                plain_stat_value(obs_row[f"__lo_{name}"]),
                plain_stat_value(obs_row[f"__hi_{name}"]),
            ]
            for name, _src in zone_map_cols(config, set(df.columns))
            if obs_row[f"__lo_{name}"] is not None
        } or None
    elif all(s.field_stats for s in segs):
        names = set(segs[0].field_stats)
        for s in segs[1:]:
            names &= set(s.field_stats)
        field_stats = {
            n: [
                min(s.field_stats[n][0] for s in segs),
                max(s.field_stats[n][1] for s in segs),
            ]
            for n in names
        } or None
    # additive stats combine exactly under union: counts add, decimal
    # sums add (order-free) — same conservative rule as the zone maps
    field_sums = None
    if deletes:
        # additive stats of the INPUTS count rows the rewrite dropped —
        # re-record from the SURVIVORS, observed during the write
        # itself (zero extra scans): the manifest-stats fast path
        # answers again right after a delete + one merge. Zone maps
        # stay input-derived: too-wide bounds never wrong-prune.
        field_sums = {
            name: [
                int(obs_row[f"__cnt_{name}"]),
                str(obs_row[f"__sum_{name}"])
                if obs_row[f"__sum_{name}"] is not None
                else "0",
            ]
            for name in sum_fields
        } or None
    elif all(s.field_sums for s in segs):
        from decimal import Decimal

        names = set(segs[0].field_sums)
        for s in segs[1:]:
            names &= set(s.field_sums)
        field_sums = {
            n: [
                sum(s.field_sums[n][0] for s in segs),
                str(sum(Decimal(s.field_sums[n][1]) for s in segs)),
            ]
            for n in names
        } or None
    # histogram stats: additive bin combine when every input recorded
    # the field at the SAME width; a delete-materializing merge
    # re-records from the survivors (the field_sums rule — commit-time
    # bins count rows the rewrite dropped)
    from toshokan_spark.indexer import compute_field_histograms

    # one read of the merged segment serves the stats recompute below
    # and records the schema searches build its scan from
    written = spark.read.parquet(seg_path)
    field_histograms = None
    if deletes:
        field_histograms = compute_field_histograms(config, written)
    elif all(s.field_histograms for s in segs):
        names = set(segs[0].field_histograms)
        for s in segs[1:]:
            names &= set(s.field_histograms)
        combined: dict = {}
        for n in names:
            widths = {s.field_histograms[n]["w"] for s in segs}
            if len(widths) != 1:
                continue  # width drift (alter) — conservative drop
            bins: dict = {}
            for s in segs:
                for k, v in s.field_histograms[n]["bins"].items():
                    bins[k] = bins.get(k, 0) + v
            combined[n] = {"w": widths.pop(), "bins": bins}
        field_histograms = combined or None

    # recompute the merged segment's BM25 stats before it is
    # manifested (stats follow data through compaction)
    from toshokan_spark.indexer import stats_path, write_segment_stats

    write_segment_stats(config, seg_name, written)

    # token blooms union by bitwise OR when every input recorded the
    # field with the same geometry; otherwise the merged segment drops
    # the bloom (conservative — no bloom means no pruning, never a
    # wrong prune). No data reread either way.
    from toshokan_spark.functions.bloom import merge_blooms

    token_blooms = None
    if all(s.token_blooms for s in segs):
        names = set(segs[0].token_blooms)
        for s in segs[1:]:
            names &= set(s.token_blooms)
        merged = {
            n: merge_blooms([s.token_blooms[n] for s in segs]) for n in names
        }
        token_blooms = {n: b for n, b in merged.items() if b is not None} or None

    entry = SegmentEntry(
        id=seg_id, file_name=seg_name, num_rows=total,
        created_at_ms=int(time.time() * 1000),
        min_day=min_day, max_day=max_day, field_stats=field_stats,
        token_blooms=token_blooms, field_sums=field_sums,
        field_histograms=field_histograms, schema=written.schema.jsonValue(),
    )
    # one atomic manifest write: new in, old out (`merge.rs:63-66`);
    # tombstones this merge materialized clear in the same write
    catalog.swap_segments(
        index_name,
        [s.id for s in segs],
        entry,
        clear_delete_ids=(
            [d.id for d in deletes] if deletes and covers_all else None
        ),
    )
    # best-effort old-data delete; leaks tolerated (`merge.rs:68-71`)
    st = catalog.data_storage(config)
    for s, p in zip(segs, paths):
        st.delete_tree(p)
        st.delete_tree(stats_path(config, s.file_name))
    return entry


def cluster_merge_segments(
    spark: SparkSession,
    catalog: FsCatalog,
    index_name: str,
    cluster_by: str,
    n_clusters: int = 4,
    rows_per_file: int = DEFAULT_ROWS_PER_FILE,
    exact_bounds: bool = True,
) -> "list[SegmentEntry]":
    """Range-clustered compaction: rewrite the WHOLE index into
    ``n_clusters`` range-disjoint segments on ``cluster_by`` — the
    data-layout optimization plain :func:`merge_segments` cannot give
    (it preserves layout; the reference's merge likewise just
    concatenates, `merge.rs:38-48`).

    Why this matters at 100 TB: the manifest's per-segment zone maps
    prune BEFORE any plan is built, but they only help if segments are
    value-disjoint on the queried field. Ingestion order rarely is —
    every segment spans the full value range and nothing prunes.
    After clustering, a range/equality query on ``cluster_by``
    touches ~1/``n_clusters`` of the data at the MANIFEST level —
    before Spark even lists files. This is the zone-map analog of
    Delta/Iceberg's ``OPTIMIZE ... ZORDER BY`` with one dimension,
    where a plain range partition strictly beats a Z-curve.

    Mechanics: one snapshot drives everything (the merge discipline);
    pending deletes materialize into the rewrite (it covers every
    segment, so tombstones clear in the same swap); split bounds are
    the exact ``percentile_disc`` cuts of ``cluster_by``
    (``exact_bounds=False`` switches to ``approx_percentile`` — the
    100 TB default, bounds only steer placement so approximation is
    harmless); the survivor frame is persisted once and each cluster
    filters + writes through :func:`indexer.build_segment`, which
    re-records zone maps, day ranges, additive sums, histograms, BM25
    stats and token blooms per cluster; ONE atomic ``swap_segments``
    manifests all clusters and retires every input."""
    from toshokan_spark.indexer import build_segment, stats_path
    from toshokan_spark.search import apply_deletes, read_segments

    _ver, segs, deletes = catalog.snapshot(index_name)
    if not segs:
        raise MergeError("no segments to cluster")
    if n_clusters < 2:
        raise MergeError("n_clusters must be >= 2")
    config = catalog.get_index(index_name)
    paths = [join_path(config.path, s.file_name) for s in segs]
    df = read_segments(
        spark, paths, partitioned=config.time_field is not None,
        schemas=[s.schema for s in segs],
    )
    if deletes:
        df = df.filter(
            apply_deletes(F.lit(True), config, set(df.columns), deletes)
        )
    if cluster_by not in df.columns:
        raise MergeError(f"unknown cluster field {cluster_by!r}")
    # the indexer re-derives __day from the time field; feed it rows
    df = df.drop("__day")

    cuts = [i / n_clusters for i in range(1, n_clusters)]
    if exact_bounds:
        bexprs = [
            f"percentile_disc({c}) WITHIN GROUP (ORDER BY `{cluster_by}`)"
            for c in cuts
        ]
    else:
        bexprs = [
            f"approx_percentile(`{cluster_by}`, {c})" for c in cuts
        ]
    df = df.persist()
    try:
        brow = df.selectExpr(*bexprs).first()
        bounds = [v for v in (brow[i] for i in range(len(cuts))) if v is not None]
        bounds = sorted(set(bounds))  # duplicate cuts on skew collapse
        total_rows = sum(s.num_rows for s in segs)
        per_cluster_files = max(
            1, math.ceil(total_rows / max(1, len(bounds) + 1) / rows_per_file)
        )
        new_entries: "list[SegmentEntry]" = []
        new_paths: "list[str]" = []
        col = F.col(cluster_by)
        for i in range(len(bounds) + 1):
            part = df
            if i > 0:
                part = part.filter(col >= F.lit(bounds[i - 1]))
            if i < len(bounds):
                cond = col < F.lit(bounds[i])
                if i == 0:
                    # nulls sort into the FIRST cluster (they fail
                    # every bound test and would otherwise vanish)
                    cond = cond | col.isNull()
                part = part.filter(cond)
            built = build_segment(
                catalog, config, part, target_files=per_cluster_files
            )
            if built is None:
                continue  # empty cluster (duplicate-heavy bound)
            entry, seg_path, _seg_name = built
            new_entries.append(entry)
            new_paths.append(seg_path)
        if not new_entries:
            # deletes wiped everything: pure removal, like merge
            catalog.swap_segments(
                index_name,
                [s.id for s in segs],
                None,
                clear_delete_ids=[d.id for d in deletes] if deletes else None,
            )
        else:
            catalog.swap_segments(
                index_name,
                [s.id for s in segs],
                new_entries,
                clear_delete_ids=[d.id for d in deletes] if deletes else None,
            )
    except Exception:
        # failed mid-build: remove any unmanifested cluster data
        st = catalog.data_storage(config)
        for p in list(locals().get("new_paths") or []):
            st.delete_tree(p)
        raise
    finally:
        df.unpersist()
    # best-effort old-data delete; leaks tolerated (`merge.rs:68-71`)
    st = catalog.data_storage(config)
    for s, p in zip(segs, paths):
        st.delete_tree(p)
        st.delete_tree(stats_path(config, s.file_name))
    return new_entries


def _newest_mtime(st, path: str, depth: int = 6) -> float | None:
    """Newest store-reported mtime across the WHOLE tree under *path*
    (depth-capped). Recursion matters: an active Spark write touches
    only deep entries — ``seg-X/_temporary/<job>/<attempt>/part-...``
    and, for partitioned indexes, ``seg-X/__day=.../part-*.parquet`` —
    while POSIX/HDFS only bump a directory's mtime when its IMMEDIATE
    entries change, so a direct-children-only probe would let vacuum
    reap a long-running write mid-flight. None when the path is gone."""
    from toshokan_spark.storage import StorageNotFound

    newest = st.mtime(path)
    if newest is None or depth <= 0:
        return newest
    try:
        children = st.list_names(path)
    except StorageNotFound:
        return newest  # a file, or vanished mid-walk: its own mtime stands
    for child in children:
        cm = _newest_mtime(st, join_path(path, child), depth - 1)
        if cm is not None and cm > newest:
            newest = cm
    return newest


def vacuum(
    catalog: FsCatalog, index_name: str, min_age_seconds: float = 900.0
) -> list[str]:
    """Delete ORPHANED segment data: ``seg-*`` directories (and their
    ``_stats`` siblings) present on storage but absent from the
    manifest. Orphans are the expected residue of the data-first /
    manifest-second commit order — a crash after the parquet write
    but before the manifest CAS leaves a durable directory no query
    will ever read (the reference tolerates the same leak at merge,
    `merge.rs:68-71`; this is the cleanup pass it lacks). Returns the
    deleted segment names.

    Correctness comes from commit ordering: a segment becomes visible
    ONLY via the manifest, so anything not manifested is either an
    orphan or a write IN FLIGHT. ``min_age_seconds`` protects the
    in-flight case — a directory whose newest store-reported mtime is
    younger than the threshold is skipped, so a slow writer that has
    put its parquet down but not yet won the manifest CAS cannot be
    reaped out from under its commit. The age uses the STORE's mtimes
    (one vacuum-host clock reading against them — tolerate skew by
    keeping the default generous, 15 min, comfortably above any real
    commit gap). ``min_age_seconds=0`` restores unconditional reaping
    for when the caller can guarantee no writer is active.
    """
    config = catalog.get_index(index_name)
    st = catalog.data_storage(config)
    live = {s.file_name for s in catalog.segments(index_name)}
    from toshokan_spark.indexer import STATS_DIR, stats_path

    now = time.time()

    def age_ok(path: str) -> bool:
        if min_age_seconds <= 0:
            return True
        newest = _newest_mtime(st, path)
        return newest is None or now - newest >= min_age_seconds

    deleted = []
    for name in st.list_names(config.path):
        if name.startswith("seg-") and name not in live:
            if not age_ok(join_path(config.path, name)):
                continue  # possibly an in-flight commit — next run
            st.delete_tree(join_path(config.path, name))
            st.delete_tree(stats_path(config, name))
            deleted.append(name)
    # stats orphaned the other way around (stats written, data commit
    # never happened, data dir already vacuumed or absent)
    stats_root = join_path(config.path, STATS_DIR)
    if st.exists(stats_root):
        for name in st.list_names(stats_root):
            if name.startswith("seg-") and name not in live:
                if not age_ok(join_path(stats_root, name)):
                    continue
                st.delete_tree(join_path(stats_root, name))
                if name not in deleted:
                    deleted.append(name)
    return sorted(deleted)


def reindex(
    spark: SparkSession,
    catalog: FsCatalog,
    src: str,
    dst: str,
    at_version: "int | None" = None,
) -> SegmentEntry | None:
    """Copy every LIVE row of *src* into *dst* as one new segment —
    the rebuild half of the blue/green pattern (build ``dst`` fresh,
    ``reindex``, then ``alias`` re-points readers atomically).

    The read goes through :func:`search_df`, so src's pending delete
    tombstones are MATERIALIZED into the copy (the reindex is itself a
    physical delete — the compliance path when a merge alone is not
    wanted). Shared fields must be byte-identical in both schemas
    (their tokenized/IP shadow columns are carried as-is, which is
    only sound under identical options); dst-only fields null-fill at
    read like any additive evolution; src-only fields drop. Returns
    the committed entry, or None when src has no live rows.

    ``at_version`` reads src AS OF that catalog version — the ES
    snapshot-restore analog on the CAS manifest chain: every manifest
    version is already an immutable snapshot, so "restore" is just a
    time-travel read materialized into a fresh index (rows deleted
    after the snapshot come back; segments merged away since are read
    via their pre-merge manifest entries)."""
    from dataclasses import asdict

    from toshokan_spark.catalog import CatalogError
    from toshokan_spark.config import DYNAMIC_FIELD_NAME
    from toshokan_spark.indexer import write_segment
    from toshokan_spark.ingest import IPKEY_PREFIX, TOKENS_PREFIX
    from toshokan_spark.search import search_df

    src_cfg = catalog.get_index(src)
    dst_cfg = catalog.get_index(dst)
    src_fields = {f.name: f for f in src_cfg.fields}
    for f in dst_cfg.fields:
        if f.name in src_fields and asdict(f) != asdict(src_fields[f.name]):
            raise CatalogError(
                f"reindex needs shared field {f.name!r} byte-identical in "
                f"both schemas (shadow columns are carried, not rebuilt)"
            )
    df = search_df(spark, catalog, src, "*", limit=None, at_version=at_version)
    shared = {f.name for f in dst_cfg.fields} & set(df.columns)
    dst_dynamic = any(f.type == "dynamic_object" for f in dst_cfg.fields)
    keep = [
        c
        for c in df.columns
        if c in shared
        or (c.startswith(TOKENS_PREFIX) and c[len(TOKENS_PREFIX):] in shared)
        or (c.startswith(IPKEY_PREFIX) and c[len(IPKEY_PREFIX):] in shared)
        or (c == DYNAMIC_FIELD_NAME and dst_dynamic)
    ]
    return write_segment(catalog, dst_cfg, df.select(*keep))


def rollover(
    catalog: FsCatalog,
    alias: str,
    max_docs: "int | None" = None,
    max_segments: "int | None" = None,
) -> "tuple[bool, str, str]":
    """ES rollover API (the write-path half of index lifecycle
    management): when the index behind *alias* has grown past
    ``max_docs`` live-manifest rows or ``max_segments`` segments,
    create a fresh SAME-CONFIG index with the next ``-NNNNNN``
    sequence suffix (the ES naming convention) and atomically
    re-point the alias, so writers targeting the alias start filling
    the new generation while every older generation stays queryable
    (individually, or together via the ``<base>-*`` index-pattern
    search). Returns (rolled, old_index, new_index).

    Condition checks are MANIFEST reads (segment row counts — the
    same commit-time stats every panel uses): no data scan, no Spark
    session. The create + alias re-point are the existing atomic
    catalog operations; a crash between them leaves a created-but-
    unaliased index, which a rerun adopts (idempotent recovery, same
    stance as the data-first/manifest-second ingest commit)."""
    import re

    from toshokan_spark.catalog import CatalogError

    target = catalog.resolve(alias)
    if target == alias:
        if not catalog.index_exists(alias):
            raise CatalogError(f"no such alias or index {alias!r}")
        # *alias* names a real index, not an alias. Rolling over a
        # bare index can never complete: after the new -NNNNNN
        # generation is created, set_alias would have to shadow the
        # existing index name, which the catalog (correctly) rejects
        # — leaving an orphan generation behind and failing the same
        # way on every rerun. ES likewise requires rollover targets
        # to be aliases (or data streams); fail BEFORE creating
        # anything (ADVICE r13).
        raise CatalogError(
            f"rollover requires an alias, but {alias!r} is an index — "
            f"create an alias pointing at it and roll that over"
        )
    segs = catalog.segments(target)
    n_docs = sum(s.num_rows for s in segs)
    met = (max_docs is not None and n_docs >= max_docs) or (
        max_segments is not None and len(segs) >= max_segments
    )
    if not met:
        return False, target, target
    m = re.match(r"^(.*)-(\d{6})$", target)
    base, seq = (m.group(1), int(m.group(2))) if m else (target, 0)
    new_name = f"{base}-{seq + 1:06d}"
    cfg = catalog.get_index(target)
    from dataclasses import replace

    if not catalog.index_exists(new_name):
        new_path = (
            cfg.path.rstrip("/") + f"-rollover-{seq + 1:06d}"
            if not m or not cfg.path.rstrip("/").endswith(target)
            else cfg.path.rstrip("/")[: -len(target)] + new_name
        )
        catalog.create_index(replace(cfg, name=new_name, path=new_path))
    catalog.set_alias(alias, new_name)
    return True, target, new_name


def snapshot_index(
    spark: SparkSession,
    catalog: FsCatalog,
    index_name: str,
    dest_root: str,
) -> "tuple[int, int]":
    """ES snapshot-to-repository: copy an index's CURRENT state —
    config, manifest entries (with their zone maps / blooms /
    additive stats), pending delete tombstones, per-segment data AND
    commit-time stats parquets — into a self-contained directory that
    :func:`restore_snapshot` can register into ANY catalog. The
    in-catalog ``reindex --at-version`` path restores a RETAINED
    version inside one catalog; this is the cross-catalog /
    off-machine backup half.

    The copy is semantic, not byte-level: each segment is read and
    rewritten through Spark (a DISTRIBUTED copy — at 100 TB the
    cluster moves the data, never the driver), preserving the
    ``__day=`` partition layout so restored manifests prune exactly
    like the originals. Manifest metadata (row counts, day ranges,
    zone maps, blooms, decimal sums, histograms) describes CONTENT,
    not file bytes, so it transfers verbatim.

    Snapshot layout: ``snapshot.json`` (config + entries + deletes)
    beside one directory per segment plus its ``_stats`` twin.
    Returns (num_segments, num_rows)."""
    import json as _json
    from dataclasses import asdict

    from toshokan_spark.indexer import STATS_DIR, stats_path
    from toshokan_spark.search import read_segments
    from toshokan_spark.storage import storage_for

    config = catalog.get_index(index_name)
    _ver, segs, dels = catalog.snapshot(index_name)
    st_src = catalog.data_storage(config)
    st_dst = storage_for(dest_root, spark)
    st_dst.mkdirs(dest_root)

    partitioned = config.time_field is not None
    for s in segs:
        src = join_path(config.path, s.file_name)
        dst = join_path(dest_root, s.file_name)
        df = read_segments(spark, [src], partitioned, schemas=[s.schema])
        w = df.write.mode("overwrite")
        if partitioned and "__day" in df.columns:
            w = w.partitionBy("__day")
        w.parquet(dst)
        sp = stats_path(config, s.file_name)
        if st_src.exists(sp):
            spark.read.parquet(sp).coalesce(1).write.mode(
                "overwrite"
            ).parquet(join_path(dest_root, STATS_DIR, s.file_name))
    doc = {
        "config": config.to_dict(),
        "segments": [asdict(s) for s in segs],
        "deletes": [asdict(d) for d in dels],
        "created_at_ms": int(time.time() * 1000),
    }
    st_dst.write_text_atomic(
        join_path(dest_root, "snapshot.json"), _json.dumps(doc, indent=1)
    )
    return len(segs), sum(s.num_rows for s in segs)


def restore_snapshot(
    spark: SparkSession,
    catalog: FsCatalog,
    snap_root: str,
    new_name: "str | None" = None,
    new_path: "str | None" = None,
) -> "tuple[str, int]":
    """Register a :func:`snapshot_index` directory into *catalog* —
    optionally under a new name/path (restoring beside a live
    original). Segments, their stats parquets, manifest metadata and
    PENDING DELETE tombstones all come back: a snapshot taken with a
    delete pending restores with the same rows masked.

    Returns (index_name, num_rows restored)."""
    import json as _json

    from toshokan_spark.catalog import CatalogError, DeleteEntry
    from toshokan_spark.indexer import STATS_DIR
    from toshokan_spark.search import read_segments
    from toshokan_spark.storage import storage_for

    st_snap = storage_for(snap_root, spark)
    try:
        doc = _json.loads(
            st_snap.read_text(join_path(snap_root, "snapshot.json"))
        )
    except Exception as e:
        raise CatalogError(f"not a snapshot directory: {snap_root} ({e})")
    config = IndexConfig.from_dict(doc["config"])
    from dataclasses import replace

    if new_name:
        if new_path is None:
            base = config.path.rstrip("/")
            new_path = (
                base[: -len(config.name)] + new_name
                if base.endswith(config.name)
                else base + "-" + new_name
            )
        config = replace(config, name=new_name, path=new_path)
    try:
        create_index(catalog, config)
        have_segs: set = set()
        have_dels: set = set()
    except CatalogError:
        # retry after a partially failed restore: tolerate an existing
        # index ONLY when its config is byte-identical to the snapshot's
        # — then the already-committed segments/tombstones are skipped
        # below and the restore resumes where it died. A config
        # mismatch means the name is taken by something else: refuse.
        existing = catalog.get_index(config.name)
        if existing.to_dict() != config.to_dict():
            raise CatalogError(
                f"index {config.name!r} exists with a different config; "
                f"drop it (or restore under --rename) first"
            )
        have_segs = {s.id for s in catalog.segments(config.name)}
        have_dels = {d.id for d in catalog.deletes(config.name)}
    st_dst = catalog.data_storage(config)
    partitioned = config.time_field is not None
    total = 0
    for sdoc in doc["segments"]:
        entry = SegmentEntry(**sdoc)
        if entry.id in have_segs:
            total += entry.num_rows
            continue
        src = join_path(snap_root, entry.file_name)
        # overwrite (matching the stats write below): a retry after a
        # partially failed restore must replace the leftover segment
        # dir, not die on it — restores are idempotent (ADVICE r14)
        try:
            df = read_segments(
                spark, [src], partitioned, schemas=[entry.schema]
            )
            w = df.write.mode("overwrite")
            if partitioned and "__day" in df.columns:
                w = w.partitionBy("__day")
            w.parquet(join_path(config.path, entry.file_name))
            ssrc = join_path(snap_root, STATS_DIR, entry.file_name)
            if st_snap.exists(ssrc):
                spark.read.parquet(ssrc).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(
                    join_path(config.path, STATS_DIR, entry.file_name)
                )
        except Exception as e:
            raise CatalogError(
                f"restore of segment {entry.file_name!r} failed: {e}"
            ) from e
        catalog.commit_segment(config.name, entry)
        total += entry.num_rows
    for ddoc in doc.get("deletes", []):
        if ddoc.get("id") in have_dels:
            continue
        # replay the STORED tombstone verbatim — original id and
        # created_at_ms — via the manifest CAS path (add_delete would
        # otherwise mint a fresh id/timestamp and lose audit parity)
        catalog.add_delete(
            config.name, ddoc["query"], entry=DeleteEntry(**ddoc)
        )
    return config.name, total


def verify_index(
    spark: SparkSession,
    catalog: FsCatalog,
    index_name: str,
    count_rows: bool = True,
) -> "list[dict]":
    """Integrity check — the fsck every storage engine grows:

    * every manifested segment's data directory exists;
    * (``count_rows``) each segment's parquet row count equals its
      manifest ``num_rows`` (one distributed count per segment — cheap
      metadata-only parquet jobs, no column reads);
    * zone maps are internally consistent (min <= max);
    * commit-time stats parquets exist where the config promises them;
    * orphan ``seg-*`` directories on storage that no manifest entry
      references (crash leftovers — harmless by the data-first commit
      order, listed so a vacuum can reclaim them).

    Returns a list of finding dicts (empty = healthy). Read-only:
    never mutates the catalog or data."""
    from toshokan_spark.indexer import stats_path, text_stat_fields

    config = catalog.get_index(index_name)
    segs = catalog.segments(index_name)
    st = catalog.data_storage(config)
    findings: "list[dict]" = []

    for s in segs:
        path = join_path(config.path, s.file_name)
        if not st.exists(path):
            findings.append({"kind": "missing_segment",
                             "segment": s.file_name})
            continue
        if count_rows:
            try:
                n = spark.read.parquet(path).count()
            except Exception as e:
                findings.append({"kind": "unreadable_segment",
                                 "segment": s.file_name, "error": str(e)})
                continue
            if n != s.num_rows:
                findings.append({
                    "kind": "row_count_mismatch", "segment": s.file_name,
                    "manifest": s.num_rows, "parquet": n,
                })
        for f, bounds in (s.field_stats or {}).items():
            lo, hi = bounds
            if lo is not None and hi is not None and str(lo) > str(hi) \
                    and not isinstance(lo, (int, float)):
                findings.append({"kind": "zone_map_inverted",
                                 "segment": s.file_name, "field": f})
            elif isinstance(lo, (int, float)) and isinstance(hi, (int, float)) and lo > hi:
                findings.append({"kind": "zone_map_inverted",
                                 "segment": s.file_name, "field": f})
        if text_stat_fields(config) and not st.exists(
            stats_path(config, s.file_name)
        ):
            findings.append({"kind": "missing_stats",
                             "segment": s.file_name})

    manifested = {s.file_name for s in segs}
    try:
        on_disk = [n for n in st.list_names(config.path)
                   if n.startswith("seg-")]
    except Exception:
        on_disk = []
    for n in on_disk:
        if n not in manifested:
            findings.append({"kind": "orphan_segment", "segment": n})
    return findings
