"""Recorded segment schemas: every committed segment carries the schema
a parquet read of it resolves to, and search builds its scan from the
recorded schemas instead of inferring them from the footers (a Spark
job per query). The pinned scan must be the inferred scan:
same columns in the same order, same types, same rows. Segments
without a recorded schema, and recorded schemas that conflict, fall
back to inference."""

import json
from dataclasses import replace

import pytest

from toshokan_spark.config import FieldConfig, IndexConfig
from toshokan_spark.indexer import index_batch
from toshokan_spark.maintenance import create_index
from toshokan_spark.search import (
    merge_schemas,
    read_segments,
    scored_search_df,
    search,
)
from toshokan_spark.storage import join_path

from tools.measure import count_jobs

FIELDS = [
    FieldConfig(name="id", type="number"),
    FieldConfig(name="ts", type="datetime"),
    FieldConfig(name="level", type="text", tokenizer="raw"),
    FieldConfig(name="msg", type="text"),
]
WORDS = ["alpha", "beta", "gamma", "delta", "omega"]


def _config(tmp_path, name, timed, fields=FIELDS):
    return IndexConfig(
        name=name,
        path=str(tmp_path / "data" / name),
        time_field="ts" if timed else None,
        fields=list(fields),
    )


def _batch(spark, catalog, tmp_path, name, day, n=5, extra=None):
    rows = []
    for i in range(n):
        r = {
            "id": day * 100 + i,
            "ts": f"2024-01-0{day}T10:{i:02d}:00Z",
            "level": ["INFO", "WARN"][i % 2],
            "msg": f"{WORDS[i % 5]} {WORDS[(i + day) % 5]} event",
        }
        if extra:
            r[extra] = f"tag{i}"
        rows.append(r)
    p = tmp_path / f"{name}-{day}.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    index_batch(spark, catalog, name, jsonl_path=str(p))


def _build(spark, catalog, tmp_path, name, timed, days=(1, 2, 3, 4), n=5):
    cfg = _config(tmp_path, name, timed)
    create_index(catalog, cfg)
    for d in days:
        _batch(spark, catalog, tmp_path, name, d, n=n)
    return cfg


def _alter_add_tag(spark, catalog, tmp_path, name, cfg, days):
    """An ``alter``-added field present only in the segments written
    after the alter."""
    cfg2 = replace(cfg, fields=cfg.fields + [FieldConfig(name="tag", type="text", tokenizer="raw")])
    catalog.update_index(cfg2)
    for d in days:
        _batch(spark, catalog, tmp_path, name, d, extra="tag")
    return cfg2


def _paths(catalog, cfg, segs):
    return [join_path(cfg.path, s.file_name) for s in segs]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _assert_same_scan(pinned, inferred):
    assert pinned.schema == inferred.schema, (pinned.schema, inferred.schema)
    assert pinned.columns == inferred.columns
    assert _rows(pinned) == _rows(inferred)


@pytest.mark.parametrize("timed", [True, False])
def test_pinned_scan_equals_inferred_scan_with_alter_drift(
    spark, catalog, tmp_path, timed
):
    name = f"drift{int(timed)}"
    cfg = _build(spark, catalog, tmp_path, name, timed, days=(1, 2))
    cfg = _alter_add_tag(spark, catalog, tmp_path, name, cfg, days=(3,))
    segs = catalog.segments(name)
    assert len(segs) == 3 and all(s.schema is not None for s in segs)
    for s in segs:
        # the recorded schema is exactly what a read of the segment infers
        inferred = spark.read.parquet(join_path(cfg.path, s.file_name)).schema
        assert s.schema == inferred.jsonValue()
    assert "tag" not in json.dumps(segs[0].schema)
    assert "tag" in json.dumps(segs[2].schema)

    paths = _paths(catalog, cfg, segs)
    schemas = [s.schema for s in segs]
    # manifest order, and reversed: the new column is first seen last,
    # then first — the fold must reproduce mergeSchema's column order
    for order in (slice(None), slice(None, None, -1)):
        _assert_same_scan(
            read_segments(spark, paths[order], schemas=schemas[order]),
            read_segments(spark, paths[order]),
        )
    hits = search(spark, catalog, name, "tag:tag1", limit=10)
    assert [json.loads(h)["id"] for h in hits] == [301]


@pytest.mark.parametrize("timed", [True, False])
def test_segment_without_recorded_schema_falls_back(
    spark, catalog, tmp_path, timed
):
    """A pre-change manifest entry (no ``schema``) must still search
    correctly: the scan infers the schema, as before."""
    name = f"old{int(timed)}"
    cfg = _build(spark, catalog, tmp_path, name, timed, days=(1, 2, 3))
    want = sorted(json.loads(h)["id"] for h in search(spark, catalog, name, "*", limit=100))
    ver, segs, dels = catalog.snapshot(name)
    old = [replace(segs[0], schema=None)] + segs[1:]
    assert catalog._try_write_version(name, ver + 1, old, dels)
    assert catalog.segments(name)[0].schema is None

    got = sorted(json.loads(h)["id"] for h in search(spark, catalog, name, "*", limit=100))
    assert got == want and len(got) == 15
    segs = catalog.segments(name)
    _assert_same_scan(
        read_segments(spark, _paths(catalog, cfg, segs), schemas=[s.schema for s in segs]),
        read_segments(spark, _paths(catalog, cfg, segs)),
    )


def test_conflicting_recorded_types_fall_back(spark, catalog, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    a = StructType([StructField("x", LongType()), StructField("y", StringType())])
    b = StructType([StructField("x", StringType())])
    assert merge_schemas([a, b]) is None
    c = StructType([StructField("X", LongType())])
    assert merge_schemas([a, c]) is None  # case-only clash: Spark decides
    d = StructType([StructField("z", LongType()), StructField("x", LongType())])
    assert merge_schemas([a, d]).fieldNames() == ["x", "y", "z"]

    cfg = _build(spark, catalog, tmp_path, "conflict", False, days=(1, 2))
    segs = catalog.segments("conflict")
    paths = _paths(catalog, cfg, segs)
    bad = json.loads(json.dumps(segs[1].schema))
    for f in bad["fields"]:
        if f["name"] == "level":
            f["type"] = "long"  # recorded types disagree across segments
    _assert_same_scan(
        read_segments(spark, paths, schemas=[segs[0].schema, bad]),
        read_segments(spark, paths),
    )


@pytest.mark.parametrize("timed", [True, False])
def test_merged_segment_records_its_schema(spark, catalog, tmp_path, timed):
    from toshokan_spark.maintenance import merge_segments

    name = f"mrg{int(timed)}"
    cfg = _build(spark, catalog, tmp_path, name, timed, days=(1, 2))
    cfg = _alter_add_tag(spark, catalog, tmp_path, name, cfg, days=(3,))
    before = sorted(search(spark, catalog, name, "*", limit=100))
    entry = merge_segments(spark, catalog, name)
    inferred = spark.read.parquet(join_path(cfg.path, entry.file_name))
    assert entry.schema == inferred.schema.jsonValue()
    assert catalog.segments(name)[0].schema == entry.schema
    pinned = read_segments(spark, [join_path(cfg.path, entry.file_name)], schemas=[entry.schema])
    _assert_same_scan(pinned, inferred)
    assert sorted(search(spark, catalog, name, "*", limit=100)) == before


def test_snapshot_restore_keeps_recorded_schemas(spark, catalog, tmp_path):
    from toshokan_spark.maintenance import restore_snapshot, snapshot_index

    cfg = _build(spark, catalog, tmp_path, "snap", True, days=(1, 2))
    _alter_add_tag(spark, catalog, tmp_path, "snap", cfg, days=(3,))
    before = sorted(search(spark, catalog, "snap", "*", limit=100))
    snap = str(tmp_path / "snapdir")
    snapshot_index(spark, catalog, "snap", snap)
    name, total = restore_snapshot(spark, catalog, snap, new_name="snap2")
    assert total == 15
    src, dst = catalog.segments("snap"), catalog.segments(name)
    assert [s.schema for s in dst] == [s.schema for s in src]
    rcfg = catalog.get_index(name)
    for s in dst:
        inferred = spark.read.parquet(join_path(rcfg.path, s.file_name)).schema
        assert s.schema == inferred.jsonValue()
    assert sorted(search(spark, catalog, name, "*", limit=100)) == before


def test_manifest_stores_each_schema_once_in_compact_json(spark, catalog, tmp_path):
    cfg = _build(spark, catalog, tmp_path, "compact", True, days=(1, 2))
    _alter_add_tag(spark, catalog, tmp_path, "compact", cfg, days=(3,))
    ver, segs, _ = catalog.snapshot("compact")
    text = catalog._st.read_text(catalog._version_path("compact", ver))
    assert "\n" not in text and ", " not in text and '": ' not in text
    doc = json.loads(text)
    # two distinct schemas (before and after the alter), each stored once
    assert len(doc["schemas"]) == 2
    ids = [s["schema"] for s in doc["segments"]]
    assert ids[0] == ids[1] != ids[2]
    assert all(isinstance(i, str) and i in doc["schemas"] for i in ids)
    # reads expand the ids back to the schemas themselves
    assert [s.schema for s in segs] == [doc["schemas"][i] for i in ids]


def test_indented_manifest_without_schemas_still_reads(spark, catalog, tmp_path):
    """A version written before this layout (indented JSON, no
    ``schemas`` map, no ``schema`` field) reads and searches."""
    cfg = _build(spark, catalog, tmp_path, "legacy", True, days=(1, 2))
    ver, segs, _ = catalog.snapshot("legacy")
    legacy = []
    for s in segs:
        d = dict(vars(s))
        del d["schema"]
        legacy.append(d)
    catalog._st.write_text_exclusive(
        catalog._version_path("legacy", ver + 1),
        json.dumps({"segments": legacy}, indent=1),
    )
    got_ver, got, dels = catalog.snapshot("legacy")
    assert got_ver == ver + 1 and dels == []
    assert [s.id for s in got] == [s.id for s in segs]
    assert all(s.schema is None for s in got)
    assert len(search(spark, catalog, "legacy", "*", limit=100)) == 10


def test_snapshot_at_version_is_one_consistent_read(spark, catalog, tmp_path):
    from toshokan_spark.catalog import CatalogError

    _build(spark, catalog, tmp_path, "tt", True, days=(1, 2))
    v2, segs2, _ = catalog.snapshot("tt")
    catalog.add_delete("tt", "level:WARN")
    ver, segs, dels = catalog.snapshot("tt")
    assert ver == v2 + 1 and [s.id for s in segs] == [s.id for s in segs2]
    assert [d.query for d in dels] == ["level:WARN"]
    old = catalog.snapshot("tt", at_version=v2)
    assert old[0] == v2 and old[2] == [] and old[1] == segs2
    assert catalog.segments("tt", at_version=v2) == segs2
    assert len(search(spark, catalog, "tt", "*", limit=100)) == 6
    assert len(search(spark, catalog, "tt", "*", limit=100, at_version=v2)) == 10
    with pytest.raises(CatalogError):
        catalog.snapshot("tt", at_version=999)


def test_search_job_budgets_on_four_segment_time_index(spark, tmp_path):
    """Deterministic job counts, not wall time: with recorded schemas a
    search plans with no footer-inference job, so a search whose first
    scan partition fills its limit runs exactly one job, bounded or
    not."""
    from toshokan_spark.catalog import FsCatalog

    catalog = FsCatalog(str(tmp_path / "catalog"))
    _build(spark, catalog, tmp_path, "budget", True, n=20)
    bounded = "ts:[2024-01-02T00:00:00Z TO 2024-01-02T23:59:59Z] AND level:INFO"
    for q in (bounded, "*"):
        search(spark, catalog, "budget", q, limit=10)  # first-use warm-up
        assert count_jobs(
            spark, lambda q=q: search(spark, catalog, "budget", q, limit=10)
        ) == 1, q
    scored = lambda: scored_search_df(  # noqa: E731
        spark, catalog, "budget", "msg:alpha OR msg:gamma", "msg", limit=5
    ).collect()
    scored()
    assert count_jobs(spark, scored) == SCORED_JOBS
    # the inference path, for contrast: one mergeSchema job reads the
    # footers of every kept segment
    ver, segs, dels = catalog.snapshot("budget")
    catalog._try_write_version("budget", ver + 1, [replace(s, schema=None) for s in segs], dels)
    assert count_jobs(
        spark, lambda: search(spark, catalog, "budget", "*", limit=10)
    ) == 2


#: jobs one scored (BM25) search over the four-segment index runs:
#: the merged commit-time stats aggregation (its shuffle stage, then
#: the broadcast of its one row) and the ranked top-k. None of them
#: reads a footer to learn a schema.
SCORED_JOBS = 3


def test_stats_schema_constant_matches_written_stats(spark, catalog, tmp_path):
    from toshokan_spark.functions.bm25 import STATS_SCHEMA
    from toshokan_spark.indexer import stats_path

    cfg = _build(spark, catalog, tmp_path, "stats", True, days=(1,))
    seg = catalog.segments("stats")[0]
    written = spark.read.parquet(stats_path(cfg, seg.file_name)).schema
    assert written == STATS_SCHEMA
