"""Time pruning on ``time_field`` indexes: the manifest's per-segment
day ranges drop whole segments, and a range query on the time field
reaches the Parquet source of the one flat scan as a pushed filter over
time-sorted files (the scale lever the reference's dead ``time_field``
config promised — SURVEY §1.1, `/root/reference/src/config/mod.rs:229-231`)."""

import json
import os

from toshokan_spark.config import FieldConfig, IndexConfig
from toshokan_spark.indexer import index_batch
from toshokan_spark.maintenance import create_index
from toshokan_spark.search import search, search_df


def _setup(spark, catalog, tmp_path):
    config = IndexConfig(
        name="tsidx",
        path=str(tmp_path / "data" / "tsidx"),
        time_field="ts",
        fields=[
            FieldConfig(name="ts", type="datetime"),
            FieldConfig(name="level", type="text", tokenizer="raw"),
        ],
    )
    create_index(catalog, config)
    rows = [
        {"ts": "2024-01-01T10:00:00Z", "level": "A"},
        {"ts": "2024-01-02T10:00:00Z", "level": "B"},
        {"ts": "2024-01-03T10:00:00Z", "level": "C"},
    ]
    p = tmp_path / "in.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    index_batch(spark, catalog, "tsidx", jsonl_path=str(p))
    return config


def _pushed_filters(df) -> str:
    """The PushedFilters list of the plan's one scan node."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    return plan.split("PushedFilters: ")[1]


def test_day_partition_pruning_in_plan(spark, catalog, tmp_path):
    _setup(spark, catalog, tmp_path)
    df = search_df(
        spark,
        catalog,
        "tsidx",
        "ts:[2024-01-02T00:00:00Z TO 2024-01-02T23:59:59Z]",
        limit=None,
    )
    assert _pushed_filters(df).startswith(
        "[IsNotNull(ts), GreaterThanOrEqual(ts,2024-01-02 00:00:00.0), "
        "LessThanOrEqual(ts,2024-01-02 23:59"
    )
    # the scan must return exactly the one matching day
    assert [r.level for r in df.collect()] == ["B"]


def test_one_sided_and_disjunctive_bounds(spark, catalog, tmp_path):
    _setup(spark, catalog, tmp_path)
    assert sorted(
        json.loads(d)["level"]
        for d in search(spark, catalog, "tsidx", "ts:>2024-01-01T23:00:00Z", limit=10)
    ) == ["B", "C"]
    # disjunction of two bounded ranges still prunes (union of bounds)
    q = (
        "ts:[2024-01-01T00:00:00Z TO 2024-01-01T12:00:00Z]"
        " OR ts:[2024-01-03T00:00:00Z TO 2024-01-03T12:00:00Z]"
    )
    df = search_df(spark, catalog, "tsidx", q, limit=None)
    assert sorted(r.level for r in df.collect()) == ["A", "C"]
    assert _pushed_filters(df).startswith(
        "[Or(And(GreaterThanOrEqual(ts,2024-01-01 00:00:00.0),"
        "LessThanOrEqual(ts,2024-01-01 12:00:00.0)),"
    )


def test_merge_preserves_partition_layout(spark, catalog, tmp_path):
    """The layout a merge writes: one flat segment directory, like
    every segment, and a time range still reaches its scan as a pushed
    filter."""
    from toshokan_spark.maintenance import merge_segments

    _setup(spark, catalog, tmp_path)
    rows = [{"ts": "2024-01-04T10:00:00Z", "level": "D"}]
    p = tmp_path / "in2.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    index_batch(spark, catalog, "tsidx", jsonl_path=str(p))
    merge_segments(spark, catalog, "tsidx")
    (seg,) = catalog.segments("tsidx")
    seg_dir = os.path.join(str(tmp_path / "data" / "tsidx"), seg.file_name)
    assert not [d for d in os.listdir(seg_dir) if os.path.isdir(os.path.join(seg_dir, d))]

    df = search_df(
        spark, catalog, "tsidx",
        "ts:[2024-01-02T00:00:00Z TO 2024-01-02T23:59:59Z]", limit=None,
    )
    assert _pushed_filters(df).startswith(
        "[IsNotNull(ts), GreaterThanOrEqual(ts,2024-01-02 00:00:00.0), "
    )
    assert [r.level for r in df.collect()] == ["B"]
    assert len(search(spark, catalog, "tsidx", "*", limit=10)) == 4


def test_size_tiered_merge_smallest_first(spark, catalog, tmp_path):
    from toshokan_spark.maintenance import merge_segments

    _setup(spark, catalog, tmp_path)  # 3 rows in one segment
    for i, n in enumerate((1, 2)):
        rows = [
            {"ts": f"2024-02-0{i+1}T10:00:00Z", "level": f"X{i}{j}"} for j in range(n)
        ]
        p = tmp_path / f"extra{i}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
        index_batch(spark, catalog, "tsidx", jsonl_path=str(p))
    assert sorted(s.num_rows for s in catalog.segments("tsidx")) == [1, 2, 3]
    # tiered: merge only the 2 smallest; the 3-row segment is untouched
    merge_segments(spark, catalog, "tsidx", max_segments=2)
    assert sorted(s.num_rows for s in catalog.segments("tsidx")) == [3, 3]
    assert len(search(spark, catalog, "tsidx", "*", limit=10)) == 6


def test_unbounded_query_still_correct(spark, catalog, tmp_path):
    _setup(spark, catalog, tmp_path)
    # term query implies no time bounds -> no pruning, full results
    assert len(search(spark, catalog, "tsidx", "*", limit=10)) == 3


def test_unpartitioned_index_single_scan_node(spark, catalog, tmp_path):
    """An N-segment index without a time_field layout must plan as ONE
    multi-path scan, not an N-arm union — at 10k segments the union's
    analysis cost alone is minutes."""
    config = IndexConfig(
        name="flatidx",
        path=str(tmp_path / "data" / "flatidx"),
        fields=[FieldConfig(name="level", type="text", tokenizer="raw")],
    )
    create_index(catalog, config)
    for i in range(3):
        p = tmp_path / f"b{i}.jsonl"
        p.write_text(json.dumps({"level": f"L{i}"}) + "\n")
        index_batch(spark, catalog, "flatidx", jsonl_path=str(p))
    assert len(catalog.segments("flatidx")) == 3

    df = search_df(spark, catalog, "flatidx", "*", limit=None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "Union" not in plan, plan
    assert sorted(r.level for r in df.collect()) == ["L0", "L1", "L2"]

    # schema drift across segments still null-fills like unionByName:
    # mergeSchema unifies the three segment schemas in the single scan
    from toshokan_spark.search import read_segments

    paths = catalog.segment_paths("flatidx")
    extra = spark.createDataFrame([("X", 7)], ["level", "new_col"])
    extra.write.parquet(str(tmp_path / "data" / "flatidx" / "seg-drift"))
    merged = read_segments(spark, paths + [str(tmp_path / "data" / "flatidx" / "seg-drift")])
    assert set(["level", "new_col"]).issubset(set(merged.columns))
    assert merged.filter(merged.new_col.isNull()).count() >= 3


def test_manifest_level_segment_pruning(spark, catalog, tmp_path):
    """Per-segment day-range stats in the manifest prune whole
    segments BEFORE any Spark plan exists: a one-day query over an
    index of three single-day segments must plan exactly ONE scan
    (the Delta/Iceberg file-statistics pattern — at 10k segments this
    is what keeps the scan's path list short)."""
    from toshokan_spark.maintenance import merge_segments

    config = IndexConfig(
        name="msidx",
        path=str(tmp_path / "data" / "msidx"),
        time_field="ts",
        fields=[
            FieldConfig(name="ts", type="datetime"),
            FieldConfig(name="level", type="text", tokenizer="raw"),
        ],
    )
    create_index(catalog, config)
    for i, day in enumerate(("2024-03-01", "2024-03-02", "2024-03-03")):
        p = tmp_path / f"d{i}.jsonl"
        p.write_text(json.dumps({"ts": f"{day}T10:00:00Z", "level": f"L{i}"}) + "\n")
        index_batch(spark, catalog, "msidx", jsonl_path=str(p))
    segs = catalog.segments("msidx")
    assert [(s.min_day, s.max_day) for s in segs] == [
        ("2024-03-01", "2024-03-01"),
        ("2024-03-02", "2024-03-02"),
        ("2024-03-03", "2024-03-03"),
    ]

    df = search_df(
        spark, catalog, "msidx",
        "ts:[2024-03-02T00:00:00Z TO 2024-03-02T23:59:59Z]", limit=None,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan  # 2 of 3 segments never planned
    assert [r.level for r in df.collect()] == ["L1"]

    # no time bounds -> all segments planned, all rows
    assert len(search(spark, catalog, "msidx", "*", limit=10)) == 3

    # a query whose bounds miss every segment reads nothing
    df = search_df(spark, catalog, "msidx", "ts:>2025-01-01T00:00:00Z", limit=None)
    assert df.count() == 0

    # compaction carries the stats through (union of input ranges)
    merge_segments(spark, catalog, "msidx")
    seg = catalog.segments("msidx")[0]
    assert (seg.min_day, seg.max_day) == ("2024-03-01", "2024-03-03")
    assert len(search(spark, catalog, "msidx", "*", limit=10)) == 3


def test_manifest_pruning_at_10k_segments(spark, catalog, tmp_path):
    """Planning scale: a 10,000-segment manifest must (a) prune down
    to the few overlapping segments before any Spark plan exists and
    (b) keep end-to-end search_df planning within a sane time bound —
    the 100×-scale claim for manifest-level pruning, previously
    resting on a 3-segment test. Only the surviving segments need
    data files: pruned entries are never opened, which is itself part
    of the assertion."""
    import time as _time

    from toshokan_spark.catalog import SegmentEntry, uuid7

    config = IndexConfig(
        name="bigidx",
        path=str(tmp_path / "data" / "bigidx"),
        time_field="ts",
        fields=[
            FieldConfig(name="ts", type="datetime"),
            FieldConfig(name="level", type="text", tokenizer="raw"),
        ],
    )
    create_index(catalog, config)
    # two REAL segments covering 2024-06-10 and 2024-06-11
    for i, day in enumerate(("2024-06-10", "2024-06-11")):
        p = tmp_path / f"big{i}.jsonl"
        p.write_text(json.dumps({"ts": f"{day}T09:00:00Z", "level": f"R{i}"}) + "\n")
        index_batch(spark, catalog, "bigidx", jsonl_path=str(p))

    # ~10k synthetic manifest entries whose day ranges can't overlap
    # the query window; their data paths don't even exist
    ver, segs = catalog._read_versioned("bigidx")
    fakes = []
    for i in range(9_998):
        day = f"20{10 + i % 10}-01-{1 + i % 28:02d}"  # 2010..2019, far away
        fakes.append(
            SegmentEntry(
                id=uuid7(), file_name=f"seg-fake-{i}", num_rows=1,
                created_at_ms=0, min_day=day, max_day=day,
            )
        )
    assert catalog._try_write_version("bigidx", ver + 1, segs + fakes)
    assert len(catalog.segments("bigidx")) == 10_000

    t0 = _time.monotonic()
    df = search_df(
        spark, catalog, "bigidx",
        "ts:[2024-06-10T00:00:00Z TO 2024-06-11T23:59:59Z]", limit=None,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    planning_s = _time.monotonic() - t0
    # generous bound: pruning is O(n) driver-side python over entries
    # + a 2-path scan build; without manifest pruning this would open
    # 9,998 nonexistent paths and fail outright
    assert planning_s < 15.0, f"planning took {planning_s:.1f}s"
    assert plan.count("Scan parquet") == 1, plan
    assert "InMemoryFileIndex(2 paths)" in plan, plan
    assert sorted(r.level for r in df.collect()) == ["R0", "R1"]


def test_scored_search_prunes_stats_read(spark, catalog, tmp_path, monkeypatch):
    """Time-bounded SCORED search must prune at the manifest level on
    BOTH sides: the match scan plans only the surviving segments, and
    the BM25 stats read lists only the surviving segments' _stats
    parquets (previously stats merged across ALL segments even under
    a day filter — at 10k segments that is a 10k-file metadata read
    per query)."""
    import toshokan_spark.functions.bm25 as bm25mod
    from toshokan_spark.config import FieldConfig, IndexConfig
    from toshokan_spark.indexer import index_batch, stats_path
    from toshokan_spark.maintenance import create_index
    from toshokan_spark.search import scored_search_df

    config = IndexConfig(
        name="scored_ts",
        path=str(tmp_path / "data" / "scored_ts"),
        time_field="ts",
        fields=[
            FieldConfig(name="ts", type="datetime"),
            FieldConfig(name="doc_id", type="number", number_type="i64"),
            FieldConfig(name="body", type="text"),
        ],
    )
    create_index(catalog, config)
    batches = [
        ("2024-05-01", [{"doc_id": 1, "body": "spark spark is fast"},
                        {"doc_id": 2, "body": "unrelated text"}]),
        ("2024-05-02", [{"doc_id": 3, "body": "spark is a distributed engine"}]),
        ("2024-05-03", [{"doc_id": 4, "body": "spark again elsewhere"}]),
    ]
    for i, (day, rows) in enumerate(batches):
        p = tmp_path / f"sts{i}.jsonl"
        p.write_text(
            "\n".join(
                json.dumps({**r, "ts": f"{day}T10:00:00Z"}) for r in rows
            ) + "\n"
        )
        index_batch(spark, catalog, "scored_ts", jsonl_path=str(p))
    segs = catalog.segments("scored_ts")
    assert len(segs) == 3

    captured = {}
    real_provider = bm25mod.merged_stats_provider

    def spy(spark_, stats_paths, score_field):
        captured["paths"] = list(stats_paths)
        return real_provider(spark_, stats_paths, score_field)

    monkeypatch.setattr(bm25mod, "merged_stats_provider", spy)

    q = "body:spark AND ts:[2024-05-02T00:00:00Z TO 2024-05-02T23:59:59Z]"
    df = scored_search_df(spark, catalog, "scored_ts", q, "body", limit=10)
    rows = df.collect()
    assert [r.doc_id for r in rows] == [3]

    surviving = [s for s in segs if s.min_day == "2024-05-02"]
    assert captured["paths"] == [
        stats_path(config, s.file_name) for s in surviving
    ], "stats read was not pruned to the surviving segments"

    # one data scan (the surviving segment) + one stats scan — the
    # pruned siblings never enter the plan (sparkPlan: the AQE
    # executedPlan string repeats scans in its Initial Plan section)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert plan.count("Scan parquet") == 2, plan

    # bounds that miss every segment: empty result, scored shape kept
    missed = scored_search_df(
        spark, catalog, "scored_ts", "body:spark AND ts:>2030-01-01T00:00:00Z",
        "body", limit=10,
    )
    assert missed.count() == 0 and "_score" in missed.columns


def test_segment_files_time_sorted_within_day(spark, catalog, tmp_path):
    """Rows inside each written segment file are time-ordered: parquet
    row-group min/max on a sorted column lets time-range predicates
    skip row groups inside the segments the manifest keeps."""
    import glob as _glob

    config = IndexConfig(
        name="sortidx",
        path=str(tmp_path / "data" / "sortidx"),
        time_field="ts",
        fields=[
            FieldConfig(name="ts", type="datetime"),
            FieldConfig(name="level", type="text", tokenizer="raw"),
        ],
    )
    create_index(catalog, config)
    # deliberately unsorted input, all inside one day
    rows = [
        {"ts": f"2024-07-01T{h:02d}:00:00Z", "level": f"L{h}"}
        for h in (9, 3, 17, 1, 12, 5)
    ]
    p = tmp_path / "unsorted.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    index_batch(spark, catalog, "sortidx", jsonl_path=str(p))

    files = _glob.glob(
        str(tmp_path / "data" / "sortidx" / "seg-*" / "*.parquet")
    )
    assert files
    for f in files:
        ts = [r.ts for r in spark.read.parquet(f).select("ts").collect()]
        assert ts == sorted(ts), f


def test_zone_map_pruning_on_number_fields(spark, catalog, tmp_path):
    """Per-number-field [min, max] zone maps recorded at write prune
    non-overlapping segments at the MANIFEST (no time field needed);
    merge combines the maps exactly; queries stay correct throughout."""
    from toshokan_spark.maintenance import merge_segments
    from toshokan_spark.plans.ast import parse_query
    from toshokan_spark.search import _pruned_segments

    config = IndexConfig(
        name="zm",
        path=str(tmp_path / "data" / "zm"),
        fields=[
            FieldConfig(name="tenant_id", type="number", number_type="u64"),
            FieldConfig(name="level", type="text", tokenizer="raw"),
        ],
    )
    create_index(catalog, config)
    for lo in (0, 100):  # two segments: tenants 0-9 and 100-109
        rows = [
            {"tenant_id": lo + i, "level": f"t{lo + i}"} for i in range(10)
        ]
        p = tmp_path / f"zm-{lo}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
        index_batch(spark, catalog, "zm", jsonl_path=str(p))

    segs = catalog.segments("zm")
    assert [s.field_stats["tenant_id"] for s in segs] == [[0, 9], [100, 109]]

    def survivors(q):
        _, _, out = _pruned_segments(config, segs, parse_query(q))
        return [s.field_stats["tenant_id"] for s in out]

    assert survivors("tenant_id:>50") == [[100, 109]]
    assert survivors("tenant_id:[3 TO 7]") == [[0, 9]]
    assert survivors("tenant_id:105") == [[100, 109]]
    assert survivors("tenant_id:>5 AND tenant_id:<8") == [[0, 9]]
    # disjunction unions bounds; unbounded disjunct kills pruning
    assert survivors("tenant_id:2 OR tenant_id:104") == [[0, 9], [100, 109]]
    assert survivors("tenant_id:2 OR level:t5") == [[0, 9], [100, 109]]
    # results stay correct through the pruned scan
    assert [
        json.loads(d)["tenant_id"]
        for d in search(spark, catalog, "zm", "tenant_id:>107", limit=10)
    ] == [108, 109]

    # a merge re-observes its zone maps from the merged rows
    merge_segments(spark, catalog, "zm")
    (merged,) = catalog.segments("zm")
    assert merged.field_stats["tenant_id"] == [0, 109]
    assert sorted(
        json.loads(d)["tenant_id"]
        for d in search(spark, catalog, "zm", "tenant_id:[8 TO 101]", limit=10)
    ) == [8, 9, 100, 101]


def test_segment_entry_backcompat_without_field_stats(catalog):
    """Old manifests (no field_stats key) still load and never prune."""
    from toshokan_spark.catalog import SegmentEntry

    s = SegmentEntry(id="x", file_name="seg-x", num_rows=1, created_at_ms=0)
    assert s.field_stats is None


def test_zone_map_pruning_on_raw_text_terms(spark, catalog, tmp_path):
    """Scalar raw-tokenizer text fields get string zone maps: an
    equality term prunes non-overlapping segments; tokenized fields
    and non-term predicates never prune."""
    from toshokan_spark.plans.ast import parse_query
    from toshokan_spark.search import _pruned_segments

    config = IndexConfig(
        name="zs",
        path=str(tmp_path / "data" / "zs"),
        fields=[
            FieldConfig(name="host", type="text", tokenizer="raw"),
            FieldConfig(name="body", type="text"),  # tokenized: no map
        ],
    )
    create_index(catalog, config)
    for batch in (["alpha", "bravo"], ["xray", "zulu"]):
        p = tmp_path / f"zs-{batch[0]}.jsonl"
        p.write_text(
            "\n".join(
                json.dumps({"host": h, "body": f"msg from {h}"}) for h in batch
            )
            + "\n"
        )
        index_batch(spark, catalog, "zs", jsonl_path=str(p))

    segs = catalog.segments("zs")
    assert [s.field_stats["host"] for s in segs] == [
        ["alpha", "bravo"], ["xray", "zulu"],
    ]
    assert "body" not in segs[0].field_stats

    def survivors(q):
        _, _, out = _pruned_segments(config, segs, parse_query(q))
        return [s.field_stats["host"] for s in out]

    assert survivors("host:zulu") == [["xray", "zulu"]]
    assert survivors("host:bravo") == [["alpha", "bravo"]]
    assert survivors("host:charlie") == []  # between the maps: nothing
    assert survivors("body:msg") == [["alpha", "bravo"], ["xray", "zulu"]]
    assert sorted(
        json.loads(d)["host"]
        for d in search(spark, catalog, "zs", "host:xray", limit=10)
    ) == ["xray"]


def test_zone_map_pruning_on_ip_fields(spark, catalog, tmp_path):
    """IP zone maps live in the order-preserving 32-hex key space of
    the __ipkey__ shadow column; terms and ranges prune through the
    same key the compiled predicate compares in (IPv4 and IPv6)."""
    from toshokan_spark.plans.ast import parse_query
    from toshokan_spark.search import _pruned_segments

    config = IndexConfig(
        name="zi",
        path=str(tmp_path / "data" / "zi"),
        fields=[FieldConfig(name="addr", type="ip")],
    )
    create_index(catalog, config)
    for batch in (["10.0.0.1", "10.0.0.9"], ["192.168.1.1", "192.168.1.9"]):
        p = tmp_path / f"zi-{batch[0].replace('.', '_')}.jsonl"
        p.write_text(
            "\n".join(json.dumps({"addr": a}) for a in batch) + "\n"
        )
        index_batch(spark, catalog, "zi", jsonl_path=str(p))

    segs = catalog.segments("zi")
    assert all(s.field_stats and "addr" in s.field_stats for s in segs)

    def n_survivors(q):
        _, _, out = _pruned_segments(config, segs, parse_query(q))
        return len(out)

    assert n_survivors("addr:10.0.0.5") == 1       # inside segment 1's map
    assert n_survivors("addr:10.0.0.200") == 0     # between the maps
    assert n_survivors("addr:192.168.1.3") == 1    # segment 2
    assert n_survivors("addr:[10.0.0.0 TO 10.255.255.255]") == 1
    assert n_survivors("addr:>9.0.0.0") == 2
    assert n_survivors("addr:not-an-ip") == 2      # unparseable: no pruning
    # correctness through the pruned scan
    assert sorted(
        json.loads(d)["addr"]
        for d in search(spark, catalog, "zi", "addr:>192.168.1.2", limit=10)
    ) == ["192.168.1.9"]


def test_subday_time_zone_map_prunes_same_day_segments(spark, catalog, tmp_path):
    """Streaming cadence: several segments inside ONE day — the
    sub-day [min, max] epoch-micros zone map drops non-overlapping
    micro-batches where the day range cannot."""
    from toshokan_spark.plans.ast import parse_query
    from toshokan_spark.search import _pruned_segments

    config = IndexConfig(
        name="sub",
        path=str(tmp_path / "data" / "sub"),
        time_field="ts",
        fields=[
            FieldConfig(name="ts", type="datetime"),
            FieldConfig(name="level", type="text", tokenizer="raw"),
        ],
    )
    create_index(catalog, config)
    for hour, lvl in ((8, "morning"), (20, "evening")):
        p = tmp_path / f"sub-{hour}.jsonl"
        p.write_text(
            json.dumps({"ts": f"2024-03-05T{hour:02d}:15:00Z", "level": lvl})
            + "\n"
        )
        index_batch(spark, catalog, "sub", jsonl_path=str(p))

    segs = catalog.segments("sub")
    assert len(segs) == 2 and all(s.field_stats and "ts" in s.field_stats for s in segs)
    assert all(s.min_day == s.max_day == "2024-03-05" for s in segs)

    def n_survivors(q):
        _, _, out = _pruned_segments(config, segs, parse_query(q))
        return len(out)

    # same day, morning-only window: day range keeps both, sub-day
    # micros keep exactly the morning segment
    assert n_survivors("ts:[2024-03-05T07:00:00Z TO 2024-03-05T12:00:00Z]") == 1
    assert n_survivors("ts:>2024-03-05T19:00:00Z") == 1
    assert n_survivors("ts:[2024-03-05T00:00:00Z TO 2024-03-05T23:59:59Z]") == 2
    # results stay correct through the pruned scan
    assert [
        json.loads(d)["level"]
        for d in search(
            spark, catalog, "sub",
            "ts:[2024-03-05T07:00:00Z TO 2024-03-05T12:00:00Z]", limit=10,
        )
    ] == ["morning"]


def test_token_bloom_pruning_on_tokenized_text(spark, catalog, tmp_path):
    """Per-segment token Bloom filters (functions/bloom.py) prune
    term/phrase queries on TOKENIZED fields at the manifest —
    conservative under OR / must_not — and stay correct through merge
    (same-geometry blooms union by bitwise OR)."""
    from toshokan_spark.maintenance import merge_segments
    from toshokan_spark.plans.ast import parse_query
    from toshokan_spark.search import _pruned_segments

    config = IndexConfig(
        name="blm",
        path=str(tmp_path / "data" / "blm"),
        fields=[
            FieldConfig(name="body", type="text"),       # default tokenizer
            FieldConfig(name="title", type="text", tokenizer="en_stem"),
        ],
    )
    create_index(catalog, config)
    batches = [
        [{"body": "alpha beta gamma", "title": "running fast"},
         {"body": "alpha delta", "title": "runs faster"}],
        [{"body": "omega sigma tau", "title": "sleeping dogs"}],
    ]
    for i, rows in enumerate(batches):
        p = tmp_path / f"blm-{i}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
        index_batch(spark, catalog, "blm", jsonl_path=str(p))

    segs = catalog.segments("blm")
    assert all(s.token_blooms and "body" in s.token_blooms for s in segs)

    def survivors(q):
        _, _, out = _pruned_segments(config, segs, parse_query(q))
        return len(out)

    assert survivors("body:alpha") == 1           # absent from segment 2
    assert survivors("body:omega") == 1           # absent from segment 1
    assert survivors("body:alpha AND body:omega") == 0  # impossible query
    assert survivors("body:nosuchtoken") == 0
    # stemmed field: query token stems to the indexed stem ('run')
    assert survivors("title:running") == 1
    assert survivors("title:sleeping") == 1
    # OR prunes only on tokens required by EVERY branch
    assert survivors("body:alpha OR body:omega") == 2
    # must_not never prunes
    assert survivors("body:beta AND NOT body:omega") == 1
    # phrase words are all required
    assert survivors('body:"omega sigma"') == 1
    # results stay correct through the pruned scan
    got = search(spark, catalog, "blm", "body:alpha", limit=10)
    assert len(got) == 2

    # a merge folds its blooms from the merged data, like a commit
    merge_segments(spark, catalog, "blm")
    (merged,) = catalog.segments("blm")
    from toshokan_spark.functions.bloom import bloom_might_contain
    bl = merged.token_blooms["body"]
    assert bloom_might_contain(bl, "alpha") and bloom_might_contain(bl, "omega")
    assert not bloom_might_contain(bl, "nosuchtoken")
    assert len(search(spark, catalog, "blm", "body:omega", limit=10)) == 1


def test_explain_cli_reports_pruning(spark, catalog, tmp_path, capsys):
    """The explain command prints per-segment scan/PRUNE decisions
    from the manifest and the formatted physical plan."""
    import sys

    from toshokan_spark import cli

    _setup(spark, catalog, tmp_path)
    rc = cli.main([
        "--catalog", catalog.root, "explain", "tsidx",
        "ts:[2024-01-02T00:00:00Z TO 2024-01-02T23:59:59Z]",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    assert "survive pruning" in out
    assert "== Physical Plan ==" in out


def test_explain_names_the_prune_rule_per_segment(spark, catalog, tmp_path, capsys):
    """Explain golden over a 3-segment index where every manifest
    prune tier fires: one segment survives, one is zone-map-pruned
    (number stats), one is bloom-pruned (required token absent) —
    the per-segment audit trail a 100×-scale operator reads to learn
    why a scan touched N files."""
    from toshokan_spark import cli

    config = IndexConfig(
        name="expidx",
        path=str(tmp_path / "data" / "expidx"),
        fields=[
            FieldConfig(name="n", type="number"),
            FieldConfig(name="body", type="text"),
        ],
    )
    create_index(catalog, config)
    batches = [
        [{"n": 1, "body": "alpha common"}, {"n": 10, "body": "alpha rare"}],
        [{"n": 100, "body": "alpha common"}],   # zone-pruned by n:<50
        [{"n": 2, "body": "omega common"}],     # bloom-pruned by body:alpha
    ]
    for i, rows in enumerate(batches):
        p = tmp_path / f"exp-{i}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
        index_batch(spark, catalog, "expidx", jsonl_path=str(p))

    rc = cli.main([
        "--catalog", catalog.root, "explain", "expidx",
        "n:<50 AND body:alpha",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    lines = [l for l in out.splitlines() if l.startswith("  ")]
    marks = [l.split()[0] for l in lines[:3]]
    assert marks == ["scan", "PRUNE[zone-map:n]", "PRUNE[bloom:body]"], out
    assert "segments: 3 manifested, 1 survive pruning" in out


def test_token_bloom_pruning_on_array_text_fields(spark, catalog, tmp_path):
    """Array text fields — including raw arrays, which zone maps skip
    entirely — get token blooms from the flattened shadow column."""
    from toshokan_spark.plans.ast import parse_query
    from toshokan_spark.search import _pruned_segments

    config = IndexConfig(
        name="blma",
        path=str(tmp_path / "data" / "blma"),
        fields=[
            FieldConfig(name="tags", type="text", tokenizer="raw", array=True),
            FieldConfig(name="body", type="text"),
        ],
    )
    create_index(catalog, config)
    for i, rows in enumerate([
        [{"tags": ["red", "blue"], "body": "alpha"}],
        [{"tags": ["green"], "body": "omega"}],
    ]):
        p = tmp_path / f"blma-{i}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
        index_batch(spark, catalog, "blma", jsonl_path=str(p))

    segs = catalog.segments("blma")
    assert all(s.token_blooms and "tags" in s.token_blooms for s in segs)

    def survivors(q):
        _, _, out = _pruned_segments(config, segs, parse_query(q))
        return len(out)

    assert survivors("tags:red") == 1
    assert survivors("tags:green") == 1
    assert survivors("tags:purple") == 0
    assert len(search(spark, catalog, "blma", "tags:red", limit=10)) == 1


def test_bloom_pruning_at_10k_segments(spark, catalog, tmp_path):
    """Bloom-probe scale: 10,000 manifest entries each carrying a
    token bloom must prune to the one segment containing the queried
    token within a sane driver-side time bound (hashes computed once
    per token, bitsets decoded once per segment-field)."""
    import time as _time

    from toshokan_spark.catalog import SegmentEntry, uuid7
    from toshokan_spark.functions.bloom import build_token_bloom
    from toshokan_spark.plans.ast import parse_query
    from toshokan_spark.search import _pruned_segments

    config = IndexConfig(
        name="bigblm",
        path=str(tmp_path / "data" / "bigblm"),
        fields=[FieldConfig(name="body", type="text")],
    )
    create_index(catalog, config)
    p = tmp_path / "bb.jsonl"
    p.write_text(json.dumps({"body": "needle in the haystack"}) + "\n")
    index_batch(spark, catalog, "bigblm", jsonl_path=str(p))

    ver, segs = catalog._read_versioned("bigblm")
    # one synthetic bloom over decoy tokens, reused by all fakes
    decoy = spark.createDataFrame([(f"tok{i}",) for i in range(100)], "body string")
    fake_bloom = build_token_bloom(decoy, "body", "default")
    fakes = [
        SegmentEntry(
            id=uuid7(), file_name=f"seg-fake-{i}", num_rows=1,
            created_at_ms=0, token_blooms={"body": fake_bloom},
        )
        for i in range(9_998)
    ]
    assert catalog._try_write_version("bigblm", ver + 1, segs + fakes)

    segs = catalog.segments("bigblm")
    t0 = _time.monotonic()
    _, _, kept = _pruned_segments(config, segs, parse_query("body:needle"))
    probe_s = _time.monotonic() - t0
    assert len(kept) == 1 and not kept[0].file_name.startswith("seg-fake-")
    assert probe_s < 5.0, f"bloom probe over 10k segments took {probe_s:.1f}s"


def test_stats_cli_reports_manifest_overview(spark, catalog, tmp_path, capsys):
    """The stats command prints the index overview from the manifest
    alone (no Spark session): segment count, row totals, day ranges,
    zone-mapped fields and bloom sizes."""
    from toshokan_spark import cli

    config = IndexConfig(
        name="stidx",
        path=str(tmp_path / "data" / "stidx"),
        time_field="ts",
        fields=[
            FieldConfig(name="ts", type="datetime"),
            FieldConfig(name="n", type="number"),
            FieldConfig(name="body", type="text"),
        ],
    )
    create_index(catalog, config)
    for i, day in enumerate(("2024-06-01", "2024-06-02")):
        p = tmp_path / f"st-{i}.jsonl"
        p.write_text(json.dumps(
            {"ts": f"{day}T08:00:00Z", "n": i * 10, "body": f"alpha doc {i}"}
        ) + "\n")
        index_batch(spark, catalog, "stidx", jsonl_path=str(p))

    rc = cli.main(["--catalog", catalog.root, "stats", "stidx"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "stidx: 2 segment(s), 2 row(s)" in out
    seg_lines = [l for l in out.splitlines() if l.startswith("  ")]
    assert len(seg_lines) == 2
    assert "days=2024-06-01..2024-06-01" in seg_lines[0]
    # zone maps render: the time field as RFC3339, numbers raw
    assert "ts:[2024-06-01T08:00:00Z..2024-06-01T08:00:00Z]" in seg_lines[0]
    assert "n:[0..0]" in seg_lines[0] and "n:[10..10]" in seg_lines[1]
    # the tokenized text field carries a bloom with its byte size
    assert "blooms=body(" in seg_lines[0]


def test_raw_prefix_and_wildcard_bounds():
    """Prefix queries — and the literal prefix of a wildcard glob —
    produce string zone-map bounds on raw fields (the Lucene
    literal-prefix trick): [p, succ(p)], intersected across must
    conjuncts; a bare-star glob contributes nothing."""
    from toshokan_spark.plans.ast import parse_query
    from toshokan_spark.query import _prefix_hi, raw_term_bounds

    assert raw_term_bounds(parse_query("sev:err*"), "sev") == ("err", "ers")
    # wildcard literal prefix: everything before the first meta char
    assert raw_term_bounds(parse_query("sev:erro?"), "sev") == ("erro", "errp")
    assert raw_term_bounds(parse_query("sev:er*or"), "sev") == ("er", "es")
    # leading star: no literal prefix, no bound
    assert raw_term_bounds(parse_query("sev:*ror"), "sev") == (None, None)
    # conjunct intersection with an equality term
    assert raw_term_bounds(
        parse_query("sev:err* AND sev:error"), "sev") == ("error", "error")
    # successor edge: a last codepoint at the ceiling drops the hi
    assert _prefix_hi("a\U0010FFFF") is None
    assert _prefix_hi("") is None


def test_prefix_query_prunes_segments_by_zone_map(spark, tmp_path):
    """End-to-end: two segments with disjoint raw-field zones; a
    prefix query prunes the wrong one at the MANIFEST level (before
    any scan plan exists), a wildcard with the same literal prefix
    prunes identically, and a leading-star glob keeps both."""
    import json as _json

    from toshokan_spark import cli
    from toshokan_spark.catalog import FsCatalog
    from toshokan_spark.search import _pruned_segments
    from toshokan_spark.plans.ast import parse_query

    cfg = {"name": "pfx", "path": str(tmp_path / "d"),
           "schema": {"fields": [
               {"name": "id", "type": "number"},
               {"name": "sev", "type": "text", "tokenizer": "raw"}]}}
    (tmp_path / "c.json").write_text(_json.dumps(cfg))
    a = [{"id": 1, "sev": "alpha"}, {"id": 2, "sev": "beta"}]
    b = [{"id": 3, "sev": "warn"}, {"id": 4, "sev": "zeta"}]
    (tmp_path / "a.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in a) + "\n")
    (tmp_path / "b.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in b) + "\n")
    cat = str(tmp_path / "cat")
    assert cli.main(["--catalog", cat, "create",
                     str(tmp_path / "c.json")]) == 0
    assert cli.main(["--catalog", cat, "index", "pfx",
                     str(tmp_path / "a.jsonl")]) == 0
    assert cli.main(["--catalog", cat, "index", "pfx",
                     str(tmp_path / "b.jsonl")]) == 0
    c = FsCatalog(cat)
    config = c.get_index("pfx")
    segs = c.segments("pfx")
    assert len(segs) == 2

    def survivors(q):
        _, _, out = _pruned_segments(config, segs, parse_query(q))
        return len(out)

    assert survivors("sev:w*") == 1          # prefix prunes the a/b seg
    assert survivors("sev:wa?n") == 1        # wildcard literal prefix too
    assert survivors("sev:al*a") == 1        # prunes the w/z segment
    assert survivors("sev:*arn") == 2        # leading star: keep all
    assert survivors("sev:q*") == 0          # nothing in [q, r)


def _commit_day_directory_segment(spark, catalog, config, rows):
    """Commit a segment the way the old ``time_field`` layout wrote it:
    ``seg-X/__day=YYYY-MM-DD/part-*.parquet``, recorded with the schema
    a read of it resolves to, ``__day`` included."""
    from pyspark.sql import functions as F

    from toshokan_spark.catalog import SegmentEntry, uuid7
    from toshokan_spark.ingest import ingest_projection
    from toshokan_spark.storage import join_path

    seg_id = uuid7()
    seg_path = join_path(config.path, f"seg-{seg_id}")
    lines = spark.createDataFrame([(json.dumps(r),) for r in rows], "value string")
    typed = ingest_projection(lines, config)
    typed.withColumn("__day", F.to_date("ts")).write.partitionBy("__day").parquet(seg_path)
    schema = spark.read.parquet(seg_path).schema
    assert schema.fieldNames()[-1] == "__day"
    days = sorted(r["ts"][:10] for r in rows)
    assert catalog.commit_segment(config.name, SegmentEntry(
        id=seg_id, file_name=f"seg-{seg_id}", num_rows=len(rows), created_at_ms=0,
        min_day=days[0], max_day=days[-1], schema=schema.jsonValue(),
    ))


def test_day_directory_segments_read_in_the_one_scan(spark, catalog, tmp_path):
    """Segments written in the old day-directory layout answer exactly
    like flat ones, through the same single scan, alone or mixed with
    flat segments, with or without recorded schemas; a merge rewrites
    them flat."""
    from dataclasses import replace

    from toshokan_spark.maintenance import merge_segments
    from toshokan_spark.search import read_segments

    def config(name):
        return IndexConfig(
            name=name, path=str(tmp_path / "data" / name), time_field="ts",
            fields=[
                FieldConfig(name="id", type="number", number_type="i64"),
                FieldConfig(name="ts", type="datetime"),
                FieldConfig(name="level", type="text", tokenizer="raw"),
                FieldConfig(name="msg", type="text"),
            ],
        )

    batches = [
        [{"id": 10 * d + i, "ts": f"2024-08-0{d}T{3 * i:02d}:00:00Z",
          "level": ["INFO", "WARN"][i % 2], "msg": f"disk {['full', 'ok'][d % 2]} {i}"}
         for d in days for i in range(4)]
        for days in ((1, 2), (3,), (4, 5))
    ]
    old, flat = config("oldidx"), config("flatidx")
    for c in (old, flat):
        create_index(catalog, c)
    for i, rows in enumerate(batches):
        p = tmp_path / f"b{i}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
        index_batch(spark, catalog, "flatidx", jsonl_path=str(p))
        if i < 2:
            _commit_day_directory_segment(spark, catalog, old, rows)
        else:
            index_batch(spark, catalog, "oldidx", jsonl_path=str(p))  # a flat one
    assert [s.schema["fields"][-1]["name"] for s in catalog.segments("oldidx")][:2] == [
        "__day", "__day"]

    queries = [
        "*", "level:WARN", "msg:full", "id:>=30",
        "ts:[2024-08-02T00:00:00Z TO 2024-08-04T06:00:00Z}",
        "ts:>2024-08-02T05:00:00Z AND NOT msg:ok",
    ]

    def ids(name, q):
        df = search_df(spark, catalog, name, q, limit=None)
        return sorted(r.id for r in df.select("id").collect())

    def check():
        for q in queries:
            assert ids("oldidx", q) == ids("flatidx", q), q

    # old segments alone: one scan node, no union, no __day column
    df = search_df(spark, catalog, "oldidx", "ts:<2024-08-04T00:00:00Z", limit=None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1 and "Union" not in plan, plan
    assert "__day" not in df.columns
    check()  # mixed: two old segments and one flat

    # without recorded schemas the same scan infers them from the footers
    segs = catalog.segments("oldidx")
    paths = [os.path.join(old.path, s.file_name) for s in segs]
    inferred = read_segments(spark, paths)
    pinned = read_segments(spark, paths, schemas=[s.schema for s in segs])
    assert inferred.schema == pinned.schema and "__day" not in inferred.columns
    def rows(df):
        return sorted((r.id, r.ts, r.msg) for r in df.collect())

    assert rows(inferred) == rows(pinned) and len(rows(pinned)) == 20
    ver, segs, dels = catalog.snapshot("oldidx")
    assert catalog._try_write_version(
        "oldidx", ver + 1, [replace(s, schema=None) for s in segs], dels)
    check()

    merge_segments(spark, catalog, "oldidx")
    (merged,) = catalog.segments("oldidx")
    seg_dir = os.path.join(old.path, merged.file_name)
    assert not [d for d in os.listdir(seg_dir) if os.path.isdir(os.path.join(seg_dir, d))]
    assert "__day" not in json.dumps(merged.schema)
    assert (merged.min_day, merged.max_day) == ("2024-08-01", "2024-08-05")
    check()


def test_64_one_day_segments_plan_one_scan(spark, tmp_path):
    """64 one-day segments, every one kept: ``search_df`` plans ONE
    scan node and no union, and planning plus execution run a pinned
    number of Spark jobs (counts, not wall time). A scan over more
    than 32 paths (``parallelPartitionDiscovery.threshold``) lists
    them in one Spark job while planning; at 32 paths or fewer it
    runs none."""
    from dataclasses import replace
    from datetime import datetime, timedelta, timezone

    from toshokan_spark.catalog import FsCatalog, SegmentEntry, uuid7

    from tools.measure import count_jobs

    catalog = FsCatalog(str(tmp_path / "catalog"))
    config = IndexConfig(
        name="days64", path=str(tmp_path / "data" / "days64"), time_field="ts",
        fields=[
            FieldConfig(name="ts", type="datetime"),
            FieldConfig(name="level", type="text", tokenizer="raw"),
        ],
    )
    create_index(catalog, config)
    # one write job lays out 64 day directories; each becomes a segment
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = [(t0 + timedelta(days=d, hours=6 * i + 1), f"L{i}", d)
            for d in range(64) for i in range(4)]
    stage = tmp_path / "stage"
    spark.createDataFrame(rows, "ts timestamp, level string, d int").write.partitionBy(
        "d").parquet(str(stage))
    os.makedirs(config.path, exist_ok=True)
    entries = []
    for d in range(64):
        seg_id = uuid7()
        os.rename(stage / f"d={d}", os.path.join(config.path, f"seg-{seg_id}"))
        day = (t0 + timedelta(days=d)).date().isoformat()
        entries.append(SegmentEntry(
            id=seg_id, file_name=f"seg-{seg_id}", num_rows=4, created_at_ms=0,
            min_day=day, max_day=day,
        ))
    schema = spark.read.parquet(os.path.join(config.path, entries[0].file_name)).schema
    ver, _ = catalog._read_versioned("days64")
    assert catalog._try_write_version(
        "days64", ver + 1, [replace(e, schema=schema.jsonValue()) for e in entries])

    def run(q):
        return search_df(spark, catalog, "days64", q, limit=None).collect()

    df = search_df(spark, catalog, "days64", "level:L1", limit=None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1 and "Union" not in plan, plan
    assert "InMemoryFileIndex(64 paths)" in plan, plan
    assert len(df.collect()) == 64

    run("level:L1")  # first-use warm-up
    # 64 paths: the listing job, then the scan
    assert count_jobs(spark, lambda: run("level:L1")) == 2
    # 16 kept segments: no listing job
    bounded = "ts:[2024-01-11T00:00:00Z TO 2024-01-27T00:00:00Z} AND level:L1"
    assert len(run(bounded)) == 16
    assert count_jobs(spark, lambda: run(bounded)) == 1
