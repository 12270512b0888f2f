"""End-to-end golden tests mirroring the reference's integration corpus
(`/root/reference/tests/config.rs:34-131` — five config cases, exact
output strings) plus the merge lifecycle (`tests/merge.rs:26-100`).
Fixture schemas/rows/goldens per FIXTURES.md.
"""

import json
import os

import pytest

from toshokan_spark.config import FieldConfig, IndexConfig
from toshokan_spark.indexer import index_batch
from toshokan_spark.maintenance import create_index, drop_index, merge_segments, MergeError
from toshokan_spark.search import search

HDFS_ROWS = [
    '{"timestamp":1460530013,"severity_text":"INFO","body":"PacketResponder: BP-108841162-10.10.34.11-1440074360971:blk_1074072698_331874, type=HAS_DOWNSTREAM_IN_PIPELINE terminating","resource":{"service":"datanode/01"},"attributes":{"class":"org.apache.hadoop.hdfs.server.datanode.DataNode"},"tenant_id":58}',
    '{"timestamp":1460530014,"severity_text":"INFO","body":"Receiving BP-108841162-10.10.34.11-1440074360971:blk_1074072706_331882 src: /10.10.34.33:42666 dest: /10.10.34.11:50010","resource":{"service":"datanode/01"},"attributes":{"class":"org.apache.hadoop.hdfs.server.datanode.DataNode"},"tenant_id":46}',
]

GOLDEN_F1 = '{"attributes":{"class":"org.apache.hadoop.hdfs.server.datanode.DataNode"},"body":"PacketResponder: BP-108841162-10.10.34.11-1440074360971:blk_1074072698_331874, type=HAS_DOWNSTREAM_IN_PIPELINE terminating","resource":{"service":"datanode/01"},"severity_text":"INFO","tenant_id":58,"timestamp":"2016-04-13T06:46:53Z"}'


def hdfs_config(tmp_path) -> IndexConfig:
    # example_config.yaml semantics: timestamp datetime, tenant_id u64,
    # resource dynamic_object, attributes static_object{class text};
    # severity_text/body unlisted -> _dynamic
    return IndexConfig(
        name="hdfs-logs",
        path=str(tmp_path / "data" / "hdfs-logs"),
        time_field="timestamp",
        fields=[
            FieldConfig(name="timestamp", type="datetime", formats=["rfc3339", "timestamp"], fast=True),
            FieldConfig(name="tenant_id", type="number", number_type="u64"),
            FieldConfig(name="resource", type="dynamic_object"),
            FieldConfig(
                name="attributes",
                type="static_object",
                fields=[FieldConfig(name="class", type="text")],
            ),
        ],
    )


def write_jsonl(tmp_path, rows, name="input.jsonl"):
    p = tmp_path / name
    p.write_text("\n".join(rows) + "\n")
    return str(p)


def seg_count(config: IndexConfig) -> int:
    base = config.path
    if not os.path.isdir(base):
        return 0
    return len([d for d in os.listdir(base) if d.startswith("seg-")])


# ---------------------------------------------------------------------------
# F1 hdfs-logs (`tests/config.rs:36-41`)
# ---------------------------------------------------------------------------

def test_f1_hdfs_logs(spark, catalog, tmp_path):
    config = hdfs_config(tmp_path)
    create_index(catalog, config)
    index_batch(spark, catalog, "hdfs-logs", write_jsonl(tmp_path, HDFS_ROWS))

    out = search(spark, catalog, "hdfs-logs", "tenant_id:>50 AND severity_text:INFO", limit=10)
    assert out == [GOLDEN_F1]

    # README.md:34 range form
    out = search(spark, catalog, "hdfs-logs", "tenant_id:[50 TO 65} AND severity_text:INFO", limit=10)
    assert out == [GOLDEN_F1]

    # body term routed to _dynamic (`tests/merge.rs:82`)
    out = search(spark, catalog, "hdfs-logs", "body:Receiving", limit=10)
    assert len(out) == 1 and json.loads(out[0])["tenant_id"] == 46

    # dotted path into a static_object (struct column; tantivy
    # resolves `a.b` to the flattened field, `config/mod.rs:147-162`)
    out = search(
        spark, catalog, "hdfs-logs", "attributes.class:datanode AND tenant_id:>50",
        limit=10,
    )
    assert out == [GOLDEN_F1]

    # dotted path into a dynamic_object (expand_dots JSON addressing,
    # `dynamic_object.rs:67-69`; default tokenizer raw -> exact value)
    out = search(
        spark, catalog, "hdfs-logs",
        'resource.service:"datanode/01" AND severity_text:INFO', limit=10,
    )
    assert len(out) == 2

    # exactly one segment after one batch (`tests/config.rs:172`)
    assert seg_count(config) == 1

    drop_index(catalog, "hdfs-logs")
    assert seg_count(config) == 0  # `tests/config.rs:181`
    assert not catalog.index_exists("hdfs-logs")


# ---------------------------------------------------------------------------
# F2 array of u64 (`tests/config.rs:42-56`)
# ---------------------------------------------------------------------------

def test_f2_array(spark, catalog, tmp_path):
    config = IndexConfig(
        name="array_test",
        path=str(tmp_path / "data" / "array_test"),
        fields=[FieldConfig(name="array", type="number", number_type="u64", array=True)],
    )
    create_index(catalog, config)
    index_batch(spark, catalog, "array_test", write_jsonl(tmp_path, ['{"array":[1,2,3,4]}']))
    out = search(spark, catalog, "array_test", "*", limit=10)
    assert out == ['{"array":[1,2,3,4]}']
    # term match against an array element
    out = search(spark, catalog, "array_test", "array:3", limit=10)
    assert out == ['{"array":[1,2,3,4]}']


# ---------------------------------------------------------------------------
# F3 boolean (`tests/config.rs:58-73`)
# ---------------------------------------------------------------------------

def test_f3_boolean(spark, catalog, tmp_path):
    config = IndexConfig(
        name="boolean_test",
        path=str(tmp_path / "data" / "boolean_test"),
        fields=[FieldConfig(name="something", type="boolean")],
    )
    create_index(catalog, config)
    index_batch(
        spark, catalog, "boolean_test",
        write_jsonl(tmp_path, ['{"something":true}', '{"something":false}']),
    )
    out = search(spark, catalog, "boolean_test", "something:false", limit=10)
    assert out == ['{"something":false}']


# ---------------------------------------------------------------------------
# F4 ip range (`tests/config.rs:75-91`)
# ---------------------------------------------------------------------------

def test_f4_ip_range(spark, catalog, tmp_path):
    config = IndexConfig(
        name="ip_test",
        path=str(tmp_path / "data" / "ip_test"),
        fields=[FieldConfig(name="something", type="ip")],
    )
    create_index(catalog, config)
    index_batch(
        spark, catalog, "ip_test",
        write_jsonl(
            tmp_path,
            [
                '{"something":"127.0.0.1"}',
                '{"something":"2001:db8::ff00:42:8329"}',
                '{"something":"192.168.0.1"}',
            ],
        ),
    )
    out = search(spark, catalog, "ip_test", "something:[190.0.0.1 TO 195.200.10.1]", limit=10)
    assert out == ['{"something":"192.168.0.1"}']
    # exact-term ip
    out = search(spark, catalog, "ip_test", "something:127.0.0.1", limit=10)
    assert out == ['{"something":"127.0.0.1"}']
    # ipv6 term with colons parses + matches
    out = search(spark, catalog, "ip_test", "something:2001:db8::ff00:42:8329", limit=10)
    assert out == ['{"something":"2001:db8::ff00:42:8329"}']


# ---------------------------------------------------------------------------
# F5 parse_string coercions (`tests/config.rs:93-121`)
# ---------------------------------------------------------------------------

def test_f5_parse_string(spark, catalog, tmp_path):
    config = IndexConfig(
        name="parse_string_test",
        path=str(tmp_path / "data" / "parse_string_test"),
        fields=[
            FieldConfig(name="negative", type="number", number_type="i64"),
            FieldConfig(name="positive", type="number", number_type="u64"),
            FieldConfig(name="float", type="number", number_type="f64"),
            FieldConfig(name="boolean", type="boolean"),
        ],
    )
    create_index(catalog, config)
    index_batch(
        spark, catalog, "parse_string_test",
        write_jsonl(
            tmp_path,
            [
                '{"negative": "-100", "positive": "100", "float": "25.52", "boolean": "FaLsE"}',
                '{"negative": "100", "positive": "500", "float": "-25.52", "boolean": "trUe"}',
            ],
        ),
    )
    out = search(spark, catalog, "parse_string_test", "negative:<0", limit=10)
    assert out == ['{"boolean":false,"float":25.52,"negative":-100,"positive":100}']


# ---------------------------------------------------------------------------
# F3b boolean parse_string=false: JSON strings rejected
# (`field_parser.rs:121-128` common_parse)
# ---------------------------------------------------------------------------

def test_f3b_boolean_strict(spark, catalog, tmp_path):
    config = IndexConfig(
        name="bool_strict",
        path=str(tmp_path / "data" / "bool_strict"),
        fields=[FieldConfig(name="something", type="boolean", parse_string=False)],
    )
    create_index(catalog, config)
    index_batch(
        spark, catalog, "bool_strict",
        write_jsonl(
            tmp_path,
            [
                '{"something":true}',      # real JSON bool -> accepted
                '{"something":"TRUE"}',    # string -> doc skipped
                '{"something":"false"}',   # even exact-case string -> skipped
                '{"something":false}',     # real JSON bool -> accepted
            ],
        ),
    )
    out = search(spark, catalog, "bool_strict", "*", limit=10)
    assert sorted(out) == ['{"something":false}', '{"something":true}']


# ---------------------------------------------------------------------------
# F4b array ip: ingest + term + range (ADVICE: UDF-in-lambda crash)
# ---------------------------------------------------------------------------

def test_f4b_array_ip(spark, catalog, tmp_path):
    config = IndexConfig(
        name="ip_arr",
        path=str(tmp_path / "data" / "ip_arr"),
        fields=[FieldConfig(name="addrs", type="ip", array=True)],
    )
    create_index(catalog, config)
    index_batch(
        spark, catalog, "ip_arr",
        write_jsonl(
            tmp_path,
            [
                '{"addrs":["127.0.0.1","192.168.0.1"]}',
                '{"addrs":["10.0.0.7"]}',
            ],
        ),
    )
    # element term match
    out = search(spark, catalog, "ip_arr", "addrs:192.168.0.1", limit=10)
    assert len(out) == 1 and "192.168.0.1" in out[0]
    # element range match (numeric on the hex key, not lexical)
    out = search(spark, catalog, "ip_arr", "addrs:[190.0.0.1 TO 195.200.10.1]", limit=10)
    assert len(out) == 1 and "192.168.0.1" in out[0]
    out = search(spark, catalog, "ip_arr", "addrs:[9.0.0.0 TO 11.0.0.0]", limit=10)
    assert len(out) == 1 and "10.0.0.7" in out[0]


# ---------------------------------------------------------------------------
# F2b u64 full range (`src/config/number.rs:8-14`: parse::<u64>)
# ---------------------------------------------------------------------------

def test_f2b_u64_full_range(spark, catalog, tmp_path):
    config = IndexConfig(
        name="u64_test",
        path=str(tmp_path / "data" / "u64_test"),
        fields=[FieldConfig(name="n", type="number", number_type="u64")],
    )
    create_index(catalog, config)
    index_batch(
        spark, catalog, "u64_test",
        write_jsonl(
            tmp_path,
            [
                '{"n":18446744073709551615}',   # 2^64-1: legal u64
                '{"n":9223372036854775808}',    # 2^63: overflows i64
                '{"n":1}',
                '{"n":-5}',                      # negative -> parse error, skipped
                '{"n":18446744073709551616}',    # 2^64 -> overflow, skipped
            ],
        ),
    )
    out = search(spark, catalog, "u64_test", "*", limit=10)
    assert sorted(json.loads(d)["n"] for d in out) == [1, 9223372036854775808, 18446744073709551615]
    # exact term on a > 2^63 value
    out = search(spark, catalog, "u64_test", "n:18446744073709551615", limit=10)
    assert out == ['{"n":18446744073709551615}']
    # one-sided range across the i64 boundary
    out = search(spark, catalog, "u64_test", "n:>9223372036854775807", limit=10)
    assert len(out) == 2


def test_dynamic_object_declared_tokenizer(spark, catalog, tmp_path):
    """A dynamic_object declared with a non-raw tokenizer tokenizes its
    values for term matching (`dynamic_object.rs:28-45` allows
    `indexed: {tokenizer}`; previously silently forced raw)."""
    config = IndexConfig(
        name="dyn_tok",
        path=str(tmp_path / "data" / "dyn_tok"),
        fields=[FieldConfig(name="meta", type="dynamic_object", tokenizer="default")],
    )
    create_index(catalog, config)
    index_batch(
        spark, catalog, "dyn_tok",
        write_jsonl(tmp_path, ['{"meta":{"svc":"Edge Gateway West"}}']),
    )
    # default tokenizer: term membership, case-insensitive
    assert len(search(spark, catalog, "dyn_tok", "meta.svc:gateway", limit=10)) == 1
    # raw default (no tokenizer declared) would require the exact value
    config2 = IndexConfig(
        name="dyn_raw",
        path=str(tmp_path / "data" / "dyn_raw"),
        fields=[FieldConfig(name="meta", type="dynamic_object")],
    )
    create_index(catalog, config2)
    index_batch(
        spark, catalog, "dyn_raw",
        write_jsonl(tmp_path, ['{"meta":{"svc":"Edge Gateway West"}}'], "r.jsonl"),
    )
    assert len(search(spark, catalog, "dyn_raw", "meta.svc:gateway", limit=10)) == 0
    assert len(search(spark, catalog, "dyn_raw", 'meta.svc:"Edge Gateway West"', limit=10)) == 1


# ---------------------------------------------------------------------------
# merge lifecycle (`tests/merge.rs:26-100`)
# ---------------------------------------------------------------------------

def test_merge_lifecycle(spark, catalog, tmp_path):
    config = hdfs_config(tmp_path)
    create_index(catalog, config)
    # two batches -> two segments
    index_batch(spark, catalog, "hdfs-logs", write_jsonl(tmp_path, [HDFS_ROWS[0]], "a.jsonl"))
    index_batch(spark, catalog, "hdfs-logs", write_jsonl(tmp_path, [HDFS_ROWS[1]], "b.jsonl"))
    assert len(catalog.segments("hdfs-logs")) == 2

    before_a = search(spark, catalog, "hdfs-logs", "tenant_id:>50 AND severity_text:INFO", limit=10)
    before_b = search(spark, catalog, "hdfs-logs", "body:Receiving", limit=10)
    assert before_a == [GOLDEN_F1]
    assert len(before_b) == 1

    merge_segments(spark, catalog, "hdfs-logs")
    assert len(catalog.segments("hdfs-logs")) == 1  # `tests/merge.rs:85`
    assert seg_count(config) == 1

    # compaction-invariance: same answers after merge
    assert search(spark, catalog, "hdfs-logs", "tenant_id:>50 AND severity_text:INFO", limit=10) == before_a
    assert search(spark, catalog, "hdfs-logs", "body:Receiving", limit=10) == before_b

    # cannot merge a single segment (`merge.rs:28-31`)
    with pytest.raises(MergeError):
        merge_segments(spark, catalog, "hdfs-logs")

    drop_index(catalog, "hdfs-logs")
    assert seg_count(config) == 0


# ---------------------------------------------------------------------------
# validation: array of static_object rejected (`create.rs:15-22`)
# ---------------------------------------------------------------------------

def test_bad_documents_skipped_not_failed(spark, catalog, tmp_path):
    """Unparseable field values / malformed JSON skip the whole
    document with the batch continuing (`src/commands/index.rs:150-156`);
    keep_rejects=True surfaces them for a dead-letter flow."""
    from toshokan_spark.ingest import REJECT_COL, ingest_projection

    config = IndexConfig(
        name="rej_test",
        path=str(tmp_path / "data" / "rej_test"),
        fields=[
            FieldConfig(name="ts", type="datetime"),
            FieldConfig(name="n", type="number", number_type="i64"),
        ],
    )
    create_index(catalog, config)
    rows = [
        '{"ts": 1716822728, "n": 1}',            # good
        '{"ts": "not-a-date", "n": 2}',          # bad datetime -> skip
        '{"ts": 1716822730, "n": "not-a-num"}',  # bad number -> skip
        'this is not json at all',               # malformed line -> skip
        '',                                      # blank line -> skip
        '   ',                                   # whitespace-only -> skip
        '{"ts": -1716822731, "n": 5}',           # negative epoch -> skip
        '{"ts": 1716822731, "n": "4"}',          # parse_string coercion -> good
    ]
    index_batch(spark, catalog, "rej_test", write_jsonl(tmp_path, rows))
    out = search(spark, catalog, "rej_test", "*", limit=10)
    assert sorted(json.loads(d)["n"] for d in out) == [1, 4]

    # the dead-letter view: rejects kept and flagged
    lines = spark.createDataFrame([(r,) for r in rows], ["value"])
    flagged = ingest_projection(lines, config, keep_rejects=True)
    assert flagged.filter(flagged[REJECT_COL]).count() == 6
    drop_index(catalog, "rej_test")


def test_en_stem_tokenizer_end_to_end(spark, catalog, tmp_path):
    """en_stem field: stemmed query terms match stemmed index tokens
    (`src/config/mod.rs:78-83` — tantivy delegates to the Snowball
    English stemmer; functions/tokenizers.py implements Porter2)."""
    config = IndexConfig(
        name="stem_test",
        path=str(tmp_path / "data" / "stem_test"),
        fields=[FieldConfig(name="body", type="text", tokenizer="en_stem")],
    )
    create_index(catalog, config)
    rows = [
        '{"body":"connections terminating quickly"}',
        '{"body":"unrelated words here"}',
    ]
    index_batch(spark, catalog, "stem_test", write_jsonl(tmp_path, rows))
    # query analyzed with the same stemmer: connection/connected/
    # connections all stem to "connect"
    for q in ("body:connection", "body:connected", "body:terminate"):
        out = search(spark, catalog, "stem_test", q, limit=10)
        assert len(out) == 1 and "terminating" in out[0], q
    # Snowball English: "quickly" stems to "quick" (step-2 li-deletion
    # after a valid li-ending) — classic Porter 1980 would give
    # "quickli" and miss; this pins the Snowball behavior
    assert search(spark, catalog, "stem_test", "body:quickly", limit=10)
    assert search(spark, catalog, "stem_test", "body:quick", limit=10)
    # different stems still don't match
    assert not search(spark, catalog, "stem_test", "body:quit", limit=10)
    # phrase on a stemmed field matches in STEM space: the index holds
    # [connect, termin, quick]; the phrase words stem to adjacent
    # tokens even though the raw text never contains them (VERDICT
    # wrong #5 — the unstemmed-regex strategy missed this)
    out = search(spark, catalog, "stem_test", 'body:"connection terminate"', limit=10)
    assert len(out) == 1 and "terminating" in out[0]
    assert not search(spark, catalog, "stem_test", 'body:"terminate connection"', limit=10)
    drop_index(catalog, "stem_test")


def test_phrase_slop_end_to_end(spark, catalog, tmp_path):
    """``"a b"~N`` proximity: up to N extra token positions between
    the words, in order (tantivy QueryParser slop syntax)."""
    config = IndexConfig(
        name="slop_test",
        path=str(tmp_path / "data" / "slop_test"),
        fields=[FieldConfig(name="body", type="text")],
    )
    create_index(catalog, config)
    index_batch(
        spark, catalog, "slop_test",
        write_jsonl(tmp_path, ['{"body":"the quick brown fox jumps high"}']),
    )

    def hit(q):
        return len(search(spark, catalog, "slop_test", q, limit=10)) == 1

    assert hit('body:"quick brown"')        # adjacent
    assert not hit('body:"quick fox"')      # one word apart, slop 0
    assert hit('body:"quick fox"~1')
    assert hit('body:"quick fox"~2')        # slop is an upper bound
    assert not hit('body:"quick jumps"~1')  # two apart
    assert hit('body:"quick jumps"~2')
    assert not hit('body:"fox quick"~5')    # order matters
    assert hit('body:"quick fox high"~3')   # 3-word, gaps 1+1 <= 3
    assert not hit('body:"quick fox high"~1')
    drop_index(catalog, "slop_test")


def test_phrase_slop_long_phrase_compiles_fast(spark):
    """The slop match compiles as a greedy O(k) chain — a 13-word
    phrase at slop 8 must not enumerate the ~126k gap compositions
    (the old compile exploded as (slop+1)^(k-1) before filtering,
    ~2.8e11 tuples: a query-of-death)."""
    import time
    from pyspark.sql import Row
    from pyspark.sql import functions as F
    from toshokan_spark.query import CompileError
    from toshokan_spark.query_sql import _token_seq_match_sql

    def fold(words, slop):
        return F.expr(_token_seq_match_sql("toks", words, slop))

    words = [f"w{i}" for i in range(13)]
    toks = (
        words[:4] + ["pad"] + words[4:9] + ["pad", "pad"] + words[9:]
    )  # gaps sum to 3
    df = spark.createDataFrame(
        [Row(toks=toks), Row(toks=["w0", "pad"] + words[2:])]
    )
    t0 = time.monotonic()
    col = fold(words, 8)
    compile_s = time.monotonic() - t0
    assert compile_s < 2.0, f"slop compile took {compile_s:.1f}s"
    got = [r.m for r in df.select(col.alias("m")).collect()]
    assert got == [True, False]  # second row is missing w1

    # greedy earliest-match is exact: the earliest 'b' at slop 1
    # dead-ends but slop 2 reaches past it
    df2 = spark.createDataFrame([Row(toks=["a", "b", "b", "c"])])
    abc = ["a", "b", "c"]
    assert not df2.select(fold(abc, 0).alias("m")).first().m
    assert df2.select(fold(abc, 1).alias("m")).first().m

    with pytest.raises(CompileError):
        _token_seq_match_sql("toks", [f"x{i}" for i in range(200)], 1)


def test_phrase_huge_slop_no_overflow(spark):
    """A crafted ``"a b"~3000000000`` must not become a runtime
    CAST_OVERFLOW (ANSI) inside the compiled slice expression — slop
    is clamped at compile time, and clamping is semantically exact
    (any slop wider than the doc is 'in order anywhere')."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F
    from toshokan_spark.query_sql import _token_seq_match_sql

    df = spark.createDataFrame(
        [Row(toks=["a", "x", "x", "b"]), Row(toks=["b", "x", "a"])]
    )
    col = F.expr(_token_seq_match_sql("toks", ["a", "b"], 3_000_000_000))
    got = [r.m for r in df.select(col.alias("m")).collect()]
    assert got == [True, False]


def test_array_of_static_object_rejected():
    from toshokan_spark.config import ConfigError

    with pytest.raises(ConfigError):
        FieldConfig(
            name="o", type="static_object", array=True,
            fields=[FieldConfig(name="x", type="text")],
        )


def test_concurrent_manifest_commits_lose_nothing(spark, catalog, tmp_path):
    """Optimistic concurrency on the versioned manifest log: a second
    writer stealing the next version mid-commit forces the first into
    a CAS retry that re-reads and re-applies — both segments end up
    manifested (the reference relied on Postgres transactions here)."""
    import time as _time

    from toshokan_spark.catalog import FsCatalog, SegmentEntry

    config = IndexConfig(
        name="cc_test",
        path=str(tmp_path / "data" / "cc_test"),
        fields=[FieldConfig(name="x", type="text")],
    )
    create_index(catalog, config)
    other = FsCatalog(catalog.root)  # an independent writer

    def entry(i):
        return SegmentEntry(
            id=f"seg{i}", file_name=f"seg-{i}", num_rows=1,
            created_at_ms=int(_time.time() * 1000),
        )

    # inject a competing commit between catalog's read and its write
    orig = catalog._try_write_version
    fired = []

    def race(name, version, segs, deletes=None):
        if not fired:
            fired.append(1)
            assert other.commit_segment("cc_test", entry(2))
        return orig(name, version, segs, deletes)

    catalog._try_write_version = race
    try:
        assert catalog.commit_segment("cc_test", entry(1))
    finally:
        catalog._try_write_version = orig

    ids = sorted(s.id for s in catalog.segments("cc_test"))
    assert ids == ["seg1", "seg2"]  # neither commit lost
    # the loser's retry produced a THIRD version (v1 create, v2 stolen,
    # v3 merged) — the log records the conflict history
    ver, _ = catalog._read_versioned("cc_test")
    assert ver == 3


def test_catalog_storage_failures_not_masked(catalog, tmp_path):
    """A transient storage failure (auth/network/quota) during
    manifest listing must PROPAGATE — only genuinely-missing paths
    read as an empty manifest. A bare except here once made a
    storage outage look like 0 search results."""
    from toshokan_spark.catalog import SegmentEntry

    config = IndexConfig(
        name="err_test",
        path=str(tmp_path / "data" / "err_test"),
        fields=[FieldConfig(name="x", type="text")],
    )
    create_index(catalog, config)
    catalog.commit_segment(
        "err_test",
        SegmentEntry(id="s0", file_name="seg-0", num_rows=1, created_at_ms=0),
    )
    orig = catalog._st.list_names

    def boom(path):
        raise PermissionError("simulated credential expiry")

    catalog._st.list_names = boom
    try:
        with pytest.raises(PermissionError):
            catalog.segments("err_test")
    finally:
        catalog._st.list_names = orig
    # missing manifest dir is still just "no segments"
    assert catalog.segments("never_created_index") == []


def test_catalog_read_survives_gc_race(catalog, tmp_path):
    """A reader whose listed latest version is GC'd between list and
    read re-lists and takes the newer latest (the list->read retry)."""
    from toshokan_spark.catalog import SegmentEntry
    from toshokan_spark.storage import StorageNotFound, join_path

    config = IndexConfig(
        name="race_test",
        path=str(tmp_path / "data" / "race_test"),
        fields=[FieldConfig(name="x", type="text")],
    )
    create_index(catalog, config)
    for i in range(3):
        catalog.commit_segment(
            "race_test",
            SegmentEntry(id=f"s{i}", file_name=f"seg-{i}", num_rows=1,
                         created_at_ms=0),
        )
    st = catalog._st
    orig_read = st.read_text
    fired = {"n": 0}

    def read_gone_once(path):
        # first manifest read: pretend GC deleted the version we listed
        if "race_test" in path and path.endswith(".json") and fired["n"] == 0:
            fired["n"] += 1
            raise StorageNotFound(path)
        return orig_read(path)

    st.read_text = read_gone_once
    try:
        segs = catalog.segments("race_test")
    finally:
        st.read_text = orig_read
    assert fired["n"] == 1 and len(segs) == 3


def test_manifest_version_gc_bounds_log_growth(spark, catalog, tmp_path):
    """The versioned manifest log must not grow unboundedly: after N
    commits only the last KEEP_VERSIONS (+ current) files remain, and
    the latest snapshot still lists every segment."""
    import time as _time

    from toshokan_spark.catalog import SegmentEntry
    from toshokan_spark.storage import join_path

    config = IndexConfig(
        name="gc_test",
        path=str(tmp_path / "data" / "gc_test"),
        fields=[FieldConfig(name="x", type="text")],
    )
    create_index(catalog, config)
    for i in range(25):
        catalog.commit_segment(
            "gc_test",
            SegmentEntry(id=f"s{i}", file_name=f"seg-{i}", num_rows=1,
                         created_at_ms=int(_time.time() * 1000)),
        )
    assert len(catalog.segments("gc_test")) == 25
    files = [n for n in catalog._st.list_names(join_path(catalog.root, "manifests", "gc_test"))
             if n.endswith(".json")]
    assert len(files) <= catalog.KEEP_VERSIONS + 1


def test_vacuum_removes_orphaned_segments(spark, catalog, tmp_path):
    """Crash residue (seg dirs written but never manifested) is
    removed; manifested segments and their stats survive."""
    from toshokan_spark.indexer import stats_path
    from toshokan_spark.maintenance import vacuum

    config = hdfs_config(tmp_path)
    create_index(catalog, config)
    index_batch(spark, catalog, "hdfs-logs", write_jsonl(tmp_path, HDFS_ROWS))
    (live_seg,) = [s.file_name for s in catalog.segments("hdfs-logs")]

    st = catalog.data_storage(config)
    # fake a crash between data write and manifest commit
    orphan = os.path.join(config.path, "seg-01900000-dead-7000-8000-000000000000")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "w") as f:
        f.write("junk")
    # and an orphaned stats sibling without a data dir
    stats_orphan = stats_path(config, "seg-01900000-bead-7000-8000-000000000001")
    os.makedirs(stats_orphan)

    # default min_age protects the freshly-written dirs (they are
    # indistinguishable from an in-flight commit); min_age=0 is the
    # no-writer-active fast path
    assert vacuum(catalog, "hdfs-logs") == []
    deleted = vacuum(catalog, "hdfs-logs", min_age_seconds=0)
    assert deleted == sorted([
        "seg-01900000-dead-7000-8000-000000000000",
        "seg-01900000-bead-7000-8000-000000000001",
    ])
    assert not os.path.exists(orphan) and not os.path.exists(stats_orphan)
    # the manifested segment is untouched (this config has no scalar
    # text field, so it never had a stats sibling to preserve)
    assert st.exists(os.path.join(config.path, live_seg))
    assert len(search(spark, catalog, "hdfs-logs", "tenant_id:>50 AND severity_text:INFO", limit=10)) == 1
    # idempotent
    assert vacuum(catalog, "hdfs-logs", min_age_seconds=0) == []


def test_vacuum_spares_inflight_write_then_reaps_stale(spark, catalog, tmp_path):
    """The age guard end-to-end: a concurrent writer's not-yet-
    manifested segment dir survives a default vacuum and its commit
    completes afterwards; a genuinely stale orphan (backdated mtimes)
    is reaped by the same call."""
    from toshokan_spark.catalog import SegmentEntry, uuid7
    from toshokan_spark.maintenance import vacuum

    config = hdfs_config(tmp_path)
    create_index(catalog, config)

    # in-flight: data written moments ago, manifest CAS still pending
    inflight = "seg-" + str(uuid7())
    inflight_path = os.path.join(config.path, inflight)
    os.makedirs(inflight_path)
    with open(os.path.join(inflight_path, "part-0.parquet"), "w") as f:
        f.write("being written")

    # stale orphan: same shape, but every mtime is an hour old
    stale = "seg-01900000-dead-7000-8000-00000000aaaa"
    stale_path = os.path.join(config.path, stale)
    os.makedirs(stale_path)
    with open(os.path.join(stale_path, "part-0.parquet"), "w") as f:
        f.write("junk")
    old = __import__("time").time() - 3600
    os.utime(os.path.join(stale_path, "part-0.parquet"), (old, old))
    os.utime(stale_path, (old, old))

    # deep in-flight write: only a DEPTH-2 task-attempt file is fresh
    # (the _temporary layout of an active Spark write) — the top dir
    # and its direct children look an hour old, and POSIX only bumps
    # the immediate parent's mtime, so a shallow probe would reap it
    deep = "seg-01900000-dead-7000-8000-00000000bbbb"
    deep_tmp = os.path.join(config.path, deep, "_temporary", "0")
    os.makedirs(deep_tmp)
    with open(os.path.join(deep_tmp, "task-attempt.parquet"), "w") as f:
        f.write("writing")
    for p in (
        os.path.join(config.path, deep),
        os.path.join(config.path, deep, "_temporary"),
    ):
        os.utime(p, (old, old))

    assert vacuum(catalog, "hdfs-logs") == [stale]
    assert os.path.exists(inflight_path) and not os.path.exists(stale_path)
    assert os.path.exists(deep_tmp)  # deep write survived the reap

    # the surviving writer finishes its commit and the segment is live
    catalog.commit_segment(
        "hdfs-logs",
        SegmentEntry(id=inflight[4:], file_name=inflight, num_rows=1,
                     created_at_ms=0),
    )
    assert inflight in {s.file_name for s in catalog.segments("hdfs-logs")}
    # a later unconditional vacuum leaves the MANIFESTED segment alone;
    # the never-committed deep write is a legitimate orphan by then
    assert vacuum(catalog, "hdfs-logs", min_age_seconds=0) == [deep]
    assert os.path.exists(inflight_path)
