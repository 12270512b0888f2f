"""Commit-time segment description in one grouped pass.

Every committed segment is described by its BM25 stats sidecar (one
``groupBy(field, term)`` over all scalar text fields) and its token
blooms (scalar fields observed during the sidecar write, array fields
by one aggregate). The reference implementations below are the
per-field formulations those replaced; the sidecar rows and every
bloom must equal theirs."""

import base64
import json

import pytest
from pyspark.sql import functions as F

from toshokan_spark.config import FieldConfig, IndexConfig
from toshokan_spark.functions import bloom
from toshokan_spark.functions.tokenizers import tokenize
from toshokan_spark.indexer import stats_path, write_segment
from toshokan_spark.ingest import ingest_projection
from toshokan_spark.maintenance import create_index, merge_segments
from toshokan_spark.operators.dedup import poly_hash
from toshokan_spark.storage import join_path

from test_segment_schema import _count_jobs

EVENT_FIELDS = [
    FieldConfig(name="event_id", type="number", number_type="i64"),
    FieldConfig(name="ts", type="datetime"),
    FieldConfig(name="user_id", type="number", number_type="i64", histogram_bin=100),
    FieldConfig(name="event_type", type="text", tokenizer="raw"),
    FieldConfig(name="value", type="number", number_type="f64"),
    FieldConfig(name="props", type="text", tokenizer="raw"),
    FieldConfig(name="message", type="text"),
]
WORDS = ["spark", "table", "scan", "query", "filter", "join", "merge", "token"]


DOC_FIELDS = [
    FieldConfig(name="doc_id", type="number", number_type="i64"),
    FieldConfig(name="text", type="text"),
    FieldConfig(name="lang", type="text", tokenizer="raw"),
    FieldConfig(name="source", type="text", tokenizer="raw"),
    FieldConfig(name="n_chars", type="number", number_type="i64", histogram_bin=100),
]


def _lines(spark, shape, batch, n=40):
    rows = []
    for i in range(n):
        text = " ".join(WORDS[(i + j) % len(WORDS)] for j in range(1 + i % 5))
        if shape == "events":
            rows.append({
                "event_id": batch * 1000 + i,
                "ts": f"2024-01-0{batch}T{i % 24:02d}:{i % 60:02d}:00Z",
                "user_id": (i * 37) % 500,
                "event_type": ["click", "view", "error"][i % 3],
                "value": i * 1.5,
                "props": json.dumps({"k": i % 7}),
                "message": text,
            })
        else:
            rows.append({
                "doc_id": batch * 1000 + i, "text": text,
                "lang": ["en", "de"][i % 2], "source": f"src{i % 4}",
                "n_chars": len(text),
            })
    return spark.createDataFrame([(json.dumps(r),) for r in rows], "value string")


#: jobs one commit runs on either benchmark shape: the data write, the
#: read that records the segment schema, the stats sidecar's aggregate
#: stage and write (the token blooms are observed on that write), and
#: the histogram field's aggregate stage and collect. The per-field
#: formulation ran 17.
WRITE_SEGMENT_JOBS = 6
#: jobs a two-segment merge runs: the data write (behind a repartition
#: on ``__day`` when the index has a time field), the schema read and
#: the stats sidecar's two; blooms are OR'd from the inputs. The
#: per-field formulation ran 10 on the events shape and 9 on the
#: documents shape.
MERGE_JOBS = {"events": 5, "documents": 4}


@pytest.mark.parametrize("shape", ["events", "documents"])
def test_commit_and_merge_job_budgets(spark, tmp_path, shape):
    from toshokan_spark.catalog import FsCatalog

    catalog = FsCatalog(str(tmp_path / "catalog"))
    events = shape == "events"
    cfg = IndexConfig(
        name=shape, path=str(tmp_path / "data" / shape),
        time_field="ts" if events else None,
        fields=list(EVENT_FIELDS if events else DOC_FIELDS),
    )
    create_index(catalog, cfg)
    write_segment(catalog, cfg, ingest_projection(_lines(spark, shape, 1), cfg))  # warm-up
    typed = ingest_projection(_lines(spark, shape, 2), cfg)
    assert _count_jobs(spark, lambda: write_segment(catalog, cfg, typed)) == WRITE_SEGMENT_JOBS
    segs = catalog.segments(shape)
    text = "message" if events else "text"
    assert len(segs) == 2 and all(text in s.token_blooms for s in segs)
    assert _count_jobs(
        spark, lambda: merge_segments(spark, catalog, shape)
    ) == MERGE_JOBS[shape]
    (merged,) = catalog.segments(shape)
    assert merged.num_rows == 80 and text in merged.token_blooms


# -- reference: the per-field formulations the grouped pass replaced ---------

def _reference_field_stats(df, fields):
    """One summary aggregate and one per-term aggregate per field."""
    out = None
    for name, tok in fields:
        toks = tokenize(F.col(name), tok)
        proj = df.select(F.array_distinct(toks).alias("__t"), F.size(toks).alias("__dl"))
        summary = proj.agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("__dl").alias("sum_dl")
        ).select(
            F.lit(name).alias("field"), F.lit(None).cast("string").alias("term"),
            F.lit(None).cast("long").alias("df"), "n_docs", "sum_dl",
        )
        per_term = (
            proj.select(F.explode("__t").alias("term"))
            .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
            .select(
                F.lit(name).alias("field"), "term", "df",
                F.lit(None).cast("long").alias("n_docs"),
                F.lit(None).cast("long").alias("sum_dl"),
            )
        )
        frame = summary.unionAll(per_term)
        out = frame if out is None else out.unionAll(frame)
    return out


def _reference_bloom(written, col_name, tokenizer, is_array):
    """Count the distinct tokens, then collect their bit positions."""
    shadow = f"__tokens__{col_name}"
    if shadow in written.columns:
        src = F.col(shadow)
    elif is_array:
        src = F.flatten(F.transform(F.col(col_name), lambda e: tokenize(e, tokenizer)))
    else:
        src = tokenize(F.col(col_name), tokenizer)
    toks = written.select(F.explode(src).alias("t")).where(F.col("t").isNotNull()).distinct()
    n = toks.count()
    if n == 0 or n > bloom.MAX_VOCAB:
        return None
    m = min(bloom.MAX_BITS, max(bloom.MIN_BITS, bloom._next_pow2(n * bloom.BITS_PER_TOKEN)))
    h1 = poly_hash(F.col("t"), *bloom._H1[:2], bloom._H1[2], bloom._H1[3])
    h2 = poly_hash(F.col("t"), *bloom._H2[:2], bloom._H2[2], bloom._H2[3])
    positions = toks.select(F.explode(F.array(*[
        ((h1 + i * h2) % m).cast("int") for i in range(bloom.K_HASHES)
    ])).alias("p")).agg(F.collect_set("p").alias("ps")).collect()[0]["ps"]
    bits = bytearray(m // 8)
    for p in positions:
        bits[p >> 3] |= 1 << (p & 7)
    return {"m": m, "k": bloom.K_HASHES, "b64": base64.b64encode(bytes(bits)).decode()}


EDGE_FIELDS = [
    FieldConfig(name="id", type="number"),
    FieldConfig(name="body", type="text"),
    FieldConfig(name="ws", type="text", tokenizer="whitespace"),
    FieldConfig(name="stem", type="text", tokenizer="en_stem"),
    FieldConfig(name="code", type="text", tokenizer="raw"),
    FieldConfig(name="tags", type="text", tokenizer="raw", array=True),
    FieldConfig(name="notes", type="text", array=True),
]
NFC, NFD = "caf\u00e9", "cafe\u0301"  # the same word, composed and decomposed
EDGE_BATCHES = [
    [
        {"id": 1, "body": f"Running {NFC} dogs", "ws": f"{NFD} X x", "stem": "running dogs ran",
         "code": "A-1", "tags": ["red", NFC], "notes": ["Alpha beta", "gamma"]},
        {"id": 2, "body": None, "ws": "", "stem": "   ", "code": None, "tags": [], "notes": None},
        {"id": 3},
        {"id": 4, "body": "   ", "ws": " \t ", "stem": "", "code": "", "tags": ["red"],
         "notes": ["", "  "]},
        {"id": 5, "body": f"東京 {NFD} ÄÖÜ äöü 😀", "ws": "東京 東京", "stem": "generously running",
         "code": NFD, "tags": [NFD, "blue"], "notes": ["ÄÖÜ"]},
    ],
    [
        {"id": 6, "body": "omega sigma", "ws": "omega", "stem": "sleeping", "code": "B-2",
         "tags": ["green"], "notes": ["sigma tau"]},
        {"id": 7, "body": "", "ws": None, "stem": None, "code": "B-2", "tags": None,
         "notes": []},
    ],
]


def _index_edge(spark, catalog, tmp_path, name, batches):
    from toshokan_spark.indexer import index_batch

    cfg = IndexConfig(name=name, path=str(tmp_path / "data" / name), fields=list(EDGE_FIELDS))
    create_index(catalog, cfg)
    for i, rows in enumerate(batches):
        p = tmp_path / f"{name}-{i}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
        index_batch(spark, catalog, name, jsonl_path=str(p))
    return cfg


def _reference_blooms(cfg, written):
    out = {}
    for f in cfg.fields:
        if f.type == "text" and (f.tokenizer != "raw" or f.array):
            b = _reference_bloom(written, f.name, f.tokenizer, f.array)
            if b is not None:
                out[f.name] = b
    return out or None


def _assert_sidecar_matches_reference(spark, cfg, seg):
    from toshokan_spark.functions.bm25 import STATS_SCHEMA
    from toshokan_spark.indexer import text_stat_fields

    written = spark.read.parquet(join_path(cfg.path, seg.file_name))
    sidecar = spark.read.schema(STATS_SCHEMA).parquet(stats_path(cfg, seg.file_name))
    got = [tuple(r) for r in sidecar.collect()]
    want = [tuple(r) for r in _reference_field_stats(written, text_stat_fields(cfg)).collect()]
    assert len(got) == len(want) and set(got) == set(want)
    # one file, sorted by (field, term) with each field's summary first
    key = [(f, t is not None, t or "") for f, t, *_ in got]
    assert key == sorted(key)
    assert len(sidecar.inputFiles()) == 1
    return written


def test_sidecar_rows_and_blooms_equal_per_field_reference(spark, tmp_path):
    from toshokan_spark.catalog import FsCatalog
    from toshokan_spark.functions.bloom import merge_blooms

    catalog = FsCatalog(str(tmp_path / "catalog"))
    cfg = _index_edge(spark, catalog, tmp_path, "edge", EDGE_BATCHES)
    segs = catalog.segments("edge")
    assert len(segs) == 2
    for seg in segs:
        written = _assert_sidecar_matches_reference(spark, cfg, seg)
        assert seg.token_blooms == _reference_blooms(cfg, written)
    assert set(segs[0].token_blooms) == {"body", "ws", "stem", "tags", "notes"}

    merged = merge_segments(spark, catalog, "edge")
    _assert_sidecar_matches_reference(spark, cfg, merged)
    # a merge ORs same-geometry input blooms and drops the others
    want = {n: merge_blooms([s.token_blooms[n] for s in segs]) for n in segs[0].token_blooms}
    assert merged.token_blooms == {n: b for n, b in want.items() if b is not None}


def test_vocabulary_over_cap_records_no_bloom(spark, tmp_path, monkeypatch):
    from toshokan_spark.catalog import FsCatalog

    catalog = FsCatalog(str(tmp_path / "catalog"))
    monkeypatch.setattr(bloom, "MAX_VOCAB", 1)
    cfg = _index_edge(spark, catalog, tmp_path, "capped", EDGE_BATCHES[1:])
    (seg,) = catalog.segments("capped")
    written = _assert_sidecar_matches_reference(spark, cfg, seg)
    assert seg.token_blooms == _reference_blooms(cfg, written)
    # only the fields with a single distinct token keep a bloom
    assert set(seg.token_blooms) == {"ws", "stem", "tags"}
