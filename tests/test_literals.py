"""The one literal renderer (``toshokan_spark/literals.py``).

Every value a driver computes re-enters a plan through ``sql_literal``
or ``literal_relation``. The battery below renders adversarial values
under both settings of ``spark.sql.parser.escapedStringLiterals`` and
compares them with ``createDataFrame`` of the same rows: the same
values bit for bit (sign of zero included), the same schema, the same
column order. The engine paths that render literals (search,
percolate, grouped_prefix, kcenter_select, percentile ranks, the
hashed classifier) must answer alike in both modes."""

import json
import math
import struct
from decimal import Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from toshokan_spark.literals import LITERAL_CAP, literal_relation, sql_literal

PARSER_CONF = "spark.sql.parser.escapedStringLiterals"

STRINGS = ["plain", "it's", "a\\b", "\\u00e9", "\\'", "''", "", "東京 données ✓",
           "line\nbreak", "\\", "'", "%_*"]
DOUBLES = [0.0, -0.0, 1.5, -2.25, 0.1, 1e20, 1e-7, math.nan, math.inf, -math.inf,
           5e-324, -5e-324, 2.2250738585072014e-308, 1.7976931348623157e308]
LONGS = [0, 1, -1, 2**63 - 1, -(2**63), 2**31, -(2**31) - 1]
INTS = [0, 7, 2**31 - 1, -(2**31)]
SCHEMA = T.StructType([
    T.StructField("k", T.IntegerType(), False),
    T.StructField("s", T.StringType()),
    T.StructField("d", T.DoubleType()),
    T.StructField("l", T.LongType()),
    T.StructField("i", T.IntegerType()),
    T.StructField("b", T.BooleanType()),
    T.StructField("ad", T.ArrayType(T.DoubleType())),
    T.StructField("as", T.ArrayType(T.StringType())),
    T.StructField("aal", T.ArrayType(T.ArrayType(T.LongType()))),
    T.StructField("m", T.MapType(T.StringType(), T.ArrayType(T.DoubleType()))),
])


def _rows():
    n = max(len(STRINGS), len(DOUBLES), len(LONGS))
    rows = []
    for k in range(n):
        rows.append((
            k, STRINGS[k % len(STRINGS)], DOUBLES[k % len(DOUBLES)],
            LONGS[k % len(LONGS)], INTS[k % len(INTS)], k % 2 == 0,
            DOUBLES[k:k + 3], STRINGS[k:k + 2] + [None],
            [LONGS[k % len(LONGS):][:2], [], None],
            {STRINGS[k % len(STRINGS)]: DOUBLES[k % 5:k % 5 + 2], "x'": None},
        ))
    rows.append((n, None, None, None, None, None, None, [], [[]], {}))
    return rows


def _bits(v):
    """Comparable form telling -0.0 from 0.0 (NaNs compare equal)."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else struct.pack(">d", v).hex()
    if isinstance(v, (list, tuple)):
        return [_bits(x) for x in v]
    if isinstance(v, dict):
        return sorted((_bits(k), _bits(x)) for k, x in v.items())
    return v


def _is_literal(df) -> bool:
    return "Generate inline" in df._jdf.queryExecution().analyzed().toString()


@pytest.fixture(params=["false", "true"], ids=["default_parser", "legacy_parser"])
def mode_spark(spark, request):
    before = spark.conf.get(PARSER_CONF)
    spark.conf.set(PARSER_CONF, request.param)
    try:
        yield spark
    finally:
        spark.conf.set(PARSER_CONF, before)


def test_literal_relation_equals_create_dataframe(mode_spark):
    spark = mode_spark
    rows = _rows()
    got = literal_relation(spark, rows, SCHEMA)
    want = spark.createDataFrame(rows, SCHEMA)
    assert _is_literal(got)
    assert got.schema == want.schema and got.columns == want.columns
    assert ([_bits(tuple(r)) for r in got.orderBy("k").collect()]
            == [_bits(tuple(r)) for r in want.orderBy("k").collect()])


def test_sql_literal_scalars_equal_create_dataframe(mode_spark):
    spark = mode_spark
    cases = ([(v, T.StringType()) for v in STRINGS]
             + [(v, T.DoubleType()) for v in DOUBLES]
             + [(v, T.LongType()) for v in LONGS]
             + [(v, T.IntegerType()) for v in INTS]
             + [(True, T.BooleanType()), (False, T.BooleanType()),
                (None, T.LongType()), (None, T.ArrayType(T.StringType()))])
    got = spark.range(1).select(*[
        F.expr(sql_literal(v, t)).alias(f"c{i}") for i, (v, t) in enumerate(cases)
    ])
    schema = T.StructType([T.StructField(f"c{i}", t) for i, (_v, t) in enumerate(cases)])
    want = spark.createDataFrame([tuple(v for v, _t in cases)], schema)
    assert [f.dataType for f in got.schema] == [f.dataType for f in want.schema]
    assert _bits(tuple(got.first())) == _bits(tuple(want.first()))


def test_refusals_fall_back_to_create_dataframe(spark):
    for v, t in [(Decimal("1.5"), T.DecimalType(10, 2)), (2**63, T.LongType()),
                 (2**31, T.IntegerType()), (True, T.LongType()), (1, T.DoubleType()),
                 ("x", T.BinaryType()), ({None: 1}, T.MapType(T.StringType(), T.LongType()))]:
        with pytest.raises(ValueError):
            sql_literal(v, t)
    schema = "g decimal(10,2), n long"
    rows = [(Decimal("1.25"), 3)]
    df = literal_relation(spark, rows, schema)
    assert not _is_literal(df) and [tuple(r) for r in df.collect()] == rows
    big = [(i,) for i in range(LITERAL_CAP + 1)]
    df = literal_relation(spark, big, "n long")
    assert not _is_literal(df) and df.count() == len(big)
    assert _is_literal(literal_relation(spark, big[:LITERAL_CAP], "n long"))
    empty = literal_relation(spark, [], "a string, b double")
    assert empty.columns == ["a", "b"] and empty.count() == 0


# -- engine paths in both parser modes ---------------------------------------

QUOTED = ["it's", "a\\b", "\\u00e9", "plain"]


@pytest.fixture(scope="module")
def quoted_index(spark, tmp_path_factory):
    from toshokan_spark.catalog import FsCatalog
    from toshokan_spark.config import FieldConfig, IndexConfig
    from toshokan_spark.indexer import index_batch
    from toshokan_spark.maintenance import create_index

    tmp = tmp_path_factory.mktemp("quoted")
    catalog = FsCatalog(str(tmp / "catalog"))
    cfg = IndexConfig(name="quoted", path=str(tmp / "data"), fields=[
        FieldConfig(name="id", type="number", number_type="i64"),
        FieldConfig(name="level", type="text", tokenizer="raw"),
        FieldConfig(name="ws", type="text", tokenizer="whitespace"),
    ])
    create_index(catalog, cfg)
    path = tmp / "batch.jsonl"
    path.write_text("".join(
        json.dumps({"id": i, "level": v, "ws": f"x {v}"}) + "\n" for i, v in enumerate(QUOTED)
    ))
    index_batch(spark, catalog, "quoted", jsonl_path=str(path))
    return catalog, cfg


def test_search_answers_alike_in_both_parser_modes(mode_spark, quoted_index):
    from toshokan_spark.search import search_df

    catalog, _cfg = quoted_index
    for i, v in enumerate(QUOTED):
        for q in (f"level:{v}", f"ws:{v}"):
            got = [r.id for r in search_df(mode_spark, catalog, "quoted", q, limit=None)
                   .select("id").collect()]
            assert got == [i], q


def test_percolate_answers_alike_in_both_parser_modes(mode_spark, quoted_index):
    from toshokan_spark.search import percolate

    _catalog, cfg = quoted_index
    docs = mode_spark.createDataFrame(
        [(i, v, f"x {v}") for i, v in enumerate(QUOTED)], "id long, level string, ws string")
    queries = [(f"q{v}", f"level:{v}") for v in QUOTED] + [("ws'q\\", "ws:it's")]
    got = sorted(tuple(r) for r in percolate(docs, queries, cfg, "id").collect())
    want = sorted([(i, f"q{v}") for i, v in enumerate(QUOTED)] + [(0, "ws'q\\")])
    assert got == want


def test_grouped_prefix_string_keys_alike_in_both_parser_modes(mode_spark):
    from pyspark.sql.window import Window

    from toshokan_spark.operators.util import grouped_prefix

    names = ["pl'ain", "back\\slash", "\\u00e9", "uni·中文", ""]
    df = mode_spark.createDataFrame([
        Row(g=g, k=i, s=float((i * 7 + j) % 5)) for j, g in enumerate(names) for i in range(9)
    ])
    out = grouped_prefix(df, "g", F.col("s"), [F.col("s").asc(), F.col("k").asc()], n_coarse=4)
    w = Window.partitionBy("g").orderBy(F.col("s").asc(), F.col("k").asc())
    want = {(r.g, r.k): r["__rank"]
            for r in df.withColumn("__rank", F.row_number().over(w)).collect()}
    assert {(r.g, r.k): r["__rank"] for r in out.collect()} == want


# -- satellites ---------------------------------------------------------------

def test_grouped_prefix_fallback_has_the_literal_column_order(spark):
    """A Decimal group key cannot render, so it takes the join path;
    both paths end in one projection."""
    from toshokan_spark.operators.util import grouped_prefix

    rows = [(g, i, (i * 5 + g) % 7) for g in range(3) for i in range(12)]
    lit = spark.createDataFrame(rows, "g long, k long, v long")
    dec = lit.withColumn("g", F.col("g").cast("decimal(10,2)"))
    outs = [
        grouped_prefix(df, "g", F.col("v"), [F.col("v").asc(), F.col("k").asc()],
                       value=F.col("v"), n_coarse=3, total_col="__n")
        for df in (lit, dec)
    ]
    assert outs[0].columns == outs[1].columns == ["g", "k", "v", "__rank", "__n", "__cumsum"]
    assert [f.dataType for f in outs[0].schema][1:] == [f.dataType for f in outs[1].schema][1:]
    key = ["k", "__rank", "__n", "__cumsum"]
    assert (sorted(tuple(r) for r in outs[0].select(key).collect())
            == sorted(tuple(r) for r in outs[1].select(key).collect()))


@pytest.mark.parametrize("local_threshold", [100_000, 0], ids=["local", "distributed"])
def test_kcenter_string_ids_keep_their_type(spark, local_threshold):
    from toshokan_spark.operators import similarity

    vecs = [[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [1.0, 1.0], [math.pi / 7, math.e / 9], [3.0, -1.0]]
    by_long = spark.createDataFrame([(10 + i, v) for i, v in enumerate(vecs)],
                                    "vec_id long, embedding array<double>")
    by_str = spark.createDataFrame([(f"id{10 + i}", v) for i, v in enumerate(vecs)],
                                   "vec_id string, embedding array<double>")
    got = similarity.kcenter_select(by_str, k=4, local_threshold=local_threshold)
    want = similarity.kcenter_select(by_long, k=4, local_threshold=local_threshold)
    assert got.schema["vec_id"].dataType == T.StringType()
    assert ([(r["rank"], r["vec_id"], r["dist"]) for r in got.orderBy("rank").collect()]
            == [(r["rank"], f"id{r['vec_id']}", r["dist"]) for r in want.orderBy("rank").collect()])


def test_percentile_ranks_answer_non_finite_probes(spark):
    from toshokan_spark.search import percentile_ranks_agg

    probes = [math.inf, -math.inf, math.nan, 0.0, -0.0]
    hits = spark.createDataFrame([(x,) for x in [-1.0, 0.0, 2.5, None, math.inf, -0.0]], "x double")
    got = [(_bits(r["value"]), r["pct_rank"])
           for r in percentile_ranks_agg(hits, "x", probes).collect()]
    c = F.col("x")
    want = []
    for v in probes:
        r = hits.agg(F.count(c).alias("n"),
                     F.sum(F.when(c <= F.lit(v), 1).otherwise(0)).alias("le")).first()
        ref = hits.sparkSession.range(1).select(
            F.lit(v).alias("value"),
            F.round(F.lit(100.0) * F.lit(float(r["le"])) / F.lit(float(r["n"])), 6).alias("p"),
        ).first()
        want.append((_bits(ref["value"]), ref["p"]))
    assert got == want


def test_hashed_classifier_answers_a_nan_label(spark, monkeypatch):
    """A NaN label nulls the gradient of the features only its document
    holds; the weights equal the same rounds fed through
    createDataFrame."""
    from toshokan_spark.operators import text

    df = spark.createDataFrame(
        [(1, "good text here", 1.0), (2, "bad spam words", 0.0),
         (3, "good odd one", math.nan), (4, "spam text", 0.0)],
        "doc_id long, text string, y double")
    got = sorted(_bits(tuple(r)) for r in
                 text.train_hashed_classifier(df, iters=3, dim=64).collect())
    monkeypatch.setattr(text, "literal_relation",
                        lambda s, rows, schema: s.createDataFrame(list(rows), schema))
    want = sorted(_bits(tuple(r)) for r in
                  text.train_hashed_classifier(df, iters=3, dim=64).collect())
    assert got == want and any(w is None for _i, w in got)
