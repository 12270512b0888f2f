"""The query compiler (query_sql.py): recorded answers, shape
coverage, shadow-column paths and the compile-error contract.

Every query in ``RENDERED_QUERIES`` must return exactly the ids in
``RECORDED_IDS`` on ``mixed_df``. Those ids were recorded once, by
running the Column backend's ``compile_query`` as of commit b221ad6
(the second lowering of the query language, deleted since) over
``RENDERED_QUERIES`` on this module's ``mixed_df``, and pasted here as
literals. They are the frozen reference: never regenerate them from
the current compiler. The list includes the shapes that backend alone
could answer: non-finite doubles, the unqualified phrase-prefix
fan-out, and en_stem and ip fields without their shadow columns."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from toshokan_spark.config import FieldConfig, IndexConfig  # noqa: E402
from toshokan_spark.plans.ast import ParseError  # noqa: E402
from toshokan_spark.query import compile_query  # noqa: E402


def _mixed_config() -> IndexConfig:
    return IndexConfig(
        name="mixed",
        path="",
        fields=[
            FieldConfig(name="id", type="number", number_type="i64"),
            FieldConfig(name="body", type="text", tokenizer="default"),
            FieldConfig(name="sev", type="text", tokenizer="raw"),
            FieldConfig(name="ws", type="text", tokenizer="whitespace"),
            FieldConfig(name="tags", type="text", tokenizer="raw",
                        array=True),
            FieldConfig(name="toks", type="text", tokenizer="default",
                        array=True),
            FieldConfig(name="u", type="number", number_type="u64"),
            FieldConfig(name="f", type="number", number_type="f64"),
            FieldConfig(name="ok", type="boolean"),
            FieldConfig(name="ts", type="datetime"),
            FieldConfig(
                name="obj", type="static_object",
                fields=[
                    FieldConfig(name="cls", type="text"),
                    FieldConfig(name="note", type="text",
                                tokenizer="en_stem"),
                    FieldConfig(name="addr", type="ip"),
                ],
            ),
            FieldConfig(name="res", type="dynamic_object"),
            FieldConfig(name="nums", type="number", number_type="i64",
                        array=True),
            FieldConfig(name="ghost", type="number", number_type="i64"),
            FieldConfig(name="stem", type="text", tokenizer="en_stem"),
            FieldConfig(name="ip", type="ip"),
            FieldConfig(name="ips", type="ip", array=True),
        ],
    )


def _mixed_frame(spark):
    """Rows exercising nulls, non-finite doubles, arrays, dynamic
    keys, structs, built WITHOUT the ingest shadow columns, so the
    compiler takes the inline-tokenize and inline-key paths (the
    percolator's situation: arriving docs have no index shadows).
    `ghost` is declared but absent."""
    from datetime import datetime
    from decimal import Decimal

    rows = [
        (1, "Spark Table scan", "INFO", "A b", ["x", "y"],
         ["Big Data", "spark"], Decimal(5), 1.5, True,
         datetime(2024, 1, 2, 3, 4, 5),
         ("K", "Running totals", "10.0.0.1"),
         {"service": "auth", "j": '{"lvl": "hot"}'}, [1, 5],
         "Connections terminating quickly", "192.168.0.1",
         ["10.0.0.1", "::1"]),
        (2, "slow query path", "DEBUG", "c D", [], ["other text"],
         Decimal(18446744073709551615), -2.0, False,
         datetime(2024, 6, 1, 0, 0, 0), ("L", "runner", "10.0.0.9"),
         {"service": "billing"}, [9],
         "a running total", "10.0.0.5", ["2001:db8::1"]),
        (3, None, None, None, None, None, None, None, None,
         None, (None, None, None), None, None, None, None, None),
        (4, "table TABLE spark", "INFO", "A  b", ["y"], [],
         Decimal(7), 0.0, True, datetime(2024, 1, 2, 3, 4, 5, 123456),
         ("K", None, "bad"), {"num": "42"}, [2, 3],
         "runs and runner", "195.200.10.1", []),
        (5, "spark tab", "WARN", "A b c", ["z"], ["spark table"],
         Decimal(0), float("nan"), None, datetime(2024, 3, 1),
         ("M", "terminated", "10.0.0.3"), {"service": "auth"}, [],
         "connection terminated", "bad ip", ["10.0.0.3", "junk"]),
        (6, "Spark Tables", None, None, None, None, None,
         float("inf"), True, None, None, None, None,
         None, "2001:db8::ff", None),
        (7, None, None, None, None, None, None, float("-inf"), None,
         None, None, None, None, None, None, None),
    ]
    schema = (
        "id long, body string, sev string, ws string, "
        "tags array<string>, toks array<string>, u decimal(20,0), "
        "f double, ok boolean, ts timestamp, "
        "obj struct<cls:string,note:string,addr:string>, "
        "res map<string,string>, nums array<long>, stem string, "
        "ip string, ips array<string>"
    )
    df = spark.createDataFrame(rows, schema)
    # the engine's dynamic remainder map
    return df.withColumn(
        "_dynamic",
        F.when(F.col("id") == 1, F.create_map(
            F.lit("extra"), F.lit('"Hello World"'),
            F.lit("n"), F.lit("7"))).otherwise(
            F.when(F.col("id") == 2, F.create_map(
                F.lit("extra"), F.lit('"hello"')))),
    )


@pytest.fixture(scope="module")
def mixed_df(spark):
    return _mixed_frame(spark)


RENDERED_QUERIES = [
    "*",
    "id:1",
    "id:[2 TO 4]",
    "id:>1 AND id:<=3",
    "sev:INFO",
    "sev:*",
    "body:spark",
    "body:table",
    'body:"spark table"',      # multi-token term -> adjacency regex
    "ws:b",
    "tags:x",
    "toks:spark",
    "toks:data",
    "u:5",
    "u:18446744073709551615",
    "u:[6 TO 99999999999999999999]",
    "f:1.5",
    "f:>=0",
    "f:<0",
    "ok:true",
    "ok:false",
    "ok:maybe",                # uncoercible -> matches nothing
    "ts:1704164645",
    "ts:[2024-01-01T00:00:00Z TO 2024-03-01T00:00:00Z]",
    "ts:>2024-05-01T00:00:00Z",
    "obj.cls:K",
    "res.service:auth",
    "res.j.lvl:hot",
    "extra:hello",             # undeclared -> _dynamic routing
    "extra:world",
    "n:7",
    "n:[5 TO 9]",              # dynamic numeric range (try_cast)
    "nums:5",
    "nums:[2 TO 3]",
    "nums:>8",
    "nums:[abc TO 5]",         # uncoercible array bound -> false
    "nums:[1 TO abc]",
    "nums:>abc",
    "ghost:1",                 # declared but absent -> typed null
    "ghost:[1 TO 2]",
    "sev:INFO AND body:spark",
    "sev:INFO OR sev:DEBUG",
    "+body:spark -body:slow",
    "NOT sev:DEBUG",
    "(sev:INFO OR sev:DEBUG) AND id:<3",
    "body:spar*",              # prefix
    "sev:INF*",
    "tags:x*",
    "body:spork~1",            # fuzzy
    "sev:INFp~1",
    "body:qu*",
    "body:/sp.rk/",            # regexp: full-match on a token
    "sev:/INF./",
    "body:t?ble",              # wildcard -> anchored token regex
    "id:/4./",                 # non-text regex: string rendering
    "tags:/[xy]/",
    "nums:/[0-9]/",
    "spark",                   # unqualified -> default-fields OR
    "hello",                   # unqualified hit only via _dynamic
    "5",                       # unqualified numeric literal
    "true",                    # unqualified boolean literal
    'body:"spark table"~1',    # slop phrase -> positional fold
    'body:"spark scan"~1',     # slop 1 bridges the middle word
    'body:"spark scan"~0',     # ...slop 0 does not
    'body:"table spark"~3',    # order matters even with slop
    'toks:"big data"',         # phrase on a text ARRAY (per element)
    'ws:"A b"',                # whitespace tokenizer phrase
    'ws:"A b"*',               # ...and phrase prefix
    'body:"spark tab"*',       # phrase prefix (boundary regex)
    'body:"spark t"*',
    'sev:"IN"*',               # raw: whole-value startswith
    'toks:"big da"*',          # array: positional prefix chain
    'extra:"hello wo"*',       # dynamic phrase prefix
    '"spark table"~2',         # UNQUALIFIED slop phrase fan-out
    '"slow query"',            # unqualified exact phrase
    "spar*",                   # unqualified prefix (text + dynamic)
    "hell*",                   # unqualified prefix via _dynamic only
    "spork~1",                 # unqualified fuzzy
    "sp?rk",                   # unqualified wildcard
    "hel*o",                   # unqualified wildcard via _dynamic
    # non-finite doubles
    "f:>inf",
    "f:nan",
    "f:<inf",
    "f:[1e999 TO *]",
    "f:inf",
    "f:[-inf TO 0]",
    "f:>-inf",
    "id:<inf",
    "u:<inf",
    "n:[-inf TO inf]",
    "nan",                     # unqualified non-finite literals
    "inf",
    # the unqualified phrase-prefix fan-out
    '"spark ta"*',
    '"spark t"*',
    # en_stem without a shadow tokens column
    "stem:running",
    "stem:run",
    "stem:connection",
    'stem:"connection terminate"',
    'stem:"connections terminated"~1',
    'stem:"terminated connection"~2',
    "stem:conn*",
    'stem:"connection term"*',
    "stem:/termin.*/",
    "stem:runer~1",
    "stem:*",
    "running",                 # unqualified: reaches the stemmed field
    "connections",
    "obj.note:run",            # en_stem static-object leaf
    'obj.note:"running total"',
    # ip without a shadow key column
    "ip:192.168.0.1",
    "ip:[190.0.0.1 TO 195.200.10.1]",
    "ip:>10.0.0.0",
    "ip:<=10.0.0.5",
    "ip:*",
    "ip:/.*c0a8.*/",
    "ip:notanip",
    "ips:10.0.0.1",
    "ips:[10.0.0.0 TO 10.0.0.4]",
    "ips:>2000::",
    "ips:*",
    "192.168.0.1",             # unqualified: reaches the ip field
    "obj.addr:10.0.0.1",       # ip static-object leaf
    "obj.addr:[10.0.0.0 TO 10.0.0.5]",
]

#: the Column backend's ids (see the module docstring). The queries
#: marked ``# shadow`` failed there without the en_stem shadow column
#: (UNSUPPORTED_FEATURE.LAMBDA_FUNCTION_WITH_PYTHON_UDF: the stemmer
#: ran inside a positional-match lambda); their ids were recorded
#: by the same backend with ``__tokens__stem`` added to the frame,
#: which holds the same tokens. ``obj.note`` has no shadow path at
#: all, so its phrase's ids are derived by hand: only row 1 stems
#: to the adjacent pair ``run total``.
RECORDED_IDS = {
    '*': [1, 2, 3, 4, 5, 6, 7],
    'id:1': [1],
    'id:[2 TO 4]': [2, 3, 4],
    'id:>1 AND id:<=3': [2, 3],
    'sev:INFO': [1, 4],
    'sev:*': [1, 2, 4, 5],
    'body:spark': [1, 4, 5, 6],
    'body:table': [1, 4],
    'body:"spark table"': [1],
    'ws:b': [1, 4, 5],
    'tags:x': [1],
    'toks:spark': [1, 5],
    'toks:data': [1],
    'u:5': [1],
    'u:18446744073709551615': [2],
    'u:[6 TO 99999999999999999999]': [],
    'f:1.5': [1],
    'f:>=0': [1, 4, 5, 6],
    'f:<0': [2, 7],
    'ok:true': [1, 4, 6],
    'ok:false': [2],
    'ok:maybe': [],
    'ts:1704164645': [1],
    'ts:[2024-01-01T00:00:00Z TO 2024-03-01T00:00:00Z]': [1, 4, 5],
    'ts:>2024-05-01T00:00:00Z': [2],
    'obj.cls:K': [1, 4],
    'res.service:auth': [1, 5],
    'res.j.lvl:hot': [1],
    'extra:hello': [1, 2],
    'extra:world': [1],
    'n:7': [1],
    'n:[5 TO 9]': [1],
    'nums:5': [1],
    'nums:[2 TO 3]': [4],
    'nums:>8': [2],
    'nums:[abc TO 5]': [],
    'nums:[1 TO abc]': [],
    'nums:>abc': [],
    'ghost:1': [],
    'ghost:[1 TO 2]': [],
    'sev:INFO AND body:spark': [1, 4],
    'sev:INFO OR sev:DEBUG': [1, 2, 4],
    '+body:spark -body:slow': [1, 4, 5, 6],
    'NOT sev:DEBUG': [],
    '(sev:INFO OR sev:DEBUG) AND id:<3': [1, 2],
    'body:spar*': [1, 4, 5, 6],
    'sev:INF*': [1, 4],
    'tags:x*': [1],
    'body:spork~1': [1, 4, 5, 6],
    'sev:INFp~1': [1, 4],
    'body:qu*': [2],
    'body:/sp.rk/': [1, 4, 5, 6],
    'sev:/INF./': [1, 4],
    'body:t?ble': [1, 4],
    'id:/4./': [],
    'tags:/[xy]/': [1, 4],
    'nums:/[0-9]/': [1, 2, 4],
    'spark': [1, 4, 5, 6],
    'hello': [1, 2],
    '5': [1, 5],
    'true': [1, 4, 6],
    'body:"spark table"~1': [1],
    'body:"spark scan"~1': [1],
    'body:"spark scan"~0': [],
    'body:"table spark"~3': [4],
    'toks:"big data"': [1],
    'ws:"A b"': [],
    'ws:"A b"*': [],
    'body:"spark tab"*': [1, 5, 6],
    'body:"spark t"*': [1, 5, 6],
    'sev:"IN"*': [1, 4],
    'toks:"big da"*': [1],
    'extra:"hello wo"*': [1],
    '"spark table"~2': [1, 5],  # shadow
    '"slow query"': [2],  # shadow
    'spar*': [1, 4, 5, 6],
    'hell*': [1, 2],
    'spork~1': [1, 4, 5, 6],
    'sp?rk': [1, 4, 5, 6],
    'hel*o': [1, 2],
    'f:>inf': [5],
    'f:nan': [5],
    'f:<inf': [1, 2, 4, 7],
    'f:[1e999 TO *]': [5, 6],
    'f:inf': [6],
    'f:[-inf TO 0]': [2, 4, 7],
    'f:>-inf': [1, 2, 4, 5, 6],
    'id:<inf': [1, 2, 3, 4, 5, 6, 7],
    'u:<inf': [1, 2, 4, 5],
    'n:[-inf TO inf]': [1],
    'nan': [5],
    'inf': [6],
    '"spark ta"*': [1, 5, 6],  # shadow
    '"spark t"*': [1, 5, 6],  # shadow
    'stem:running': [2, 4],
    'stem:run': [2, 4],
    'stem:connection': [1, 5],
    'stem:"connection terminate"': [1, 5],  # shadow
    'stem:"connections terminated"~1': [1, 5],  # shadow
    'stem:"terminated connection"~2': [],  # shadow
    'stem:conn*': [1, 5],
    'stem:"connection term"*': [1, 5],  # shadow
    'stem:/termin.*/': [1, 5],
    'stem:runer~1': [4],
    'stem:*': [1, 2, 4, 5],
    'running': [2, 4],
    'connections': [1, 5],
    'obj.note:run': [1],
    'obj.note:"running total"': [1],  # by hand
    'ip:192.168.0.1': [1],
    'ip:[190.0.0.1 TO 195.200.10.1]': [1, 4],
    'ip:>10.0.0.0': [1, 2, 4, 6],
    'ip:<=10.0.0.5': [2],
    'ip:*': [1, 2, 4, 6],
    'ip:/.*c0a8.*/': [1],
    'ip:notanip': [],
    'ips:10.0.0.1': [1],
    'ips:[10.0.0.0 TO 10.0.0.4]': [1, 5],
    'ips:>2000::': [2],
    'ips:*': [1, 2, 4, 5],
    '192.168.0.1': [1],  # shadow
    'obj.addr:10.0.0.1': [1],
    'obj.addr:[10.0.0.0 TO 10.0.0.5]': [1, 5],
}

#: recorded answers that were wrong, with the right ones. The Column
#: backend matched a slop-0 phrase and a phrase prefix on a
#: whitespace-tokenized field with a regex over the LOWERCASED value,
#: so one holding an uppercase word never matched; whitespace tokens
#: keep their case, and "A b" is adjacent in rows 1, 4 and 5. The
#: DuckDB oracle (tests/test_index_oracle.py) found both.
CORRECTED_IDS = {'ws:"A b"': [1, 4, 5], 'ws:"A b"*': [1, 4, 5]}


def test_rendered_queries_match_column_backend(spark, mixed_df):
    """Every query returns exactly its recorded ids (or its corrected
    ones), all evaluated in one projection."""
    config = _mixed_config()
    cols = set(mixed_df.columns)
    assert set(RECORDED_IDS) == set(RENDERED_QUERIES)
    checks = [
        F.coalesce(compile_query(q, config, cols), F.lit(False)).alias(f"c{i}")
        for i, q in enumerate(RENDERED_QUERIES)
    ]
    rows = mixed_df.select("id", *checks).collect()
    for i, q in enumerate(RENDERED_QUERIES):
        got = sorted(r.id for r in rows if r[f"c{i}"])
        assert got == CORRECTED_IDS.get(q, RECORDED_IDS[q]), (q, got)


def test_missing_shadow_columns_call_named_functions():
    """Without a shadow column the rendered text calls the registered
    stemmer or ip-key function; with it, it reads the shadow and calls
    neither (so an index scan registers nothing)."""
    from toshokan_spark.ingest import ipkey_col, tokens_col
    from toshokan_spark.query_sql import SQL_FUNCTIONS, render_query_sql

    cfg = IndexConfig(
        name="s", path="",
        fields=[FieldConfig(name="t", type="text", tokenizer="en_stem"),
                FieldConfig(name="a", type="ip")])
    bare = render_query_sql("t:running OR a:[10.0.0.0 TO 10.0.0.9]", cfg, {"t", "a"})
    assert "toshokan_en_stem(" in bare and "toshokan_ip_key(" in bare
    shadowed = render_query_sql(
        "t:running OR a:[10.0.0.0 TO 10.0.0.9]", cfg,
        {"t", "a", tokens_col("t"), ipkey_col("a")})
    assert not any(name in shadowed for name in SQL_FUNCTIONS)


def test_render_respects_shadow_columns(spark):
    """An en_stem field answers the same through its shadow tokens
    column and, without it, through the registered stemmer."""
    from toshokan_spark.functions.tokenizers import tokenize
    from toshokan_spark.ingest import tokens_col

    cfg = IndexConfig(
        name="sh", path="",
        fields=[
            FieldConfig(name="id", type="number", number_type="i64"),
            FieldConfig(name="t", type="text", tokenizer="en_stem"),
        ])
    bare = spark.createDataFrame(
        [(1, "connections terminating"), (2, "a running total"),
         (3, None), (4, "runs, connected, terminal")],
        "id long, t string",
    )
    shadowed = bare.withColumn(tokens_col("t"), tokenize(F.col("t"), "en_stem"))
    for q, want in (("t:connection", [1, 4]), ("t:run", [2, 4]),
                    ("t:nothing", []), ('t:"connection terminate"', [1, 4]),
                    ('t:"run total"~1', [2]), ('t:"running tot"*', [2])):
        got = [sorted(r.id for r in df.filter(
            compile_query(q, cfg, set(df.columns))).collect())
            for df in (bare, shadowed)]
        assert got == [want, want], q


@pytest.mark.parametrize("shadow", [False, True])
def test_phrases_keep_over_long_token_positions(spark, shadow):
    """An over-long (>40-byte) token is not indexed but keeps its
    position, on an ``en_stem`` field as on a ``default`` one, through
    the shadow stems (``shadow``) and through the registered stemmer:
    a phrase never spans it, a slop counts it and a phrase prefix
    never matches it."""
    from toshokan_spark.functions.tokenizers import tokenize
    from toshokan_spark.ingest import tokens_col

    cfg = IndexConfig(
        name="long", path="",
        fields=[
            FieldConfig(name="id", type="number", number_type="i64"),
            FieldConfig(name="t", type="text", tokenizer="en_stem"),
            FieldConfig(name="d", type="text"),
        ])
    long = "x" * 41
    texts = [(1, f"alpha {long} beta"), (2, "alpha beta"),
             (3, f"running {long} {long} fast dog"), (4, None),
             (5, f"{long} alpha beta")]
    df = spark.createDataFrame(
        [(i, t, t) for i, t in texts], "id long, t string, d string")
    if shadow:
        df = df.withColumn(tokens_col("t"), tokenize(F.col("t"), "en_stem"))
    for q, want in (('"alpha beta"', [2, 5]), ('"alpha beta"~1', [1, 2, 5]),
                    ('"running fast"', []), ('"running fast"~2', [3]),
                    ('"fast dog"', [3]), ('"alpha be"*', [2, 5]),
                    ('"alpha x"*', []), ('"running fa"*', [])):
        for field in ("t", "d"):
            c = F.coalesce(compile_query(f"{field}:{q}", cfg, set(df.columns)),
                           F.lit(False))
            got = sorted(r.id for r in df.filter(c).collect())
            assert got == want, (field, q, got)


def test_dynamic_phrase_prefix_never_matches_over_long_token(spark):
    """A phrase prefix over ``_dynamic`` values runs the positional
    chain of a ``default`` text field: the prefix never matches the
    start of an over-long (>40-byte) token, which is not indexed."""
    cfg = IndexConfig(
        name="dyn", path="",
        fields=[FieldConfig(name="id", type="number", number_type="i64"),
                FieldConfig(name="d", type="text")])
    long = "x" * 41
    df = spark.createDataFrame(
        [(1, f"hello {long}", {"extra": f'"hello {long}"'}),
         (2, "hello xy", {"extra": '"hello xy"'}),
         (3, "Hello, X-ray", {"extra": '"Hello, X-ray"'}),
         (4, None, None)],
        "id long, d string, _dynamic map<string,string>")
    for q, want in (('"hello x"*', [2, 3]), ('x*', [2, 3]),
                    ('"hello"*', [1, 2, 3]), ('"xy hello"*', [])):
        for field in ("d", "extra"):
            c = F.coalesce(compile_query(f"{field}:{q}", cfg, set(df.columns)),
                           F.lit(False))
            got = sorted(r.id for r in df.filter(c).collect())
            assert got == want, (field, q, got)


def test_render_raises_on_syntax_error():
    from toshokan_spark.query_sql import render_query_sql

    with pytest.raises(ParseError):
        render_query_sql('sev:"unterminated', _mixed_config(), {"sev"})


def test_render_raises_compile_errors_without_a_session():
    """Bad field paths and over-long phrases raise CompileError from
    the text render itself: validation needs no JVM."""
    from toshokan_spark.query import CompileError
    from toshokan_spark.query_sql import render_query_sql

    config = _mixed_config()
    long_phrase = '"' + " ".join(f"w{i}" for i in range(200)) + '"~1'
    for q in ("obj.nope:1", "obj:K", "res:auth", "id.x:1",
              "body:" + long_phrase):
        with pytest.raises(CompileError):
            render_query_sql(q, config)
    assert render_query_sql("id:>5", config)


def test_phrase_on_raw_array_field_matches_elements(spark, mixed_df):
    """Regression (r15): a phrase on a raw text ARRAY field — or an
    unqualified phrase fanning out over one — must match on some
    element, not die at analysis with eqNullSafe(array, string)."""
    config = _mixed_config()
    cols = set(mixed_df.columns)
    c = compile_query('tags:"x"', config, cols)
    assert [r.id for r in mixed_df.filter(c).select("id").collect()] \
        == [1]
    # the unqualified slop phrase that exposed it compiles and runs
    c2 = compile_query('"spark table"~2', config, cols)
    ids = sorted(r.id for r in mixed_df.filter(c2).select("id").collect())
    assert 1 in ids


def test_unqualified_queries_skip_absent_columns(spark, mixed_df):
    """Regression (r15): an unqualified term / prefix / fuzzy /
    wildcard over a config with a DECLARED-BUT-ABSENT column (ghost,
    the post-alter pre-ingest state) or a frame WITHOUT _dynamic must
    compile and run — the absent field contributes no clause — and
    the frame without _dynamic loses only the _dynamic hits."""
    config = _mixed_config()
    nodyn = mixed_df.drop("_dynamic")
    for q in ("spark", "5", "spa*", "spork~1", "sp?rk", "hello"):
        with_dyn = {r.id for r in mixed_df.filter(
            compile_query(q, config, set(mixed_df.columns))).collect()}
        without = {r.id for r in nodyn.filter(
            compile_query(q, config, set(nodyn.columns))).collect()}
        assert without <= with_dyn, q
    assert not nodyn.filter(
        compile_query("hello", config, set(nodyn.columns))).count()


def test_en_stem_array_field_ingests_and_answers(spark, tmp_path):
    """An ``en_stem`` array field batch-indexes (its elements are
    tokenized by the JVM chain, then the nested array is stemmed once,
    outside any lambda) and answers terms, phrases and prefixes, from
    the index and from a frame without the shadow column."""
    import json

    from toshokan_spark.catalog import FsCatalog
    from toshokan_spark.indexer import index_batch
    from toshokan_spark.maintenance import create_index
    from toshokan_spark.search import search_df

    cfg = IndexConfig(
        name="stems", path=str(tmp_path / "data"),
        fields=[
            FieldConfig(name="id", type="number", number_type="i64"),
            FieldConfig(name="t", type="text", tokenizer="en_stem", array=True),
        ])
    catalog = FsCatalog(str(tmp_path / "catalog"))
    create_index(catalog, cfg)
    docs = [{"id": 1, "t": ["Running fast", "slowly"]},
            {"id": 2, "t": ["running", "fast cars"]},
            {"id": 3, "t": ["runner"]},
            {"id": 4, "t": []},
            {"id": 5}]
    batch = tmp_path / "b.jsonl"
    batch.write_text("\n".join(json.dumps(d) for d in docs) + "\n")
    index_batch(spark, catalog, "stems", jsonl_path=str(batch))
    bare = spark.createDataFrame(
        [(d["id"], d.get("t")) for d in docs], "id long, t array<string>")
    # 'running fast' is adjacent only inside one element of doc 1
    for q, want in (("t:run", [1, 2]), ('t:"running fast"', [1]),
                    ("t:run*", [1, 2, 3])):
        hits = search_df(spark, catalog, "stems", q, limit=None)
        assert sorted(r.id for r in hits.collect()) == want, q
        got = bare.filter(compile_query(q, cfg, set(bare.columns)))
        assert sorted(r.id for r in got.collect()) == want, q
