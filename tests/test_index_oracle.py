"""Differential oracle for the index path: ``search_df`` against DuckDB.

A seeded ``time_field`` index of a few multi-day segments (nulls,
missing keys, non-ASCII text, a field added by ``alter`` after the
first segments, a pending delete) is queried with hypothesis-drawn
query ASTs, before and after a merge. Each query must return exactly
the id set DuckDB returns for the same query, translated here from the
AST to SQL. The translator is written from the query language's
documented semantics, independently of ``query_sql.py``:

* ``default``-tokenized text is split on runs of non-letter/non-digit
  characters and lowercased; tokens over 40 bytes are not indexed but
  keep their position, so a phrase never spans one;
* a raw field's term or phrase is whole-value equality, its prefix a
  case-sensitive ``starts_with``;
* a bool query with must clauses ignores its should clauses; one with
  only must_not clauses matches nothing; a clause on a null or missing
  value is false.

Only the AST subset with an exact SQL translation is drawn: term,
phrase, prefix, range, comparison and exists leaves under bool
must/should/must_not, half of them inside a time-field range.
"""

import json
import random
import re
from dataclasses import replace
from datetime import datetime

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from toshokan_spark.catalog import FsCatalog
from toshokan_spark.config import FieldConfig, IndexConfig
from toshokan_spark.indexer import index_batch
from toshokan_spark.maintenance import create_index, merge_segments
from toshokan_spark.plans.ast import (
    BoolQuery,
    Cmp,
    Phrase,
    Prefix,
    RangeQ,
    Term,
    parse_query,
)
from toshokan_spark.search import search_df

NAME = "oracle"
LONG = "x" * 41  # one byte over the token limit
WORDS = ["spark", "Table", "scan", "query", "join", "café", "Zürich",
         "東京", "данные", "a1", LONG]
LEVELS = ["INFO", "WARN", "ERROR", "DEBUG", "Ünïcode lvl"]
TAGS = ["t0", "t1", "t2", "東京"]
SEPS = [" ", "-", ", ", "/", " — "]
#: segment days; the third segment is written after ``tag`` is added
SEGMENT_DAYS = [(1, 2), (2, 3, 4), (4, 5)]
DELETE_QUERY = "level:DEBUG"
DELETE_SQL = "level = 'DEBUG'"
EXAMPLES = 60

FIELDS = [
    FieldConfig(name="id", type="number", number_type="i64"),
    FieldConfig(name="ts", type="datetime"),
    FieldConfig(name="level", type="text", tokenizer="raw"),
    FieldConfig(name="msg", type="text"),
    FieldConfig(name="score", type="number", number_type="f64"),
    FieldConfig(name="ok", type="boolean"),
]
TAG = FieldConfig(name="tag", type="text", tokenizer="raw")


def _rows(rng, segment, days, with_tag):
    rows = []
    for i in range(40):
        day = rng.choice(days)
        row = {
            "id": segment * 1000 + i,
            "ts": f"2024-01-{day:02d}T{rng.randrange(24):02d}:{rng.randrange(60):02d}:00Z",
            "level": rng.choice(LEVELS),
            "msg": "".join(
                w + rng.choice(SEPS)
                for w in rng.choices(WORDS, k=rng.randint(1, 6))
            ).rstrip(" ,-/—"),
            "score": rng.randrange(-400, 400) / 8,
            "ok": rng.random() < 0.5,
        }
        if with_tag:
            row["tag"] = rng.choice(TAGS)
        for key in list(row):
            if key == "id":
                continue
            roll = rng.random()
            if roll < 0.08:
                del row[key]  # missing key
            elif roll < 0.14:
                row[key] = None  # explicit null
        rows.append(row)
    return rows


@pytest.fixture(scope="module")
def oracle_index(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("oracle")
    catalog = FsCatalog(str(tmp / "catalog"))
    cfg = IndexConfig(name=NAME, path=str(tmp / "data"), time_field="ts", fields=FIELDS)
    create_index(catalog, cfg)
    rng = random.Random(6)
    rows = []
    for s, days in enumerate(SEGMENT_DAYS):
        if s == 2:
            catalog.update_index(replace(cfg, fields=FIELDS + [TAG]))  # alter
        batch = _rows(rng, s, days, with_tag=s == 2)
        path = tmp / f"batch{s}.jsonl"
        path.write_text("\n".join(json.dumps(r, ensure_ascii=False) for r in batch) + "\n")
        index_batch(spark, catalog, NAME, jsonl_path=str(path))
        rows += batch
    catalog.add_delete(NAME, DELETE_QUERY)

    db = duckdb.connect()
    db.execute(
        "CREATE TABLE raw (id BIGINT, ts TIMESTAMP, level VARCHAR, msg VARCHAR, "
        "score DOUBLE, ok BOOLEAN, tag VARCHAR)"
    )
    db.executemany(
        "INSERT INTO raw VALUES (?, ?, ?, ?, ?, ?, ?)",
        [
            (
                r["id"],
                datetime.fromisoformat(r["ts"][:-1]) if r.get("ts") else None,
                r.get("level"), r.get("msg"), r.get("score"), r.get("ok"), r.get("tag"),
            )
            for r in rows
        ],
    )
    db.execute(
        r"""CREATE TABLE docs AS
        SELECT *, list_filter(pos, t -> strlen(t) <= 40) AS tok
        FROM (
            SELECT *, list_transform(
                list_filter(regexp_split_to_array(msg, '[^\p{L}\p{N}]+'), t -> t <> ''),
                t -> lower(t)) AS pos
            FROM raw
        )"""
    )
    yield spark, catalog, db
    db.close()


# -- the reference: AST -> DuckDB SQL -----------------------------------------

def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _words(text: str) -> list:
    """The default tokenizer on query text: alphanumeric runs,
    lowercased, over-long tokens dropped."""
    return [w.lower() for w in re.findall(r"[^\W_]+", text) if len(w.encode()) <= 40]


def _value(field: str, text: str) -> str:
    if field == "ts":
        return f"TIMESTAMP {_lit(text[:-1].replace('T', ' '))}"
    return repr(float(text)) if field == "score" else str(int(text))


def _phrase(words: list) -> str:
    if not words:
        return "FALSE"
    if len(words) == 1:
        return f"list_contains(tok, {_lit(words[0])})"
    return (
        "(' ' || array_to_string(pos, ' ') || ' ') LIKE "
        + _lit("% " + " ".join(words) + " %")
    )


def _leaf(node) -> str:
    f = node.field[0]
    if isinstance(node, (Term, Phrase)):
        if f == "msg":
            return _phrase(_words(node.text))
        if f in ("level", "tag"):
            return f"{f} = {_lit(node.text)}"
        if f == "ok":
            return f"ok = {node.text}"
        return f"{f} = {_value(f, node.text)}"
    if isinstance(node, Prefix):
        if f == "msg":
            return f"len(list_filter(tok, t -> starts_with(t, {_lit(node.text.lower())}))) > 0"
        return f"starts_with({f}, {_lit(node.text)})"
    if isinstance(node, Cmp):
        return f"{f} {node.op} {_value(f, node.value)}"
    if node.lo is None and node.hi is None:
        return f"{f} IS NOT NULL"
    parts = []
    if node.lo is not None:
        parts.append(f"{f} {'>=' if node.lo_inc else '>'} {_value(f, node.lo)}")
    if node.hi is not None:
        parts.append(f"{f} {'<=' if node.hi_inc else '<'} {_value(f, node.hi)}")
    return " AND ".join(parts)


def to_sql(node) -> str:
    if not isinstance(node, BoolQuery):
        return f"COALESCE({_leaf(node)}, FALSE)"
    if node.must:
        out = " AND ".join(to_sql(n) for n in node.must)
    elif node.should:
        out = " OR ".join(to_sql(n) for n in node.should)
    else:
        out = "FALSE"
    for n in node.must_not:
        out = f"({out}) AND NOT {to_sql(n)}"
    return f"({out})"


# -- AST -> query text --------------------------------------------------------

def to_text(node) -> str:
    if isinstance(node, BoolQuery):
        return "(" + " ".join(
            [f"+{to_text(n)}" for n in node.must]
            + [to_text(n) for n in node.should]
            + [f"-{to_text(n)}" for n in node.must_not]
        ) + ")"
    f = node.field[0]
    if isinstance(node, Term):
        return f"{f}:{node.text}"
    if isinstance(node, Phrase):
        return f'{f}:"{node.text}"'
    if isinstance(node, Prefix):
        return f"{f}:{node.text}*"
    if isinstance(node, Cmp):
        return f"{f}:{node.op}{node.value}"
    return "%s:%s%s TO %s%s" % (
        f, "[" if node.lo_inc else "{", node.lo or "*", node.hi or "*",
        "]" if node.hi_inc else "}",
    )


# -- the strategy -------------------------------------------------------------

def _ts(day, hour):
    return f"2024-01-{day:02d}T{hour:02d}:00:00Z"


_ids = st.builds(lambda s, i: str(s * 1000 + i), st.integers(0, 2), st.integers(-2, 41))
_scores = st.integers(-420, 420).map(lambda n: repr(n / 8))
_times = st.builds(_ts, st.integers(1, 6), st.integers(0, 23))
_bounds = {"id": _ids, "score": _scores, "ts": _times}


def _range(field):
    b = _bounds[field]
    return st.builds(
        RangeQ, st.just((field,)), st.none() | b, st.none() | b, st.booleans(), st.booleans()
    )


def _cmp(field):
    return st.builds(Cmp, st.just((field,)), st.sampled_from([">", ">=", "<", "<="]), _bounds[field])


_phrase_text = st.lists(st.sampled_from(WORDS), min_size=1, max_size=3).map(" ".join)
_leaves = st.one_of(
    st.builds(Term, st.just(("msg",)), st.sampled_from(WORDS + ["SPARK", "ZÜRICH", "table"])),
    st.builds(Phrase, st.just(("msg",)), _phrase_text),
    st.builds(Prefix, st.just(("msg",)), st.sampled_from(["sp", "T", "ca", "Zü", "東", "дан", "q"])),
    st.builds(Term, st.sampled_from([("level",), ("tag",)]),
              st.sampled_from([v for v in LEVELS + TAGS if " " not in v])),
    st.builds(Phrase, st.sampled_from([("level",), ("tag",)]), st.sampled_from(LEVELS + TAGS)),
    st.builds(Prefix, st.sampled_from([("level",), ("tag",)]),
              st.sampled_from(["I", "ER", "Ün", "t", "東", "info"])),
    st.builds(Term, st.just(("id",)), _ids),
    st.builds(Term, st.just(("score",)), _scores),
    st.builds(Term, st.just(("ok",)), st.sampled_from(["true", "false"])),
    *[_range(f) for f in ("id", "score", "ts")],
    *[_cmp(f) for f in ("id", "score", "ts")],
    st.builds(RangeQ, st.sampled_from([(f.name,) for f in FIELDS + [TAG]]),
              st.none(), st.none(), st.just(False), st.just(False)),  # exists
)


def _bool(must, should, must_not):
    return BoolQuery(must=tuple(must), should=tuple(should), must_not=tuple(must_not))


def _children(inner):
    return st.builds(
        _bool,
        st.lists(inner, max_size=2), st.lists(inner, max_size=3), st.lists(inner, max_size=1),
    ).filter(lambda b: len(b.must) + len(b.should) >= 2 or (b.must_not and not b.must + b.should))


_trees = st.recursive(_leaves, _children, max_leaves=6)
_time_bounded = st.builds(
    lambda day, hour, hours, q: BoolQuery(must=(
        RangeQ(("ts",), _ts(day, hour), _ts(day + (hour + hours) // 24, (hour + hours) % 24),
               True, False),
        q,
    )),
    st.integers(1, 5), st.integers(0, 23), st.integers(1, 60), _trees,
)
QUERIES = _trees | _time_bounded


def _check_all(spark, catalog, db):
    @settings(
        max_examples=EXAMPLES, derandomize=True, deadline=None, database=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(QUERIES)
    def check(node):
        text = to_text(node)
        assert parse_query(text) == node, text
        want = {r[0] for r in db.execute(
            f"SELECT id FROM docs WHERE {to_sql(node)} AND NOT COALESCE({DELETE_SQL}, FALSE)"
        ).fetchall()}
        got = [r.id for r in search_df(spark, catalog, NAME, text, limit=None).select("id").collect()]
        assert len(got) == len(set(got)), text
        assert set(got) == want, (text, sorted(set(got) ^ want)[:10])

    check()


# the strategy's repr is long; hypothesis warns whenever it renders it
@pytest.mark.filterwarnings("ignore:Generating overly large repr")
def test_search_matches_duckdb_before_and_after_merge(oracle_index):
    spark, catalog, db = oracle_index
    segs = catalog.segments(NAME)
    assert len(segs) == 3 and all(s.max_day > s.min_day for s in segs)
    assert catalog.deletes(NAME)
    # the delete is pending: masked at read, not yet rewritten
    assert sum(s.num_rows for s in segs) == db.execute("SELECT count(*) FROM docs").fetchone()[0]
    _check_all(spark, catalog, db)

    merge_segments(spark, catalog, NAME)
    (merged,) = catalog.segments(NAME)
    assert not catalog.deletes(NAME)
    live = db.execute(
        f"SELECT count(*) FROM docs WHERE NOT COALESCE({DELETE_SQL}, FALSE)"
    ).fetchone()[0]
    assert merged.num_rows == live
    _check_all(spark, catalog, db)
