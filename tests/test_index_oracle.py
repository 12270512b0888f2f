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
* a phrase with slop N matches when its words occur in order with at
  most N extra positions between the first and the last;
* a phrase prefix matches when its words but the last occur at
  consecutive positions and the next token starts with the last word,
  analyzed like the field's tokens (an over-long token starts with
  nothing);
* ``whitespace``-tokenized text is split on whitespace runs and keeps
  its case;
* a raw field's term or phrase is whole-value equality, its prefix a
  case-sensitive ``starts_with``; a raw array matches on some element;
* an ip compares by its 128-bit value, IPv4 as the IPv6-mapped
  address; a value that is no address compares as null;
* an unqualified term is the OR, over every indexed field and the
  ``_dynamic`` remainder (keys the schema does not declare, analyzed
  with ``default``), of the term on each field that can read it: a
  number, a boolean, an integer epoch in the documented range, an
  address;
* a bool query with must clauses ignores its should clauses; one with
  only must_not clauses matches nothing; a clause on a null or missing
  value is false.

Only the AST subset with an exact SQL translation is drawn: term,
phrase (with slop), prefix, phrase prefix, range, comparison and
exists leaves, and
unqualified terms, under bool must/should/must_not, half of them
inside a time-field range.
"""

import ipaddress
import itertools
import json
import random
import re
from dataclasses import replace
from datetime import datetime

import duckdb
import pytest
from duckdb.typing import BIGINT, BOOLEAN, VARCHAR
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from toshokan_spark.catalog import FsCatalog
from toshokan_spark.config import FieldConfig, IndexConfig
from toshokan_spark.indexer import index_batch
from toshokan_spark.maintenance import create_index, merge_segments
from toshokan_spark.plans.ast import (
    BoolQuery,
    Cmp,
    Phrase,
    PhrasePrefix,
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
WS_WORDS = ["Foo", "foo", "bar-baz", "QUX.", "x.foo", "東京", "a1", "A", "b"]
#: raw levels and whitespace words holding a quote or a backslash: the
#: compiled query carries them as hex string literals
QUOTED_LEVELS = ["it's", "C:\\tmp\\new", "\\u00e9'"]
QUOTED_WS = ["it's", "x\\y"]
IPS = ["10.0.0.1", "10.0.0.7", "::ffff:10.0.0.7", "192.168.1.20", "2001:db8::1",
       "2001:db8::ff", "not-an-ip"]
TAG_VALUES = ["x", "y", "big data", "Zürich", "t1"]
#: words only the undeclared ``note`` key (the _dynamic remainder) holds
DYN_WORDS = ["alpha", "Beta", "gamma"]
DELETE_QUERY = "level:DEBUG"
DELETE_SQL = "level = 'DEBUG'"
EXAMPLES = 60
#: the integer-epoch range of a datetime literal, in seconds
EPOCH_S = (72_057_595, 8_589_934_591)

FIELDS = [
    FieldConfig(name="id", type="number", number_type="i64"),
    FieldConfig(name="ts", type="datetime"),
    FieldConfig(name="level", type="text", tokenizer="raw"),
    FieldConfig(name="msg", type="text"),
    FieldConfig(name="score", type="number", number_type="f64"),
    FieldConfig(name="ok", type="boolean"),
    FieldConfig(name="ws", type="text", tokenizer="whitespace"),
    FieldConfig(name="ip", type="ip"),
    FieldConfig(name="tags", type="text", tokenizer="raw", array=True),
]
TAG = FieldConfig(name="tag", type="text", tokenizer="raw")


def _rows(rng, segment, days, with_tag):
    rows = []
    for i in range(40):
        day = rng.choice(days)
        row = {
            "id": segment * 1000 + i,
            "ts": f"2024-01-{day:02d}T{rng.randrange(24):02d}:{rng.randrange(60):02d}:00Z",
            "level": rng.choice(LEVELS + QUOTED_LEVELS),
            "msg": "".join(
                w + rng.choice(SEPS)
                for w in rng.choices(WORDS, k=rng.randint(1, 6))
            ).rstrip(" ,-/—"),
            "score": rng.randrange(-400, 400) / 8,
            "ok": rng.random() < 0.5,
            "ws": " ".join(rng.choices(WS_WORDS + QUOTED_WS, k=rng.randint(1, 4))),
            "ip": rng.choice(IPS),
            "tags": rng.sample(TAG_VALUES, rng.randint(0, 3)),
            "note": " ".join(rng.choices(WORDS[:-1] + DYN_WORDS, k=rng.randint(1, 3))),
            "code": rng.randrange(50),
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
    db.create_function(
        "seq_match", _seq_match,
        [duckdb.list_type(VARCHAR), duckdb.list_type(VARCHAR), BIGINT], BOOLEAN,
    )
    db.create_function(
        "prefix_match", _prefix_match,
        [duckdb.list_type(VARCHAR), duckdb.list_type(VARCHAR), VARCHAR, BOOLEAN], BOOLEAN,
    )
    db.execute(
        "CREATE TABLE raw (id BIGINT, ts TIMESTAMP, level VARCHAR, msg VARCHAR, "
        "score DOUBLE, ok BOOLEAN, tag VARCHAR, ws VARCHAR, ipk VARCHAR, "
        "tags VARCHAR[], note VARCHAR, code BIGINT)"
    )
    db.executemany(
        "INSERT INTO raw VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?)",
        [
            (
                r["id"],
                datetime.fromisoformat(r["ts"][:-1]) if r.get("ts") else None,
                r.get("level"), r.get("msg"), r.get("score"), r.get("ok"), r.get("tag"),
                r.get("ws"), _ipkey(r.get("ip")), r.get("tags"), r.get("note"),
                r.get("code"),
            )
            for r in rows
        ],
    )
    db.execute(
        r"""CREATE TABLE docs AS
        SELECT *, list_filter(pos, t -> strlen(t) <= 40) AS tok,
            list_filter(note_pos, t -> strlen(t) <= 40) AS note_tok
        FROM (
            SELECT *,
                list_transform(
                    list_filter(regexp_split_to_array(msg, '[^\p{L}\p{N}]+'), t -> t <> ''),
                    t -> lower(t)) AS pos,
                list_transform(
                    list_filter(regexp_split_to_array(note, '[^\p{L}\p{N}]+'), t -> t <> ''),
                    t -> lower(t)) AS note_pos,
                list_filter(regexp_split_to_array(ws, '\s+'), t -> t <> '') AS wstok
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


def _ipkey(text):
    """An address as 32 hex digits of its IPv6 value (IPv4 mapped), or
    None when the text is no address."""
    try:
        addr = ipaddress.ip_address(text)
    except (TypeError, ValueError):
        return None
    if addr.version == 4:
        addr = ipaddress.IPv6Address(f"::ffff:{addr}")
    return f"{int(addr):032x}"


def _seq_match(tokens, words, slop) -> bool:
    """Some in-order occurrence of *words* in *tokens* spanning at most
    ``len(words) + slop`` positions (brute force over every choice)."""
    if tokens is None:
        return None
    spots = [[i for i, t in enumerate(tokens) if t == w] for w in words]
    return any(
        all(a < b for a, b in zip(c, c[1:])) and c[-1] - c[0] + 1 - len(c) <= slop
        for c in itertools.product(*spots)
    )


def _prefix_match(tokens, words, prefix, limited) -> bool:
    """*words* at consecutive positions of *tokens*, the next token
    starting with *prefix*; with *limited*, an over-long token is not
    indexed and starts with nothing."""
    if tokens is None:
        return None
    k = len(words)
    return any(
        tokens[i:i + k] == words and tokens[i + k].startswith(prefix)
        and not (limited and len(tokens[i + k].encode()) > 40)
        for i in range(len(tokens) - k)
    )


def _value(field: str, text: str) -> str:
    if field == "ts":
        return f"TIMESTAMP {_lit(text[:-1].replace('T', ' '))}"
    if field == "ip":
        key = _ipkey(text)
        return "NULL" if key is None else _lit(key)
    return repr(float(text)) if field == "score" else str(int(text))


def _list(words: list) -> str:
    return "[" + ", ".join(_lit(w) for w in words) + "]::VARCHAR[]"


def _phrase(words: list, slop: int = 0, tok: str = "tok", pos: str = "pos") -> str:
    if not words:
        return "FALSE"
    if len(words) == 1:
        return f"list_contains({tok}, {_lit(words[0])})"
    return f"seq_match({pos}, {_list(words)}, {slop})"


def _number(text: str):
    try:
        return int(text)
    except ValueError:
        try:
            return float(text)
        except ValueError:
            return None


def _unqualified(text: str) -> str:
    """An unqualified term: OR over the fields that can read it."""
    words = _words(text)
    n = _number(text)
    parts = [
        _phrase(words),
        _phrase(text.split(), tok="wstok", pos="wstok"),
        f"level = {_lit(text)}",
        f"tag = {_lit(text)}",
        f"list_contains(tags, {_lit(text)})",
        _phrase(words, tok="note_tok", pos="note_pos"),  # _dynamic
        f"list_contains([CAST(code AS VARCHAR)], {_lit(text)})"
        if len(words) == 1 and words[0] == text else "FALSE",  # _dynamic
    ]
    if n is not None:
        parts += [f"id = {n!r}", f"score = {float(n)!r}"]
    if isinstance(n, int):
        for unit in (1, 1_000, 1_000_000, 1_000_000_000):
            if EPOCH_S[0] * unit <= n <= EPOCH_S[1] * unit:
                parts.append(f"ts = make_timestamp({n * 1_000_000 // unit})")
                break
    if text.lower() in ("true", "false"):
        parts.append(f"ok = {text.lower()}")
    if _ipkey(text) is not None:
        parts.append(f"ipk = {_lit(_ipkey(text))}")
    return " OR ".join(f"COALESCE({p}, FALSE)" for p in parts)


def _leaf(node) -> str:
    if node.field is None:
        return _unqualified(node.text)
    f = node.field[0]
    if isinstance(node, (Term, Phrase)):
        slop = getattr(node, "slop", 0)
        if f == "msg":
            return _phrase(_words(node.text), slop)
        if f == "ws":
            return _phrase(node.text.split(), slop, tok="wstok", pos="wstok")
        if f == "tags":
            return f"list_contains(tags, {_lit(node.text)})"
        if f in ("level", "tag"):
            return f"{f} = {_lit(node.text)}"
        if f == "ok":
            return f"ok = {node.text}"
        if f == "ip":
            return f"ipk = {_value(f, node.text)}"
        return f"{f} = {_value(f, node.text)}"
    if isinstance(node, PhrasePrefix):
        if f in ("msg", "ws"):
            words = _words(node.text) if f == "msg" else node.text.split()
            if not words:
                return "FALSE"
            col = "pos" if f == "msg" else "wstok"
            return (f"prefix_match({col}, {_list(words[:-1])}, {_lit(words[-1])}, "
                    f"{'TRUE' if f == 'msg' else 'FALSE'})")
        if f == "tags":
            return f"len(list_filter(tags, t -> starts_with(t, {_lit(node.text)}))) > 0"
        return f"starts_with({f}, {_lit(node.text)})"
    if isinstance(node, Prefix):
        if f == "msg":
            return f"len(list_filter(tok, t -> starts_with(t, {_lit(node.text.lower())}))) > 0"
        if f in ("ws", "tags"):
            col = "wstok" if f == "ws" else "tags"
            return f"len(list_filter({col}, t -> starts_with(t, {_lit(node.text)}))) > 0"
        return f"starts_with({f}, {_lit(node.text)})"
    col = "ipk" if f == "ip" else f
    if isinstance(node, Cmp):
        return f"{col} {node.op} {_value(f, node.value)}"
    if node.lo is None and node.hi is None:
        return f"{col} IS NOT NULL"
    parts = []
    if node.lo is not None:
        parts.append(f"{col} {'>=' if node.lo_inc else '>'} {_value(f, node.lo)}")
    if node.hi is not None:
        parts.append(f"{col} {'<=' if node.hi_inc else '<'} {_value(f, node.hi)}")
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
    if node.field is None:
        return node.text
    f = node.field[0]
    if isinstance(node, Term):
        return f"{f}:{node.text}"
    if isinstance(node, Phrase):
        return f'{f}:"{node.text}"' + (f"~{node.slop}" if node.slop else "")
    if isinstance(node, PhrasePrefix):
        return f'{f}:"{node.text}"*'
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
_ips = st.sampled_from(IPS[:-1] + ["10.0.0.0", "10.0.0.255", "::"])
_bounds = {"id": _ids, "score": _scores, "ts": _times, "ip": _ips}


def _range(field):
    b = _bounds[field]
    return st.builds(
        RangeQ, st.just((field,)), st.none() | b, st.none() | b, st.booleans(), st.booleans()
    )


def _cmp(field):
    return st.builds(Cmp, st.just((field,)), st.sampled_from([">", ">=", "<", "<="]), _bounds[field])


_phrase_text = st.lists(st.sampled_from(WORDS), min_size=1, max_size=3).map(" ".join)
_ws_text = st.lists(st.sampled_from(WS_WORDS), min_size=1, max_size=3).map(" ".join)


def _phrase_prefix(field, words, prefixes):
    return st.builds(
        lambda lead, p: PhrasePrefix((field,), " ".join(lead + [p])),
        st.lists(st.sampled_from(words), max_size=2), st.sampled_from(prefixes),
    )


#: unqualified literals: words of every text field and of _dynamic,
#: numbers, booleans and addresses
_unqualified_text = st.sampled_from(
    [w for w in WORDS + WS_WORDS + DYN_WORDS + LEVELS + TAG_VALUES if " " not in w]
    + ["spark-scan", "café-Zürich", "7", "1005", "2.5", "12.5", "true", "false",
       "10.0.0.7", "192.168.1.20"]
)
_leaves = st.one_of(
    st.builds(Term, st.just(None), _unqualified_text),
    st.builds(Term, st.just(("msg",)), st.sampled_from(WORDS + ["SPARK", "ZÜRICH", "table"])),
    st.builds(Phrase, st.just(("msg",)), _phrase_text, st.integers(0, 3)),
    st.builds(Term, st.just(("ws",)), st.sampled_from(WS_WORDS)),
    st.builds(Phrase, st.just(("ws",)), _ws_text, st.integers(0, 2)),
    st.builds(Prefix, st.just(("ws",)), st.sampled_from(["Fo", "fo", "bar", "x.", "東"])),
    st.builds(Term, st.just(("tags",)), st.sampled_from([v for v in TAG_VALUES if " " not in v])),
    st.builds(Phrase, st.just(("tags",)), st.sampled_from(TAG_VALUES)),
    st.builds(Prefix, st.just(("tags",)), st.sampled_from(["b", "Z", "t", "x"])),
    _phrase_prefix("msg", WORDS, ["sp", "T", "ca", "Zü", "東", "дан", "q", "x"]),
    _phrase_prefix("ws", WS_WORDS, ["Fo", "fo", "b", "bar", "x.", "東", "A", "Q"]),
    st.builds(PhrasePrefix, st.sampled_from([("tags",), ("level",), ("tag",)]),
              st.sampled_from(["b", "Z", "t", "I", "ER", "東"])),
    st.builds(Term, st.just(("ip",)), _ips),
    st.builds(Prefix, st.just(("msg",)), st.sampled_from(["sp", "T", "ca", "Zü", "東", "дан", "q"])),
    st.builds(Term, st.sampled_from([("level",), ("tag",)]),
              st.sampled_from([v for v in LEVELS + TAGS if " " not in v])),
    st.builds(Phrase, st.sampled_from([("level",), ("tag",)]), st.sampled_from(LEVELS + TAGS)),
    st.builds(Prefix, st.sampled_from([("level",), ("tag",)]),
              st.sampled_from(["I", "ER", "Ün", "t", "東", "info"])),
    st.builds(Term, st.just(("level",)), st.sampled_from(QUOTED_LEVELS)),
    st.builds(Term, st.just(("ws",)), st.sampled_from(QUOTED_WS)),
    st.builds(Prefix, st.sampled_from([("level",), ("ws",)]),
              st.sampled_from(["it'", "C:\\t", "x\\y"])),
    st.builds(Term, st.just(("id",)), _ids),
    st.builds(Term, st.just(("score",)), _scores),
    st.builds(Term, st.just(("ok",)), st.sampled_from(["true", "false"])),
    *[_range(f) for f in ("id", "score", "ts", "ip")],
    *[_cmp(f) for f in ("id", "score", "ts", "ip")],
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


def _check_one(spark, catalog, db, node):
    text = to_text(node)
    assert parse_query(text) == node, text
    want = {r[0] for r in db.execute(
        f"SELECT id FROM docs WHERE {to_sql(node)} AND NOT COALESCE({DELETE_SQL}, FALSE)"
    ).fetchall()}
    got = [r.id for r in search_df(spark, catalog, NAME, text, limit=None).select("id").collect()]
    assert len(got) == len(set(got)), text
    assert set(got) == want, (text, sorted(set(got) ^ want)[:10])


#: quoted values the default parser and the legacy one
#: (``spark.sql.parser.escapedStringLiterals``) must read alike
LEGACY_EXAMPLES = [Term(("level",), "it's"), Term(("ws",), "x\\y")]


def _check_all(spark, catalog, db):
    @settings(
        max_examples=EXAMPLES, derandomize=True, deadline=None, database=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(QUERIES)
    # disagreements the strategy has found, pinned: whitespace tokens
    # keep case and punctuation; an over-long token keeps its position
    @example(Phrase(("ws",), "foo QUX."))
    @example(Phrase(("ws",), "Foo foo"))
    @example(Phrase(("ws",), "foo a1"))
    @example(Phrase(("msg",), "query join", 1))
    @example(PhrasePrefix(("ws",), "A b"))
    @example(LEGACY_EXAMPLES[0])
    @example(LEGACY_EXAMPLES[1])
    def check(node):
        _check_one(spark, catalog, db, node)

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


def test_quoted_values_match_duckdb_in_legacy_parser_mode(oracle_index):
    spark, catalog, db = oracle_index
    conf = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "true")
    try:
        for node in LEGACY_EXAMPLES:
            _check_one(spark, catalog, db, node)
    finally:
        spark.conf.set(conf, before)
