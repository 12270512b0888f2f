"""The query compiler: a parsed query (plans/ast.py) -> ONE SQL boolean
expression string, parsed by Spark in a single ``F.expr`` call.

This replaces the reference's tantivy ``QueryParser`` + per-segment
search execution (`src/commands/search.rs:111-238`) with a *logical*
compilation, and it is the only lowering of the query language:
Catalyst handles predicate pushdown and whole-stage codegen from
there. A term query on an indexed text field becomes
``array_contains(__tokens__field, term)``, a range on an ip field a
comparison on ``__ipkey__field``. Why SQL text and not a ``Column``
tree: building a Column tree pays one py4j round trip per operator
node, which is invisible for a single query but dominates when
HUNDREDS of queries compile into one plan — the percolator's width-Q
projection measured 27 s of plan CONSTRUCTION for Q=500 at sf0.01
against 1.5 s of execution.

Field routing mirrors the reference: the parser is built over all
indexed fields *plus* ``_dynamic`` (`search.rs:138-146,175-178`), so a
query over a field the schema doesn't claim routes to the ``_dynamic``
remainder map, and unqualified terms search every indexed field.

Frames without the ingest shadow columns (percolated documents,
static-object leaves) tokenize inline. Two analyses are Python, not
JVM expressions: the Snowball stemmer of ``en_stem`` fields and the
128-bit ip key. The text calls them as the named SQL functions in
:data:`SQL_FUNCTIONS`; :func:`sql_expr` registers on the analyzing
session exactly the ones a text calls, so an index scan, which reads
every shadow column, registers nothing. Spark rejects a Python UDF
inside a higher-order-function lambda, so no call is ever rendered
inside one: arrays go through whole-array variants, and a positional
match over a computed token array binds it once, outside its lambdas.

Compiling is a pure-text render and needs no Spark session: syntax
errors raise :class:`~toshokan_spark.plans.ast.ParseError`, bad field
paths and over-long phrases :class:`CompileError`.
``tests/test_query_sql.py`` pins every shape to recorded answers and
``tests/test_index_oracle.py`` checks the index path against DuckDB.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Optional

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType

from toshokan_spark.config import DYNAMIC_FIELD_NAME, IndexConfig
from toshokan_spark.functions.datetime_ import MAX_TS_SECONDS, MIN_TS_SECONDS
from toshokan_spark.functions.ip import _ip_key_arr_udf, _ip_key_udf, ip_literal_key
from toshokan_spark.functions.tokenizers import (
    TOKEN_BYTE_LIMIT,
    _stem_elements_udf,
    _stem_tokens_udf,
    analyze_term,
)
from toshokan_spark.ingest import ipkey_col, tokens_col
from toshokan_spark.literals import sql_literal
from toshokan_spark.plans.ast import (
    All,
    BoolQuery,
    Cmp,
    Fuzzy,
    Node,
    Phrase,
    PhrasePrefix,
    Prefix,
    RangeQ,
    Regex,
    Term,
    Wildcard,
    parse_query,
)

_NON_ALNUM_RE = r"[^\p{L}\p{N}]"
#: the literal types the compiler renders (literals.sql_literal)
_STR, _DBL = StringType(), DoubleType()
#: the `default` tokenizer split pattern (tokenizers._NON_ALNUM) and
#: the whitespace one, as SQL literals
_NON_ALNUM_SPLIT = sql_literal(r"[^\p{L}\p{N}]+", _STR)
_WS_SPLIT = sql_literal(r"\s+", _STR)

#: expression-size guard: the compiled phrase match chains O(k)
#: slice/array_position nodes; beyond this a pathological query would
#: stress codegen rather than explode combinatorially
MAX_PHRASE_WORDS = 128

#: slop clamp: a slop wider than any document's token count is
#: semantically identical to "words in order anywhere in the doc",
#: so clamping loses nothing — and an unbounded user value (``~N``
#: parses arbitrary digits) would overflow the int cast inside the
#: compiled slice expression (ANSI CAST_OVERFLOW at runtime, i.e. a
#: single crafted query killing the whole search job)
MAX_SLOP = 1_000_000

#: the named SQL functions the compiled text may call, each a pandas
#: UDF: the Snowball stemmer over a token array and over per-element
#: token arrays, and the ip sort key of a value and of an array
SQL_FUNCTIONS = {
    "toshokan_en_stem": _stem_tokens_udf,
    "toshokan_en_stem_elements": _stem_elements_udf,
    "toshokan_ip_key": _ip_key_udf,
    "toshokan_ip_keys": _ip_key_arr_udf,
}


class CompileError(ValueError):
    pass


def _num(lit: str):
    """Numeric literal: exact int when possible (u64 values past 2^53
    must not round through float), else float, else None."""
    try:
        return int(lit)
    except ValueError:
        try:
            return float(lit)
        except ValueError:
            return None


def _datetime_lit(lit: str) -> Optional[datetime]:
    s = lit.strip()
    try:
        v = int(s)
        for unit in (1, 1_000, 1_000_000, 1_000_000_000):
            if MIN_TS_SECONDS * unit <= v <= MAX_TS_SECONDS * unit:
                return datetime.fromtimestamp(v / unit, tz=timezone.utc)
        return None
    except ValueError:
        pass
    try:
        return datetime.fromisoformat(s.replace("Z", "+00:00"))
    except ValueError:
        return None


def _q(name: str) -> str:
    """Backtick-quote an identifier."""
    return "`" + name.replace("`", "``") + "`"


def _tok_sql(col_sql: str, tokenizer: str) -> str:
    """SQL text of ``tokenize(col, tokenizer)`` — the exact chain of
    functions/tokenizers.py, the stemmer as a named function."""
    if tokenizer in ("default", "en_stem"):
        toks = (
            f"transform(filter(split({col_sql}, {_NON_ALNUM_SPLIT}, -1), "
            f"__t -> length(__t) > 0 AND octet_length(__t) <= "
            f"{TOKEN_BYTE_LIMIT}), __t -> lower(__t))"
        )
        return f"toshokan_en_stem({toks})" if tokenizer == "en_stem" else toks
    if tokenizer == "raw":
        return (
            f"CASE WHEN {col_sql} IS NULL THEN NULL "
            f"ELSE array({col_sql}) END"
        )
    if tokenizer == "whitespace":
        return (
            f"filter(split({col_sql}, {_WS_SPLIT}, -1), "
            f"__t -> length(__t) > 0)"
        )
    raise AssertionError(tokenizer)


def _default_positions_sql(col_sql: str) -> str:
    """The `default` token stream with its positions: an over-long
    token is not indexed but keeps its place, as ``''`` (which no
    query word equals), so a phrase never spans it."""
    return (
        f"transform(filter(split({col_sql}, {_NON_ALNUM_SPLIT}, -1), "
        f"__t -> length(__t) > 0), __t -> CASE WHEN octet_length(__t) <= "
        f"{TOKEN_BYTE_LIMIT} THEN lower(__t) ELSE '' END)"
    )


def _elements_sql(col_sql: str, tokenizer: str) -> str:
    """SQL text of ``tokenize_elements(col, tokenizer)``: one token
    array per element of an array column, stemmed as a whole outside
    the per-element lambda."""
    if tokenizer == "en_stem":
        return (f"toshokan_en_stem_elements(transform({col_sql}, "
                f"__e -> {_tok_sql('__e', 'default')}))")
    return f"transform({col_sql}, __e -> {_tok_sql('__e', tokenizer)})"


def _stem_positions_sql(stems_sql: str, col_sql: str) -> str:
    """The stems of an `en_stem` value at their token positions, from
    its shadow stems column (which drops over-long tokens): each
    over-long token of the `default` position stream stays ``''`` and
    every other position takes the next stem, so a phrase never spans
    an over-long token. Text without one (the common case) reads the
    shadow column as it is."""
    pos = _default_positions_sql(col_sql)
    holders = "filter(sequence(0, size(__p) - 1), __j -> get(__p, __j) = '')"
    placed = (
        f"transform(__p, (__x, __i) -> CASE WHEN __x = '' THEN '' ELSE "
        f"get({stems_sql}, __i - size(filter(__h, __k -> __k < __i))) END)"
    )
    return (
        f"element_at(transform(array({pos}), __p -> "
        f"CASE WHEN size(__p) = size({stems_sql}) THEN {stems_sql} ELSE "
        f"element_at(transform(array({holders}), __h -> {placed}), 1) "
        f"END), 1)"
    )


def _element_positions_sql(col_sql: str, tokenizer: str) -> str:
    """Per-element token streams of an array column for positional
    matching: `default` and `en_stem` elements keep their positions."""
    if tokenizer == "default":
        return f"transform({col_sql}, __e -> {_default_positions_sql('__e')})"
    if tokenizer == "en_stem":
        return (f"toshokan_en_stem_elements(transform({col_sql}, "
                f"__e -> {_default_positions_sql('__e')}))")
    return _elements_sql(col_sql, tokenizer)


def _is_column(sql: str) -> bool:
    """A column or lambda-variable reference, not a computed value."""
    return re.fullmatch(r"`(?:[^`]|``)+`|__\w+", sql) is not None


def _token_seq_match_sql(toks: str, words: list, slop: int) -> str:
    """True when *words* appear IN ORDER in *toks* with at most
    ``slop`` extra token positions distributed between them (Lucene/
    tantivy in-order proximity; the transposition move is not
    modelled). slop=0 is exact adjacency.

    Compiled as a greedy earliest-match chain: from each candidate
    start, take each next word at its EARLIEST occurrence inside the
    remaining slop window. Greedy is exact for in-order proximity
    (the earliest choice minimizes every prefix position, so it
    dominates any other chain), and the expression is O(k) nodes —
    enumerating gap compositions would be C(slop+k-1, k-1) of them
    (a 13-word phrase at slop 8 has ~126k). The fold state is a
    lambda variable, so the text grows linearly with k."""
    k = len(words)
    slop = min(max(slop, 0), MAX_SLOP)
    if k == 1:
        return f"array_contains({toks}, {sql_literal(words[0], _STR)})"
    if k > MAX_PHRASE_WORDS:
        raise CompileError(
            f"phrase has {k} words; the compiled match is capped at "
            f"{MAX_PHRASE_WORDS}"
        )
    if not _is_column(toks):
        # bind a computed array once, outside the fold's lambdas: it
        # is evaluated once per row, and a named (Python) function it
        # calls is never inside a lambda
        return (f"exists(array({toks}), __tk -> "
                f"{_token_seq_match_sql('__tk', words, slop)})")
    n = f"size({toks})"
    rest = "array(" + ",".join(sql_literal(w, _STR) for w in words[1:]) + ")"
    lim = k - 1 + slop
    # slice() is 1-based: the window [acc+1 .. limit] (0-based)
    # starts at acc+2; its length is capped at size(toks), which
    # keeps the int cast overflow-proof by construction
    window = (
        f"slice({toks}, CAST(__acc + 2 AS INT), "
        f"CAST(greatest(least(CAST(__i + {lim} AS BIGINT) - __acc, "
        f"CAST({n} AS BIGINT)), CAST(0 AS BIGINT)) AS INT))"
    )
    rel = f"array_position({window}, __w)"
    step = (
        f"CASE WHEN (__acc >= 0) AND ({rel} > 0) THEN __acc + {rel} "
        f"ELSE CAST(-1 AS BIGINT) END"
    )
    init = (
        f"CASE WHEN get({toks}, __i) = {sql_literal(words[0], _STR)} "
        f"THEN CAST(__i AS BIGINT) ELSE CAST(-1 AS BIGINT) END"
    )
    match_at = (
        f"coalesce(aggregate({rest}, {init}, "
        f"(__acc, __w) -> {step}) >= 0, false)"
    )
    # containment pre-guard (r16): the positional scan is
    # O(n·k·window) per row, and in a width-Q percolation every slop
    # monitor pays it on EVERY document — measured 0.8 s per monitor
    # per 5k docs. A doc missing ANY phrase word can never match, so
    # k cheap array_contains conjuncts short-circuit the fold for the
    # overwhelming majority of rows (the inverted-index discipline:
    # intersect postings first, verify positions on candidates only).
    guard = " AND ".join(
        f"array_contains({toks}, {sql_literal(w, _STR)})" for w in words)
    return (
        f"CASE WHEN {n} >= {k} AND {guard} THEN "
        f"coalesce(exists(sequence(0, {n} - {k}), __i -> {match_at}), "
        f"false) ELSE false END"
    )


def _token_seq_prefix_match_sql(toks: str, words: list,
                                prefix: str) -> str:
    """Adjacency chain for *words* followed immediately by a token
    STARTING WITH *prefix* — the positional form of
    match-phrase-prefix: the slop-0 chain of
    :func:`_token_seq_match_sql` with one startswith step appended."""
    if not words:
        return (f"coalesce(exists({toks}, __t2 -> "
                f"startswith(__t2, {sql_literal(prefix, _STR)})), false)")
    k = len(words)
    if k + 1 > MAX_PHRASE_WORDS:
        raise CompileError(
            f"phrase has {k + 1} words; the compiled match is capped at "
            f"{MAX_PHRASE_WORDS}"
        )
    if len(words) > 1:
        rest = "array(" + ",".join(sql_literal(w, _STR) for w in words[1:]) + ")"
    else:
        # an empty literal array() is ARRAY<VOID>; the fold needs
        # string elements
        rest = "CAST(array() AS ARRAY<STRING>)"

    if not _is_column(toks):
        return (f"exists(array({toks}), __tk -> "
                f"{_token_seq_prefix_match_sql('__tk', words, prefix)})")
    n = f"size({toks})"
    nxt = f"get({toks}, CAST(__acc + 1 AS INT))"
    step = (
        f"CASE WHEN (__acc >= 0) AND ({nxt} = __w) THEN __acc + 1 "
        f"ELSE CAST(-1 AS BIGINT) END"
    )
    init = (
        f"CASE WHEN get({toks}, __i) = {sql_literal(words[0], _STR)} "
        f"THEN CAST(__i AS BIGINT) ELSE CAST(-1 AS BIGINT) END"
    )
    last = f"aggregate({rest}, {init}, (__acc, __w) -> {step})"
    match_at = (
        f"coalesce(({last} >= 0) AND startswith("
        f"get({toks}, CAST({last} + 1 AS INT)), {sql_literal(prefix, _STR)}), false)"
    )
    return (
        f"CASE WHEN {n} >= {k + 1} THEN "
        f"coalesce(exists(sequence(0, {n} - {k + 1}), "
        f"__i -> {match_at}), false) ELSE false END"
    )


def _any(parts: list) -> str:
    """OR of *parts*, false when there are none (a fan-out)."""
    return " OR ".join(f"({p})" for p in ["false", *parts])


@dataclass
class _SqlTarget:
    """A resolved field reference."""

    kind: str  # text|number|boolean|datetime|ip|dynamic
    col: str  # SQL text of the value column
    tokenizer: str = "default"
    array: bool = False
    number_type: str = "i64"
    tokens: Optional[str] = None  # SQL text of the analyzed array
    ipkey: Optional[str] = None  # SQL text of the ip sort key

    @property
    def target(self) -> str:
        """The comparison target: the ip sort key for ip fields, else
        the value."""
        return self.ipkey if self.kind == "ip" else self.col


class QueryCompiler:
    """Lowers a query AST to one SQL boolean expression string."""

    def __init__(self, config: IndexConfig,
                 available_columns: Optional[set] = None):
        self.config = config
        self.cols = available_columns

    def _have(self, name: str) -> bool:
        return self.cols is None or name in self.cols

    def compile(self, node: Node) -> str:
        """SQL text of *node*; raises CompileError for bad field paths
        and over-long phrases."""
        return self._render(node)

    # -- field resolution ----------------------------------------------
    def resolve(self, path: tuple) -> _SqlTarget:
        fc = self.config.field(path[0])
        if fc is None:
            return self._dynamic_target(DYNAMIC_FIELD_NAME, path)
        if fc.type == "static_object":
            # descend nested static objects (`src/config/mod.rs:147-162`
            # flattening — native struct access instead)
            col = _q(fc.name)
            cur = fc
            for seg in path[1:]:
                child = next(
                    (f for f in cur.fields if f.name == seg), None)
                if child is None or cur.type != "static_object":
                    raise CompileError(
                        f"unknown field path {'.'.join(path)!r}")
                col = f"{col}.{_q(seg)}"
                cur = child
            if cur.type == "static_object":
                raise CompileError(
                    f"{'.'.join(path)!r} is an object, not a leaf")
            return self._leaf_target(cur, col, shadow_ok=False)
        if fc.type == "dynamic_object":
            if len(path) == 1:
                raise CompileError(
                    f"{path[0]!r} is a dynamic object; query a path into it")
            # the field's own declared tokenizer (config defaults it to
            # 'raw' for dynamic_object, `dynamic_object.rs:28-45`)
            return self._dynamic_target(
                fc.name, path[1:], tokenizer=fc.tokenizer)
        if len(path) > 1:
            raise CompileError(
                f"field {path[0]!r} has no sub-field {path[1]!r}")
        if not self._have(fc.name):
            # declared in the schema but absent from every scanned
            # segment (an `alter`-added field before any new-schema
            # ingest): a typed NULL makes every predicate on it
            # unsatisfied — "matches nothing", never an unresolved-
            # column error
            ddl = next(
                sf.dataType for sf in self.config.spark_schema().fields
                if sf.name == fc.name
            ).simpleString()
            return self._leaf_target(
                fc, f"CAST(NULL AS {ddl})", shadow_ok=False)
        return self._leaf_target(fc, _q(fc.name), shadow_ok=True)

    def _leaf_target(self, fc, col: str, shadow_ok: bool) -> _SqlTarget:
        tokens = None
        ipkey = None
        if fc.type == "text":
            shadow = tokens_col(fc.name)
            if shadow_ok and self._have(shadow):
                tokens = _q(shadow)
            elif fc.array:
                tokens = (f"array_distinct(flatten("
                          f"{_elements_sql(col, fc.tokenizer)}))")
            else:
                tokens = _tok_sql(col, fc.tokenizer)
        else:
            # a phrase on a typed field matches its string rendering
            tokens = _tok_sql(col, "default")
        if fc.type == "ip":
            shadow = ipkey_col(fc.name)
            if shadow_ok and self._have(shadow):
                ipkey = _q(shadow)
            else:
                ipkey = (f"toshokan_ip_keys({col})" if fc.array
                         else f"toshokan_ip_key({col})")
        return _SqlTarget(
            kind=fc.type, col=col, tokenizer=fc.tokenizer,
            array=fc.array, number_type=fc.number_type,
            tokens=tokens, ipkey=ipkey,
        )

    def _dynamic_target(self, map_col: str, path: tuple,
                        tokenizer: str = "default") -> _SqlTarget:
        """Path into a map<string,string> column holding JSON-rendered
        values: try the dotted key literally, then json-path into the
        first segment (``expand_dots`` behavior,
        `src/config/dynamic_object.rs:67-69`). The built-in _dynamic
        field is indexed with the `default` tokenizer
        (`src/commands/mod.rs:38-51`); declared dynamic_object fields
        default to `raw`."""
        m = _q(map_col)
        dotted = ".".join(path)
        col = f"{m}[{sql_literal(dotted, _STR)}]"
        if len(path) > 1:
            rest = "$." + ".".join(path[1:])
            head = sql_literal(path[0], _STR)
            col = (f"coalesce({col}, get_json_object("
                   f"{m}[{head}], {sql_literal(rest, _STR)}))")
        return _SqlTarget(kind="dynamic", col=col, tokenizer=tokenizer,
                          tokens=_tok_sql(col, tokenizer))

    # -- literal coercion -----------------------------------------------
    def _typed_lit(self, t: _SqlTarget, lit: str) -> Optional[str]:
        if t.kind in ("text", "dynamic"):
            return sql_literal(lit, _STR)
        if t.kind == "number":
            n = _num(lit)
            if n is None:
                return None
            if t.number_type == "f64":
                return sql_literal(float(n), _DBL)
            if t.number_type == "u64":
                # decimal(20,0) column; the literal goes through text
                # (an int >= 2^63 is no BIGINT)
                if isinstance(n, int) and 0 <= n <= (1 << 64) - 1:
                    return f"CAST({sql_literal(str(n), _STR)} AS DECIMAL(20,0))"
                if not isinstance(n, int):
                    return sql_literal(float(n), _DBL)
                return None
            if float(n).is_integer():
                return f"CAST({int(n)} AS BIGINT)"
            return sql_literal(float(n), _DBL)
        if t.kind == "boolean":
            low = lit.strip().lower()
            if low in ("true", "false"):
                return low
            return None
        if t.kind == "datetime":
            dt = _datetime_lit(lit)
            if dt is None:
                return None
            naive = dt.astimezone(timezone.utc).replace(tzinfo=None)
            txt = naive.strftime("%Y-%m-%d %H:%M:%S")
            if naive.microsecond:
                txt += f".{naive.microsecond:06d}"
            return f"TIMESTAMP '{txt}'"
        if t.kind == "ip":
            try:
                return sql_literal(ip_literal_key(lit), _STR)
            except ValueError:
                return None
        raise AssertionError(t.kind)

    # -- node rendering --------------------------------------------------
    def _render(self, node: Node) -> str:
        if isinstance(node, All):
            return "true"
        if isinstance(node, Term):
            return self._render_term(node)
        if isinstance(node, Phrase):
            return self._render_phrase(node)
        if isinstance(node, PhrasePrefix):
            return self._render_phrase_prefix(node)
        if isinstance(node, Prefix):
            return self._render_prefix(node)
        if isinstance(node, Fuzzy):
            return self._render_fuzzy(node)
        if isinstance(node, Regex):
            return self._render_regex(node)
        if isinstance(node, Wildcard):
            return self._render_wildcard(node)
        if isinstance(node, RangeQ):
            return self._render_range(node)
        if isinstance(node, Cmp):
            lo_inc = node.op == ">="
            hi_inc = node.op == "<="
            if node.op.startswith(">"):
                return self._render_range(
                    RangeQ(node.field, node.value, None, lo_inc, False))
            return self._render_range(
                RangeQ(node.field, None, node.value, False, hi_inc))
        if isinstance(node, BoolQuery):
            return self._render_bool(node)
        raise AssertionError(node)

    def _render_bool(self, node: BoolQuery) -> str:
        if node.must:
            out = " AND ".join(
                f"({self._render(n)})" for n in node.must)
        elif node.should:
            out = " OR ".join(
                f"({self._render(n)})" for n in node.should)
        else:
            # tantivy/Lucene: a boolean query with only must_not
            # clauses matches nothing
            out = "false"
        for n in node.must_not:
            out = (f"({out}) AND NOT "
                   f"coalesce(({self._render(n)}), false)")
        return out

    def _text_fields(self):
        """The indexed text fields present in the frame: the targets
        of the unqualified fan-outs (an absent one contributes no
        clause)."""
        return [f for f in self.config.fields
                if f.type == "text" and f.indexed and self._have(f.name)]

    def _dynamic_values(self) -> Optional[str]:
        """The _dynamic remainder's values, or None for a frame
        without the remainder map (e.g. percolated documents): its
        arm of a fan-out then matches nothing."""
        if not self._have(DYNAMIC_FIELD_NAME):
            return None
        return f"map_values({_q(DYNAMIC_FIELD_NAME)})"

    def _token_match(self, t: _SqlTarget, text: str) -> str:
        """Term match against an analyzed text/dynamic target. Raw
        scalar equality is null-safe (``<=>``): the truth table of
        ``coalesce(col = lit, false)``, but it pushes to the parquet
        scan as an EqualNullSafe source filter."""
        if t.tokenizer == "raw":
            if t.kind == "text" and t.array:
                return f"array_contains({t.col}, {sql_literal(text, _STR)})"
            return f"{t.col} <=> {sql_literal(text, _STR)}"
        toks = analyze_term(text, t.tokenizer)
        if not toks:
            return "false"
        if len(toks) == 1:
            return f"array_contains({t.tokens}, {sql_literal(toks[0], _STR)})"
        return self._adjacency(t, toks)

    def _positions(self, t: _SqlTarget) -> str:
        """The analyzed token stream of a scalar text target with its
        positions: an over-long (unindexed) token of a `default` or
        `en_stem` value keeps its place as ``''``."""
        if t.tokenizer == "default":
            return _default_positions_sql(t.col)
        if t.tokenizer == "en_stem":
            if _is_column(t.tokens):
                return _stem_positions_sql(t.tokens, t.col)
            return f"toshokan_en_stem({_default_positions_sql(t.col)})"
        return t.tokens

    def _guarded(self, t: _SqlTarget, words: list, fold: str) -> str:
        """*fold* behind the stored tokens' containment test of every
        word, which rules out most rows before any split."""
        if not words or not _is_column(t.tokens):
            return fold
        guard = " AND ".join(
            f"array_contains({t.tokens}, {sql_literal(w, _STR)})" for w in words)
        return f"{guard} AND {fold}"

    def _adjacency(self, t: _SqlTarget, words: list,
                   slop: int = 0) -> str:
        """Phrase semantics: analyzed words adjacent (or within
        ``slop`` extra positions, in order) in the analyzed token
        stream. Two strategies:

        * raw-text regex for slop 0 under the `default` tokenizer (and
          on _dynamic values, whose phrases analyze with `default`) —
          adjacency there is exactly "separated by one
          non-alphanumeric run", and the regex is cheaper than the
          positional scan;
        * the positional fold otherwise — REQUIRED for stemmed fields
          (the index tokens are stems, so an unstemmed regex against
          the raw text can miss "connections terminating" for
          "connection terminate"), for whitespace tokens (they keep
          case and punctuation) and for any nonzero slop. It runs over
          the tokens with their positions (:meth:`_positions`), and per
          element of a text array: the flattened array loses element
          boundaries."""
        if slop == 0 and (t.tokenizer == "default" or t.kind == "dynamic"):
            pat = (
                f"(^|{_NON_ALNUM_RE})"
                + f"{_NON_ALNUM_RE}+".join(re.escape(w) for w in words)
                + f"({_NON_ALNUM_RE}|$)"
            )
            if t.kind == "text" and t.array:
                return (f"exists({t.col}, "
                        f"__e -> lower(__e) RLIKE {sql_literal(pat, _STR)})")
            return f"lower({t.col}) RLIKE {sql_literal(pat, _STR)}"
        if t.kind == "text" and t.array:
            return (f"exists({_element_positions_sql(t.col, t.tokenizer)}, "
                    f"__el -> {_token_seq_match_sql('__el', words, slop)})")
        if t.tokenizer == "whitespace":
            return _token_seq_match_sql(t.tokens, words, slop)
        return self._guarded(t, words, _token_seq_match_sql(
            self._positions(t), words, slop))

    def _render_term(self, node: Term) -> str:
        if node.field is None:
            return self._default_fields_match(node.text)
        t = self.resolve(node.field)
        if t.kind in ("text", "dynamic"):
            return f"coalesce(({self._token_match(t, node.text)}), false)"
        lit = self._typed_lit(t, node.text)
        if lit is None:
            return "false"
        if t.array:
            return f"coalesce(array_contains({t.target}, {lit}), false)"
        return f"{t.target} <=> {lit}"

    def _render_phrase(self, node: Phrase) -> str:
        if node.field is None:
            # every indexed text field + the _dynamic remainder values
            return _any([
                f"coalesce(({self._render_phrase(Phrase((f.name,), node.text, node.slop))}), false)"
                for f in self._text_fields()
            ] + [self._dynamic_any_term(node.text)])
        t = self.resolve(node.field)
        if t.tokenizer == "raw" and t.kind == "text":
            # whole-value equality; a raw ARRAY matches on some element
            if t.array:
                return f"array_contains({t.col}, {sql_literal(node.text, _STR)})"
            return f"{t.col} <=> {sql_literal(node.text, _STR)}"
        # analyze with the FIELD's tokenizer (tantivy QueryParser
        # behavior) — on an en_stem field the phrase words are stemmed
        # to match the stemmed index tokens
        words = analyze_term(
            node.text, t.tokenizer if t.kind == "text" else "default")
        if not words:
            return "false"
        if len(words) == 1:
            return (f"coalesce(({self._token_match(t, words[0])}), "
                    f"false)")
        return (f"coalesce(({self._adjacency(t, words, node.slop)}), "
                f"false)")

    def _default_fields_match(self, text: str) -> str:
        """Unqualified term: OR over every indexed scalar/array field
        that can interpret the literal, plus the ``_dynamic`` remainder
        (`search.rs:138-146,175-178`). A typed field compares with
        plain ``=`` inside coalesce."""
        parts = []
        for f in self.config.fields:
            if not f.indexed or f.type in ("static_object",
                                           "dynamic_object"):
                continue
            if not self._have(f.name):
                continue  # absent declared field: no clause
            t = self._leaf_target(f, _q(f.name), shadow_ok=True)
            if f.type == "text":
                parts.append(
                    f"coalesce(({self._token_match(t, text)}), false)")
                continue
            lit = self._typed_lit(t, text)
            if lit is None:
                continue
            if f.array:
                parts.append(
                    f"coalesce(array_contains({t.target}, {lit}), false)")
            else:
                parts.append(f"coalesce(({t.target} = {lit}), false)")
        parts.append(self._dynamic_any_term(text))
        return _any(parts)

    def _dynamic_any_term(self, text: str) -> str:
        toks = analyze_term(text, "default")
        vals = self._dynamic_values()
        if not toks or vals is None:
            return "false"
        if len(toks) == 1:
            arr = _tok_sql("__v", "default")
            return (
                f"coalesce(exists({vals}, __v -> "
                f"array_contains({arr}, {sql_literal(toks[0], _STR)})), false)"
            )
        pat = (
            f"(^|{_NON_ALNUM_RE})"
            + f"{_NON_ALNUM_RE}+".join(re.escape(w) for w in toks)
            + f"({_NON_ALNUM_RE}|$)"
        )
        return (f"coalesce(exists({vals}, __v -> "
                f"lower(__v) RLIKE {sql_literal(pat, _STR)}), false)")

    def _render_phrase_prefix(self, node: PhrasePrefix) -> str:
        """match-phrase-prefix (ES autocomplete; see
        plans/ast.py::PhrasePrefix): the phrase's words in order with
        the LAST matched as a prefix. Leading words analyze with the
        field's tokenizer; the prefix is case-folded only, never
        stemmed (the Lucene rule — a stemmed prefix would double-stem
        against stemmed index tokens); on a whitespace field it keeps
        its case, like the field's tokens. The positional prefix chain
        over the tokens with their positions (an over-long token keeps
        its place and starts with no prefix), per element of an array,
        for text fields and `_dynamic` values alike; startswith for raw
        fields (the whole value is one token). Unqualified, it fans out
        over the indexed text fields."""
        if node.field is None:
            return _any([
                f"coalesce(({self._render_phrase_prefix(PhrasePrefix((f.name,), node.text))}), false)"
                for f in self._text_fields()
            ])
        t = self.resolve(node.field)
        if t.kind not in ("text", "dynamic"):
            return "false"
        if t.tokenizer == "raw":
            if t.kind == "text" and t.array:
                return (f"coalesce(exists({t.col}, __e -> "
                        f"startswith(__e, {sql_literal(node.text, _STR)})), false)")
            return (f"coalesce(startswith({t.col}, {sql_literal(node.text, _STR)}), "
                    f"false)")
        raw_words = [w for w in node.text.split() if w]
        if not raw_words:
            return "false"
        ws = t.tokenizer == "whitespace"
        lead = analyze_term(" ".join(raw_words[:-1]), t.tokenizer)
        pfx_toks = analyze_term(raw_words[-1],
                                "whitespace" if ws else "default")
        if not pfx_toks:
            return "false"
        prefix = pfx_toks[-1]
        lead = lead + pfx_toks[:-1]
        if t.kind == "text" and t.array:
            body = _token_seq_prefix_match_sql("__el", lead, prefix)
            return (f"coalesce(exists({_element_positions_sql(t.col, t.tokenizer)}, "
                    f"__el -> {body}), false)")
        chain = _token_seq_prefix_match_sql(self._positions(t), lead, prefix)
        return f"coalesce(({self._guarded(t, lead, chain)}), false)"

    def _analyzed_probe(self, t: _SqlTarget, text: str) -> str:
        """Normalize a prefix/fuzzy probe the way the field's index
        tokens were normalized: lowercase for the lowercasing
        tokenizers. Deliberately NOT stemmed — Lucene leaves prefix/
        fuzzy terms unanalyzed beyond case folding."""
        return (text.lower()
                if t.tokenizer in ("default", "en_stem") else text)

    def _render_prefix(self, node: Prefix) -> str:
        """Trailing-wildcard prefix query (quickwit/ES extension; see
        plans/ast.py::Prefix). Text/dynamic targets only — numeric or
        ip prefixes match nothing, the same conservative policy as an
        uncoercible typed literal. Unqualified, it fans out over the
        indexed text fields and the _dynamic remainder's default
        tokens."""
        if node.field is None:
            parts = [
                f"coalesce(({self._render_prefix(Prefix((f.name,), node.text))}), false)"
                for f in self._text_fields()
            ]
            vals = self._dynamic_values()
            if vals is not None:
                arr = _tok_sql("__v", "default")
                lp = node.text.lower()
                parts.append(
                    f"coalesce(exists({vals}, __v -> exists({arr}, "
                    f"__t3 -> startswith(__t3, {sql_literal(lp, _STR)}))), false)"
                )
            return _any(parts)
        t = self.resolve(node.field)
        if t.kind not in ("text", "dynamic"):
            return "false"
        p = self._analyzed_probe(t, node.text)
        if t.tokenizer == "raw":
            if t.kind == "text" and t.array:
                m = f"exists({t.col}, __e -> startswith(__e, {sql_literal(p, _STR)}))"
            else:
                m = f"startswith({t.col}, {sql_literal(p, _STR)})"
        else:
            m = f"exists({t.tokens}, __t -> startswith(__t, {sql_literal(p, _STR)}))"
        return f"coalesce(({m}), false)"

    def _render_fuzzy(self, node: Fuzzy) -> str:
        """Fuzzy term query ``term~N`` (Lucene/ES extension): any
        analyzed token within Levenshtein distance N, behind a length
        pre-filter (``|len(tok) - len(p)| <= N`` is necessary, and
        skips the O(len^2) DP for most tokens). Text/dynamic targets
        only; unqualified, it fans out over the indexed text
        fields."""
        if node.field is None:
            return _any([
                f"coalesce(({self._render_fuzzy(Fuzzy((f.name,), node.text, node.distance))}), false)"
                for f in self._text_fields()
            ])
        t = self.resolve(node.field)
        if t.kind not in ("text", "dynamic"):
            return "false"
        p = self._analyzed_probe(t, node.text)
        d = int(node.distance)
        if t.tokenizer == "raw":
            if t.kind == "text" and t.array:
                m = (f"exists({t.col}, "
                     f"__e -> levenshtein(__e, {sql_literal(p, _STR)}) <= {d})")
            else:
                m = f"levenshtein({t.col}, {sql_literal(p, _STR)}) <= {d}"
        else:
            m = (
                f"exists({t.tokens}, __t -> "
                f"abs(length(__t) - {len(p)}) <= {d} "
                f"AND levenshtein(__t, {sql_literal(p, _STR)}) <= {d})"
            )
        return f"coalesce(({m}), false)"

    def _render_wildcard(self, node: Wildcard) -> str:
        """Lucene/ES wildcard query (plans/ast.py::Wildcard): the glob
        is lowered to an anchored token regex and rendered by the
        regexp machinery, so wildcard and regexp stay behaviorally
        identical. The glob is case-folded for the lowercasing
        tokenizers, exact-case on raw fields. Unqualified, it fans
        out like Prefix."""
        if node.field is None:
            parts = [
                f"coalesce(({self._render_wildcard(Wildcard((f.name,), node.pattern))}), false)"
                for f in self._text_fields()
            ]
            vals = self._dynamic_values()
            if vals is not None:
                anchored = "^(?:" + node.to_regex().lower() + ")$"
                arr = _tok_sql("__v", "default")
                parts.append(
                    f"coalesce(exists({vals}, __v -> "
                    f"exists({arr}, __t3 -> __t3 RLIKE "
                    f"{sql_literal(anchored, _STR)})), false)"
                )
            return _any(parts)
        t = self.resolve(node.field)
        pat = node.to_regex()
        if t.tokenizer in ("default", "en_stem"):
            pat = pat.lower()
        return self._render_regex(Regex(node.field, pat))

    def _render_regex(self, node: Regex) -> str:
        """Lucene regexp query: the pattern FULL-matches some analyzed
        token (Lucene's automaton is anchored at both ends, hence
        ``^(?:...)$``). Under the raw tokenizer the whole value is the
        one token; non-text targets match on their string rendering.
        No index structure prunes a regexp, so it composes with OTHER
        clauses' pushdown rather than bringing its own."""
        t = self.resolve(node.field)
        pat = sql_literal("^(?:" + node.pattern + ")$", _STR)
        if t.kind in ("text", "dynamic"):
            if t.tokenizer == "raw":
                if t.kind == "text" and t.array:
                    m = f"exists({t.col}, __e -> __e RLIKE {pat})"
                else:
                    m = f"{t.col} RLIKE {pat}"
                return f"coalesce(({m}), false)"
            return (f"coalesce(exists({t.tokens}, "
                    f"__t -> __t RLIKE {pat}), false)")
        if t.array:
            return (f"coalesce(exists({t.target}, __e -> "
                    f"CAST(__e AS STRING) RLIKE {pat}), false)")
        return (f"coalesce(CAST({t.target} AS STRING) RLIKE {pat}, "
                f"false)")

    def _render_range(self, node: RangeQ) -> str:
        t = self.resolve(node.field)
        target = t.target
        if t.kind == "dynamic":
            # numeric compare when both the value and bounds are numeric
            bounds_num = [_num(b) for b in (node.lo, node.hi)
                          if b is not None]
            if bounds_num and all(b is not None for b in bounds_num):
                target = f"try_cast({t.col} AS DOUBLE)"
                mk = lambda b: sql_literal(float(_num(b)), _DBL)  # noqa: E731
            else:
                mk = lambda b: sql_literal(b, _STR)  # noqa: E731
        else:
            mk = lambda b: self._typed_lit(t, b)  # noqa: E731

        def bound(side_val, inc, is_lo):
            if side_val is None:
                return None
            litc = mk(side_val)
            if litc is None:
                return "false"
            op = (">=" if inc else ">") if is_lo else \
                ("<=" if inc else "<")
            if t.array:
                # some element on the right side of the bound
                return f"exists({target}, __e -> __e {op} {litc})"
            return f"{target} {op} {litc}"

        lo_c = bound(node.lo, node.lo_inc, True)
        hi_c = bound(node.hi, node.hi_inc, False)
        if lo_c is None and hi_c is None:
            return f"{target} IS NOT NULL"  # `field:*` — field exists
        if t.array and lo_c is not None and hi_c is not None:
            # an array matches when SOME element is inside the range
            litlo, lithi = mk(node.lo), mk(node.hi)
            if litlo is None or lithi is None:
                return "false"  # a non-coercible bound matches nothing
            lo_op = ">=" if node.lo_inc else ">"
            hi_op = "<=" if node.hi_inc else "<"
            return (
                f"coalesce(exists({target}, __e -> "
                f"__e {lo_op} {litlo} AND __e {hi_op} {lithi}), false)"
            )
        # deliberately NOT coalesce-wrapped: under filter semantics a
        # null compare result drops the row exactly like false, the
        # one negation site (must_not) coalesces its child itself, and
        # the bare comparisons push down to the parquet scan — a
        # coalesce wrapper has no source-filter translation.
        if lo_c is not None and hi_c is not None:
            return f"({lo_c}) AND ({hi_c})"
        return lo_c if lo_c is not None else hi_c


def render_node_sql(
    node: Node, config: IndexConfig,
    available_columns: Optional[set] = None,
) -> str:
    """Compile an ALREADY-PARSED query node to SQL text — for callers
    that hold the node anyway (``search_df`` parses once for segment
    pruning)."""
    return QueryCompiler(config, available_columns).compile(node)


def render_query_sql(
    query: str, config: IndexConfig,
    available_columns: Optional[set] = None,
) -> str:
    """Parse and compile *query* to SQL text. Also the validation
    entry: raises ParseError or CompileError, and needs no Spark
    session."""
    return render_node_sql(parse_query(query), config, available_columns)


def sql_expr(sql: str, spark=None):
    """``F.expr(sql)``, after registering on *spark* (default: the
    active session) each of :data:`SQL_FUNCTIONS` the text calls —
    pass the session that will analyze the expression when it is not
    the active one (a stream's micro-batch runs in a clone)."""
    for name, fn in SQL_FUNCTIONS.items():
        if f"{name}(" in sql:
            (spark or SparkSession.active()).udf.register(name, fn)
    return F.expr(sql)


def compile_query(
    query: str, config: IndexConfig,
    available_columns: Optional[set] = None,
):
    """Parse and compile *query* into a boolean Column: one SQL
    string, one ``F.expr`` call (one py4j round trip, not one per
    operator node)."""
    return sql_expr(render_query_sql(query, config, available_columns))


#: the name ``search`` binds for its single-query compiles
compile_query_fast = compile_query
