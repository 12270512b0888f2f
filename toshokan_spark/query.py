"""Query compiler: query string -> PySpark ``Column`` predicate.

This replaces the reference's tantivy ``QueryParser`` + per-segment
search execution (`/root/reference/src/commands/search.rs:111-238`)
with a *logical* compilation: the parsed AST (plans/ast.py) is lowered
to a single Column expression, and Catalyst handles predicate
pushdown, partition pruning and whole-stage codegen from there. No
custom physical operators — a term query on an indexed text field
becomes ``array_contains(__tokens__field, term)``, a range on an ip
field becomes a decimal comparison on ``__ipkey__field``, etc.

Field routing mirrors the reference: the parser is built over all
indexed fields *plus* ``_dynamic`` (`search.rs:138-146,175-178`), so a
query over a field the schema doesn't claim routes to the ``_dynamic``
remainder map, and unqualified terms search every indexed field.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from toshokan_spark.config import DYNAMIC_FIELD_NAME, FieldConfig, IndexConfig
from toshokan_spark.functions.datetime_ import MAX_TS_SECONDS, MIN_TS_SECONDS
from toshokan_spark.functions.ip import ip_literal_key
from toshokan_spark.functions.tokenizers import analyze_term, tokenize
from toshokan_spark.ingest import ipkey_col, tokens_col
from toshokan_spark.plans.ast import (
    All,
    BoolQuery,
    Cmp,
    Fuzzy,
    Node,
    ParseError,
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


def _token_seq_match(tokens: Column, words: list[str], slop: int = 0) -> Column:
    """True when *words* appear IN ORDER in *tokens* with at most
    ``slop`` extra token positions distributed between them (Lucene/
    tantivy in-order proximity; we don't model the transposition
    move). slop=0 is exact adjacency — the positional equivalent of
    the regex strategy, required when index tokens are stems.

    Compiled as a greedy earliest-match chain: from each candidate
    start, take each next word at its EARLIEST occurrence inside the
    remaining slop window. Greedy is exact for in-order proximity
    (the earliest choice minimizes every prefix position, so it
    dominates any other chain), and the expression is O(k) nodes —
    enumerating gap compositions would be C(slop+k-1, k-1) of them,
    a compile-time explosion for long phrases (a 13-word phrase at
    slop 8 has ~126k compositions)."""
    k = len(words)
    slop = min(max(slop, 0), MAX_SLOP)
    if k == 1:
        return F.array_contains(tokens, words[0])
    if k > MAX_PHRASE_WORDS:
        raise CompileError(
            f"phrase has {k} words; the compiled match is capped at "
            f"{MAX_PHRASE_WORDS}"
        )
    n = F.size(tokens)
    rest = F.array(*[F.lit(w) for w in words[1:]])

    def match_at(i: Column) -> Column:
        # last 0-based position the final word may occupy
        limit = (i + F.lit(k - 1 + slop)).cast("long")

        # fold over the remaining words, state = 0-based position of
        # the last matched word (-1 = dead).  The state is a lambda
        # VARIABLE, not an inlined subtree — chaining column
        # expressions instead would re-embed the position expression
        # ~3x per word and grow the tree exponentially (k=13 OOMed
        # the driver while *constructing* the plan).
        def step(acc: Column, w: Column) -> Column:
            # earliest w strictly after acc, at or before limit:
            # slice() is 1-based, so the window [acc+1 .. limit]
            # (0-based) starts at acc+2 and holds limit-acc elements
            # length is additionally capped at size(tokens): with the
            # MAX_SLOP clamp the value already fits an int, but the
            # cap keeps the cast overflow-proof by construction
            window = F.slice(
                tokens,
                (acc + F.lit(2)).cast("int"),
                F.greatest(
                    F.least(limit - acc, n.cast("long")), F.lit(0).cast("long")
                ).cast("int"),
            )
            rel = F.array_position(window, w)  # 1-based, 0 = absent
            return (
                F.when((acc >= 0) & (rel > 0), acc + rel)
                .otherwise(F.lit(-1).cast("long"))
            )

        init = (
            F.when(F.get(tokens, i) == F.lit(words[0]), i.cast("long"))
            .otherwise(F.lit(-1).cast("long"))
        )
        return F.coalesce(F.aggregate(rest, init, step) >= 0, F.lit(False))

    # containment pre-guard (r16, mirrors _token_seq_match_sql): the
    # positional scan is O(n·k·window) per row — k cheap
    # array_contains conjuncts short-circuit it for every row missing
    # any phrase word (postings-intersection-then-verify)
    guard = F.lit(True)
    for w in words:
        guard = guard & F.array_contains(tokens, w)
    return F.when(
        (n >= k) & guard,
        F.coalesce(F.exists(F.sequence(F.lit(0), n - k), match_at), F.lit(False)),
    ).otherwise(F.lit(False))


def _token_seq_prefix_match(
    tokens: Column, words: list[str], prefix: str
) -> Column:
    """Adjacency chain for *words* followed immediately by a token
    STARTING WITH *prefix* — the positional form of
    match-phrase-prefix, needed when index tokens are stems (the
    regex strategy can miss) or live in a flattened array. Same
    greedy earliest-match fold as :func:`_token_seq_match` at slop 0,
    with one startswith step appended."""
    if not words:
        return F.coalesce(
            F.exists(tokens, lambda t: t.startswith(prefix)), F.lit(False)
        )
    k = len(words)
    if k + 1 > MAX_PHRASE_WORDS:
        raise CompileError(
            f"phrase has {k + 1} words; the compiled match is capped at "
            f"{MAX_PHRASE_WORDS}"
        )
    n = F.size(tokens)
    rest = F.array(*[F.lit(w) for w in words[1:]])

    def match_at(i: Column) -> Column:
        def step(acc: Column, w: Column) -> Column:
            nxt = F.get(tokens, (acc + 1).cast("int"))
            return (
                F.when((acc >= 0) & (nxt == w), acc + 1)
                .otherwise(F.lit(-1).cast("long"))
            )

        init = (
            F.when(F.get(tokens, i) == F.lit(words[0]), i.cast("long"))
            .otherwise(F.lit(-1).cast("long"))
        )
        last = F.aggregate(rest, init, step)
        tail = F.get(tokens, (last + 1).cast("int"))
        return F.coalesce(
            (last >= 0) & tail.startswith(prefix), F.lit(False)
        )

    # the prefix token needs one more position past the k words
    return F.when(
        n >= k + 1,
        F.coalesce(
            F.exists(F.sequence(F.lit(0), n - k - 1), match_at),
            F.lit(False),
        ),
    ).otherwise(F.lit(False))


class CompileError(ValueError):
    pass


@dataclass
class _Target:
    """A resolved field reference."""

    kind: str  # text|number|boolean|datetime|ip|dynamic
    col: Column
    tokenizer: str = "default"
    array: bool = False
    number_type: str = "i64"
    tokens: Optional[Column] = None  # analyzed token array (text only)
    ipkey: Optional[Column] = None
    source_name: Optional[str] = None  # original string col (phrase regex)


class QueryCompiler:
    def __init__(self, config: IndexConfig, available_columns: Optional[set[str]] = None):
        self.config = config
        self.cols = available_columns

    def _have(self, name: str) -> bool:
        return self.cols is None or name in self.cols

    # -- field resolution ---------------------------------------------------
    def resolve(self, path: tuple[str, ...]) -> _Target:
        fc = self.config.field(path[0])
        if fc is None:
            return self._dynamic_target(DYNAMIC_FIELD_NAME, path)

        if fc.type == "static_object":
            # descend nested static objects (`src/config/mod.rs:147-162`
            # flattening — we use native struct access instead)
            col = F.col(fc.name)
            cur = fc
            for seg in path[1:]:
                child = next((f for f in cur.fields if f.name == seg), None)
                if child is None or cur.type != "static_object":
                    raise CompileError(f"unknown field path {'.'.join(path)!r}")
                col = col.getField(seg)
                cur = child
            if cur.type == "static_object":
                raise CompileError(f"{'.'.join(path)!r} is an object, not a leaf")
            return self._leaf_target(cur, col, shadow_ok=False)

        if fc.type == "dynamic_object":
            if len(path) == 1:
                raise CompileError(f"{path[0]!r} is a dynamic object; query a path into it")
            # the field's own declared tokenizer (config defaults it to
            # 'raw' for dynamic_object, `dynamic_object.rs:28-45` — a
            # declared non-raw tokenizer must be honored)
            return self._dynamic_target(fc.name, path[1:], tokenizer=fc.tokenizer)

        if len(path) > 1:
            raise CompileError(f"field {path[0]!r} has no sub-field {path[1]!r}")
        if not self._have(fc.name):
            # declared in the schema but absent from every scanned
            # segment (an `alter`-added field before any new-schema
            # ingest): a typed NULL makes every predicate on it
            # unsatisfied — "matches nothing", never an unresolved-
            # column error
            null_col = F.lit(None).cast(
                next(
                    sf.dataType
                    for sf in self.config.spark_schema().fields
                    if sf.name == fc.name
                )
            )
            return self._leaf_target(fc, null_col, shadow_ok=False)
        return self._leaf_target(fc, F.col(fc.name), shadow_ok=True)

    def _leaf_target(self, fc: FieldConfig, col: Column, shadow_ok: bool) -> _Target:
        tokens = None
        ipkey = None
        if fc.type == "text":
            shadow = tokens_col(fc.name)
            if shadow_ok and self._have(shadow):
                tokens = F.col(shadow)
            elif fc.array:
                tokens = F.array_distinct(
                    F.flatten(F.transform(col, lambda e: tokenize(e, fc.tokenizer)))
                )
            else:
                tokens = tokenize(col, fc.tokenizer)
        if fc.type == "ip":
            shadow = ipkey_col(fc.name)
            if shadow_ok and self._have(shadow):
                ipkey = F.col(shadow)
            else:
                from toshokan_spark.functions.ip import ip_sort_key, ip_sort_key_array

                # array: whole-array pandas UDF (a UDF inside
                # F.transform raises LAMBDA_FUNCTION_WITH_PYTHON_UDF)
                ipkey = ip_sort_key_array(col) if fc.array else ip_sort_key(col)
        return _Target(
            kind=fc.type,
            col=col,
            tokenizer=fc.tokenizer,
            array=fc.array,
            number_type=fc.number_type,
            tokens=tokens,
            ipkey=ipkey,
        )

    def _dynamic_target(
        self, map_col: str, path: tuple[str, ...], tokenizer: str = "default"
    ) -> _Target:
        """Path into a map<string,string> column holding JSON-rendered
        values: try the dotted key literally, then json-path into the
        first segment (``expand_dots`` behavior,
        `src/config/dynamic_object.rs:67-69`)."""
        m = F.col(map_col)
        dotted = ".".join(path)
        candidates = [m.getItem(dotted)]
        if len(path) > 1:
            candidates.append(
                F.get_json_object(m.getItem(path[0]), "$." + ".".join(path[1:]))
            )
        col = F.coalesce(*candidates) if len(candidates) > 1 else candidates[0]
        # the built-in _dynamic field is indexed with the `default`
        # tokenizer (`src/commands/mod.rs:38-51`); declared
        # dynamic_object fields default to `raw`
        return _Target(kind="dynamic", col=col, tokenizer=tokenizer)

    # -- literal coercion ---------------------------------------------------
    @staticmethod
    def _num(lit: str) -> Optional[float]:
        try:
            return int(lit)
        except ValueError:
            try:
                return float(lit)
            except ValueError:
                return None

    @staticmethod
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

    def _typed_lit(self, t: _Target, lit: str) -> Optional[Column]:
        if t.kind == "text" or t.kind == "dynamic":
            return F.lit(lit)
        if t.kind == "number":
            n = self._num(lit)
            if n is None:
                return None
            if t.number_type == "f64":
                return F.lit(float(n)).cast("double")
            if t.number_type == "u64":
                # decimal(20,0) column; literal via string (a python
                # int >= 2^63 cannot become a long literal)
                if isinstance(n, int) and 0 <= n <= (1 << 64) - 1:
                    return F.lit(str(n)).cast("decimal(20,0)")
                if not isinstance(n, int):
                    return F.lit(float(n))
                return None
            return F.lit(int(n)).cast("long") if float(n).is_integer() else F.lit(float(n))
        if t.kind == "boolean":
            low = lit.strip().lower()
            if low in ("true", "false"):
                return F.lit(low == "true")
            return None
        if t.kind == "datetime":
            dt = self._datetime_lit(lit)
            if dt is None:
                return None
            return F.lit(dt.astimezone(timezone.utc).replace(tzinfo=None)).cast(
                "timestamp"
            )
        if t.kind == "ip":
            try:
                return F.lit(ip_literal_key(lit))
            except ValueError:
                return None
        raise AssertionError(t.kind)

    # -- node compilation ---------------------------------------------------
    def compile(self, node: Node) -> Column:
        if isinstance(node, All):
            return F.lit(True)
        if isinstance(node, Term):
            return self._compile_term(node)
        if isinstance(node, Prefix):
            return self._compile_prefix(node)
        if isinstance(node, Fuzzy):
            return self._compile_fuzzy(node)
        if isinstance(node, Phrase):
            return self._compile_phrase(node)
        if isinstance(node, PhrasePrefix):
            return self._compile_phrase_prefix(node)
        if isinstance(node, Regex):
            return self._compile_regex(node)
        if isinstance(node, Wildcard):
            return self._compile_wildcard(node)
        if isinstance(node, RangeQ):
            return self._compile_range(node)
        if isinstance(node, Cmp):
            lo_inc = node.op == ">="
            hi_inc = node.op == "<="
            if node.op.startswith(">"):
                return self._compile_range(RangeQ(node.field, node.value, None, lo_inc, False))
            return self._compile_range(RangeQ(node.field, None, node.value, False, hi_inc))
        if isinstance(node, BoolQuery):
            return self._compile_bool(node)
        raise AssertionError(node)

    def _compile_bool(self, node: BoolQuery) -> Column:
        out: Optional[Column] = None
        if node.must:
            for n in node.must:
                c = self.compile(n)
                out = c if out is None else (out & c)
        elif node.should:
            for n in node.should:
                c = self.compile(n)
                out = c if out is None else (out | c)
        else:
            # tantivy/Lucene: a boolean query with only must_not
            # clauses matches nothing
            out = F.lit(False)
        for n in node.must_not:
            out = out & ~F.coalesce(self.compile(n), F.lit(False))
        return out

    def _token_match(self, t: _Target, text: str) -> Column:
        """Term match against an analyzed text/dynamic target.

        Raw scalar equality compiles null-safe (``<=>``): identical
        truth table to ``coalesce(col = lit, false)`` but translatable
        to a parquet EqualNullSafe source filter — at index scale the
        term predicate then prunes row groups instead of running only
        in codegen."""
        if t.tokenizer == "raw":
            if t.kind == "text" and t.array:
                return F.array_contains(t.col, text)
            return t.col.eqNullSafe(F.lit(text))
        toks = analyze_term(text, t.tokenizer)
        if not toks:
            return F.lit(False)
        if len(toks) == 1:
            if t.kind == "dynamic":
                return F.array_contains(tokenize(t.col, t.tokenizer), toks[0])
            return F.array_contains(t.tokens, toks[0])
        return self._adjacency(t, toks)

    def _adjacency(self, t: _Target, words: list[str], slop: int = 0) -> Column:
        """Phrase semantics: analyzed words adjacent (or within
        ``slop`` extra positions, in order) in the analyzed token
        stream.

        Two strategies:
        * raw-text regex for slop-0 on non-stemmed fields — adjacency
          under the default tokenizer is exactly "separated by one
          non-alphanumeric run", and the regex is cheaper than the
          positional scan;
        * token-position matching otherwise — REQUIRED for stemmed
          fields (the index tokens are stems, so an unstemmed regex
          against the raw text can miss, e.g. "connections
          terminating" vs query "connection terminate") and for any
          nonzero slop.
        """
        stemmed = t.tokenizer == "en_stem"
        if slop == 0 and not stemmed:
            pat = (
                f"(^|{_NON_ALNUM_RE})"
                + f"{_NON_ALNUM_RE}+".join(re.escape(w) for w in words)
                + f"({_NON_ALNUM_RE}|$)"
            )
            src = t.col
            if t.kind == "text" and t.array:
                return F.exists(src, lambda e: F.lower(e).rlike(pat))
            return F.lower(src).rlike(pat)
        # token-position path
        if t.kind == "text" and t.array:
            # the flattened shadow array loses per-element order; run
            # the positional match per element
            return F.exists(
                t.col,
                lambda e: _token_seq_match(tokenize(e, t.tokenizer), words, slop),
            )
        if t.kind == "text" and t.tokens is not None:
            return _token_seq_match(t.tokens, words, slop)
        return _token_seq_match(tokenize(t.col, t.tokenizer or "default"), words, slop)

    def _compile_term(self, node: Term) -> Column:
        if node.field is None:
            return self._default_fields_match(node.text)
        t = self.resolve(node.field)
        if t.kind in ("text", "dynamic"):
            return F.coalesce(self._token_match(t, node.text), F.lit(False))
        lit = self._typed_lit(t, node.text)
        if lit is None:
            return F.lit(False)
        target = t.ipkey if t.kind == "ip" else t.col
        if t.array:
            return F.coalesce(F.array_contains(target, lit), F.lit(False))
        # null-safe equality == coalesce(= , false) but pushes to the
        # scan as an EqualNullSafe source filter
        return target.eqNullSafe(lit)

    def _analyzed_probe(self, t: _Target, text: str) -> str:
        """Normalize a prefix/fuzzy probe the way the field's index
        tokens were normalized: lowercase for the lowercasing
        tokenizers. Deliberately NOT stemmed — Lucene leaves prefix/
        fuzzy terms unanalyzed beyond case folding, and a stemmed
        probe against stemmed tokens would double-stem."""
        return text.lower() if t.tokenizer in ("default", "en_stem") else text

    def _prefix_match(self, t: _Target, prefix: str) -> Column:
        p = self._analyzed_probe(t, prefix)
        if t.tokenizer == "raw":
            if t.kind == "text" and t.array:
                return F.exists(t.col, lambda e: e.startswith(p))
            return t.col.startswith(p)
        if t.kind == "dynamic":
            return F.exists(
                tokenize(t.col, t.tokenizer), lambda tok: tok.startswith(p)
            )
        return F.exists(t.tokens, lambda tok: tok.startswith(p))

    def _fuzzy_match(self, t: _Target, text: str, d: int) -> Column:
        p = self._analyzed_probe(t, text)
        lim = F.lit(int(d))
        if t.tokenizer == "raw":
            if t.kind == "text" and t.array:
                return F.exists(
                    t.col, lambda e: F.levenshtein(e, F.lit(p)) <= lim
                )
            return F.levenshtein(t.col, F.lit(p)) <= lim
        toks = (
            tokenize(t.col, t.tokenizer) if t.kind == "dynamic" else t.tokens
        )
        # length pre-filter: |len(tok) - len(p)| <= d is necessary for
        # edit distance <= d and skips the O(len^2) DP on the
        # overwhelming majority of tokens
        return F.exists(
            toks,
            lambda tok: (
                F.abs(F.length(tok) - F.lit(len(p))) <= lim
            )
            & (F.levenshtein(tok, F.lit(p)) <= lim),
        )

    def _compile_prefix(self, node: Prefix) -> Column:
        """Trailing-wildcard prefix query (quickwit/ES extension; see
        plans/ast.py::Prefix). Text/dynamic targets only — numeric or
        ip prefixes match nothing, the same conservative policy as an
        uncoercible typed literal."""
        if node.field is None:
            out = F.lit(False)
            for f in self.config.fields:
                if f.type != "text" or not f.indexed:
                    continue
                if not self._have(f.name):
                    continue  # absent declared field: no clause
                t = self._leaf_target(f, F.col(f.name), shadow_ok=True)
                out = out | F.coalesce(
                    self._prefix_match(t, node.text), F.lit(False)
                )
            if not self._have(DYNAMIC_FIELD_NAME):
                return out
            vals = F.map_values(F.col(DYNAMIC_FIELD_NAME))
            p = node.text.lower()
            out = out | F.coalesce(
                F.exists(
                    vals,
                    lambda v: F.exists(
                        tokenize(v, "default"), lambda tok: tok.startswith(p)
                    ),
                ),
                F.lit(False),
            )
            return out
        t = self.resolve(node.field)
        if t.kind not in ("text", "dynamic"):
            return F.lit(False)
        return F.coalesce(self._prefix_match(t, node.text), F.lit(False))

    def _compile_fuzzy(self, node: Fuzzy) -> Column:
        """Fuzzy term query ``term~N`` (Lucene/ES extension): any
        analyzed token within Levenshtein distance N. A length
        pre-filter guards the DP; text/dynamic targets only."""
        if node.field is None:
            out = F.lit(False)
            for f in self.config.fields:
                if f.type != "text" or not f.indexed:
                    continue
                if not self._have(f.name):
                    continue  # absent declared field: no clause
                t = self._leaf_target(f, F.col(f.name), shadow_ok=True)
                out = out | F.coalesce(
                    self._fuzzy_match(t, node.text, node.distance),
                    F.lit(False),
                )
            return out
        t = self.resolve(node.field)
        if t.kind not in ("text", "dynamic"):
            return F.lit(False)
        return F.coalesce(
            self._fuzzy_match(t, node.text, node.distance), F.lit(False)
        )

    def _compile_phrase_prefix(self, node: PhrasePrefix) -> Column:
        """match-phrase-prefix (ES autocomplete; see
        plans/ast.py::PhrasePrefix): the phrase's words in order with
        the LAST matched as a prefix. Leading words analyze with the
        field's tokenizer; the prefix is case-folded only, never
        stemmed (the Lucene rule — a stemmed prefix would double-stem
        against stemmed index tokens). Strategy mirrors _adjacency:
        word-boundary regex WITHOUT the trailing boundary for slop-0
        non-stemmed scalars, the positional prefix chain for stemmed
        fields and flattened arrays. Raw-tokenizer fields treat the
        whole value as one token: startswith(text)."""
        if node.field is None:
            out = F.lit(False)
            for f in self.config.fields:
                if f.type == "text" and f.indexed:
                    out = out | F.coalesce(
                        self._compile_phrase_prefix(
                            PhrasePrefix((f.name,), node.text)
                        ),
                        F.lit(False),
                    )
            return out
        t = self.resolve(node.field)
        if t.kind not in ("text", "dynamic"):
            return F.lit(False)
        if t.tokenizer == "raw":
            if t.kind == "text" and t.array:
                return F.coalesce(
                    F.exists(t.col, lambda e: e.startswith(node.text)),
                    F.lit(False),
                )
            return F.coalesce(t.col.startswith(node.text), F.lit(False))
        raw_words = [w for w in node.text.split() if w]
        if not raw_words:
            return F.lit(False)
        lead = analyze_term(" ".join(raw_words[:-1]), t.tokenizer)
        pfx_toks = analyze_term(raw_words[-1], "default")
        if not pfx_toks:
            return F.lit(False)
        prefix = pfx_toks[-1]
        lead = lead + pfx_toks[:-1]
        stemmed = t.tokenizer == "en_stem"
        if not stemmed and not (t.kind == "text" and t.array):
            words = lead + [prefix]
            pat = (
                f"(^|{_NON_ALNUM_RE})"
                + f"{_NON_ALNUM_RE}+".join(re.escape(w) for w in words)
            )
            src_col = t.col
            if t.kind == "dynamic":
                return F.coalesce(
                    F.lower(src_col).rlike(pat), F.lit(False)
                )
            return F.coalesce(F.lower(src_col).rlike(pat), F.lit(False))
        if t.kind == "text" and t.array:
            return F.coalesce(
                F.exists(
                    t.col,
                    lambda e: _token_seq_prefix_match(
                        tokenize(e, t.tokenizer), lead, prefix
                    ),
                ),
                F.lit(False),
            )
        toks = t.tokens if t.tokens is not None else tokenize(
            t.col, t.tokenizer or "default"
        )
        return F.coalesce(
            _token_seq_prefix_match(toks, lead, prefix), F.lit(False)
        )

    def _compile_phrase(self, node: Phrase) -> Column:
        if node.field is None:
            clauses = [
                Phrase((f.name,), node.text, node.slop)
                for f in self.config.fields
                if f.type == "text" and f.indexed
            ]
            out = F.lit(False)
            for c in clauses:
                out = out | F.coalesce(self._compile_phrase(c), F.lit(False))
            # plus the _dynamic remainder values
            out = out | self._dynamic_any_phrase(node.text)
            return out
        t = self.resolve(node.field)
        if t.tokenizer == "raw" and t.kind == "text":
            # a phrase on a raw field is whole-value equality; the
            # null-safe form pushes to the scan (see _token_match).
            # Raw ARRAYS match on some element — the _token_match
            # rule; eqNullSafe(array, string) would kill the whole
            # query at analysis (hit by an UNQUALIFIED phrase fanning
            # out over every text field, r15 renderer-equivalence
            # find)
            if t.array:
                return F.array_contains(t.col, node.text)
            return t.col.eqNullSafe(F.lit(node.text))
        # analyze with the FIELD's tokenizer (tantivy QueryParser
        # behavior) — on an en_stem field the phrase words are stemmed
        # to match the stemmed index tokens
        words = analyze_term(
            node.text, t.tokenizer if t.kind == "text" else "default"
        )
        if not words:
            return F.lit(False)
        if len(words) == 1:
            return F.coalesce(self._token_match(t, words[0]), F.lit(False))
        return F.coalesce(self._adjacency(t, words, node.slop), F.lit(False))

    def _compile_wildcard(self, node: "Wildcard") -> Column:
        """Lucene/ES wildcard query (plans/ast.py::Wildcard): the glob
        is lowered to an anchored token regex and compiled by the
        regexp machinery — one translation site, so wildcard and
        regexp stay behaviorally identical (full-match on analyzed
        tokens, raw tokenizer == whole value). The glob text is
        normalized like a prefix/fuzzy probe (``_analyzed_probe``):
        case-folded for the lowercasing tokenizers so ``CL*CK``
        matches the lowercased index tokens, left exact-case on raw
        fields (a keyword field matches exact case, same as its term
        queries). Unfielded globs fan out over the indexed text
        fields plus the _dynamic remainder exactly like Prefix."""
        if node.field is None:
            out = F.lit(False)
            for f in self.config.fields:
                if f.type != "text" or not f.indexed:
                    continue
                out = out | F.coalesce(
                    self._compile_wildcard(Wildcard((f.name,), node.pattern)),
                    F.lit(False),
                )
            if not self._have(DYNAMIC_FIELD_NAME):
                return out
            anchored = "^(?:" + node.to_regex().lower() + ")$"
            vals = F.map_values(F.col(DYNAMIC_FIELD_NAME))
            out = out | F.coalesce(
                F.exists(
                    vals,
                    lambda v: F.exists(
                        tokenize(v, "default"), lambda tok: tok.rlike(anchored)
                    ),
                ),
                F.lit(False),
            )
            return out
        t = self.resolve(node.field)
        pat = node.to_regex()
        if t.tokenizer in ("default", "en_stem"):
            pat = pat.lower()
        return self._compile_regex(Regex(node.field, pat))

    def _compile_regex(self, node: Regex) -> Column:
        """Lucene regexp query: the pattern FULL-matches some
        analyzed token (Lucene's regexp automaton is anchored at both
        ends, so the pattern is wrapped ``^(?:...)$`` before the JVM
        engine sees it). Under the raw tokenizer the whole value is
        the one token; non-text targets match on their string
        rendering. The match is a per-row JVM ``rlike`` inside
        whole-stage codegen — no index structure prunes a regexp (the
        same truth holds in Lucene unless the automaton has a literal
        prefix), so it composes with OTHER clauses' pushdown rather
        than bringing its own."""
        t = self.resolve(node.field)
        pat = "^(?:" + node.pattern + ")$"
        if t.kind in ("text", "dynamic"):
            if t.tokenizer == "raw":
                if t.kind == "text" and t.array:
                    return F.coalesce(
                        F.exists(t.col, lambda e: e.rlike(pat)),
                        F.lit(False),
                    )
                return F.coalesce(t.col.rlike(pat), F.lit(False))
            toks = (
                tokenize(t.col, t.tokenizer)
                if t.kind == "dynamic"
                else t.tokens
            )
            return F.coalesce(
                F.exists(toks, lambda tok: tok.rlike(pat)), F.lit(False)
            )
        target = t.ipkey if t.kind == "ip" else t.col
        if t.array:
            return F.coalesce(
                F.exists(target, lambda e: e.cast("string").rlike(pat)),
                F.lit(False),
            )
        return F.coalesce(target.cast("string").rlike(pat), F.lit(False))

    def _compile_range(self, node: RangeQ) -> Column:
        t = self.resolve(node.field)
        target = t.ipkey if t.kind == "ip" else t.col
        if t.kind == "dynamic":
            # numeric compare when both the value and bounds are numeric
            bounds_num = [
                self._num(b) for b in (node.lo, node.hi) if b is not None
            ]
            if bounds_num and all(b is not None for b in bounds_num):
                target = (t.col).try_cast("double")
                mk = lambda b: F.lit(float(b))  # noqa: E731
            else:
                mk = F.lit
        else:
            mk = lambda b: self._typed_lit(t, b)  # noqa: E731

        def bound(side_val: Optional[str], inc: bool, is_lo: bool) -> Optional[Column]:
            if side_val is None:
                return None
            litc = mk(side_val)
            if litc is None:
                return F.lit(False)
            if t.array:
                # ip arrays range over the hex-key shadow (target),
                # other arrays over their typed elements
                op = (
                    (lambda e: e >= litc if inc else e > litc)
                    if is_lo
                    else (lambda e: e <= litc if inc else e < litc)
                )
                return F.exists(target, op)
            if is_lo:
                return target >= litc if inc else target > litc
            return target <= litc if inc else target < litc

        lo_c = bound(node.lo, node.lo_inc, True)
        hi_c = bound(node.hi, node.hi_inc, False)
        if lo_c is None and hi_c is None:
            return target.isNotNull()  # `field:*` — field exists
        if t.array and lo_c is not None and hi_c is not None:
            # an array matches when SOME element is inside the range
            litlo, lithi = mk(node.lo), mk(node.hi)
            return F.coalesce(
                F.exists(
                    target,
                    lambda e: ((e >= litlo) if node.lo_inc else (e > litlo))
                    & ((e <= lithi) if node.hi_inc else (e < lithi)),
                ),
                F.lit(False),
            )
        out = lo_c if lo_c is not None else hi_c
        if lo_c is not None and hi_c is not None:
            out = lo_c & hi_c
        # deliberately NOT coalesce-wrapped: under filter semantics a
        # null compare result drops the row exactly like false (the
        # NOT-free Kleene monotone-substitution equivalence), the one
        # negation site (_compile_bool's must_not) coalesces its child
        # itself, and the bare comparisons push down to the parquet
        # scan — a coalesce(...) wrapper has no source-filter
        # translation and would disable row-group pruning.
        return out

    def _default_fields_match(self, text: str) -> Column:
        """Unqualified term: OR over every indexed field that can
        interpret the literal, plus ``_dynamic``
        (`search.rs:138-146,175-178`)."""
        out = F.lit(False)
        for f in self.config.fields:
            if not f.indexed or f.type in ("static_object", "dynamic_object"):
                continue
            if not self._have(f.name):
                # declared but absent from every scanned segment:
                # every predicate on it is unsatisfied (resolve()'s
                # typed-null rule) — contribute no clause instead of
                # an unresolved-column crash (r15 renderer-
                # equivalence find)
                continue
            t = self._leaf_target(f, F.col(f.name), shadow_ok=True)
            if f.type == "text":
                out = out | F.coalesce(self._token_match(t, text), F.lit(False))
            else:
                lit = self._typed_lit(t, text)
                if lit is not None:
                    tgt = t.ipkey if f.type == "ip" else t.col
                    if f.array:
                        out = out | F.coalesce(F.array_contains(tgt, lit), F.lit(False))
                    else:
                        out = out | F.coalesce(tgt == lit, F.lit(False))
        out = out | self._dynamic_any_term(text)
        return out

    def _dynamic_any_term(self, text: str) -> Column:
        toks = analyze_term(text, "default")
        if not toks:
            return F.lit(False)
        if not self._have(DYNAMIC_FIELD_NAME):
            # a frame without the remainder map (e.g. percolated
            # documents): the dynamic arm matches nothing, it must
            # not crash the whole unqualified query
            return F.lit(False)
        vals = F.map_values(F.col(DYNAMIC_FIELD_NAME))
        if len(toks) == 1:
            return F.coalesce(
                F.exists(vals, lambda v: F.array_contains(tokenize(v, "default"), toks[0])),
                F.lit(False),
            )
        pat = (
            f"(^|{_NON_ALNUM_RE})"
            + f"{_NON_ALNUM_RE}+".join(re.escape(w) for w in toks)
            + f"({_NON_ALNUM_RE}|$)"
        )
        return F.coalesce(
            F.exists(vals, lambda v: F.lower(v).rlike(pat)), F.lit(False)
        )

    def _dynamic_any_phrase(self, text: str) -> Column:
        return self._dynamic_any_term(text)


def compile_query(
    query: str, config: IndexConfig, available_columns: Optional[set[str]] = None
) -> Column:
    """Parse + compile a query string into a boolean Column."""
    ast = parse_query(query)
    return QueryCompiler(config, available_columns).compile(ast)


def _interval_bounds(node: Node, field: str, leaf) -> tuple:
    """Generic conservative (lo, hi) bounds walk shared by every
    pruning domain (time / numeric / raw string / ip) — *leaf* maps a
    Term/RangeQ/Cmp on *field* to its (lo, hi) contribution, or
    (None, None) when that leaf type does not bound this domain.

    Mirrors ``_compile_bool``'s semantics: bounds intersect across
    ``must`` conjuncts (``should`` is ignored when ``must`` is
    present), union across pure-``should`` disjuncts — and any
    disjunct without a bound kills that side entirely. ``must_not``
    never produces bounds. Returning (None, None) means "cannot
    prune", never "prune everything"."""
    if isinstance(node, (Term, RangeQ, Cmp, Prefix, Wildcard)) and node.field == (field,):
        return leaf(node)
    if isinstance(node, BoolQuery):
        if node.must:
            lo = hi = None
            for c in node.must:
                clo, chi = _interval_bounds(c, field, leaf)
                if clo is not None:
                    lo = clo if lo is None else max(lo, clo)
                if chi is not None:
                    hi = chi if hi is None else min(hi, chi)
            return lo, hi
        if node.should:
            los, his = [], []
            for c in node.should:
                clo, chi = _interval_bounds(c, field, leaf)
                los.append(clo)
                his.append(chi)
            lo = min(los) if los and all(v is not None for v in los) else None
            hi = max(his) if his and all(v is not None for v in his) else None
            return lo, hi
    return None, None


def _range_cmp_leaf(parse, terms: bool = False):
    """Leaf extractor over a literal parser: RangeQ maps ends through
    *parse*, Cmp maps one side (exclusive treated inclusively — keep
    too much, never too little), Term bounds both ends iff *terms*
    (equality semantics hold for that domain)."""

    def leaf(node):
        if isinstance(node, Term):
            if not terms:
                return None, None
            v = parse(node.text)
            return (v, v) if v is not None else (None, None)
        if isinstance(node, RangeQ):
            lo = parse(node.lo) if node.lo is not None else None
            hi = parse(node.hi) if node.hi is not None else None
            return lo, hi
        if not isinstance(node, Cmp):
            return None, None  # Prefix/Wildcard: no bound in this domain
        v = parse(node.value)
        if v is None:
            return None, None
        return (v, None) if node.op.startswith(">") else (None, v)

    return leaf


def time_bounds(
    node: Node, time_field: str
) -> tuple[Optional[datetime], Optional[datetime]]:
    """Conservative (lo, hi) datetime bounds on *time_field*, for
    manifest pruning by day range and time zone map (see
    _interval_bounds for the algebra; terms excluded — a datetime
    equality literal is already covered by the range syntax)."""
    return _interval_bounds(
        node, time_field, _range_cmp_leaf(QueryCompiler._datetime_lit)
    )


def _num_lit(v: Optional[str]):
    """Numeric literal for zone-map pruning: exact int when possible
    (u64 values past 2^53 must not round through float), else float,
    else None (unparseable — no bound)."""
    if v is None:
        return None
    try:
        return int(v)
    except (TypeError, ValueError):
        try:
            return float(v)
        except (TypeError, ValueError):
            return None


def numeric_bounds(node: Node, field: str):
    """Conservative (lo, hi) numeric bounds on a NUMBER *field* for
    manifest-level zone-map pruning; equality terms bound both ends."""
    return _interval_bounds(node, field, _range_cmp_leaf(_num_lit, terms=True))


def _prefix_hi(p: str) -> "Optional[str]":
    """A string ≥ every value with prefix *p* (exclusive successor
    ``p[:-1] + chr(ord(p[-1])+1)`` — safe as an INCLUSIVE manifest
    bound since keeping the boundary value is merely conservative);
    None when the last codepoint cannot increment."""
    if not p or ord(p[-1]) >= 0x10FFFF:
        return None
    return p[:-1] + chr(ord(p[-1]) + 1)


def raw_term_bounds(node: Node, field: str):
    """Conservative (lo, hi) STRING bounds on a scalar raw-tokenizer
    text *field*: equality terms bound both ends; prefix queries —
    and the literal prefix of a wildcard glob, the Lucene trick —
    bound ``[p, succ(p)]`` (text ranges/comparisons are left unbounded
    to avoid collation subtleties). UTF-8 byte order (Spark min/max)
    and Python codepoint order agree, so manifest comparisons are
    safe."""

    def leaf(node):
        if isinstance(node, Term):
            return node.text, node.text
        if isinstance(node, Prefix) and node.text:
            return node.text, _prefix_hi(node.text)
        if isinstance(node, Wildcard):
            lit = node.pattern.split("*")[0].split("?")[0]
            if lit:
                return lit, _prefix_hi(lit)
        return None, None

    return _interval_bounds(node, field, leaf)


def ip_bounds(node: Node, field: str):
    """Conservative (lo, hi) bounds on an ip *field* in the 32-hex
    sort-key space (``functions/ip.py``): terms bound both ends,
    ranges/comparisons map through the same order-preserving key the
    compiled predicate uses, so manifest zone maps recorded from the
    ``__ipkey__`` shadow column prune exactly."""
    from toshokan_spark.functions.ip import _key

    return _interval_bounds(node, field, _range_cmp_leaf(_key, terms=True))
