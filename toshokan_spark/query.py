"""Query analysis for manifest pruning, and the compiler's public
names.

The query language is lowered once, to SQL text, by
:class:`toshokan_spark.query_sql.QueryCompiler`; ``CompileError``,
``QueryCompiler`` and ``compile_query`` are importable from here too.
This module holds the conservative bounds a parsed query puts on one
field (time, number, raw string, ip), which ``search`` checks against
each segment's manifest entry before reading it.
"""

from __future__ import annotations

from datetime import datetime
from typing import Optional

from toshokan_spark.plans.ast import BoolQuery, Cmp, Node, Prefix, RangeQ, Term, Wildcard
from toshokan_spark.query_sql import (  # noqa: F401 (re-exported)
    CompileError,
    QueryCompiler,
    _datetime_lit,
    _num,
    compile_query,
)


def _interval_bounds(node: Node, field: str, leaf) -> tuple:
    """Generic conservative (lo, hi) bounds walk shared by every
    pruning domain (time / numeric / raw string / ip) — *leaf* maps a
    Term/RangeQ/Cmp on *field* to its (lo, hi) contribution, or
    (None, None) when that leaf type does not bound this domain.

    Mirrors the compiled bool semantics: bounds intersect across
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
        node, time_field, _range_cmp_leaf(_datetime_lit)
    )


def numeric_bounds(node: Node, field: str):
    """Conservative (lo, hi) numeric bounds on a NUMBER *field* for
    manifest-level zone-map pruning; equality terms bound both ends."""
    return _interval_bounds(node, field, _range_cmp_leaf(_num, terms=True))


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
