"""Schema-driven ingestion: raw JSON lines -> typed DataFrame.

Replicates the reference's per-document parse pipeline
(`/root/reference/src/commands/index.rs:95-192`,
`src/commands/field_parser.rs:78-190`) as a single declarative
projection — one `from_json` + per-field coercion expressions — so
Catalyst/Tungsten own execution and the whole thing is one narrow map
stage at any scale (no shuffle, no Python in the hot path except the
opt-in ip/en_stem helpers).

Semantics preserved:

* per-type coercions of SURVEY §1.3 (parse_string numbers/bools with
  the exact 4..5-char trimmed case-insensitive bool rule,
  `field_parser.rs:121-141`; epoch-magnitude datetimes; IPv6-mapped
  IPs)
* unclaimed top-level keys -> ``_dynamic`` map
  (`src/commands/index.rs:143-159`)
* a document with any unparseable *present* field value is skipped,
  not failed (`index.rs:150-156`) — permissive ingest; callers can
  also collect the rejects. Blank / whitespace-only lines and
  malformed JSON lines are rejects too (deviation, documented: the
  reference ABORTS the whole batch on a non-JSON line — serde error
  propagation in `index.rs` — which at 100 TB would let one corrupt
  record kill a multi-hour job; we skip-and-count instead).
* ``parse_string: false`` on a **boolean** field rejects JSON strings
  (only real JSON ``true``/``false`` pass), matching
  `field_parser.rs:121-128` — detected via a second typed extraction,
  since a JSON bool and the string "true" are identical after
  string-leaf extraction.

Deviation (documented): with ``parse_string: false`` the reference
also rejects JSON strings for *number* fields; for numbers we accept
numeric strings regardless (superset acceptance, never wrong values).

Index shadow columns (the engine's "inverted index", SURVEY §1.2):

* ``__tokens__<field>``  array<string> of analyzed tokens for every
  indexed text field — term queries become ``array_contains``
* ``__ipkey__<field>``   fixed-width 32-char hex-string key for ip
  fields (lexicographic == numeric order) — range queries compare
  on the key
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from toshokan_spark.config import DYNAMIC_FIELD_NAME, FieldConfig, IndexConfig
from toshokan_spark.functions.datetime_ import parse_datetime
from toshokan_spark.functions.ip import ip_sort_key, ip_sort_key_array
from toshokan_spark.functions.tokenizers import tokenize, tokenize_elements

#: u64 bounds (`src/config/number.rs:8-14`: parse::<u64> — negatives
#: and values > 2^64-1 are parse errors)
U64_MAX = (1 << 64) - 1

TOKENS_PREFIX = "__tokens__"
IPKEY_PREFIX = "__ipkey__"
REJECT_COL = "__reject"


def tokens_col(field_name: str) -> str:
    return f"{TOKENS_PREFIX}{field_name}"


def ipkey_col(field_name: str) -> str:
    return f"{IPKEY_PREFIX}{field_name}"


def is_internal(col_name: str) -> bool:
    return col_name.startswith("__")


# ---------------------------------------------------------------------------
# raw extraction schema: the declared shape with all leaves as strings
# ---------------------------------------------------------------------------

def _raw_type(fc: FieldConfig) -> T.DataType:
    if fc.type == "static_object":
        inner: T.DataType = T.StructType(
            [T.StructField(f.name, _raw_type(f), True) for f in fc.fields]
        )
    elif fc.type == "dynamic_object":
        inner = T.MapType(T.StringType(), T.StringType())
    else:
        inner = T.StringType()
    return T.ArrayType(inner) if fc.array else inner


def raw_schema(config: IndexConfig) -> T.StructType:
    return T.StructType([T.StructField(f.name, _raw_type(f), True) for f in config.fields])


# -- strict boolean (parse_string: false) -----------------------------------
#
# After string-leaf extraction a JSON bool `true` and a JSON string
# "true" are indistinguishable, so strict booleans get a SECOND
# from_json pass whose leaves are BooleanType: Jackson only converts
# real JSON booleans there, strings null out — present-but-null ==
# reject, which is exactly `field_parser.rs:121-128` common_parse.

def _needs_strict(fc: FieldConfig) -> bool:
    if fc.type == "boolean" and not fc.parse_string:
        return True
    if fc.type == "static_object":
        return any(_needs_strict(c) for c in fc.fields)
    return False


def _strict_raw_type(fc: FieldConfig) -> T.DataType:
    if fc.type == "static_object":
        inner: T.DataType = T.StructType(
            [T.StructField(f.name, _strict_raw_type(f), True) for f in fc.fields]
        )
    elif fc.type == "dynamic_object":
        inner = T.MapType(T.StringType(), T.StringType())
    elif fc.type == "boolean" and not fc.parse_string:
        inner = T.BooleanType()
    else:
        inner = T.StringType()
    return T.ArrayType(inner) if fc.array else inner


def strict_schema(config: IndexConfig) -> T.StructType:
    return T.StructType(
        [T.StructField(f.name, _strict_raw_type(f), True) for f in config.fields]
    )


# ---------------------------------------------------------------------------
# coercion: raw leaf -> typed value, plus "present but unparseable" flag
# ---------------------------------------------------------------------------

def _coerce_scalar(fc: FieldConfig, raw: Column) -> Column:
    if fc.type == "text":
        return raw
    if fc.type == "number":
        if fc.number_type == "f64":
            return raw.try_cast("double")
        if fc.number_type == "u64":
            # decimal(20,0) carries the full u64 range; enforce the
            # reference's parse::<u64> bounds (negatives and > 2^64-1
            # are parse errors -> doc skipped)
            d = raw.try_cast("decimal(20,0)")
            # U64_MAX exceeds a java long — literal goes via string
            umax = F.lit(str(U64_MAX)).cast("decimal(20,0)")
            return F.when((d >= 0) & (d <= umax), d)
        return raw.try_cast("long")
    if fc.type == "boolean":
        t = F.trim(raw)
        return (
            F.when(F.length(t).between(4, 5) & (F.lower(t) == "true"), F.lit(True))
            .when(F.length(t).between(4, 5) & (F.lower(t) == "false"), F.lit(False))
            .otherwise(F.lit(None).cast("boolean"))
        )
    if fc.type == "datetime":
        return parse_datetime(raw, fc.formats)
    if fc.type == "ip":
        # keep the original textual form for output parity (golden F4
        # prints "192.168.0.1"); the numeric key lives in the shadow col
        return raw
    raise AssertionError(fc.type)


def _is_strict_bool(fc: FieldConfig) -> bool:
    return fc.type == "boolean" and not fc.parse_string


def _coerce(fc: FieldConfig, raw: Column, sraw: Optional[Column] = None) -> Column:
    """Typed value of one field from its raw (string-leaf) extraction;
    ``sraw`` is the parallel strict extraction (boolean leaves typed)
    when the schema has strict booleans."""
    if fc.type == "dynamic_object":
        return raw  # already map<string,string>
    if fc.type == "static_object":
        return F.struct(
            *[
                _coerce(
                    child,
                    raw.getField(child.name),
                    sraw.getField(child.name) if sraw is not None else None,
                ).alias(child.name)
                for child in fc.fields
            ]
        )  # array-of-static_object rejected at config
    if _is_strict_bool(fc) and sraw is not None:
        return sraw  # already boolean (or null == reject)
    if fc.array:
        return F.transform(raw, lambda e: _coerce_scalar(fc, e))
    return _coerce_scalar(fc, raw)


def _bad(
    fc: FieldConfig, raw: Column, typed: Column, sraw: Optional[Column] = None
) -> Column:
    """True when the value is present but failed to parse -> the whole
    document is skipped (`index.rs:150-156`)."""
    if fc.type == "dynamic_object":
        return F.lit(False)
    if fc.type == "static_object":
        parts = [
            _bad(
                child,
                raw.getField(child.name),
                typed.getField(child.name),
                sraw.getField(child.name) if sraw is not None else None,
            )
            for child in fc.fields
        ]
        out = F.lit(False)
        for p in parts:
            out = out | p
        return out
    if fc.type == "text":
        return F.lit(False)
    if _is_strict_bool(fc) and sraw is not None:
        if fc.array:
            return F.exists(
                F.zip_with(raw, sraw, lambda r, s: r.isNotNull() & s.isNull()),
                lambda x: x,
            )
        return raw.isNotNull() & sraw.isNull()
    if fc.array:
        return F.exists(raw, lambda e: e.isNotNull() & _coerce_scalar(fc, e).isNull())
    return raw.isNotNull() & typed.isNull()


# ---------------------------------------------------------------------------
# the full projection
# ---------------------------------------------------------------------------

#: the raw JSON line while a batch is projected (dropped at the end)
_LINE_COL = "__line"


def ingest_projection(
    lines: DataFrame,
    config: IndexConfig,
    value_col: str = "value",
    keep_rejects: bool = False,
) -> DataFrame:
    """raw JSON-lines DataFrame -> typed index DataFrame.

    One narrow stage: parse JSON twice (typed raw-leaf struct + a
    map<string,string> for the dynamic remainder), coerce, tokenize.
    The line is carried under an internal name, so a declared field
    may share *value_col*'s name (``value``, the default).
    """
    v = F.col(_LINE_COL)
    raw = F.from_json(v, raw_schema(config)).alias("__raw")
    # map<string,variant> -> to_json keeps the *exact* raw JSON text of
    # every value (strings stay quoted), so the _dynamic splice at
    # output time reproduces original JSON types byte-for-byte
    allmap = F.transform_values(
        F.from_json(v, "map<string,variant>"), lambda k, val: F.to_json(val)
    ).alias("__all")

    extra: dict[str, Column] = {"__raw": raw, "__all": allmap}
    have_strict = any(_needs_strict(f) for f in config.fields)
    if have_strict:
        extra["__rawb"] = F.from_json(v, strict_schema(config)).alias("__rawb")
    df = lines.select(F.col(value_col).alias(_LINE_COL)).withColumns(extra)

    declared = [f.name for f in config.fields]
    cols: dict[str, Column] = {}
    bads: list[Column] = []
    for fc in config.fields:
        rawf = F.col("__raw").getField(fc.name)
        srawf = F.col("__rawb").getField(fc.name) if have_strict else None
        typed = _coerce(fc, rawf, srawf)
        # null out the whole field when the raw key was absent (struct
        # coercion would otherwise produce a struct of nulls)
        cols[fc.name] = F.when(rawf.isNull(), F.lit(None).cast(fc.spark_type())).otherwise(typed)
        bads.append(_bad(fc, rawf, typed, srawf))

    # _dynamic remainder: every key not claimed by the schema
    # (`src/commands/index.rs:143-159`)
    cols[DYNAMIC_FIELD_NAME] = F.map_filter(
        F.col("__all"), lambda k, _: ~k.isin(*declared) if declared else F.lit(True)
    )

    # malformed OR effectively-empty line: a blank line must not become
    # an all-null committed row (the reference errors on any non-JSON
    # line — serde propagation in `index.rs`; we reject-and-continue)
    bad_line = F.col("__all").isNull() | (F.length(F.trim(v)) == 0)
    reject = bad_line
    for b in bads:
        reject = reject | b

    out = df.withColumns(cols).withColumn(REJECT_COL, F.coalesce(reject, F.lit(False)))
    out = out.drop("__raw", "__all", "__rawb", _LINE_COL)

    # index shadow columns
    shadows: dict[str, Column] = {}
    for fc in config.fields:
        if fc.type == "text" and fc.indexed:
            base = F.col(fc.name)
            if fc.array:
                shadows[tokens_col(fc.name)] = F.array_distinct(
                    F.flatten(tokenize_elements(base, fc.tokenizer))
                )
            else:
                shadows[tokens_col(fc.name)] = tokenize(base, fc.tokenizer)
        if fc.type == "ip":
            base = F.col(fc.name)
            if fc.array:
                # whole-array pandas UDF: a scalar UDF inside
                # F.transform raises LAMBDA_FUNCTION_WITH_PYTHON_UDF
                shadows[ipkey_col(fc.name)] = ip_sort_key_array(base)
            else:
                shadows[ipkey_col(fc.name)] = ip_sort_key(base)
    if shadows:
        out = out.withColumns(shadows)

    if not keep_rejects:
        out = out.filter(~F.col(REJECT_COL)).drop(REJECT_COL)
    return out

