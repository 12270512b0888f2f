"""Datetime coercion with the reference's exact semantics.

Formats are tried in declared order
(`/root/reference/src/config/datetime.rs:107-122`); integer epochs get
their unit inferred by magnitude (`datetime.rs:16-46`):

    seconds  if 72_057_595        <= v <= 8_589_934_591
    millis   if 72_057_595_000    <= v <= 8_589_934_591_000
    micros   if 72_057_595e6      <= v <= 8_589_934_591e6
    nanos    if 72_057_595e9     <= v <= 8_589_934_591e9
    else     -> parse error (document skipped)

(i.e. 13 Apr 1972 23:59:55 GMT .. 16 Mar 2242 12:56:31 GMT).
The ranges are positive-only — `datetime.rs:30-40` matches the RAW
i64 against them, so a negative epoch is a parse error and the
document is skipped (query-side numeric literals, `query_sql.py
_datetime_lit`, are symmetric).

All pure Column expressions — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MIN_TS_SECONDS = 72_057_595
MAX_TS_SECONDS = 8_589_934_591


def epoch_any_to_timestamp(v: Column) -> Column:
    """Magnitude-inferred epoch (long) -> timestamp. Null when out of
    the supported range (the caller treats null as a parse failure).

    The ranges are positive-only, matched against the raw value —
    exactly `datetime.rs:30-46` — so negative epochs null out and the
    document is skipped."""
    # nanos -> micros exactly: strip the sub-us remainder, then divide
    # via decimal (a double division of an i64 near 8.6e18 exceeds the
    # 53-bit mantissa and would perturb the microsecond)
    ns_to_us = (
        (v - F.pmod(v, F.lit(1000))).cast("decimal(20,0)") / F.lit(1000)
    ).cast("long")
    return (
        F.when(
            v.between(MIN_TS_SECONDS, MAX_TS_SECONDS), F.timestamp_seconds(v)
        )
        .when(
            v.between(MIN_TS_SECONDS * 1_000, MAX_TS_SECONDS * 1_000),
            F.timestamp_millis(v),
        )
        .when(
            v.between(MIN_TS_SECONDS * 1_000_000, MAX_TS_SECONDS * 1_000_000),
            F.timestamp_micros(v),
        )
        .when(
            v.between(MIN_TS_SECONDS * 1_000_000_000, MAX_TS_SECONDS * 1_000_000_000),
            F.timestamp_micros(ns_to_us),
        )
        .otherwise(F.lit(None).cast("timestamp"))
    )


def _try_format(raw: Column, fmt: str) -> Column:
    """One format attempt over the *raw JSON text* of the value
    (strings arrive without quotes, numbers as digits)."""
    if fmt == "timestamp":
        as_long = (raw).try_cast("long")
        return epoch_any_to_timestamp(as_long)
    if fmt in ("rfc3339", "iso8601"):
        # Spark's try_to_timestamp handles ISO-8601 / RFC3339 shapes
        # (with or without 'T', offset or 'Z').
        return F.coalesce(
            F.try_to_timestamp(raw),
            F.try_to_timestamp(raw, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
            F.try_to_timestamp(raw, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")),
        )
    if fmt == "rfc2822":
        # Spark >= 3 rejects the EEE (day-of-week) parse pattern
        # (DATETIME_PATTERN_RECOGNITION); strip the optional leading
        # day name instead — RFC 2822 makes it purely decorative.
        # Only REAL weekday names are stripped (chrono's rfc2822
        # parser errors on "Foo, 5 Jan ..." and the doc is skipped;
        # stripping any 3-letter prefix would wrongly accept it), and
        # the comma is optional (obsolete-syntax folding whitespace).
        body = F.regexp_replace(
            raw, r"^(Mon|Tue|Wed|Thu|Fri|Sat|Sun)(,\s*|\s+)", ""
        )
        return F.coalesce(
            F.try_to_timestamp(body, F.lit("d MMM yyyy HH:mm:ss Z")),
            F.try_to_timestamp(body, F.lit("d MMM yyyy HH:mm:ss z")),
        )
    raise ValueError(f"unknown datetime format {fmt!r}")


def parse_datetime(raw: Column, formats: list[str]) -> Column:
    """Try each declared format in order; first success wins
    (datetime.rs:107-122). Null result == unparseable (doc skipped by
    permissive ingest)."""
    attempts = [_try_format(raw, f) for f in formats]
    return F.coalesce(*attempts) if attempts else F.lit(None).cast("timestamp")
