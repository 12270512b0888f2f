"""Driver-side values as Spark SQL literal text, the one way model
state (weights, label tables, offsets, centroids, query literals)
re-enters a plan: text parses in ONE ``F.expr`` trip, where a Column
tree of ``F.lit`` calls pays a py4j round trip per node and
``createDataFrame`` parallelizes an RDD whose broadcast runs its own
collect job. Every value carries its exact type (``L`` for longs,
typed nulls and empty collections); doubles are ``repr`` + ``D``,
bit-identical, NaN and ±Inf cast from their names; a string holding
``'`` or ``\\`` is its UTF-8 bytes in hex cast to STRING, which reads
the same under both settings of ``spark.sql.parser.escapedStringLiterals``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: :func:`literal_relation` renders at most this many values (an
#: array or map counts its entries); above it ``createDataFrame``, one
#: extra job, is the cheaper side. The parse and analysis of a literal
#: grow with its size: on a 4-core host 2,048 values take 0.21 s where
#: ``createDataFrame`` takes 0.29 s, 8,192 take 0.62 s against 0.31 s,
#: and 131,072 take 8.2 s against 0.7 s
LITERAL_CAP = 8192


def sql_literal(v, dtype: T.DataType) -> str:
    """SQL text that parses to *v* as exactly the Spark type *dtype*.
    Supported: boolean, int, bigint, double and string, and arrays and
    maps of them. Raises ValueError for any other type, a value of the
    wrong Python type or an out-of-range integer."""
    if v is None:
        return f"CAST(NULL AS {dtype.simpleString()})"
    if isinstance(dtype, T.BooleanType) and isinstance(v, bool):
        return "true" if v else "false"
    if (isinstance(dtype, (T.IntegerType, T.LongType))
            and isinstance(v, int) and not isinstance(v, bool)):
        bits, suffix = (31, "") if isinstance(dtype, T.IntegerType) else (63, "L")
        if -(1 << bits) <= v < (1 << bits):
            return f"{v}{suffix}"
    elif isinstance(dtype, T.DoubleType) and isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return f"{v!r}D"
    elif isinstance(dtype, T.StringType) and isinstance(v, str):
        if "'" in v or "\\" in v:
            return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"
        return f"'{v}'"
    elif isinstance(dtype, T.ArrayType) and isinstance(v, (list, tuple)):
        if not v:
            return f"CAST(array() AS {dtype.simpleString()})"
        return "array(" + ",".join(
            sql_literal(x, dtype.elementType) for x in v) + ")"
    elif isinstance(dtype, T.MapType) and isinstance(v, dict):
        if not v:
            return f"CAST(map() AS {dtype.simpleString()})"
        if any(k is None for k in v):
            raise ValueError("a map literal has no null key")
        return "map(" + ",".join(
            sql_literal(k, dtype.keyType) + "," + sql_literal(x, dtype.valueType)
            for k, x in v.items()) + ")"
    raise ValueError(f"no SQL literal renders {v!r} as {dtype.simpleString()}")


def literal_relation(spark, rows, schema) -> DataFrame:
    """*rows* (tuples in *schema* order; *schema* a ``StructType`` or a
    DDL string) as a frame: one ``inline(CAST(array(struct…) AS
    ARRAY<STRUCT<…>>))`` expression over ``spark.range(1)``, parsed in
    one trip, which broadcasts straight from the driver. Empty rows,
    more than :data:`LITERAL_CAP` values, or any value
    :func:`sql_literal` refuses (a null in a non-nullable field
    included) take ``createDataFrame(rows, schema)`` instead."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    rows = list(rows)
    fields = schema.fields
    try:
        if not rows:
            raise ValueError("no rows")
        n, parts = 0, []
        for r in rows:
            if isinstance(r, dict) or len(r) != len(fields):
                raise ValueError("a row is not a tuple in schema order")
            vals = []
            for x, f in zip(r, fields):
                n += len(x) if isinstance(x, (list, tuple, dict)) else 1
                if n > LITERAL_CAP:
                    raise ValueError("more values than LITERAL_CAP")
                if x is None and not f.nullable:
                    raise ValueError(f"null in non-nullable {f.name}")
                vals.append(sql_literal(x, f.dataType))
            parts.append("struct(" + ",".join(vals) + ")")
    except ValueError:
        return spark.createDataFrame(rows, schema)
    struct = ",".join(
        "`" + f.name.replace("`", "``") + "`:" + f.dataType.simpleString()
        + ("" if f.nullable else " NOT NULL")
        for f in fields
    )
    arr = f"CAST(array({','.join(parts)}) AS ARRAY<STRUCT<{struct}>>)"
    if not all(f.nullable for f in fields):
        # the cast array may hold null structs, so inline would make
        # every field nullable; array_compact's cannot
        arr = f"array_compact({arr})"
    return spark.range(1).select(F.expr(f"inline({arr})"))
