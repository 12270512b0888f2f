"""BM25 relevance scoring as a DataFrame computation.

The reference ranks per-file top-k by tantivy's BM25
(`/root/reference/src/commands/search.rs:188`, `TopDocs` collector) but
never re-ranks across files (SURVEY §2.5). This implementation is the
stricter upgrade promised there: one *global* score per document and a
deterministic global top-k.

Formula (Robertson/Spärck Jones, the Lucene/tantivy variant)::

    idf(t)     = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
    score(d,q) = Σ_t  idf(t) · tf_td·(k1+1) / (tf_td + k1·(1 − b + b·dl_d/avgdl))

Scale shape (100 TB): one narrow tokenize pass, ONE corpus-stats
aggregation (count / Σdl / per-term document frequencies — a single
row), broadcast back with a crossJoin, then a narrow per-doc score
projection. No per-term shuffle, no explode: term frequencies come
from ``size(filter(tokens, = t))`` over the token array. Query terms
are literals, so the per-term sum is an explicit left-to-right
expression chain — bit-reproducible in any engine that follows IEEE
doubles (the DuckDB oracle spells out the identical arithmetic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from toshokan_spark.functions.tokenizers import analyze_term, tokenize

K1 = 1.2
B = 0.75

#: schema of the per-segment stats parquets :func:`segment_field_stats`
#: writes. Readers pass it to ``spark.read.schema`` so a scored query
#: reads no parquet footer to learn it (inference runs a Spark job).
STATS_SCHEMA = StructType([
    StructField("field", StringType()),
    StructField("term", StringType()),
    StructField("df", LongType()),
    StructField("n_docs", LongType()),
    StructField("sum_dl", LongType()),
])


def with_bm25(
    docs: DataFrame,
    query: str,
    text_col: str = "text",
    out_col: str = "bm25",
    k1: float = K1,
    b: float = B,
    tokenizer: str = "default",
    corpus: DataFrame | None = None,
    stats_provider=None,
    tokens_col: str | None = None,
) -> DataFrame:
    """All original columns + a ``out_col`` BM25 score (rounded to 4
    decimals), keeping only rows matching ≥ 1 analyzed query term.

    *query* is analyzed with the same tokenizer as the field (tantivy
    QueryParser behavior), so ``"Spark TABLE"`` scores terms
    ``["spark", "table"]``.

    ``corpus`` is the document set the N / avgdl / df statistics are
    computed over; it defaults to *docs* but MUST be the full index
    scan when *docs* is already query-filtered — idf over the match
    set distorts multi-term weights (the reference's stats are
    corpus-level, tantivy per-segment searcher).

    ``stats_provider`` short-circuits the corpus aggregation entirely:
    a callable receiving the analyzed term list and returning a 1-row
    DataFrame with columns ``__n``, ``__sumdl``, ``__df0..__df{k-1}``
    (the merge of commit-time per-segment stats — see
    :func:`segment_field_stats`). At index scale this turns every
    scored query's full-corpus tokenize+agg into a metadata-sized
    stats read.

    ``tokens_col`` names a column on *docs* that ALREADY holds the
    tokenized text (``tokenize(text_col, tokenizer)``); the scorer
    reads it instead of tokenizing again. Callers that stage their
    own predicate over the same token array (e.g.
    :func:`~toshokan_spark.operators.relevance.boosting_query`'s
    negative match) pass it so the executed plan tokenizes each row
    exactly once (VERDICT r14 directive 6). The column is consumed:
    it is dropped from the output so the scored frame matches the
    no-``tokens_col`` shape.
    """
    terms = list(dict.fromkeys(analyze_term(query, tokenizer)))
    if not terms:
        out = docs.withColumn(out_col, F.lit(0.0)).limit(0)
        return out.drop(tokens_col) if tokens_col else out

    if tokens_col is not None:
        cols = [c for c in docs.columns if c != tokens_col]
        base = docs.withColumn("__toks", F.col(tokens_col)).drop(
            tokens_col
        ).withColumn("__dl", F.size("__toks"))
    else:
        cols = docs.columns
        base = docs.withColumn(
            "__toks", tokenize(F.col(text_col), tokenizer)
        ).withColumn("__dl", F.size("__toks"))

    if stats_provider is not None:
        stats = stats_provider(terms)
    else:
        stats_src = base if corpus is None else corpus.withColumn(
            "__toks", tokenize(F.col(text_col), tokenizer)
        ).withColumn("__dl", F.size("__toks"))
        stats = stats_src.agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__dl").alias("__sumdl"),
            *[
                F.sum(F.array_contains("__toks", F.lit(t)).cast("int")).alias(f"__df{i}")
                for i, t in enumerate(terms)
            ],
        )

    j = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("__sumdl") / F.col("__n")

    def term_score(i: int, t: str) -> Column:
        tf = F.size(F.filter(F.col("__toks"), lambda x: x == F.lit(t)))
        dfreq = F.col(f"__df{i}")
        idf = F.log(
            F.lit(1.0) + (F.col("__n") - dfreq + F.lit(0.5)) / (dfreq + F.lit(0.5))
        )
        num = tf * F.lit(k1 + 1.0)
        den = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("__dl") / avgdl)
        return F.when(tf > 0, idf * num / den).otherwise(F.lit(0.0))

    score = term_score(0, terms[0])
    for i, t in enumerate(terms[1:], start=1):
        score = score + term_score(i, t)

    return (
        j.withColumn("__s", score)
        .filter(F.col("__s") > 0)
        .select(*cols, F.round("__s", 4).alias(out_col))
    )


def segment_field_stats(df: DataFrame, fields: list[tuple[str, str]]) -> DataFrame | None:
    """Commit-time BM25 corpus statistics for one segment: per
    (field, term) document frequencies plus one per-field summary row
    (term NULL) carrying doc count and total token length.

    Written next to each segment at index/merge time so scored search
    merges per-segment stats (ints — exact and associative across
    segments) instead of re-tokenizing the whole corpus per query: at
    index scale that converts every BM25 query's full-corpus
    aggregation into a metadata-sized read with term-predicate
    pushdown. The arithmetic mirrors :func:`with_bm25`'s corpus agg
    exactly — ``n_docs = count(*)``, ``sum_dl = sum(size(tokens))``
    (null text contributes no dl, as there), ``df = #docs whose token
    array contains the term``.

    One grouped pass for every field: each field is tokenized once,
    each doc contributes per field one NULL-term row (its dl) plus one
    row per distinct term, and a single ``groupBy(field, term)``
    exchange counts them — the NULL-term group is the summary. An
    empty *df* therefore yields no rows (commits never describe an
    empty segment).

    *fields* is ``[(name, tokenizer), ...]`` for the scalar text
    fields; returns None when empty.
    """
    if not fields:
        return None
    toks = df.select(*[
        tokenize(F.col(name), tok).alias(f"__t{i}")
        for i, (name, tok) in enumerate(fields)
    ])
    no_terms = F.array().cast("array<string>")
    per_field = F.array(*[
        F.struct(
            F.lit(name).alias("field"),
            F.concat(
                F.array(F.lit(None).cast("string")),
                F.coalesce(F.array_distinct(F.col(f"__t{i}")), no_terms),
            ).alias("terms"),
            F.size(F.col(f"__t{i}")).alias("dl"),
        )
        for i, (name, _tok) in enumerate(fields)
    ])
    rows = toks.select(F.inline(per_field)).select(
        "field", F.explode("terms").alias("term"), "dl"
    )
    summary = F.col("term").isNull()
    counted = rows.groupBy("field", "term").agg(
        F.count(F.lit(1)).alias("__c"),
        F.sum(F.when(summary, F.col("dl"))).alias("sum_dl"),
    )
    return counted.select(
        "field",
        "term",
        F.when(~summary, F.col("__c")).alias("df"),
        F.when(summary, F.col("__c")).alias("n_docs"),
        "sum_dl",
    )


def merged_stats_provider(spark, stats_paths: list[str], score_field: str):
    """A ``stats_provider`` for :func:`with_bm25` that merges the
    commit-time per-segment stats parquets: integer sums across
    segments reproduce the corpus-level N / Σdl / df exactly. The
    term/field filters push down to the parquet scan, so a scored
    query reads a handful of stats rows, never the corpus."""

    def provide(terms: list[str]) -> DataFrame:
        sdf = (
            spark.read.schema(STATS_SCHEMA).parquet(*stats_paths)
            .filter(F.col("field") == F.lit(score_field))
            .filter(F.col("term").isNull() | F.col("term").isin(list(terms)))
        )
        return sdf.agg(
            F.sum(F.when(F.col("term").isNull(), F.col("n_docs"))).alias("__n"),
            F.sum(F.when(F.col("term").isNull(), F.col("sum_dl"))).alias("__sumdl"),
            *[
                F.coalesce(
                    F.sum(F.when(F.col("term") == F.lit(t), F.col("df"))),
                    F.lit(0).cast("long"),
                ).alias(f"__df{i}")
                for i, t in enumerate(terms)
            ],
        )

    return provide


def bm25_scores(
    docs: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
    tokenizer: str = "default",
) -> DataFrame:
    """(id, bm25) projection of :func:`with_bm25` — the oracle-checked
    shape."""
    scored = with_bm25(
        docs.select(F.col(id_col).alias("id"), F.col(text_col)),
        query,
        text_col=text_col,
        k1=k1,
        b=b,
        tokenizer=tokenizer,
    )
    return scored.select("id", "bm25")


def bm25_topk(
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: str = "default",
) -> DataFrame:
    """Global deterministic top-k: highest rounded score, ties broken
    by id (the cross-engine-stable sort; ordering on the unrounded
    double could flip rows on last-ulp library differences)."""
    scored = bm25_scores(docs, query, id_col=id_col, text_col=text_col, tokenizer=tokenizer)
    return scored.orderBy(F.col("bm25").desc(), F.col("id").asc()).limit(k)


def bm25_explain(
    docs: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    k1: float = K1,
    b: float = B,
    tokenizer: str = "default",
) -> DataFrame:
    """ES ``_explain`` API for the BM25 ranking: the top-*k* hits
    decomposed into one row per (doc, query term) carrying the whole
    per-term arithmetic — tf, dl, df, idf, the term's contribution —
    plus the doc's total, so a relevance engineer can see WHY a hit
    ranked where it did.

    Same plan shape as :func:`with_bm25` (one scan + a 1-row
    broadcast stats aggregate + TakeOrdered); the per-term
    decomposition is a literal-folded array exploded AFTER the top-k
    cut, so the explain costs k×|terms| extra rows, not a second
    scan."""
    terms = list(dict.fromkeys(analyze_term(query, tokenizer)))
    if not terms:
        # the empty frame must carry the CALLER's id type (string ids
        # are legal) or downstream unions against populated results
        # schema-mismatch (ADVICE r13)
        from pyspark.sql.types import (
            DoubleType, IntegerType, LongType, StringType, StructField,
            StructType,
        )

        schema = StructType([
            StructField(id_col, docs.schema[id_col].dataType),
            StructField("term", StringType()),
            StructField("tf", IntegerType()),
            StructField("dl", IntegerType()),
            StructField("df", LongType()),
            StructField("idf", DoubleType()),
            StructField("contribution", DoubleType()),
            StructField("bm25", DoubleType()),
        ])
        return docs.sparkSession.createDataFrame([], schema)
    base = docs.select(F.col(id_col), F.col(text_col)).withColumn(
        "__toks", tokenize(F.col(text_col), tokenizer)
    ).withColumn("__dl", F.size("__toks"))
    stats = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__dl").alias("__sumdl"),
        *[
            F.sum(F.array_contains("__toks", F.lit(t)).cast("int")).alias(f"__df{i}")
            for i, t in enumerate(terms)
        ],
    )
    j = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("__sumdl") / F.col("__n")

    def parts(i: int, t: str):
        tf = F.size(F.filter(F.col("__toks"), lambda x: x == F.lit(t)))
        dfreq = F.col(f"__df{i}")
        idf = F.log(
            F.lit(1.0) + (F.col("__n") - dfreq + F.lit(0.5)) / (dfreq + F.lit(0.5))
        )
        contrib = F.when(
            tf > 0,
            idf * (tf * F.lit(k1 + 1.0))
            / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("__dl") / avgdl)),
        ).otherwise(F.lit(0.0))
        return tf, dfreq, idf, contrib

    contribs = [parts(i, t) for i, t in enumerate(terms)]
    total = contribs[0][3]
    for _, _, _, c in contribs[1:]:
        total = total + c
    arms = F.array(*[
        F.struct(
            F.lit(t).alias("term"),
            tf.cast("int").alias("tf"),
            dfreq.cast("long").alias("df"),
            F.round(idf, 6).alias("idf"),
            F.round(c, 6).alias("contribution"),
        )
        for t, (tf, dfreq, idf, c) in zip(terms, contribs)
    ])
    top = (
        j.withColumn("__s", total)
        .filter(F.col("__s") > 0)
        .select(
            F.col(id_col), F.col("__dl").cast("int").alias("dl"),
            F.round("__s", 4).alias("bm25"), arms.alias("__arms"),
        )
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
    )
    e = top.select(
        id_col, "dl", "bm25", F.explode("__arms").alias("x")
    )
    return e.select(
        id_col,
        F.col("x.term").alias("term"),
        F.col("x.tf").alias("tf"),
        "dl",
        F.col("x.df").alias("df"),
        F.col("x.idf").alias("idf"),
        F.col("x.contribution").alias("contribution"),
        "bm25",
    )
