"""Benchmark decontamination: remove training documents that overlap
an evaluation/benchmark set — the standard n-gram-collision pass of
LLM data pipelines (GPT-3 appendix C and The Pile both decontaminate
on 13-gram overlap; the reference engine has no analog, this is part
of the training-data-pipeline layer this repo adds on top of it).

Scale shape (the whole point at 100 TB):
* the BENCHMARK side is small by construction (eval sets are
  thousands of documents) — its distinct n-gram set is aggregated
  and BROADCAST;
* the corpus side explodes its n-grams in a narrow pipelined pass
  and semi-joins the broadcast set map-side, so the n-gram fan-out
  (corpus_tokens × 1 rows) never reaches a shuffle — only the HITS
  (contaminated gram occurrences, tiny) flow into the per-doc
  aggregation;
* per-doc hit counting is a partial-aggregated groupBy on doc id.

Everything is built-in Column algebra over word arrays (no UDFs) and
deliberately DuckDB-expressible, so the contamination report gets a
full value-level oracle.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from toshokan_spark.literals import literal_relation
from toshokan_spark.operators.dedup import _shingles_from_words, words_col


def _doc_grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, gram) — DISTINCT word n-grams per document (set semantics:
    a gram repeated inside one doc counts once), with the same
    short-doc fallback as the dedup shinglers (docs under n words
    contribute their whole token sequence as one gram)."""
    staged = df.select(
        F.col(id_col).alias("id"), words_col(F.col(text_col)).alias("__w")
    )
    return staged.select(
        "id", F.explode(_shingles_from_words(F.col("__w"), n)).alias("gram")
    )


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: Optional[str] = None,
    n: int = 13,
) -> DataFrame:
    """One row per CONTAMINATED training document: (doc_id, n_hits,
    sample_gram) where ``n_hits`` counts the doc's distinct word
    n-grams that also occur anywhere in *benchmark* and
    ``sample_gram`` is the lexicographically first such gram (a
    deterministic witness for spot-checking). Clean documents are
    absent — pipe through :func:`decontaminate` to drop the flagged
    ones.

    ``n=13`` is the published operating point (GPT-3 / The Pile);
    lower it for short-document corpora. The benchmark gram set is
    explicitly broadcast — see the module docstring for why the
    corpus-side explode never shuffles.

    Short-benchmark containment: a benchmark doc UNDER n words emits
    its whole token sequence as one gram, which plain n-gramming of
    the corpus could only ever equality-match against an identically
    short training doc — a longer doc quoting the eval item verbatim
    would slip through. So the corpus side ALSO emits L-grams for
    every distinct short-benchmark length L (collected once,
    model-sized: at most n-1 values), restricted to docs with MORE
    than L words so no gram is double-emitted against the n-path's
    own short-doc fallback. Hit counts stay per-distinct-gram across
    all probed lengths (cross-length string collisions are impossible
    — a gram's word count is recoverable from its spaces).
    """
    bench_text = bench_text_col or text_col
    bench_grams = (
        _doc_grams(benchmark, id_col, bench_text, n).select("gram").distinct()
    )
    doc_grams = _doc_grams(docs, id_col, text_col, n)

    short_lens = (
        benchmark.select(F.size(words_col(F.col(bench_text))).alias("L"))
        .filter((F.col("L") > 0) & (F.col("L") < n))
        .distinct()
    )
    if short_lens.limit(1).count():
        staged = docs.select(
            F.col(id_col).alias("id"), words_col(F.col(text_col)).alias("__w")
        )
        ex = staged.crossJoin(F.broadcast(short_lens))
        nw = F.size("__w")
        l_grams = F.when(
            nw > F.col("L"),
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), nw - F.col("L") + 1),
                    lambda i: F.array_join(
                        F.slice(F.col("__w"), i, F.col("L")), " "
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))
        doc_grams = doc_grams.unionAll(
            ex.select("id", F.explode(l_grams).alias("gram"))
        )

    hits = doc_grams.join(F.broadcast(bench_grams), "gram")
    return (
        hits.groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.min("gram").alias("sample_gram"),
        )
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: Optional[str] = None,
    n: int = 13,
    min_hits: int = 1,
) -> DataFrame:
    """Training docs with fewer than ``min_hits`` benchmark n-gram
    collisions (default: any collision disqualifies). The anti-join
    keys on doc id only — document payloads never enter the
    contamination join."""
    flagged = contamination_report(
        docs, benchmark, id_col, text_col, bench_text_col, n
    ).filter(F.col("n_hits") >= min_hits).select(id_col)
    return docs.join(flagged, id_col, "left_anti")


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: Optional[str] = None,
    bench_vec_col: Optional[str] = None,
    max_inline: int = 128,
) -> DataFrame:
    """EMBEDDING-space decontamination — the semantic sibling of the
    n-gram :func:`contamination_report`: flag every corpus vector
    whose cosine to ANY benchmark/eval vector reaches ``threshold``
    (paraphrased or lightly-reworded eval material that shares no
    13-gram, the gap SemDeDup-style embedding matching exists to
    close). Returns one row per contaminated vector:
    ``(id, eval_id, cosine)`` where ``eval_id`` is the closest
    benchmark vector (ties by lowest id) — drop the flagged ids from
    the training set, keep the report for audit.

    Scale shape: the benchmark side is model-sized BY CONSTRUCTION
    (eval sets are thousands of vectors) and is collected driver-side.
    Small sets (<= ``max_inline``) are inlined as literal vectors —
    the corpus pass is then ONE narrow projection with no join or
    shuffle; larger sets would blow up the Catalyst expression tree
    (|bench| x dim literal nodes), so they take a broadcast
    cross-join + per-corpus-id min aggregation instead (the
    :func:`contamination_report` / `knn_bruteforce` broadcast
    discipline — the corpus never shuffles its vectors, only
    (id, score, bid) triples reach the aggregation). Both paths are
    value-identical (tested). For eval sets too big to broadcast at
    all, bucket both sides through
    :func:`~toshokan_spark.operators.similarity.knn_lsh` instead.

    Zero-norm vectors have no defined cosine: zero-norm BENCHMARK
    vectors are skipped with a warning (a NaN score would sort
    differently across engines), and zero-norm corpus vectors are
    excluded from the report. Cosines use the sequential-fold
    expression (`dedup.cosine_sim`) for engine bit-parity; the
    threshold compares the 6-decimal ROUNDED cosine so an engine ulp
    cannot flip membership at the boundary."""
    import logging

    from pyspark.sql import Column

    from toshokan_spark.operators.dedup import dot_product, sq_norm
    from toshokan_spark.operators.util import spread

    def safe_cos(a: Column, b: Column) -> Column:
        # cosine_sim's exact arithmetic, but TOTAL: the division is
        # branch-guarded so ANSI mode cannot raise DIVIDE_BY_ZERO when
        # Catalyst pushes the threshold filter through the projection
        # and evaluates it as a common subexpression ahead of the
        # zero-norm row filter (observed: subexpression elimination in
        # the merged Filter predicate defeats AND short-circuiting)
        den = F.sqrt(sq_norm(a) * sq_norm(b))
        return F.when(den > 0, dot_product(a, b) / den)

    bench_id_col = bench_id_col or id_col
    bench_vec_col = bench_vec_col or vec_col
    bench = []
    n_zero = 0
    bsel = benchmark.select(
        F.col(bench_id_col).alias("bid"), F.col(bench_vec_col).alias("bv")
    )
    for r in bsel.collect():
        v = [float(x) for x in r["bv"]]
        if not any(x != 0.0 for x in v):
            n_zero += 1
            continue
        bench.append((r["bid"], v))
    if n_zero:
        logging.getLogger(__name__).warning(
            "semantic_decontaminate: skipped %d zero-norm benchmark "
            "vector(s) (cosine undefined)", n_zero,
        )
    if not bench:
        raise ValueError("semantic_decontaminate: empty benchmark set")

    base = spread(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v"))
    ).filter(sq_norm(F.col("__v")) > 0)

    if len(bench) <= max_inline:
        # min over (-cosine, bid): max cosine, ties to the LOWEST id
        best = F.array_min(
            F.array(
                *[
                    F.struct(
                        (
                            -safe_cos(
                                F.col("__v"),
                                F.array(*[F.lit(x) for x in bv]),
                            )
                        ).alias("nc"),
                        F.lit(bid).alias("bid"),
                    )
                    for bid, bv in bench
                ]
            )
        )
        picked = base.select("id", best.alias("__b"))
    else:
        bid_t = bsel.schema["bid"].dataType.simpleString()
        b_df = literal_relation(
            corpus.sparkSession, bench, f"bid {bid_t}, bv array<double>")
        scored = base.crossJoin(F.broadcast(b_df)).select(
            "id",
            F.struct(
                (-safe_cos(F.col("__v"), F.col("bv"))).alias("nc"),
                F.col("bid").alias("bid"),
            ).alias("__s"),
        )
        picked = scored.groupBy("id").agg(F.min("__s").alias("__b"))

    return picked.select(
        F.col("id").alias(id_col),
        F.col("__b").getField("bid").alias("eval_id"),
        F.round(-F.col("__b").getField("nc"), 6).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)
