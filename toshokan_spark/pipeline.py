"""The curation pipeline as a runnable recipe (VERDICT r8 #5): the
stage chain `tests/test_pipeline_e2e.py` proves — optional URL front
gate (domain blocklist + canonical-URL dedup) → canonicalize →
exact dedup → near-dup clusters → quality gate → CCNet thinning →
optional DSIR ranking → leakage-safe split → sequence packing —
composed over an ingested index and exposed through the CLI
(``toshokan_spark curate``), with a per-stage row-count report.

Every stage is one of the repo's existing operators; this module only
sequences them and carries the id/text/source column mapping, so the
scale properties are the operators' own (bucketed joins, broadcast
model tables, no windows beyond cluster-sized ones). Every stage
frame is materialized with an eager ``localCheckpoint()``: the stage
count reads the checkpoint, later stages plan over a bare RDD scan
instead of re-analyzing (and re-printing, per SQL execution) the whole
pipeline above them, AQE still runs each stage's own shuffles, and the
blocks are freed by the ContextCleaner once the frame is dropped —
nothing is registered in the session's CacheManager, so there is
nothing to unpersist.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: internal columns the indexer adds that curation must not see
_INTERNAL_PREFIXES = ("__tokens__",)
_INTERNAL_COLS = ("__day", "_dynamic")


def _logical(df: DataFrame) -> DataFrame:
    keep = [
        c
        for c in df.columns
        if c not in _INTERNAL_COLS
        and not any(c.startswith(p) for p in _INTERNAL_PREFIXES)
    ]
    return df.select(*keep)


@dataclass
class CurateResult:
    """Per-stage row counts plus the shipped frames."""

    counts: "dict[str, object]" = field(default_factory=dict)
    #: (doc_id, source, text [, log_weight]) — the curated documents
    documents: Optional[DataFrame] = None
    #: (doc_id, split, cluster_id)
    splits: Optional[DataFrame] = None
    #: packed train sequences (source, seq_id, doc_id, start_tok, ...)
    packed: Optional[DataFrame] = None


def curate(
    spark: SparkSession,
    catalog,
    index_name: str,
    *,
    id_field: str = "doc_id",
    text_field: str = "text",
    source_field: Optional[str] = "source",
    url_field: Optional[str] = None,
    blocked_domains: "Optional[list[str]]" = None,
    fractions: "Optional[dict[str, float]]" = None,
    seq_len: int = 2048,
    n_buckets: int = 3,
    tail_rate: float = 0.1,
    dedup_method: str = "jaccard",
    jaccard_k: int = 3,
    jaccard_threshold: float = 0.5,
    quality_model_path: Optional[str] = None,
    quality_model_dim: int = 4096,
    train_quality_query: Optional[str] = None,
    train_quality_threshold: Optional[float] = None,
    ensemble_threshold: Optional[float] = None,
    dsir_target_query: Optional[str] = None,
    dsir_dim: int = 4096,
    repeat_budget: Optional[int] = None,
    mixture_alpha: float = 0.5,
    curriculum_stages: Optional[int] = None,
    seed: int = 0,
    report: Optional[Callable[[str], None]] = None,
) -> CurateResult:
    """Run the full curation chain over index ``index_name``.

    ``dsir_target_query`` is a query in the index's own search syntax
    (the ``search`` subcommand's language); the matching subset is the
    DSIR target distribution and every surviving document gains a
    ``log_weight`` column (higher = more target-like). Without it the
    DSIR stage is skipped.

    ``source_field=None`` treats the whole index as one shard (CCNet
    buckets and sequence packing both group by source).

    ``url_field`` turns on the URL front gate (the FineWeb/C4
    URL-filtering stage, BEFORE any text work): an optional broadcast
    domain blocklist (``blocked_domains``) drops whole sites by
    registered domain, then canonical-URL dedup keeps one first-writer
    document per canonical form (``operators/web.py``). The field may
    be undeclared — it then resolves from the ``_dynamic`` remainder
    like every unqualified query field.

    ``quality_model_path`` adds the model-based filter stage after
    the rule-based Gopher gate: a trained ``(idx, w)`` weight-table
    parquet (the fastText/DCLM-style hashed-feature linear
    classifier, sparse models fine) — documents whose sigmoid score
    falls below 0.5 are dropped.

    ``train_quality_query`` closes the DCLM loop IN-pipeline instead:
    documents matching the query (the index's own search syntax) are
    the positive seed, the rest negatives;
    :func:`~toshokan_spark.operators.text.train_hashed_classifier`
    fits the hashed linear model right here. The default gate keeps
    documents with STRICTLY POSITIVE model evidence (score > 0, i.e.
    prob > 0.5): least-squares weights start at zero and only
    features that co-occur with positives ever go positive, so a
    document sharing NO vocabulary with the seed scores exactly zero
    and drops, while seed-like documents the literal query missed
    score positive and survive (pseudo-label expansion, the DCLM
    recipe). ``train_quality_threshold`` overrides with an absolute
    prob cut (>=). Mutually exclusive with ``quality_model_path``.

    ``repeat_budget`` (tokens) turns on the data-constrained
    repetition stage over the train split: a temperature-
    ``mixture_alpha`` source mixture feeds
    :func:`~toshokan_spark.operators.sampling.repeat_plan` /
    ``epoch_expand``, so scarce sources repeat across epochs and the
    packed stream realizes the mixture at the budget.
    ``curriculum_stages`` orders the (expanded) train instances
    easy-first by token count with a seeded within-stage shuffle
    before packing (packing then consumes the curriculum position).

    ``ensemble_threshold`` adds the rank-fusion quality-ensemble
    gate after the rule/model gates: documents keep only if their
    fused min-max-normalized rank over (length, lexical diversity,
    −mean-word-length) reaches the threshold in [0, 1] — a THRESHOLD,
    not a fraction, so the cut is one scale-free comparison per doc
    (an exact top-fraction would be another global rank; callers who
    want that compose :func:`~toshokan_spark.operators.text.
    quality_ensemble` directly).

    ``dedup_method`` picks the near-dup pair generator: ``jaccard``
    (exact co-shingle self-join — right for small/medium corpora) or
    ``minhash`` (banded MinHash-LSH with exact-Jaccard verification —
    the 100 TB path: candidate pairs are bounded by band-bucket
    occupancy instead of co-shingle fan-out). Both feed the same
    cluster resolution and leakage-safe split.
    """
    from toshokan_spark.operators import dedup, sampling
    from toshokan_spark.operators import text as textops
    from toshokan_spark.search import search_df

    say = report or (lambda _line: None)
    res = CurateResult()

    def stage(name: str, value) -> None:
        res.counts[name] = value
        say(f"  {name:<18} {value}")

    full = search_df(spark, catalog, index_name, "*", limit=None)
    sel = [F.col(id_field).alias("doc_id"), F.col(text_field).alias("text")]
    if source_field is not None:
        sel.append(F.col(source_field).alias("source"))
    else:
        sel.append(F.lit("all").alias("source"))
    if url_field is not None:
        # undeclared url fields live in the _dynamic remainder as
        # JSON fragments — the same unqualified-field routing the
        # query compiler applies ('$' decodes the scalar)
        if url_field in full.columns:
            sel.append(F.col(url_field).alias("url"))
        else:
            sel.append(
                F.get_json_object(
                    F.col("_dynamic").getItem(url_field), "$"
                ).alias("url")
            )
    # explicit projection — internals never leak
    raw = full.select(*sel).localCheckpoint()
    stage("ingested", raw.count())

    # 0. URL front gate (FineWeb/C4): domain blocklist then
    # canonical-URL dedup — whole sites and re-crawled URLs drop
    # before a single text byte is normalized or shingled
    if url_field is not None:
        from toshokan_spark.operators import web

        if blocked_domains:
            dom = spark.createDataFrame(
                [(d,) for d in blocked_domains], "domain string"
            )
            raw = web.domain_filter(raw, dom, url_col="url",
                                    mode="block").localCheckpoint()
            stage("domain_kept", raw.count())
        # null URLs bypass dedup entirely (ADVICE r12): a null
        # canonical_url is "unknown provenance", not "duplicate of
        # every other unknown" — url_dedup's GROUP BY would pool
        # all nulls into ONE bucket and keep only the min-id doc,
        # silently discarding most of the null-URL cohort whenever
        # url_field is sparse (e.g. resolved from _dynamic where
        # some docs lack the key)
        with_url = raw.filter(F.col("url").isNotNull())
        without_url = raw.filter(F.col("url").isNull())
        keepers = web.url_dedup(with_url).select(
            F.col("keeper_id").alias("doc_id")
        )
        raw = (
            with_url.join(keepers, "doc_id", "left_semi")
            .unionByName(without_url)
            .drop("url")
            .localCheckpoint()
        )
        stage("url_kept", raw.count())

    # 1. canonicalize (NFC, control strip, whitespace collapse)
    norm = textops.normalize_text(raw)
    docs = raw.drop("text").join(
        norm.select("doc_id", F.col("text_norm").alias("text")), "doc_id"
    ).localCheckpoint()
    stage("canonicalized", docs.count())

    # 2. exact dedup (min id per content hash)
    exact = dedup.deduplicate_exact(docs).localCheckpoint()
    n_exact = exact.count()
    stage("exact_kept", n_exact)

    # 3. near-dup clusters over the exact-deduped set — the split
    # stage's leakage fence
    if dedup_method == "minhash":
        pairs = dedup.minhash_lsh_pairs(
            exact, k=jaccard_k, threshold=jaccard_threshold
        ).select("a_id", "b_id")
    elif dedup_method == "jaccard":
        pairs = dedup.ngram_jaccard_pairs(
            exact, k=jaccard_k, threshold=jaccard_threshold
        )
    else:
        raise ValueError(
            f"dedup_method must be 'jaccard' or 'minhash', got {dedup_method!r}"
        )
    labels = dedup.duplicate_clusters(pairs).localCheckpoint()
    stage("near_dup_docs", labels.count())

    # 4. Gopher quality gate
    flags = textops.gopher_rules(exact)
    quality = exact.join(
        flags.filter(F.col("passes")).select("doc_id"), "doc_id"
    ).localCheckpoint()
    stage("quality_kept", quality.count())

    # 4b. optional model-based quality filter (classifier gate)
    if quality_model_path is not None:
        weights = spark.read.parquet(quality_model_path)
        gated = textops.hashed_linear_score(
            quality, weights, dim=quality_model_dim
        )
        quality = quality.join(
            gated.filter(F.col("label")).select("doc_id"), "doc_id"
        ).localCheckpoint()
        stage("classifier_kept", quality.count())

    # 4b'. self-trained classifier gate (the DCLM loop in one
    # pipeline): positives = the seed query's matches, train the
    # hashed linear model here, keep model-positive docs —
    # pseudo-label expansion past the literal query
    if train_quality_query is not None:
        if quality_model_path is not None:
            raise ValueError(
                "train_quality_query and quality_model_path are "
                "mutually exclusive"
            )
        seed_ids = _logical(
            search_df(
                spark, catalog, index_name, train_quality_query,
                limit=None,
            )
        ).select(F.col(id_field).alias("doc_id"))
        labeled = quality.join(
            seed_ids.withColumn("__pos", F.lit(1.0)), "doc_id", "left"
        ).withColumn("y", F.coalesce(F.col("__pos"), F.lit(0.0)))
        w = textops.train_hashed_classifier(
            labeled, label_col="y", dim=quality_model_dim, iters=3
        )
        scored = textops.hashed_linear_score(
            quality, w, dim=quality_model_dim
        )
        # strict positive evidence: s > 0 <=> prob > 0.5. Weights
        # start at zero and only seed-co-occurring features go
        # positive, so zero-overlap docs score EXACTLY 0.5 and
        # drop on the strict compare; magnitudes (which depend on
        # 1/n_feats^2 scaling) never need calibrating.
        keep = (
            F.col("prob") > 0.5
            if train_quality_threshold is None
            else F.col("prob") >= train_quality_threshold
        )
        quality = quality.join(
            scored.filter(keep).select("doc_id"),
            "doc_id",
        ).localCheckpoint()
        stage("trained_classifier_kept", quality.count())

    # 4c. optional rank-fusion ensemble gate (threshold on the
    # fused normalized rank; signals mirror the quality_ensemble
    # entry: length, lexical diversity, -mean word length)
    if ensemble_threshold is not None:
        from toshokan_spark.operators.dedup import words_col

        t = F.coalesce(F.col("text"), F.lit(""))
        w = words_col(t)
        div = F.when(
            F.size(w) > 0, F.size(F.array_distinct(w)) / F.size(w)
        ).otherwise(F.lit(0.0))
        mwl = F.when(
            F.size(w) > 0, F.length(t) / F.size(w)
        ).otherwise(F.lit(0.0))
        fused = textops.quality_ensemble(
            quality,
            [("len", F.length(t)), ("div", div), ("mwl", -mwl)],
        )
        quality = quality.join(
            fused.filter(
                F.col("ensemble") >= ensemble_threshold
            ).select("doc_id"),
            "doc_id",
        ).localCheckpoint()
        stage("ensemble_kept", quality.count())

    # 5. CCNet tail thinning (head+middle whole, hash-sampled tail)
    selected = textops.ccnet_select(
        quality, n_buckets=n_buckets, tail_rate=tail_rate, seed=seed
    )
    kept = quality.join(selected.select("doc_id"), "doc_id")

    # 6. optional DSIR ranking against the queried target subset
    if dsir_target_query is not None:
        target = _logical(
            search_df(spark, catalog, index_name, dsir_target_query, limit=None)
        ).select(
            F.col(id_field).alias("doc_id"),
            F.col(text_field).alias("text"),
        )
        lw = textops.dsir_log_weights(kept, target, dim=dsir_dim)
        kept = kept.join(lw.select("doc_id", "log_weight"), "doc_id")
    kept = kept.localCheckpoint()
    stage("ccnet_kept", kept.count())
    if dsir_target_query is not None:
        stage("dsir_scored", kept.count())

    # 7. leakage-safe split: hash the near-dup CLUSTER id
    splits = sampling.leakage_safe_split(
        kept.select("doc_id", "source"), labels, fractions, seed=seed
    ).localCheckpoint()
    sizes = {
        r["split"]: r["n"]
        for r in splits.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    stage("split_sizes", sizes)

    # 8. optional epoch repetition of the train split (data-
    # constrained regime): temperature mixture -> repeat plan ->
    # expansion with per-copy instance keys
    train = kept.join(
        splits.filter(F.col("split") == "train").select("doc_id"), "doc_id"
    ).select(
        "doc_id",
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
    )
    if repeat_budget is not None:
        # the slim (id, source, tokens) frame is consumed three
        # times below (mixture, expansion join, packing) —
        # materialize the kept ⋈ splits join once
        train = train.localCheckpoint()
        weights = sampling.source_mixture(train, alpha=mixture_alpha)
        plan = sampling.repeat_plan(weights, budget_tokens=repeat_budget)
        train = sampling.epoch_expand(train, plan, seed=seed).join(
            train, ["doc_id", "source"]
        )
        # copies of a doc are distinct training instances for
        # ordering/packing purposes
        train = train.withColumn(
            "inst_id",
            F.concat_ws("#", F.col("doc_id").cast("string"), F.col("copy")),
        ).localCheckpoint()
        stage("expanded_rows", train.count())
        order_col = "inst_id"
    else:
        order_col = "doc_id"

    # 9. optional curriculum ordering (easy-first by token count,
    # seeded within-stage shuffle) — packing then consumes the
    # global position instead of the raw id
    if curriculum_stages is not None:
        ordered = sampling.curriculum_order(
            train.select(order_col, "n_tokens"),
            F.col("n_tokens").cast("long"),
            n_stages=curriculum_stages,
            seed=seed,
            id_col=order_col,
        )
        train = train.join(
            ordered.select(order_col, "position"), order_col
        )
        order_col = "position"
        stage("curriculum_stages", curriculum_stages)

    # 10. pack the (expanded, ordered) train stream
    packed = sampling.pack_training_sequences(
        train, seq_len=seq_len, order_col=order_col
    )
    packed = packed.localCheckpoint()
    stage("packed_rows", packed.count())

    res.documents = kept.join(splits.select("doc_id", "split"), "doc_id") \
        .localCheckpoint()
    res.splits = splits
    res.packed = packed
    return res


def write_outputs(result: CurateResult, output_dir: str) -> None:
    """Materialize the curated corpus: per-split document parquet plus
    the packed train sequences."""
    from toshokan_spark.storage import join_path

    result.documents.write.mode("overwrite").partitionBy("split").parquet(
        join_path(output_dir, "documents")
    )
    result.packed.write.mode("overwrite").parquet(
        join_path(output_dir, "packed")
    )
