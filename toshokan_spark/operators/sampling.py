"""Training-data selection operators: deterministic sampling, token
budgeting, and source mixture weighting.

These are the selection half of a pretraining-data pipeline (the
dedup/quality half lives in operators/dedup.py and operators/text.py):
decide WHICH surviving documents make the training set and at what
proportions. All pure Column algebra — the sampling keys use the
SQL-auditable polynomial hash family (operators/dedup.py poly_hash),
so every operator here has a full DuckDB value-level oracle.

Scale notes (100 TB):

* hash sampling is a stateless narrow filter — no shuffle, no RNG
  state, reproducible across runs/engines, and stable under
  repartitioning (a row's fate depends only on its key);
* token-budget packing shuffles once on the group key and runs one
  window cumsum inside each group;
* mixture weighting is a tiny two-level aggregate (one row per
  source) — broadcast it back to drive per-source hash-sampling
  rates for an actual mixed dataset.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from toshokan_spark.operators.dedup import poly_hash

#: denominator of the sampling hash: rates are expressed in 1/10000ths
SAMPLE_BUCKETS = 10_000


def sample_key(col: Column, seed: int = 0) -> Column:
    """Deterministic per-row bucket in [0, SAMPLE_BUCKETS): polynomial
    hash of the key string, seeded. The same (key, seed) always lands
    in the same bucket — sampling is reproducible and set-stable
    (a rate increase only ADDS rows, never swaps them).

    Large multiplier + nonzero init (see dedup.poly_hash): with the
    naive base-31 fold a short key like "42" hashes to a tiny value
    and the modulo buckets skew badly."""
    return (
        poly_hash(col.cast("string"), base=1103515245, add=seed, init=5381)
        % SAMPLE_BUCKETS
    )


def sample_by_hash(
    df: DataFrame,
    rate: float,
    key_col: str,
    seed: int = 0,
) -> DataFrame:
    """Keep a deterministic ``rate`` fraction of rows by key hash.

    Unlike ``df.sample()`` this is reproducible across runs, engines
    and partitionings, and consistent across tables sharing the key
    (sampling documents and their embeddings by the same id keeps
    them aligned)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    threshold = int(rate * SAMPLE_BUCKETS)
    return df.filter(sample_key(F.col(key_col), seed) < threshold)


#: :func:`leakage_safe_split`'s split names and fractions when none
#: are given
DEFAULT_SPLIT_FRACTIONS = {"train": 0.9, "valid": 0.05, "test": 0.05}


def leakage_safe_split(
    docs: DataFrame,
    cluster_labels: DataFrame,
    fractions: "dict[str, float] | None" = None,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Train/valid/test assignment with NO near-duplicate leakage
    across splits: the split is a deterministic hash of the CLUSTER
    id (from :func:`~toshokan_spark.operators.dedup.
    duplicate_clusters`), never the document id — every member of a
    near-dup cluster lands in the SAME split, so a validation document
    can never be a near-copy of a training one. Splitting by doc hash
    (the naive recipe) leaks: near-dup pairs straddle the boundary
    with probability 2·p·(1−p), which at web-corpus dup rates puts
    millions of paraphrases of training docs into the eval set.

    *cluster_labels* is ``(doc_id, cluster_id)``; docs without a label
    are their own singleton cluster (left join + coalesce). *fractions*
    maps split name -> fraction in DECLARATION order (cumulative
    bucket ranges over the :data:`SAMPLE_BUCKETS` hash space —
    set-stable like :func:`sample_by_hash`: growing a split's
    fraction only MOVES boundary clusters into it). Fractions must
    sum to 1 within 1/SAMPLE_BUCKETS.

    Scale: one broadcast-or-shuffle left join on the id plus a narrow
    hash projection — no window, no collect; cluster geometry is
    whatever the dedup stage already computed."""
    fractions = fractions or DEFAULT_SPLIT_FRACTIONS
    total = sum(fractions.values())
    if abs(total - 1.0) > 1.0 / SAMPLE_BUCKETS:
        raise ValueError(f"fractions must sum to 1, got {total}")
    labeled = docs.join(
        cluster_labels.select(
            F.col(id_col), F.col("cluster_id").alias("__cl")
        ),
        id_col,
        "left",
    )
    # The split hash works on the STRING form of the coalesced
    # cluster id (sample_key stringifies anyway), so a non-numeric
    # id_col (the API is generic — UUID keys are common) hashes its
    # actual value. The old `.cast("long")`-then-hash made every
    # non-numeric id NULL, which fell through the when-chain and
    # silently dumped all unlabeled docs into the LAST split.
    _integral = {"tinyint", "smallint", "int", "bigint"}
    types = dict(labeled.dtypes)
    cl = F.coalesce(F.col("__cl"), F.col(id_col))
    if types["__cl"] in _integral and types[id_col] in _integral:
        cl = cl.cast("long")  # the documented numeric output shape
    labeled = labeled.withColumn("cluster_id", cl).drop("__cl")
    bucket = sample_key(F.col("cluster_id").cast("string"), seed)
    expr = None
    cum = 0
    names = list(fractions)
    for name, frac in list(fractions.items())[:-1]:
        cum += int(round(frac * SAMPLE_BUCKETS))
        cond = bucket < cum
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    last = F.lit(names[-1])
    split = last if expr is None else expr.otherwise(last)
    return labeled.withColumn("split", split)


def weighted_sample(
    df: DataFrame,
    k: int,
    key_col: str,
    weight_col: str,
    seed: int = 0,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, derandomized: the
    Efraimidis–Spirakis A-ES scheme (score = u^(1/w), keep the top-k
    scores) with the uniform u derived from the deterministic
    sampling hash instead of an RNG — so the sample is reproducible
    across runs, engines and partitionings, like
    :func:`sample_by_hash`, but inclusion probability scales with the
    weight (sample long documents proportionally to token count, hot
    sources proportionally to traffic, ...).

    Scale: a stateless narrow projection followed by a global top-k
    (``orderBy().limit()`` — Spark's distributed take-ordered, never
    a full sort). Rows with non-positive weight are excluded (their
    A-ES score is undefined). Ties on the rounded score break by key
    for cross-engine determinism.

    The ranking key is ``round(ln(u)/w, 10)`` — order-equivalent to
    the textbook ``u^(1/w)`` (ln is monotone) but numerically SPREAD:
    for large weights u^(1/w) concentrates just below 1.0 and a
    fixed-decimal round collapses the heavy rows into one giant tie
    broken lexicographically by key, destroying the A-ES
    inclusion-probability property, while the round still absorbs
    cross-engine last-ulp ``ln`` differences.

    Resolution bound: u is hash-discrete with ~1e-4 ln-spacing, so
    adjacent scores differ by ~1e-4/w — distinct after the 1e-10
    round for weights up to ~1e6. For heavier weights pre-scale the
    weight column by a constant (``w / c`` is EXACTLY
    order-preserving for A-ES: u^(c/w) is a monotone transform of
    u^(1/w)) instead of widening the round, which would start
    admitting cross-engine ln disagreements into the hash gate.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    u = (sample_key(F.col(key_col), seed) + 1) / F.lit(float(SAMPLE_BUCKETS + 1))
    w = F.col(weight_col).cast("double")
    score = F.round(F.log(u) / w, 10)
    return (
        df.filter(w > 0)
        .select("*", score.alias("sample_score"))
        .orderBy(F.col("sample_score").desc(), F.col(key_col).asc())
        .limit(k)
    )


def token_budget_pack(
    df: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
    order_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    scale_mode: bool = False,
    n_coarse: int = 64,
    materialize: bool = True,
) -> DataFrame:
    """Greedy per-group packing: walk each group's docs in
    ``order_col`` order and keep documents while the running token
    total stays within ``budget_tokens`` (the per-source cap step of
    a data-mixing recipe).

    One shuffle (window partition by group), one cumsum. The kept
    set is deterministic given the ordering column — use a hash or
    quality rank there to control WHICH docs fill the budget.

    ``scale_mode=True`` computes the SAME cumulative sums without
    the per-group window: partitioning a running sum by ``group_col``
    walks each source's ENTIRE doc list through one task — fine at
    sf0.1, a serialized scan of a whole source at 100×. The
    replacement is the textbook two-level prefix sum
    (:func:`~toshokan_spark.operators.util.grouped_prefix`): local
    cumsums within (source, coarse-order-bucket) partitions plus
    broadcast per-bucket offsets. Exact — integer sums reassociate
    freely — so the kept set is identical (asserted value-equal at
    sf0.01, window shape pinned by plan test)."""
    if not scale_mode:
        w = (
            Window.partitionBy(group_col)
            .orderBy(F.col(order_col).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = df.withColumn("cum_tokens", F.sum(F.col(tokens_col)).over(w))
        return out.filter(F.col("cum_tokens") <= budget_tokens)
    from toshokan_spark.operators.util import grouped_prefix, numeric_order_proxy

    out = grouped_prefix(
        df,
        group_col,
        numeric_order_proxy(F.col(order_col), df.schema[order_col].dataType),
        [F.col(order_col).asc()],
        value=F.col(tokens_col),
        n_coarse=n_coarse,
        cumsum_col="cum_tokens",
        materialize=materialize,
        # the window mode orders by plain asc() == NULLS FIRST; the
        # coarse routing must agree or a null-keyed row would consume
        # budget in a different place than the single-window answer
        nulls_last=False,
    )
    return (
        out.filter(F.col("cum_tokens") <= budget_tokens)
        .select(*df.columns, "cum_tokens")
    )


def source_mixture(
    df: DataFrame,
    group_col: str = "source",
    tokens_col: str = "n_tokens",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-source corpus statistics + temperature-scaled sampling
    weights: weight_s ∝ tokens_s^alpha, normalized to sum 1 (the
    standard mixing-temperature scheme — alpha=1 is proportional,
    alpha→0 approaches uniform; used to rebalance dominant sources).

    Arithmetic is order-independent: the normalizer sums the scaled
    doubles as ``decimal(38,18)`` — exact and associative — so the
    total (and hence ``round(weight, 6)``) is identical across
    partition counts, shuffle orders, and engines; a plain double
    sum folds in partition order and a 1-ulp drift near a rounding
    tie could flip the 6th decimal.
    """
    per = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(tokens_col)).alias("n_tokens"),
    )
    # sqrt for the common temperature 0.5: IEEE sqrt is correctly
    # rounded everywhere, pow is libm-dependent (cross-engine ulp
    # drift would break the value oracle)
    if alpha == 0.5:
        scaled = per.withColumn("scaled", F.sqrt(F.col("n_tokens").cast("double")))
    else:
        scaled = per.withColumn(
            "scaled", F.pow(F.col("n_tokens").cast("double"), F.lit(float(alpha)))
        )
    total = scaled.agg(
        F.sum(F.col("scaled").cast("decimal(38,18)")).alias("total_scaled")
    )
    return (
        scaled.crossJoin(F.broadcast(total))
        .select(
            group_col,
            "n_docs",
            "n_tokens",
            F.round(
                F.col("scaled") / F.col("total_scaled").cast("double"), 6
            ).alias("weight"),
        )
    )


def source_token_profile(
    df: DataFrame,
    group_col: str = "source",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Per-source token-count distribution profile: doc count, total,
    and exact p50/p90/p95 percentiles (linear interpolation) plus the
    max — the "know your corpus" step that precedes mixture weighting
    and budget packing (spotting a source whose p95 dwarfs its median
    is how outlier-document problems surface before training).

    Exact ``percentile`` (sort-based within each group), not
    ``approx_percentile``: per-group sort cost is what makes the
    values engine-reproducible (DuckDB's ``quantile_cont`` computes
    the identical interpolation — verified repr-equal). At 100 TB the
    group count (sources) is tiny, so the single groupBy shuffle is
    keyed well; for percentiles over high-cardinality groups swap in
    ``approx_percentile`` and drop the oracle to rows-only.
    """
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(tokens_col)).alias("total_tokens"),
        F.percentile(F.col(tokens_col), F.lit(0.5)).alias("p50_tokens"),
        F.percentile(F.col(tokens_col), F.lit(0.9)).alias("p90_tokens"),
        F.percentile(F.col(tokens_col), F.lit(0.95)).alias("p95_tokens"),
        F.max(F.col(tokens_col)).alias("max_tokens"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token-bounded chunks — the
    context-window preparation step between selection and training:
    (id, chunk_idx, chunk_text, n_tokens), chunk_idx 0-based in
    document order. Chunk starts stride by ``max_tokens - overlap``;
    the final chunk may be short, and a document at or under
    ``max_tokens`` tokens yields itself as its only chunk.

    One narrow pass: tokenize once per row, fan out start offsets
    with sequence+explode, slice the staged token array per chunk —
    no shuffle, no UDF, chunk boundaries reproducible from the text
    alone (the DuckDB oracle rebuilds them exactly).
    """
    assert 0 <= overlap < max_tokens
    from toshokan_spark.operators.dedup import words_col

    stride = max_tokens - overlap
    staged = df.select(
        F.col(id_col).alias("id"), words_col(F.col(text_col)).alias("__w")
    )
    n = F.size("__w")
    starts = F.sequence(
        F.lit(1), F.greatest(n - F.lit(overlap), F.lit(1)), F.lit(stride)
    )
    # posexplode keeps __w available on the exploded row, so each
    # chunk slices the staged array without re-tokenizing
    ex = staged.select(
        "id", F.posexplode(starts).alias("chunk_idx", "start"), "__w"
    )
    chunk = F.slice(F.col("__w"), F.col("start"), max_tokens)
    return ex.select(
        F.col("id").alias(id_col),
        "chunk_idx",
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).alias("n_tokens"),
    )


def apply_mixture(
    df: DataFrame,
    weights: DataFrame,
    group_col: str = "source",
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """APPLY a :func:`source_mixture` recipe: per-source deterministic
    hash-downsampling at the rates that make the surviving token mass
    match the target weights exactly — the largest such corpus
    reachable by downsampling alone (the most under-weighted source
    is kept whole at rate 1; upsampling/repetition is a training-time
    concern, not a filter's).

    rate_s = min(1, weight_s * B / tokens_s) with
    B = min_s(tokens_s / weight_s) — B is the total token budget at
    which the binding source saturates. ``weights`` is the
    source_mixture output ((group, n_docs, n_tokens, weight)); it is
    model-sized, so both the budget aggregate and the rate join are
    broadcasts — the corpus pass stays a narrow stateless filter,
    exactly like :func:`sample_by_hash`.
    """
    w = weights.select(
        group_col,
        F.col("n_tokens").cast("double").alias("__t"),
        F.col("weight").cast("double").alias("__w"),
    )
    # materialize the model-sized weight table once: it is read twice
    # (budget aggregate + rate join) and its lineage is a full corpus
    # token count — without this the composed plan re-scans the corpus
    # per read (plan-audited: 5 scans -> 3).
    w = w.localCheckpoint()
    budget = w.agg(F.min(F.col("__t") / F.col("__w")).alias("__b"))
    rates = w.crossJoin(F.broadcast(budget)).select(
        group_col,
        F.least(
            F.col("__w") * F.col("__b") / F.col("__t"), F.lit(1.0)
        ).alias("__rate"),
    )
    # +1e-6 before the floor: the binding source's rate is w*(t/w)/t in
    # doubles, which can land a few ulps BELOW 1.0 — a bare floor then
    # yields 9999 and silently drops its bucket-9999 rows despite the
    # "kept whole" contract. The epsilon absorbs that rounding (and is
    # mirrored verbatim in the SQL oracle).
    thr = F.floor(F.col("__rate") * F.lit(float(SAMPLE_BUCKETS)) + F.lit(1e-6))
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(sample_key(F.col(key_col), seed) < thr)
        .drop("__rate")
    )


def pack_training_sequences(
    df: DataFrame,
    seq_len: int,
    shard_col: str = "source",
    order_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """GPT-style sequence packing, the LAST step before tokenized
    training data ships: within each shard, documents are
    concatenated in ``order_col`` order and split into fixed
    ``seq_len``-token training sequences; a document whose tokens
    cross a boundary spans consecutive sequences (concat-then-split —
    unlike :func:`chunk_documents`, which windows WITHIN one doc, and
    :func:`token_budget_pack`, which caps totals without assigning
    sequence slots). Returns one row per document:
    ``(shard, doc, start_tok, end_tok, seq_id, end_seq_id,
    spans_boundary)`` — ``start_tok`` is the doc's offset in the
    shard's token stream, ``seq_id``/``end_seq_id`` the sequences its
    first/last token land in.

    Scale: ONE window partitioned by the shard column (a cumulative
    sum over slim (shard, order, n) rows) — never a global ordered
    window, which would serialize the corpus through one partition.
    Shards are the natural packing unit anyway: training-data writers
    emit one sequence file per shard. Deterministic given the
    ordering column; non-positive token counts are excluded (they
    have no tokens to place)."""
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    n = F.col(tokens_col).cast("long")
    w = (
        Window.partitionBy(shard_col)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(n).over(w)
    start = (cum - n).alias("start_tok")
    out = df.filter(n > 0).select(
        F.col(shard_col),
        F.col(order_col),
        start,
        (cum - 1).alias("__last_tok"),
        n.alias("__n"),
    )
    return out.select(
        shard_col,
        order_col,
        "start_tok",
        (F.col("__last_tok") + 1).alias("end_tok"),
        F.floor(F.col("start_tok") / seq_len).cast("long").alias("seq_id"),
        F.floor(F.col("__last_tok") / seq_len).cast("long").alias("end_seq_id"),
        (
            F.floor(F.col("start_tok") / seq_len)
            != F.floor(F.col("__last_tok") / seq_len)
        ).alias("spans_boundary"),
    )


def curriculum_order(
    df: DataFrame,
    difficulty: Column,
    n_stages: int = 3,
    seed: int = 0,
    id_col: str = "doc_id",
    n_coarse: int = 64,
    materialize: bool = True,
) -> DataFrame:
    """Curriculum training order (Bengio et al. 2009): partition the
    corpus into ``n_stages`` exact quantile stages by *difficulty*
    (ascending — easy first), shuffle deterministically WITHIN each
    stage (seeded :func:`sample_key` hash, so the order is
    reproducible across runs/engines/partitionings), and emit every
    document's exact global training ``position``. Feeding the
    result to a range-partitioned ``orderBy(position)`` write gives
    the staged-shuffled shard files trainers consume.

    Returns ``(id, stage, position)`` — slim on purpose: the trainer
    joins payloads back by id at write time, so the ordering
    machinery never shuffles document bodies.

    Scale shape — there is NO global window anywhere (a corpus-wide
    ``row_number`` funnels 100 TB through one task):

    * stage = exact ``ntile(n_stages)`` over (difficulty, id),
      derived arithmetically from the exact global rank computed by
      the two-level :func:`~toshokan_spark.operators.util.
      grouped_prefix` scan (constant group, ``n_coarse``-way
      parallel);
    * within-stage rank: a second ``grouped_prefix`` partitioned by
      stage over the shuffle-hash key;
    * global position = within-stage rank + the stage's offset,
      which is a PURE FORMULA of (stage, N, n_stages) — ntile stage
      sizes are ``q+1`` for the first ``N mod k`` stages and ``q``
      after, so no join or window is needed to place stages.

    Ties: (difficulty, id) and (bucket, id) are total orders, so
    both ranks are deterministic (*id_col* must be unique — copies
    from :func:`epoch_expand` need a per-instance key first).
    ``n_stages=1`` degenerates to a PLAIN seeded global shuffle (one stage, hash order) — the
    standard deterministic epoch permutation, same machinery. The difficulty expression is any
    ascending-sortable Column — length is the classic baseline
    curriculum; plug in an LM quality score for perplexity-staged
    ordering."""
    from toshokan_spark.operators.util import grouped_prefix

    if n_stages <= 0:
        raise ValueError(f"n_stages must be positive, got {n_stages}")
    slim = df.select(F.col(id_col), difficulty.alias("__d"))

    # total_col rides the rank out of the same per-bucket-totals
    # broadcast join — a separate count() aggregation here would be a
    # SECOND full pass over slim (its plan does not match the cached
    # fragment inside grouped_prefix, so it re-scans the corpus)
    ranked = grouped_prefix(
        slim.withColumn("__g", F.lit(1)),
        "__g",
        F.col("__d"),
        [F.col("__d").asc(), F.col(id_col).asc()],
        n_coarse=n_coarse,
        rank_col="__r",
        # plain .asc() = Spark's NULLS FIRST: route null difficulties
        # to the FIRST bucket so the result equals the single-window
        # reference (null = unknown difficulty = easiest stage)
        nulls_last=False,
        materialize=materialize,
        total_col="__N",
    )

    k = F.lit(n_stages).cast("long")
    q = (F.col("__N") / k).cast("long")  # floor: both non-negative
    rem = F.col("__N") % k
    r = F.col("__r")
    # ntile: first `rem` stages hold q+1 rows, the rest q. The else
    # branch divides by q, which is 0 only when N < k — then
    # rem = N and the when-branch covers every rank, but Catalyst
    # still *evaluates* both branches, so the denominator is
    # greatest(q, 1) to stay total under ANSI mode.
    stage = F.when(
        r <= rem * (q + 1),
        ((r - 1) / (q + 1)).cast("long") + 1,
    ).otherwise(
        rem + ((r - rem * (q + 1) - 1) / F.greatest(q, F.lit(1).cast("long"))).cast("long") + 1
    )
    staged = ranked.select(
        F.col(id_col),
        stage.cast("long").alias("stage"),
        F.col("__N"),
        sample_key(F.col(id_col).cast("string"), seed).alias("__b"),
    )

    # __b is a hash in [0, SAMPLE_BUCKETS): equal-width literal
    # boundaries bucket as evenly as a percentile sketch would (rank
    # exactness never depended on boundary placement, only on the
    # bucketing being monotone), and the sketch's boundary-aggregation
    # pass over the staged frame disappears
    within = grouped_prefix(
        staged,
        "stage",
        F.col("__b"),
        [F.col("__b").asc(), F.col(id_col).asc()],
        n_coarse=n_coarse,
        rank_col="__wr",
        nulls_last=False,
        materialize=materialize,
        fixed_bounds=[
            SAMPLE_BUCKETS * i / n_coarse for i in range(1, n_coarse)
        ],
    )
    s = F.col("stage")
    q2 = (F.col("__N") / k).cast("long")
    rem2 = F.col("__N") % k
    offset = (s - 1) * q2 + F.least(s - 1, rem2)
    return within.select(
        F.col(id_col),
        "stage",
        (offset + F.col("__wr")).cast("long").alias("position"),
    )


def shard_assign(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    seed: int = 0,
    shard_col: str = "shard",
) -> DataFrame:
    """Deterministic hash assignment of rows to ``n_shards`` output
    shards — the standard scale answer to balanced training-shard
    writing: a stateless narrow projection (no shuffle, no RNG
    state), stable under repartitioning, reproducible across engines
    (:func:`sample_key` family), and balanced by the law of large
    numbers at corpus scale. Pair with :func:`shard_balance` to
    MEASURE the balance instead of assuming it."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    return df.withColumn(
        shard_col,
        (sample_key(F.col(id_col).cast("string"), seed) % n_shards).cast("long"),
    )


def shard_balance(
    assigned: DataFrame,
    tokens: Column,
    shard_col: str = "shard",
) -> DataFrame:
    """Per-shard balance report over a :func:`shard_assign` output:
    ``(shard, n_docs, n_tokens, rel_dev)`` where ``rel_dev`` is the
    shard's token total relative to the cross-shard mean (0 =
    perfectly balanced). One partial-aggregated groupBy to a
    shard-count-sized frame, then a broadcast of the 1-row global
    mean — no window, no second corpus pass."""
    per = assigned.groupBy(F.col(shard_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(tokens.cast("long")).cast("long").alias("n_tokens"),
    )
    # the shard-count-sized frame is read twice (global mean + final
    # join) with a full corpus aggregate behind it — materialize once
    # or the corpus scans twice (the apply_mixture weight-table
    # discipline; plan-asserted single scan)
    per = per.localCheckpoint()
    glob = per.agg(
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("__mean")
    )
    return per.crossJoin(F.broadcast(glob)).select(
        shard_col,
        "n_docs",
        "n_tokens",
        F.round(
            F.when(
                F.col("__mean") > 0,
                F.col("n_tokens") / F.col("__mean") - 1.0,
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("rel_dev"),
    )


def repeat_plan(
    weights: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
) -> DataFrame:
    """Per-source REPETITION plan for a token budget larger than what
    downsampling can reach — the data-constrained regime
    (Muennighoff et al. 2023, "Scaling Data-Constrained Language
    Models"): where :func:`apply_mixture` stops at the binding
    source (rate 1), training runs instead REPEAT scarce sources
    across epochs. For each source the target token mass is
    ``weight_s * budget_tokens``, so the repeat factor is

        f_s = weight_s * budget_tokens / tokens_s

    realized as ``floor(f_s)`` whole copies plus a deterministic
    ``frac(f_s)`` hash-sample (see :func:`epoch_expand`). Factors
    below 1 degrade gracefully to plain downsampling (0 whole
    copies + the fractional sample) — one plan covers both regimes.

    *weights* is the :func:`source_mixture` output; its 6-decimal
    ROUNDED weight is used so both engines (and any re-run) compute
    bit-identical factors. The +1e-6 inside the floor absorbs the
    few-ulp shortfall when f_s is an exact integer in real
    arithmetic (the :func:`apply_mixture` epsilon, mirrored in the
    oracle). Output: ``(group, n_tokens, weight, repeat_factor,
    n_full_copies, frac_rate)`` — a model-sized frame (one row per
    source), broadcast by the expansion."""
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be positive, got {budget_tokens}")
    f = (
        F.col("weight").cast("double")
        * F.lit(float(budget_tokens))
        / F.col("n_tokens").cast("double")
    )
    nf = F.floor(f + F.lit(1e-6)).cast("long")
    return weights.select(
        group_col,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("weight").cast("double").alias("weight"),
        F.round(f, 6).alias("repeat_factor"),
        nf.alias("n_full_copies"),
        F.round(F.greatest(f - nf, F.lit(0.0)), 6).alias("frac_rate"),
    )


def epoch_expand(
    df: DataFrame,
    plan: DataFrame,
    group_col: str = "source",
    key_col: str = "doc_id",
    seed: int = 0,
    copy_col: str = "copy",
) -> DataFrame:
    """Materialize a :func:`repeat_plan`: every row appears
    ``n_full_copies`` times, plus once more iff its sampling hash
    falls under the fractional rate — the deterministic realization
    of per-source epoch repetition. Rows gain a 1-based ``copy``
    index so downstream stages (shuffling copies apart in
    :func:`curriculum_order`, sequence packing) can treat each
    repetition as a distinct training instance. The plan join is
    INNER: a group absent from *plan* contributes nothing — build the
    plan from the same frame's mixture (the entry/CLI shape) unless
    dropping unplanned groups is intended.

    Scale: a broadcast join against the model-sized plan and a
    narrow ``explode(sequence(...))`` whose fan-out per row is the
    repeat factor — bounded by construction (budget / corpus
    tokens), no shuffle anywhere. The fractional threshold floors the
    plan's 6-decimal-rounded ``frac_rate`` with the +1e-6 epsilon —
    the :func:`apply_mixture` discipline (rates derived from rounded
    inputs are bit-identical across engines and re-runs)."""
    # Recompute frac from the plan's own columns: repeat_factor is
    # ROUNDED for display, so the exact threshold comes from
    # n_full_copies + frac_rate (both deterministic plan outputs).
    slim = plan.select(
        group_col,
        F.col("n_full_copies").cast("long").alias("__nf"),
        F.col("frac_rate").cast("double").alias("__fr"),
    )
    extra = (
        sample_key(F.col(key_col).cast("string"), seed)
        < F.floor(F.col("__fr") * F.lit(float(SAMPLE_BUCKETS)) + F.lit(1e-6))
    ).cast("long")
    n = F.col("__nf") + extra
    copies = F.when(
        n >= 1, F.sequence(F.lit(1).cast("long"), n)
    ).otherwise(F.array().cast("array<long>"))
    return (
        df.join(F.broadcast(slim), group_col)
        .select(
            F.col(key_col),
            F.col(group_col),
            F.explode(copies).alias(copy_col),
        )
    )


def write_ordered_shards(
    df: DataFrame,
    path: str,
    shard_col: str = "shard",
    order_col: str = "position",
    data_format: str = "parquet",
) -> None:
    """Ship a training stream as ONE ordered file set per shard — the
    layout trainers consume (each data-loader worker reads its shard
    sequentially): a single hash shuffle on the shard column (each
    shard lands wholly in one task), an in-partition sort by the
    order column (Spark's external sort — spills, never OOMs), and a
    ``partitionBy(shard)`` write, so every ``shard=N`` directory
    holds its rows in ``order_col`` order.

    This is deliberately NOT a global ``orderBy``: cross-shard order
    is meaningless to per-worker sequential readers, so the plan
    needs no range exchange and no global sampling pass. Shard count
    is the parallelism unit — size it with :func:`shard_assign` +
    :func:`shard_balance` so tasks stay balanced."""
    (
        df.repartition(F.col(shard_col))
        .sortWithinPartitions(F.col(shard_col), F.col(order_col))
        .write.mode("overwrite")
        .partitionBy(shard_col)
        .format(data_format)
        .save(path)
    )


def stratified_sample(
    df: DataFrame,
    per_group: int,
    group_col: str = "source",
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """EXACTLY ``per_group`` rows from every stratum (fewer when the
    stratum is smaller), chosen by deterministic hash order — the
    balanced-subset primitive rate-based :func:`sample_by_hash`
    cannot express (a rate yields binomial counts per stratum; evals
    and audits want exact quotas). Deterministic and set-stable per
    (key, seed): re-runs and engines agree row-for-row.

    Scale: a per-group top-k, NOT a full per-group sort — the rank
    filter compiles to Spark's WindowGroupLimit, which keeps k rows
    per group per map partition and merges, so a giant stratum never
    funnels through one task's full sort buffer. Ties on the hash
    bucket break by key (total order)."""
    if per_group <= 0:
        raise ValueError(f"per_group must be positive, got {per_group}")
    b = sample_key(F.col(key_col).cast("string"), seed)
    w = Window.partitionBy(group_col).orderBy(
        b.asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= per_group)
        .drop("__rk")
    )
