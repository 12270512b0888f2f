"""Deduplication operators.

All plain DataFrame transformations (JVM-side, whole-stage codegen;
the hash family is ``xxhash64`` with a per-function seed column, so
signatures are deterministic across runs/engines).

Scale design (the point of each choice at 100 TB):

* exact:    group on a 256-bit content hash, not the raw text — the
            shuffle moves 32-byte keys instead of documents; partial
            aggregation (map-side combine) collapses heavy duplicate
            clusters before the exchange.
* MinHash:  signatures are computed per-row with higher-order
            functions (no explode -> no shuffle for the signature
            pass); only band keys are shuffled for the LSH self-join.
            Candidate pairs are verified with exact Jaccard, so the
            output is exact over the candidate set.
* SimHash:  64-bit signature per row, banded into 4x16-bit chunks for
            the hamming-neighbor join (standard simhash blocking).
* n-gram Jaccard: the exact (quadratic-safe) path — the self-join is
            on shingle values, so only co-shingled pairs materialize;
            a frequency cap drops stop-shingles that would otherwise
            create O(n^2) joins on boilerplate.
* embedding: cosine over a blocking key (coarse quantization /
            label / LSH bucket) — never the full cross product.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from toshokan_spark.operators.util import finalize_cached, spread

# ---------------------------------------------------------------------------
# shared text shingling
# ---------------------------------------------------------------------------

def words_col(text: Column) -> Column:
    """Whitespace words, empties dropped (mirrors the DuckDB oracle:
    list_filter(string_split_regex(trim(text), ' +'), w -> w <> ''))."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda w: F.length(w) > 0)


#: modulus of the SQL-auditable polynomial hash family (same family
#: as operators/text.py fingerprint; everything stays < 2^63)
POLY_MOD = 1_000_000_007
#: power-of-two modulus variant for SimHash (bit extraction needs
#: uniformly random LOW bits, i.e. a clean 30-bit hash)
POLY_MOD_POW2 = 1 << 30


def poly_hash(
    s: Column, base: int = 31, add: int = 0, mod: int = POLY_MOD, init: int = 0
) -> Column:
    """Polynomial codepoint hash: fold (acc*base + code + add) % mod,
    starting from ``init``.

    The cross-engine-reproducible alternative to xxhash64 — DuckDB
    computes the identical value with list_reduce/ord, so operators
    built on it get full value-level oracles. xxhash64 remains the
    production default (single JVM intrinsic per value vs a per-char
    fold); this family exists to make the *same pipeline shape*
    auditable end-to-end.

    For power-of-two moduli pass a LARGE odd ``base`` and a nonzero
    ``init`` (djb2-style): with base 31 / init 0 a 1-2 char token
    hashes to a small value whose high bits are all zero — SimHash
    bit votes then correlate across documents and near-pair counts
    explode. Keep base*mod < 2^63 (ANSI overflow).
    """
    chars = F.filter(F.split(s, ""), lambda c: F.length(c) > 0)
    return F.aggregate(
        chars,
        F.lit(init).cast("long"),
        lambda acc, c: (acc * base + F.ascii(c) + add) % mod,
    )


def _poly_fold_py(s: str, base: int, add: int, mod: int, init: int = 0) -> int:
    """Python twin of :func:`poly_hash` — bit-identical for ALL text
    including supplementary-plane chars: Python iterates codepoints
    like DuckDB's ``ord``, and Spark 4's ``split('')``/``ascii`` are
    codepoint-aware too (verified empirically on emoji and
    mathematical-alphanumeric inputs; locked by the supplementary
    chars in ``test_bloom_no_false_negatives_randomized``)."""
    acc = init
    for c in s:
        acc = (acc * base + ord(c) + add) % mod
    return acc


def _poly_fold_matrix(cps: "np.ndarray", base: int, add: int, mod: int) -> "np.ndarray":
    """Horner fold over a (n_shingles × len) codepoint matrix —
    vectorized across shingles, stepping the columns. Every
    intermediate stays < mod·base + 2^21 « 2^63 (exact int64)."""
    acc = np.zeros(cps.shape[0], dtype=np.int64)
    for j in range(cps.shape[1]):
        acc = (acc * base + cps[:, j] + add) % mod
    return acc


def _minhash_poly_sig_udf(num_hashes: int):
    """Arrow-batched twin of the ``poly_expr`` signature build in
    :func:`minhash_signatures`: h1=poly(31,0), h2=poly(37,7) per
    shingle, then Kirsch-Mitzenmacher sig_i = min((h1 + i*h2) mod
    (2^31-1)).

    Exact integer arithmetic throughout (h1 < 10^9+7, i*h2 <
    128*(10^9+7) — comfortably inside int64), combine vectorized as a
    num_hashes × n_shingles numpy matrix. Per-partition batches, so
    the work distributes exactly like the expression it replaces.

    Uniform-length shingle sets (the char-shingle unit: every window
    is exactly k codepoints) take a fully-vectorized path — the
    row's shingles decode to ONE utf-32 codepoint matrix and Horner-
    fold column-wise, ~100× fewer Python-level calls than the
    per-string fold (which remains the variable-length word-shingle
    path). utf-32 decoding yields true codepoints, matching
    ``ord()`` exactly (supplementary plane included).
    """
    M = (1 << 31) - 1
    ii = np.arange(num_hashes, dtype=np.int64)[:, None]

    @F.pandas_udf(ArrayType(LongType()))
    def _sig(sh: pd.Series) -> pd.Series:
        out = []
        for arr in sh:
            if arr is None or len(arr) == 0:
                # poly_expr yields array_min(empty/null) = null per slot
                out.append([None] * num_hashes)
                continue
            n = len(arr)
            w = len(arr[0])
            if w > 0 and all(len(s) == w for s in arr):
                cps = (
                    np.frombuffer(
                        "".join(arr).encode("utf-32-le"), dtype=np.uint32
                    )
                    .astype(np.int64)
                    .reshape(n, w)
                )
                h1 = _poly_fold_matrix(cps, 31, 0, POLY_MOD)
                h2 = _poly_fold_matrix(cps, 37, 7, POLY_MOD)
            else:
                h1 = np.fromiter(
                    (_poly_fold_py(s, 31, 0, POLY_MOD) for s in arr),
                    dtype=np.int64,
                    count=n,
                )
                h2 = np.fromiter(
                    (_poly_fold_py(s, 37, 7, POLY_MOD) for s in arr),
                    dtype=np.int64,
                    count=n,
                )
            out.append(((h1[None, :] + ii * h2[None, :]) % M).min(axis=1))
        return pd.Series(out)

    return _sig


def _simhash_poly_sig_udf():
    """Arrow-batched twin of the ``poly_expr`` branch of
    :func:`simhash_signature` (60-bit signature: bits 0-29 vote with
    h1=poly(1103515245,0,2^30,init 5381), bits 30-59 with
    h2=poly(1588635695,1,2^30,init 7919); bit j set iff its ±1 vote
    sum is > 0)."""
    jlo = np.arange(30, dtype=np.int64)
    weights = (np.int64(1) << np.arange(60, dtype=np.int64))

    @F.pandas_udf(LongType())
    def _sig(toks: pd.Series) -> pd.Series:
        out = []
        for arr in toks:
            if arr is None:
                out.append(None)
                continue
            votes = np.zeros(60, dtype=np.int64)
            for t in arr:
                h1 = _poly_fold_py(t, 1103515245, 0, POLY_MOD_POW2, 5381)
                h2 = _poly_fold_py(t, 1588635695, 1, POLY_MOD_POW2, 7919)
                votes[:30] += ((h1 >> jlo) & 1) * 2 - 1
                votes[30:] += ((h2 >> jlo) & 1) * 2 - 1
            out.append(int(((votes > 0) * weights).sum()))
        return pd.Series(out, dtype="object")

    return _sig


def shingles_col(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles joined with single spaces.

    NOTE: the words array is INLINED here and re-evaluated per
    shingle element (HOF lambdas get no subexpression elimination) —
    fine for a one-off Column, but pipelines should go through
    :func:`staged_shingles`, which projects the words array once per
    row before fanning out."""
    return _shingles_from_words(words_col(text), k)


def _shingles_from_words(w: Column, k: int) -> Column:
    n = F.size(w)
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.array_join(F.slice(w, i, k), " "),
            ),
        ).otherwise(F.array(F.array_join(w, " ")))
    )


def _char_shingles_from(norm: Column, k: int) -> Column:
    n = F.length(norm)
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.substr(norm, i, F.lit(k)),
            ),
        ).otherwise(F.array(norm))
    )


def normalized_text(text: Column) -> Column:
    """Lowercased, trimmed, whitespace runs collapsed to one space —
    the char-shingle normalization (same as the fingerprint's)."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def staged_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    unit: str = "word",
) -> DataFrame:
    """(id, sh) with the shingle base array STAGED as a projected
    column: higher-order lambdas get no subexpression elimination, so
    inlining the words/normalized-text expression re-evaluates it per
    shingle element — O(doc²) interpreted work on long documents.
    Staging computes it once per row; CollapseProject leaves the
    two projections alone because merging would duplicate a non-cheap
    expression.

    ``unit='word'``: k-word shingles (space-joined). ``unit='char'``:
    k-codepoint shingles over :func:`normalized_text` — the right
    unit for unsegmented scripts (CJK), where whitespace
    tokenization yields one giant "word". (Code-point counting
    matches DuckDB for BMP text; supplementary-plane chars count as
    two units in Spark — same caveat as poly_hash.)
    """
    base = spread(df.select(F.col(id_col).alias("id"), F.col(text_col)))
    if unit == "word":
        staged = base.select("id", words_col(F.col(text_col)).alias("__b"))
        return staged.select("id", _shingles_from_words(F.col("__b"), k).alias("sh"))
    if unit == "char":
        staged = base.select("id", normalized_text(F.col(text_col)).alias("__b"))
        return staged.select("id", _char_shingles_from(F.col("__b"), k).alias("sh"))
    raise ValueError(f"shingle unit must be word|char, got {unit!r}")


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups: one row per duplicated content value
    with the keeper (min id) and the copy count.

    Group key is sha2-256 of the content, so the exchange carries
    fixed 64-char keys; map-side partial agg means a cluster of 10^6
    identical docs contributes one row per map task, not 10^6 rows.
    """
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


def deduplicate_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep exactly one row (the min id) per distinct content value."""
    h = F.sha2(F.col(text_col), 256)
    ranked = df.withColumn("__h", h).withColumn(
        "__rn", F.row_number().over(Window.partitionBy("__h").orderBy(id_col))
    )
    return ranked.filter(F.col("__rn") == 1).drop("__h", "__rn")


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact near-dup over co-shingled pairs)
# ---------------------------------------------------------------------------

def _pair_structs(members: Column) -> Column:
    """All i<j combination pairs of a SORTED struct array — the
    grouped replacement for an equi-self-join on the group key:
    ``flatten(transform(ms, (a, i) -> transform(slice(ms, i+2, ...),
    b -> (a, b))))``. Sorted input means every emitted pair has
    ``a < b`` by struct order (id leads), exactly the self-join's
    ``a.id < b.id`` condition."""
    return F.flatten(
        F.transform(
            members,
            lambda a, i: F.transform(
                F.slice(members, i + 2, F.size(members)),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )


def _grouped_self_pairs(
    df: DataFrame,
    keys: "list[str]",
    payload: Column,
    max_freq: Optional[int],
) -> DataFrame:
    """All (a, b) payload pairs sharing an equal key — the grouped
    replacement for ``df.alias('a').join(df.alias('b'), keys equal &
    a.id < b.id)``: ONE hash exchange by *keys* instead of two join
    sides each re-running the hot-key count + anti-join subtree (the
    ungrouped plan recomputed them per side because the keyed stream
    was not cached). The frequency cap (and the drop of size-1
    groups, which can pair nothing) is a window count over the same
    partitioning, filtered BEFORE the list aggregation so per-key
    aggregation state is bounded by the cap; the ``groupBy`` then
    reuses the window's exchange (guide §2.4 — same key, no second
    shuffle). *payload* must lead with a unique-per-group id so the
    sorted member array yields exactly the ``a < b`` pairs of the
    join formulation. Returns one column ``p`` =
    ``struct(a: payload, b: payload)``.

    CALLERS MUST BE CAP-BOUNDED (``max_freq`` set): the combination
    arrays are built by per-element INTERPRETED higher-order
    functions, so an unbounded heavy-tailed group goes quadratic
    where the join formulation's codegen would not —
    :func:`simhash_near_pairs` (full-recall blocking, no cap
    possible) measured 2.3× slower at sf1 through this shape and was
    reverted to the join (r17 ledger)."""
    w = Window.partitionBy(*keys)
    b = df.withColumn("__kn", F.count(F.lit(1)).over(w))
    if max_freq is not None:
        b = b.filter(F.col("__kn") <= max_freq)
    grp = (
        b.filter(F.col("__kn") >= 2)
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list(payload)).alias("ms"))
    )
    return grp.select(F.explode(_pair_structs(F.col("ms"))).alias("p"))


def _co_shingle_intersections(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    max_shingle_freq: Optional[int],
    shingle_unit: str,
) -> "tuple[DataFrame, DataFrame]":
    """Shared skeleton of :func:`ngram_jaccard_pairs` and
    :func:`containment_pairs`: staged shingles, the stop-shingle
    frequency cap, and exact co-shingle intersection counts with both
    pair members' set sizes. Returns ``(pairs, sh)`` — a frame of
    ``(a_id, b_id, inter, na, nb)`` with ``a_id < b_id`` plus the
    PERSISTED shingle frame (hand it to ``finalize_cached``). Only
    the similarity normalizer differs between callers, so cap fixes
    land in exactly one place.

    Shape (r17 — same self-join engine, three redundancies removed):

    * each doc's set size ``n`` rides the explode (4 bytes per
      shingle occurrence on the wire — and into the pair groupBy
      keys, where it is functionally dependent on the id so the
      grouping is unchanged) instead of TWO doc-cardinality size
      joins after the pair aggregation;
    * the frequency cap's anti-join applies to ONE join side only:
      the join is an equality on the shingle value, so removing an
      over-cap shingle from either side removes every pair it would
      have formed — the former both-sides anti-join made the
      (uncached) hot-count aggregation + broadcast run TWICE, once
      per side subtree;
    * the pair aggregation keeps codegen'd join+partial-agg pair
      generation: the grouped alternative (ONE exchange by shingle +
      ``collect_list`` + combination arrays, the
      :func:`_grouped_self_pairs` shape used by the banded-LSH
      candidates) was measured 3-4x SLOWER here — word co-shingle
      frequencies are heavy-tailed (~40 docs per shingle at sf0.1),
      so the quadratic pair volume is dominated by per-element
      INTERPRETED higher-order-function array building, where the
      broadcast/sort-merge join emits the identical rows through
      whole-stage codegen (r17 negative-results ledger).

    The staged shingle frame stays persisted: it is referenced three
    times (both join sides + the hot count)."""
    sh = staged_shingles(df, id_col, text_col, k, shingle_unit).persist()
    ex = sh.select(
        "id", F.size("sh").alias("n"), F.explode("sh").alias("s")
    )
    b = ex
    if max_shingle_freq is not None:
        hot = (
            ex.groupBy("s")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_shingle_freq)
            .select("s")
        )
        b = b.join(hot, "s", "left_anti")
    return (
        ex.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
        .select("a_id", "b_id", "inter", "na", "nb")
    ), sh


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: Optional[int] = 1000,
    shingle_unit: str = "word",
) -> DataFrame:
    """All pairs with k-shingle Jaccard >= threshold
    (``shingle_unit='word'`` by default; ``'char'`` shingles
    normalized codepoints — the right unit for unsegmented scripts,
    see :func:`staged_shingles`).

    Exact: |A ∩ B| via a self-join on shingle value, |A ∪ B| =
    |A|+|B|-|A∩B|. Only pairs sharing >=1 shingle are ever
    materialized. ``max_shingle_freq`` drops shingles appearing in
    more than that many docs (boilerplate guard — at corpus scale a
    header shingle shared by 10^6 docs would alone create 10^12 join
    rows; dropping it can only lose pairs whose overlap is pure
    boilerplate). ON by default (1000): a single stop-shingle must
    never be able to quadratically blow up the join. Pass ``None``
    only for corpora known to be boilerplate-free.

    Char-unit guidance: prefer :func:`minhash_lsh_pairs` (or the
    incremental variants) with ``shingle_unit='char'`` over this
    exact path for char shingles on natural-language corpora —
    common char k-grams appear in nearly every document, so the
    co-shingle self-join explodes even under the frequency cap
    (measured 50 s+ at sf0.1 where LSH banding stays ~4 s); banding
    joins a fixed 32 keys per doc regardless of shingle frequency.
    The exact path with char units is right for short-field exact-ish
    matching (names, titles), not full documents.
    """
    pairs, sh = _co_shingle_intersections(
        df, id_col, text_col, k, max_shingle_freq, shingle_unit
    )
    out = (
        pairs.withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))
    )
    return finalize_cached(out, sh)


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: Optional[int] = 1000,
    shingle_unit: str = "word",
) -> DataFrame:
    """ASYMMETRIC near-containment pairs: every ordered
    (contained, container) pair with |S_contained ∩ S_container| /
    |S_contained| >= threshold — the relationship symmetric Jaccard
    systematically misses when sizes differ (a chunk quoted inside a
    10× longer article has J ≈ 0.1 but containment ≈ 1.0). This is
    the wire-copy / quote-expansion / chunk-of detector a news or web
    corpus dedup needs ALONGSIDE Jaccard: drop the contained side,
    keep the container.

    Same exact co-shingle skeleton (and the same stop-shingle
    frequency cap, same scale argument) as
    :func:`ngram_jaccard_pairs` — literally shared via
    :func:`_co_shingle_intersections`; the only difference is the
    normalizer — each unordered co-shingle pair emits up to two
    ordered rows, one per direction that clears the threshold.
    ``jaccard`` rides along for the symmetric comparison.
    """
    both, sh = _co_shingle_intersections(
        df, id_col, text_col, k, max_shingle_freq, shingle_unit
    )
    # both ordered directions in ONE pass: each unordered pair row
    # inlines a 2-struct array (a→b normalized by |S_a|, b→a by
    # |S_b|). The earlier fwd.unionAll(rev) formulation referenced
    # `both` twice, re-running the explode → self-join → groupBy
    # pipeline — the expensive part — once per direction.
    dirs = F.array(
        F.struct(
            F.col("a_id").alias("contained_id"),
            F.col("b_id").alias("container_id"),
            (F.col("inter") / F.col("na")).alias("__c"),
        ),
        F.struct(
            F.col("b_id").alias("contained_id"),
            F.col("a_id").alias("container_id"),
            (F.col("inter") / F.col("nb")).alias("__c"),
        ),
    )
    out = (
        both.withColumn(
            "__j",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .select(F.inline(dirs), "__j")
        .filter(F.col("__c") >= threshold)
        .select(
            "contained_id",
            "container_id",
            F.round("__c", 6).alias("containment"),
            F.round("__j", 6).alias("jaccard"),
        )
    )
    return finalize_cached(out, sh)


def incremental_jaccard_matches(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: Optional[int] = 1000,
    shingle_unit: str = "word",
) -> DataFrame:
    """Dedup an INCOMING batch against an EXISTING corpus: for every
    new doc whose best corpus match has k-shingle Jaccard >=
    threshold, emit (new_id, corpus_id, jaccard) for that best match
    (ties on score broken by lowest corpus id). New docs with no
    match are absent — the caller anti-joins to keep them.

    This is the steady-state shape of corpus-scale dedup: the corpus
    is ingested once, and each arriving batch is checked against it —
    never corpus x corpus. The join is strictly new x corpus on
    shingle values, so its size is bounded by the BATCH's shingle
    fan-out, not the corpus's; at 100 TB the corpus-side shingle
    projection (and the frequency cap counts) would come from a
    precomputed shingle table maintained at ingest, leaving one
    shuffle keyed on the small batch's shingles. ``max_shingle_freq``
    drops shingles whose CORPUS frequency exceeds the cap
    (boilerplate lives in the corpus) from both sides, bounding any
    single shingle's join fan-out.
    """
    shn = staged_shingles(new_df, id_col, text_col, k, shingle_unit).persist()
    shc = staged_shingles(corpus_df, id_col, text_col, k, shingle_unit).persist()
    # corpus side persisted: referenced by the cap count AND the join
    # side. The new side is single-referenced since its set size
    # rides the explode (r17), but stays persisted anyway: an
    # UNPERSISTED staged array feeding explode lets
    # InferFiltersFromGenerate clone the whole tokenize expression
    # into a pushed-down Filter (the r16 negative-results ledger,
    # item 4 — measured 2.2x slower here when the persist was
    # dropped), while a cache scan absorbs the cloned predicate.
    exn = shn.select("id", F.size("sh").alias("nn"), F.explode("sh").alias("s"))
    exc = shc.select("id", F.size("sh").alias("nc"), F.explode("sh").alias("s"))
    if max_shingle_freq is not None:
        # over-CORPUS-cap shingles leave the join via an anti-join of
        # the CORPUS side alone (r17): the match join is an equality
        # on the shingle value, so removing a shingle from one side
        # removes every match it would have produced — the former
        # both-sides anti-join paid a second broadcast-join pass on
        # the batch for pairs the corpus filter already killed.
        # (Un-hinted: AQE broadcasts the usually-tiny list, shuffle-
        # joins if it ever is not; at 100 TB this list would come
        # precomputed from the ingest pass, like the hot band buckets
        # of the minhash store.)
        hot = (
            exc.select("id", "s")
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_shingle_freq)
            .select("s")
        )
        exc = exc.join(hot, "s", "left_anti")
    j = (
        exn.alias("n")
        .join(exc.alias("c"), F.col("n.s") == F.col("c.s"))
        .groupBy(
            F.col("n.id").alias("new_id"),
            F.col("c.id").alias("corpus_id"),
            F.col("n.nn").alias("nn"),
            F.col("c.nc").alias("nc"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "jaccard", F.col("inter") / (F.col("nn") + F.col("nc") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
    )
    best = Window.partitionBy("new_id").orderBy(
        F.col("jaccard").desc(), F.col("corpus_id")
    )
    out = (
        j.withColumn("__rn", F.row_number().over(best))
        .filter(F.col("__rn") == 1)
        .select("new_id", "corpus_id", F.round("jaccard", 6).alias("jaccard"))
    )
    return finalize_cached(out, shn, shc)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(text: Column, num_hashes: int = 128, k: int = 3) -> Column:
    """array<long> MinHash signature as a single Column (per-row HOF
    evaluation; prefer :func:`minhash_signatures` for pipelines — see
    its scale note).

    Hash family: xxhash64(i, shingle) for i in 0..num_hashes-1 —
    deterministic, JVM-side, 64-bit.
    """
    sh = shingles_col(text, k)

    def one(i: int):
        # closure (not a default arg) — a 2-param lambda would be
        # treated as transform's (value, index) signature
        return F.array_min(F.transform(sh, lambda s: F.xxhash64(F.lit(i), s)))

    return F.array(*[one(i) for i in range(num_hashes)])


def minhash_signatures(
    sh_df: DataFrame,
    num_hashes: int = 128,
    id_col: str = "id",
    sh_col: str = "sh",
    hash_family: str = "xxhash",
) -> DataFrame:
    """(id, shingles) -> (id, sig array<long>) as ONE narrow
    projection — no explode, no shuffle.

    Hash family: Kirsch-Mitzenmacher double hashing — two base
    xxhash64 draws per shingle, h_i = (h1 + i*h2) mod (2^31 - 1) —
    instead of num_hashes independent xxhash64 evaluations per shingle
    (the mod keeps every intermediate < 2^63, safe under ANSI overflow
    checking). A num_hashes-column aggregation formulation was
    measured 3.4× slower: >100 output fields pushes the aggregate off
    whole-stage codegen (spark.sql.codegen.maxFields), and the
    explode+groupBy adds a shuffle this projection doesn't need.

    Callers that reference ``sig`` more than once (e.g. a band
    fan-out) must persist the result first: lambda-bearing expressions
    are excluded from subexpression elimination, so every extra
    reference would otherwise re-run the whole hash matrix.
    """
    M = (1 << 31) - 1
    if hash_family == "poly":
        # SQL-auditable family, Arrow-batched: the per-char fold is a
        # higher-order ``aggregate`` lambda, which Spark evaluates
        # INTERPRETED per element (HOF lambdas never enter whole-stage
        # codegen) — measured 9.2 s vs 0.53 s for the xxhash intrinsic
        # at sf0.1. A pandas UDF computing the identical integer
        # arithmetic (fold in Python, KM combine vectorized in numpy)
        # returns the same values ~20× faster and scales per-partition.
        # 'poly_expr' keeps the pure-SQL formulation as the executable
        # spec the UDF is tested bit-equal against.
        return sh_df.select(
            id_col,
            _minhash_poly_sig_udf(num_hashes)(F.col(sh_col)).alias("sig"),
        )
    if hash_family == "poly_expr":
        # SQL-auditable base hashes (see poly_hash); the KM combine
        # below is identical
        h1 = F.transform(F.col(sh_col), lambda s: poly_hash(s, 31, 0))
        h2 = F.transform(F.col(sh_col), lambda s: poly_hash(s, 37, 7))
    else:
        h1 = F.transform(F.col(sh_col), lambda s: F.pmod(F.xxhash64(s), F.lit(M)))
        h2 = F.transform(F.col(sh_col), lambda s: F.pmod(F.xxhash64(F.lit(-1), s), F.lit(M)))
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.zip_with(
                F.col("__h1"), F.col("__h2"), lambda a, b: F.pmod(a + i * b, F.lit(M))
            )
        ),
    )
    return sh_df.select(id_col, h1.alias("__h1"), h2.alias("__h2")).select(
        id_col, sig.alias("sig")
    )


def _band_key(sig_col: str, b: int, r: int, hash_family: str) -> Column:
    """LSH band key for band ``b``: the r signature slots joined as a
    string; narrowed to an 8-byte xxhash64 for the production family,
    kept raw for the SQL-auditable poly family."""
    joined = F.array_join(
        F.transform(F.slice(sig_col, b * r + 1, r), lambda x: x.cast("string")),
        ",",
    )
    return joined if hash_family.startswith("poly") else F.xxhash64(joined)


def _banded(sig_df: DataFrame, bands: int, r: int, hash_family: str) -> DataFrame:
    """(id, sig) -> (id, band, key) via one explode — each row fans
    out to ``bands`` (band, key) rows in a single projection."""
    return sig_df.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        _band_key("sig", b, r, hash_family).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def corpus_minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    k: int = 3,
    hash_family: str = "xxhash",
    shingle_unit: str = "word",
) -> DataFrame:
    """The INGEST-TIME product for incremental dedup: (id, sh, sig)
    computed in one narrow pass, meant to be written alongside the
    corpus (like the per-segment BM25 ``_stats``) so arriving batches
    are matched against stored signatures instead of re-hashing the
    corpus per batch. ``sh`` (the shingle set) rides along because
    candidate verification needs it; at 100 TB you would persist this
    frame partitioned/bucketed by id and let the verify join read
    only the candidate ids."""
    sh_df = staged_shingles(df, id_col, text_col, k, shingle_unit)
    if hash_family == "poly":
        return sh_df.select(
            "id", "sh", _minhash_poly_sig_udf(num_hashes)(F.col("sh")).alias("sig")
        )
    M = (1 << 31) - 1
    if hash_family == "poly_expr":
        h1 = F.transform(F.col("sh"), lambda s: poly_hash(s, 31, 0))
        h2 = F.transform(F.col("sh"), lambda s: poly_hash(s, 37, 7))
    else:
        h1 = F.transform(F.col("sh"), lambda s: F.pmod(F.xxhash64(s), F.lit(M)))
        h2 = F.transform(
            F.col("sh"), lambda s: F.pmod(F.xxhash64(F.lit(-1), s), F.lit(M))
        )
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.zip_with(
                F.col("__h1"), F.col("__h2"), lambda a, b: F.pmod(a + i * b, F.lit(M))
            )
        ),
    )
    return sh_df.select("id", "sh", h1.alias("__h1"), h2.alias("__h2")).select(
        "id", "sh", sig.alias("sig")
    )


def write_bucketed_signatures(
    sigs: DataFrame,
    table_name: str,
    path: str,
    buckets: int = 64,
    batch_token: str = "seed",
) -> None:
    """Persist a :func:`corpus_minhash_signatures` frame as a
    BUCKETED table (bucketed + sorted by id): the candidate-verify
    join of :func:`incremental_minhash_matches` — and any other
    id-keyed join against the signature store — then reads the
    corpus side pre-partitioned, so Spark plans it WITHOUT an
    Exchange on the stored side (asserted in
    ``tests/test_bucketing.py``). At 100 TB this is the difference
    between re-shuffling the whole signature store per arriving
    batch and shuffling only the batch: bucket pruning + co-located
    SMJ leave the big side untouched on disk.

    The table is additionally PARTITIONED by a ``__batch`` token
    column (this seed write stamps *batch_token*): each
    :func:`append_bucketed_signatures` call owns one partition, so a
    replayed append OVERWRITES its own partition instead of
    double-appending — the same directory-per-batch idempotence the
    streaming dedup sink uses for its output. Partitioning does not
    disturb the bucket spec (it is table-wide), so store-side joins
    stay Exchange-free after any number of appends.

    ``saveAsTable`` is required — bucket metadata lives in the
    session catalog, plain ``parquet(path)`` writes lose it."""
    (
        sigs.withColumn("__batch", F.lit(batch_token))
        .write.partitionBy("__batch")
        .bucketBy(buckets, "id")
        .sortBy("id")
        .option("path", path)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table_name)
    )


def append_bucketed_signatures(
    new_sigs: DataFrame,
    table_name: str,
    buckets: int = 64,
    batch_token: Optional[str] = None,
) -> None:
    """Grow the signature store with an arriving (already-deduped)
    batch — the steady-state write of the ingest-once loop: batch
    arrives -> :func:`incremental_minhash_matches` against the store
    -> survivors' signatures are APPENDED here so the next batch is
    matched against them too. The write lands in the store's
    ``__batch`` partition named by *batch_token*, in DYNAMIC
    partition-overwrite mode: replaying the same batch (a crashed
    streaming epoch, a retried job) overwrites that one partition
    instead of double-appending — EXACTLY-ONCE growth keyed by the
    token, mirroring the batch_id-keyed output directories of the
    streaming sink. Callers must pass a token unique per logical
    batch (the streaming path derives it from the checkpoint scope +
    epoch id); with ``batch_token=None`` a plain at-least-once append
    is performed (ad-hoc/maintenance use).

    The bucket spec is untouched either way (``buckets`` and the sort
    column must match the original :func:`write_bucketed_signatures`
    call — Spark errors loudly on a mismatch), so verify joins stay
    Exchange-free on the stored side after any number of appends
    (asserted in ``tests/test_bucketing.py``). Cost is proportional
    to the BATCH, never the store.

    The hot-band table is deliberately NOT touched per batch:
    keeping it exact would mean re-counting corpus-wide bucket sizes
    (or rewriting a corpus-vocabulary-sized count table) on every
    micro-batch. Instead it goes stale-but-safe — a bucket that
    crosses ``max_band_freq`` between refreshes costs bounded extra
    candidate fan-out, never correctness — and
    :func:`refresh_hot_band_buckets` recomputes it at maintenance
    time (with merge/compaction cadence)."""
    spark = new_sigs.sparkSession
    if batch_token is not None:
        if "__batch" not in spark.table(table_name).columns:
            raise ValueError(
                f"append_bucketed_signatures(batch_token=...) needs a "
                f"store partitioned by __batch, but table "
                f"{table_name!r} has no __batch column — it was built "
                f"by a pre-partitioning write_bucketed_signatures. "
                f"Rebuild the store with write_bucketed_signatures "
                f"(current layouts always add __batch) or append "
                f"without a batch_token (at-least-once)."
            )
        # insertInto matches columns BY POSITION — align to the table's
        # schema order (data columns ..., __batch last)
        cols = [c for c in spark.table(table_name).columns if c != "__batch"]
        stamped = new_sigs.select(*cols).withColumn("__batch", F.lit(batch_token))
        # dynamic partition overwrite must be set on the SESSION for
        # insertInto (the per-write option is ignored on this path; a
        # static overwrite would wipe every other batch's partition) —
        # set and restore around the write
        conf_key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(conf_key, "static")
        spark.conf.set(conf_key, "dynamic")
        try:
            (
                stamped.write.format("parquet")
                .insertInto(table_name, overwrite=True)
            )
        finally:
            spark.conf.set(conf_key, prev)
        # a replayed overwrite REPLACES files in an existing partition;
        # readers holding the old file listing would hit FILE_NOT_EXIST
        spark.catalog.refreshTable(table_name)
        return
    import uuid as _uuid

    # driver-side token: constant across every row AND every task retry
    # of this write (a per-row uuid() expression would explode into one
    # partition per row and re-randomize on retry)
    (
        new_sigs.withColumn(
            "__batch", F.lit(f"adhoc-{_uuid.uuid4().hex[:12]}")
        )
        .write.partitionBy("__batch")
        .bucketBy(buckets, "id")
        .sortBy("id")
        .mode("append")
        .format("parquet")
        .saveAsTable(table_name)
    )


def refresh_hot_band_buckets(
    spark,
    sig_table: str,
    hot_table: str,
    path: str,
    bands: int = 32,
    max_band_freq: int = 1000,
    hash_family: str = "xxhash",
) -> None:
    """Maintenance-time recompute of the hot-band table from the
    CURRENT signature store (one banded aggregation over the store,
    amortized across the many batches appended since the last
    refresh)."""
    write_hot_band_buckets(
        spark.table(sig_table),
        hot_table,
        path,
        bands=bands,
        max_band_freq=max_band_freq,
        hash_family=hash_family,
    )


def hot_band_buckets(
    corpus_sigs: DataFrame,
    bands: int = 32,
    max_band_freq: int = 1000,
    hash_family: str = "xxhash",
    num_hashes: Optional[int] = None,
) -> DataFrame:
    """The (band, key) buckets of a signature store whose member count
    EXCEEDS ``max_band_freq`` — the degenerate boilerplate buckets that
    :func:`incremental_minhash_matches` must drop before candidate
    generation. By construction this frame is tiny (over-cap buckets
    only), so it broadcasts.

    Compute it ONCE at store-build time (:func:`write_hot_band_buckets`)
    and pass it to every arriving batch: the per-batch alternative —
    counting bucket sizes with a window over the corpus band fan-out —
    re-shuffles the ENTIRE corpus band table on every micro-batch,
    which at 100 TB is the dominant cost of the whole match. Band
    geometry (bands, hash_family) is pinned here exactly like
    num_hashes is pinned by the signature build.

    ``num_hashes``: pass it when the caller already knows the store's
    signature width (a maintenance job that just built the store, a
    caller that ran :func:`validate_incremental_store`) to skip the
    one-row probe job; when None it is inferred from the store.
    (``incremental_minhash_matches`` no longer calls this function at
    all — it derives hot buckets from its own shared band fan-out.)"""
    if num_hashes is None:
        sig_len = corpus_sigs.select(F.size("sig").alias("n")).limit(1).collect()
        if not sig_len:  # empty corpus: no buckets, keep (band, key) shape
            key_t = "string" if hash_family.startswith("poly") else "bigint"
            return corpus_sigs.select(
                F.lit(0).alias("band"), F.lit(None).cast(key_t).alias("key")
            ).limit(0)
        num_hashes = sig_len[0]["n"]
    assert num_hashes % bands == 0
    r = num_hashes // bands
    banded_c = _banded(corpus_sigs.select("id", "sig"), bands, r, hash_family)
    return (
        banded_c.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .filter(F.col("__bn") > max_band_freq)
        .select("band", "key")
    )


def write_hot_band_buckets(
    corpus_sigs: DataFrame,
    table_name: str,
    path: str,
    bands: int = 32,
    max_band_freq: int = 1000,
    hash_family: str = "xxhash",
) -> None:
    """Persist :func:`hot_band_buckets` next to the signature store —
    the ingest-time side product that lets every arriving batch skip
    the corpus-wide bucket count entirely (see the scale note there)."""
    (
        hot_band_buckets(corpus_sigs, bands, max_band_freq, hash_family)
        .write.option("path", path)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table_name)
    )


def validate_incremental_store(
    corpus_sigs: DataFrame,
    num_hashes: int = 128,
    bands: int = 32,
    hash_family: str = "xxhash",
    corpus_hot_bands: Optional[DataFrame] = None,
) -> None:
    """Guard a signature store (and optional hot-band table) against
    parameter drift: a mismatched signature width makes F.slice
    produce band keys that silently never (or wrongly) match — every
    duplicate would then pass through undetected — and a hot-band
    table with the wrong geometry/family filters NOTHING, silently
    disabling the fan-out cap. One-row / tiny-agg probes (a bucketed
    parquet store reads a single row group, not the table)."""
    probe = corpus_sigs.select(F.size("sig").alias("n")).limit(1).collect()
    if probe and probe[0]["n"] != num_hashes:
        raise ValueError(
            f"corpus_sigs was built with num_hashes={probe[0]['n']}, "
            f"caller asked for {num_hashes}: rebuild the store or pass "
            "matching (num_hashes, bands, k, hash_family, shingle_unit)"
        )
    if corpus_hot_bands is not None:
        expected_t = "string" if hash_family.startswith("poly") else "bigint"
        actual_t = dict(corpus_hot_bands.dtypes).get("key")
        if actual_t != expected_t:
            raise ValueError(
                f"corpus_hot_bands key type {actual_t!r} does not match "
                f"hash_family={hash_family!r} (expected {expected_t!r}): "
                "rebuild the hot-band table with matching params"
            )
        max_band = corpus_hot_bands.agg(F.max("band")).first()[0]
        if max_band is not None and max_band >= bands:
            raise ValueError(
                f"corpus_hot_bands contains band {max_band} but caller "
                f"asked for bands={bands}: rebuild the hot-band table "
                "with matching band geometry"
            )


def incremental_minhash_matches(
    new_df: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    bands: int = 32,
    k: int = 3,
    threshold: float = 0.5,
    max_band_freq: Optional[int] = 1000,
    hash_family: str = "xxhash",
    shingle_unit: str = "word",
    corpus_hot_bands: Optional[DataFrame] = None,
    plan_sink: Optional[list] = None,
    validate: bool = True,
    cache_corpus: bool = False,
) -> DataFrame:
    """Sub-linear incremental dedup: match an ARRIVING batch against a
    corpus's PRECOMPUTED MinHash signatures
    (:func:`corpus_minhash_signatures`) — the steady-state shape at
    100 TB, where the corpus is hashed once at ingest and each batch
    only pays its own signature build plus a band-bucket join whose
    size is driven by the batch, never corpus × corpus. Candidates
    are verified with exact Jaccard; the best corpus match per new
    doc is returned as (new_id, corpus_id, jaccard), ties broken by
    lowest corpus id. ``max_band_freq`` drops CORPUS band buckets
    larger than the cap (a degenerate bucket of 10⁵ docs would
    otherwise fan every colliding new doc into 10⁵ candidates).

    ``cache_corpus``: persist *corpus_sigs* for the duration of the
    call so the band fan-out, the hot-bucket count and the verify
    join share ONE materialization instead of each recomputing the
    signature build. Use when the corpus side is a computed frame
    (tests, the self-contained harness entry); leave False when it is
    a bucketed signature store — caching a store scan only copies
    parquet into executor memory.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    if validate:
        # store-parameter guards run BEFORE any persist (a raise after
        # persist() would leak a CacheManager entry). Long-lived
        # callers — the streaming filter validates once at stream
        # construction — pass validate=False to keep the two tiny
        # probe jobs off every micro-batch.
        validate_incremental_store(
            corpus_sigs, num_hashes, bands, hash_family, corpus_hot_bands
        )
    corpus_cached: list[DataFrame] = []
    if cache_corpus:
        corpus_sigs = corpus_sigs.persist()
        corpus_cached.append(corpus_sigs)
    ns = corpus_minhash_signatures(
        new_df, id_col, text_col, num_hashes, k, hash_family, shingle_unit
    ).persist()  # banded fan-out + verify both read it
    banded_n = _banded(ns, bands, r, hash_family)
    banded_c = _banded(corpus_sigs.select(F.col("id"), F.col("sig")), bands, r, hash_family)
    if cache_corpus:
        # the band fan-out is read by both the hot-bucket count and the
        # candidate join — persist it so the slice+format of 32 band
        # keys per signature runs once, not per consumer
        banded_c = banded_c.persist()
        corpus_cached.append(banded_c)
    if corpus_hot_bands is None and max_band_freq is not None:
        # same computation as hot_band_buckets, but over the SHARED
        # banded frame (hot_band_buckets would re-derive its own fan-out
        # from the store); num_hashes is already validated/caller-
        # asserted so no probe job either
        corpus_hot_bands = (
            banded_c.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") > max_band_freq)
            .select("band", "key")
        )
    if corpus_hot_bands is not None:
        # Drop over-cap corpus buckets via an ANTI-join of the hot-
        # bucket list (un-hinted: AQE broadcasts it while it is small
        # and falls back to a shuffle join past the broadcast limit) —
        # the corpus band rows are filtered in place, not re-shuffled
        # for counting. The previous window-count formulation
        # (count().over(partitionBy(band, key))) hash-partitioned the
        # ENTIRE corpus band fan-out on every call; with a store-time
        # hot-bucket table (write_hot_band_buckets) even the bucket
        # counting is off the per-batch path.
        banded_c = banded_c.join(
            corpus_hot_bands, ["band", "key"], "left_anti"
        )
    cand = (
        banded_n.alias("n")
        .join(
            banded_c.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.key") == F.col("c.key"))
            & (F.col("n.id") != F.col("c.id")),
        )
        .select(F.col("n.id").alias("new_id"), F.col("c.id").alias("corpus_id"))
        .dropDuplicates(["new_id", "corpus_id"])
    )
    shn = ns.select(F.col("id").alias("new_id"), F.col("sh").alias("shn"))
    shc = corpus_sigs.select(F.col("id").alias("corpus_id"), F.col("sh").alias("shc"))
    j = (
        cand.join(shn, "new_id")
        .join(shc, "corpus_id")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("shn", "shc"))
            / F.size(F.array_union("shn", "shc")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    best = Window.partitionBy("new_id").orderBy(
        F.col("jaccard").desc(), F.col("corpus_id")
    )
    out = (
        j.withColumn("__rn", F.row_number().over(best))
        .filter(F.col("__rn") == 1)
        .select("new_id", "corpus_id", F.round("jaccard", 6).alias("jaccard"))
    )
    res = finalize_cached(out, ns, *corpus_cached)
    if plan_sink is not None:
        # test seam: the executed (post-AQE) plan of the match join —
        # finalize_cached already ran it, so this is the real plan, and
        # tests assert the corpus side was scanned, never shuffled
        plan_sink.append(out._jdf.queryExecution().executedPlan().toString())
    return res


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    bands: int = 32,
    k: int = 3,
    threshold: float = 0.5,
    max_band_freq: Optional[int] = 1000,
    hash_family: str = "xxhash",
    shingle_unit: str = "word",
    cache_shingles: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified with exact
    Jaccard (so: recall bounded by the S-curve of (bands, rows_per_
    band), precision exact).

    One narrow pass computes signatures; the only shuffle is the
    band-key self-join (64-bit keys). With 128 hashes / 32 bands /
    r=4, the candidate-capture probability at J=0.5 is
    1-(1-0.5^4)^32 ≈ 0.87, at J=0.7 ≈ 0.9998.

    ``max_band_freq`` (ON by default) drops any (band, key) bucket
    holding more than that many docs before the self-join: a
    degenerate band key shared by 10^5 docs would otherwise form
    10^10 candidate pairs on its own. Docs in an over-full bucket
    still pair through their other bands, so recall loss is confined
    to pairs whose ONLY agreement is the degenerate band.

    ``hash_family``: 'xxhash' (default — fastest, 8-byte band keys)
    or 'poly' (SQL-auditable: DuckDB reproduces every signature, so
    the output gets a value-level oracle; band keys are the joined
    signature strings since xxhash64 key narrowing would break
    auditability).
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    # Two verify strategies, one memory/pass trade:
    # * cache_shingles=False (default): shingle arrays are NOT cached
    #   corpus-wide — signatures consume them in one inline pass, and
    #   exact-Jaccard verification re-shingles only the CANDIDATE docs
    #   (semi-join below). At corpus scale this avoids pinning every
    #   document's shingle set in executor memory: the right default
    #   when candidates are a small fraction of the corpus.
    # * cache_shingles=True: ONE (id, sh, sig) pass (the
    #   corpus_minhash_signatures shape) is checkpointed and the verify
    #   join reads shingles from it — no second scan, no second
    #   shingle computation, several fewer stages. The right choice
    #   when the candidate fraction is large (dense char-shingle
    #   corpora: ~half the docs are candidates at sf0.1) or the input
    #   is expensive to rescan.
    # checkpoint either way: the band fan-out references sig 2×bands
    # times and lambda expressions don't get subexpression elimination;
    # a checkpoint (not a persist) also keeps the signature plan out
    # of every later plan that reads it
    if cache_shingles:
        css = corpus_minhash_signatures(
            df, id_col, text_col, num_hashes, k, hash_family, shingle_unit
        ).localCheckpoint()
        sig = css.select("id", "sig")
    else:
        css = None
        sh_df = staged_shingles(df, id_col, text_col, k, shingle_unit)
        sig = minhash_signatures(
            sh_df, num_hashes, hash_family=hash_family
        ).localCheckpoint()
    banded = _banded(sig, bands, r, hash_family)

    # candidate ids only — shingle arrays never travel through the
    # band-key shuffle; they re-join after pair dedup. One grouped
    # pass (window-counted bucket cap + member-array pair generation,
    # :func:`_grouped_self_pairs`) replaces the band-key self-join:
    # the banded fan-out crosses ONE exchange instead of two join
    # sides that each recomputed the over-cap count + anti-join.
    cand = (
        _grouped_self_pairs(banded, ["band", "key"], F.col("id"), max_band_freq)
        .select(F.col("p.a").alias("a_id"), F.col("p.b").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
        .localCheckpoint()  # referenced 3x: candidate-id union + verify join
    )
    if css is not None:
        sha = css.select(F.col("id").alias("a_id"), F.col("sh").alias("sha"))
        shb = css.select(F.col("id").alias("b_id"), F.col("sh").alias("shb"))
    else:
        cand_ids = (
            cand.select(F.col("a_id").alias(id_col))
            .unionAll(cand.select(F.col("b_id").alias(id_col)))
            .distinct()
        )
        cand_sh = staged_shingles(
            df.join(cand_ids, id_col, "leftsemi"), id_col, text_col, k, shingle_unit
        )
        sha = cand_sh.select(F.col("id").alias("a_id"), F.col("sh").alias("sha"))
        shb = cand_sh.select(F.col("id").alias("b_id"), F.col("sh").alias("shb"))
    out = (
        cand.join(sha, "a_id")
        .join(shb, "b_id")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sha", "shb"))
            / F.size(F.array_union("sha", "shb")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))
    )
    return finalize_cached(out)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signature(
    text: Column, bits: int = 64, hash_family: str = "xxhash"
) -> Column:
    """Classic SimHash (Charikar 2002): per-token hash, sum ±1 per bit
    position, sign -> signature bit. Returns a long.

    Pure higher-order functions — per-row, no shuffle.

    ``hash_family='poly'`` uses two 30-bit polynomial codepoint hashes
    per token (bits 0-29 from h1, 30-59 from h2 — a 60-bit signature)
    so DuckDB reproduces the signature exactly; 'xxhash' (default)
    keeps the single 64-bit JVM intrinsic.
    """
    if hash_family == "poly":
        # Arrow-batched: the per-char poly fold is an interpreted HOF
        # (see minhash_signatures) — tokenization stays JVM-side, only
        # the hash math moves to the vectorized UDF. 'poly_expr' keeps
        # the pure-SQL spec the UDF is tested bit-equal against.
        return _simhash_poly_sig_udf()(words_col(F.lower(text)))
    if hash_family == "poly_expr":
        bits = 60
        toks = words_col(F.lower(text))
        # hash each token ONCE (two 30-bit folds), then fan out bits
        # large odd multipliers + nonzero inits: the first fold step
        # already wraps the 2^30 modulus, so every bit is mixed even
        # for 1-char tokens (acc*base stays < 2^63: 2^30 * 1.6e9)
        hs = F.transform(
            toks,
            lambda t: F.struct(
                poly_hash(t, 1103515245, 0, POLY_MOD_POW2, init=5381).alias("h1"),
                poly_hash(t, 1588635695, 1, POLY_MOD_POW2, init=7919).alias("h2"),
            ),
        )

        def bit_votes(h):
            return F.array(
                *[
                    (
                        F.shiftrightunsigned(
                            h.getField("h1" if j < 30 else "h2"), j % 30
                        ).bitwiseAND(F.lit(1))
                        * 2
                        - 1
                    ).cast("long")
                    for j in range(bits)
                ]
            )

        votes = F.aggregate(
            hs,
            F.array_repeat(F.lit(0).cast("long"), bits),
            lambda acc, h: F.zip_with(acc, bit_votes(h), lambda a, v: a + v),
        )
        lo = _pack_half(F.reverse(F.slice(votes, 1, bits // 2)))
        hi = _pack_half(F.reverse(F.slice(votes, bits // 2 + 1, bits // 2)))
        return F.shiftleft(hi, bits // 2).bitwiseOR(lo)

    return _simhash_from_tokens(words_col(F.lower(text)), "xxhash", bits)


def _simhash_from_tokens(
    toks: Column, hash_family: str = "xxhash", bits: int = 64
) -> Column:
    """Signature from an arbitrary token Column (words, char n-grams,
    …): the xxhash family folds per-token ±1 bit votes JVM-side; the
    poly family routes through the Arrow-batched UDF (60-bit)."""
    if hash_family == "poly":
        return _simhash_poly_sig_udf()(toks)
    if hash_family != "xxhash":
        raise ValueError(f"unknown simhash family {hash_family!r}")

    def bit_votes(t):
        # per-token ±1 vote per bit position (j is a Python int so the
        # shift amount is a literal — shiftright takes no Column count)
        return F.array(
            *[
                (
                    F.shiftrightunsigned(F.xxhash64(t), j).bitwiseAND(F.lit(1)) * 2 - 1
                ).cast("long")
                for j in range(bits)
            ]
        )

    votes = F.aggregate(
        toks,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, t: F.zip_with(acc, bit_votes(t), lambda a, v: a + v),
    )
    lo = _pack_half(F.reverse(F.slice(votes, 1, bits // 2)))
    hi = _pack_half(F.reverse(F.slice(votes, bits // 2 + 1, bits // 2)))
    return F.shiftleft(hi, bits // 2).bitwiseOR(lo)


def _pack_half(arr: Column) -> Column:
    """MSB-first fold of <=32 vote signs into a long (stays below
    2^32, no ANSI overflow; a full 64-bit fold would overflow at bit
    63)."""
    return F.aggregate(
        arr,
        F.lit(0).cast("long"),
        lambda acc, v: acc * 2 + F.when(v > 0, 1).otherwise(0),
    )


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """(id, sig) via explode + partial aggregation.

    Scale note (measured at sf0.1): this formulation is ~5× SLOWER
    than the per-row HOF (:func:`simhash_signature`) — the explode
    materializes one row per token and the 64-column aggregate sits
    at the codegen field limit — but its per-row memory is O(1) in
    document length, so it remains the right path for pathologically
    wide documents (100 MB+ blobs) where the HOF's per-row token
    array would not fit an executor's row buffer. Default pipelines
    should use :func:`simhash_near_pairs` (narrow path)."""
    ex = (
        spread(df.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select("id", F.explode(words_col(F.lower(F.col(text_col)))).alias("t"))
        # hash ONCE per token row — referencing xxhash64(t) inside all
        # 64 vote aggregates would re-evaluate it per bit position
        .select("id", F.xxhash64(F.col("t")).alias("h"))
    )
    votes = ex.groupBy("id").agg(
        *[
            F.sum(
                F.shiftrightunsigned(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"v{j}")
            for j in range(bits)
        ]
    )

    def pack(js: range) -> Column:
        out = F.lit(0).cast("long")
        for pos, j in enumerate(js):
            bit = F.when(F.col(f"v{j}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
            out = out.bitwiseOR(F.shiftleft(bit, pos))
        return out

    lo = pack(range(0, bits // 2))
    hi = pack(range(bits // 2, bits))
    return votes.select("id", F.shiftleft(hi, bits // 2).bitwiseOR(lo).alias("sig"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    wide_docs: bool = False,
    hash_family: str = "xxhash",
    token_unit: str = "word",
    char_k: int = 3,
) -> DataFrame:
    """Pairs with hamming(simhash_a, simhash_b) <= max_hamming.
    ``token_unit='char'`` votes with char ``char_k``-gram windows
    instead of whitespace words — the unit for unsegmented scripts
    (CJK), where word tokenization yields one token per document.

    Blocking: split the signature into 4 equal-width chunks (16 bits
    for the 64-bit xxhash family, 15 for the 60-bit poly family) —
    any pair within hamming distance 3 agrees exactly on >= 1 chunk
    (pigeonhole), so the join on (chunk_idx, chunk_value) has full
    recall for max_hamming <= 3 and touches only same-chunk pairs.

    Signatures come from the narrow per-row HOF
    (:func:`simhash_signature`): one pass, no explode, no shuffle —
    the same trick that made MinHash 4× faster. Persisted because the
    chunk fan-out + self-join reference it multiple times and
    lambda expressions get no subexpression elimination. Pass
    ``wide_docs=True`` to use the explode+aggregate formulation for
    corpora of pathologically long documents (see
    :func:`simhash_signatures`; xxhash family only).
    """
    if wide_docs:
        if hash_family != "xxhash":
            raise ValueError("wide_docs path supports the xxhash family only")
        if token_unit != "word":
            raise ValueError("wide_docs path supports word tokens only")
        sig = simhash_signatures(df, id_col, text_col)
    elif token_unit == "char":
        # char n-gram tokens (non-distinct sliding windows — SimHash
        # votes weight by occurrence) for unsegmented scripts, staged
        # as a projected column so the normalization isn't re-run per
        # window (HOF lambdas get no subexpression elimination)
        base = spread(df.select(F.col(id_col).alias("id"), F.col(text_col)))
        staged = base.select("id", normalized_text(F.col(text_col)).alias("__t"))
        n = F.length(F.col("__t"))
        windows = F.when(
            n >= char_k,
            F.transform(
                F.sequence(F.lit(1), n - (char_k - 1)),
                lambda i: F.substr(F.col("__t"), i, F.lit(char_k)),
            ),
        ).otherwise(F.array(F.col("__t")))
        toked = staged.select("id", windows.alias("__tk"))
        sig = toked.select(
            "id", _simhash_from_tokens(F.col("__tk"), hash_family).alias("sig")
        )
    else:
        sig = spread(
            df.select(F.col(id_col).alias("id"), F.col(text_col))
        ).select(
            "id",
            simhash_signature(F.col(text_col), hash_family=hash_family).alias("sig"),
        )
    sig = sig.persist()
    cw = 15 if hash_family.startswith("poly") else 16  # chunk width (bits/4)
    chunks = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftrightunsigned("sig", cw * i)
                        .bitwiseAND(F.lit((1 << cw) - 1))
                        .alias("cv"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("id", "sig", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))

    # (ci, cv)-keyed SELF-JOIN, deliberately NOT the grouped
    # `_grouped_self_pairs` shape (r17 ledger): chunk blocking must be
    # FULL-RECALL for the hamming<=3 pigeonhole guarantee, so there is
    # no frequency cap to bound group sizes — and simhash chunk values
    # are heavy-tailed (template docs share chunks), so the grouped
    # rewrite's per-element INTERPRETED combination arrays went
    # quadratic with density: the sf1 A/B measured it at 8.6 s vs
    # 3.8 s for this join (2.3× regression the sf0.1 job count hid;
    # BENCH_SF1 + /tmp A/B r17). The join generates identical pairs
    # through whole-stage codegen; both sides read the PERSISTED sig
    # frame, so the fan-out is not recomputed per side.
    cand = (
        chunks.alias("a")
        .join(
            chunks.alias("b"),
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.col("a.sig").alias("siga"),
            F.col("b.sig").alias("sigb"),
        )
        .dropDuplicates(["a_id", "b_id"])
    )
    out = (
        cand.withColumn("hamming", F.bit_count(F.col("siga").bitwiseXOR(F.col("sigb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )
    return finalize_cached(out, sig)


# ---------------------------------------------------------------------------
# duplicate-cluster resolution (connected components over dup pairs)
# ---------------------------------------------------------------------------

def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al. 2014, "Connected
    Components in MapReduce and Beyond"): for every node ``u``,
    connect each strictly-LARGER neighbor to the minimum of
    ``{u} ∪ N(u)``. Emitted edges are canonical ``u > v``."""
    sym = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("__mn"))
        .select("u", F.least(F.col("u"), F.col("__mn")).alias("m"))
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: edges arrive canonical (``u > v``); every
    node ``u`` links itself and all its smaller neighbors to the
    minimum of ``{u} ∪ N_small(u)``. Output stays canonical."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    relink = (
        edges.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edge = mins.select("u", F.col("m").alias("v"))
    return relink.unionAll(self_edge).distinct()


def _local_min_labels(edges: list) -> dict:
    """Driver-side union-find over (u, v) edge tuples; returns
    {node: component_min} for every node that appears in an edge."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iterations: int = 20,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components over near-duplicate pairs: every doc that
    appears in a pair gets the component's minimum id as
    ``cluster_id`` (the canonical "keeper"); a real dedup pipeline
    then drops rows where ``doc_id != cluster_id``.

    Hybrid execution: while the (distinct, id-pairs-only) edge count
    exceeds ``local_threshold`` the graph is contracted with
    distributed star alternations; once it fits (≤ ~16 MB at the
    default 10⁶), a driver-side union-find finishes in one pass —
    each distributed alternation costs several tiny shuffles plus a
    driver round-trip, which for a small graph is pure scheduling
    overhead (measured ~1.6 s/round for 250 edges on local[32]).
    This is the standard two-phase shape for MapReduce connected
    components (contract distributed, finish local); the collect is
    bounded by the measured edge count, never data-sized.

    Algorithm: alternating large-star / small-star (Kiveris et al.
    2014) — each alternation roughly doubles how far the component
    minimum has propagated, so convergence is typically O(log
    diameter) rounds instead of min-label propagation's O(diameter).
    Per-alternation doubling is a heuristic, not the paper's bound —
    the proven worst case is O(log² n) rounds — but in practice the
    default budget of 20 alternations clears any realistic dup graph
    (web-scale chains converge in single digits), where the old
    propagation loop needed one round PER hop and refused on a
    30-hop chain. At the fixed point every component is a star
    centered on its minimum id, read off directly as the labels.
    Per round: two groupBy-min's + two joins, all on bare id pairs —
    id-only shuffles, no payloads.

    Every round is lineage-truncated: iterative DataFrame algorithms
    otherwise DOUBLE their logical plan per round (each iteration
    references the previous twice), and after 10 rounds the driver is
    analyzing a 1000-scan plan. The truncation is an eager
    ``localCheckpoint()``, which runs through the adaptive (AQE) plan
    like any Dataset action, so each round's half-dozen tiny shuffles
    coalesce to a handful of tasks (the ``finalize_cached``
    primitive). (On a cluster with executor churn, swap
    localCheckpoint for reliable ``checkpoint()`` — same shape.)

    Convergence is detected by edge-set stability. The per-round
    probe is O(1): one aggregate over the checkpoint computes
    ``(count, bit_xor(xxhash64(u, v)))``, an order-independent
    set signature, and only when the signature repeats does the
    definitive ``exceptAll`` check run (once per call, not per
    round — a signature collision on distinct sets just costs one
    wasted confirm and the loop continues, so correctness never
    rests on the hash). The verification alternation runs OUTSIDE
    the ``max_iterations`` budget (``range(max_iterations + 1)``),
    so all budgeted rounds are productive — a component finishing
    exactly on round ``max_iterations`` still converges instead of
    raising.
    """

    def _materialize(df: DataFrame):
        """Checkpoint one round's edge set; returns the
        lineage-truncated frame plus its (count, xor-of-hashes) set
        signature, read from the checkpoint."""
        df = df.localCheckpoint()
        n, sig = df.agg(
            F.count(F.lit(1)), F.bit_xor(F.xxhash64("u", "v"))
        ).first()
        return df, n, sig

    spark = pairs.sparkSession
    members = None
    converged = False

    # canonical u > v edge set; self-pairs carry no connectivity.
    e = pairs.select(
        F.greatest(F.col(a_col), F.col(b_col)).alias("u"),
        F.least(F.col(a_col), F.col(b_col)).alias("v"),
    )
    e_dist = e.filter(F.col("u") != F.col("v")).distinct()
    id_type = e_dist.schema["u"].dataType

    def _finish_rows(rows) -> DataFrame:
        # Small-graph fast path: the edge set (id pairs only — at
        # the default threshold ≤ ~16 MB) fits the driver, where
        # union-find labels it in one pass with ZERO per-round
        # Spark jobs. At corpus scale the distributed star loop runs
        # until the graph shrinks under the threshold (each
        # alternation collapses members onto component minima, so
        # the edge count is non-increasing after the first round) —
        # the collect is bounded by the measured edge count,
        # never data-sized.
        labels = _local_min_labels([(r["u"], r["v"]) for r in rows])
        items = list(labels.items())
        schema = StructType(
            [
                StructField("doc_id", id_type),
                StructField("cluster_id", id_type),
            ]
        )
        if (
            items
            and len(items) <= 65536
            and isinstance(id_type, (LongType, IntegerType))
            and all(
                isinstance(x, int) for kv in items for x in kv
            )
        ):
            # integral label table as a LITERAL relation (the
            # _literal_frame recipe): createDataFrame parallelizes a
            # pickled RDD whose broadcast build runs its own collect
            # job; a literal LocalRelation broadcasts straight from
            # the driver. Capped at 64k pairs so the parsed expression
            # stays small — larger graphs fall back to the RDD, whose
            # one extra job is noise at that size.
            body = ",".join(f"struct({d}L,{c}L)" for d, c in items)
            local = (
                spark.range(1)
                .select(F.expr(f"inline(array({body}))"))
                .select(
                    F.col("col1").cast(id_type).alias("doc_id"),
                    F.col("col2").cast(id_type).alias("cluster_id"),
                )
            )
        else:
            # createDataFrame parallelizes an RDD with UNKNOWN size
            # stats, so the final label join would plan a sort-merge
            # exchange of all_ids; the label table is bounded by
            # local_threshold — broadcast it explicitly
            local = spark.createDataFrame(items, schema)
        return F.broadcast(local)

    def _finish_local(edge_df: DataFrame) -> DataFrame:
        return _finish_rows(edge_df.collect())

    # Bounded probe-collect (r17): ONE job both decides the local/
    # distributed split AND delivers the edges when they fit — the
    # former persist + count() + collect() pair cost two jobs for
    # the common (post-dedup, output-sized) case. limit(T+1) bounds
    # the driver transfer: > T rows back means "too big, go
    # distributed" and nothing more is pulled.
    probe = e_dist.limit(local_threshold + 1).collect()
    if len(probe) <= local_threshold:
        members = _finish_rows(probe)
        converged = True
    else:
        del probe
        prev, prev_n, _ = _materialize(e_dist)
        prev_sig = object()  # round-0 sentinel: never equals a real signature
        for _ in range(max_iterations + 1):
            cur, cur_n, cur_sig = _materialize(_small_star(_large_star(prev)))
            if cur_n <= local_threshold:
                members = _finish_local(cur)
                converged = True
                break
            if (
                cur_n == prev_n
                and cur_sig == prev_sig
                and cur.exceptAll(prev).limit(1).count() == 0
            ):
                converged = True
                break
            prev, prev_n, prev_sig = cur, cur_n, cur_sig
    if not converged:
        # a non-stable edge set means some component's minimum has not
        # reached every member — returning would emit SPLIT cluster
        # ids. Convergence is roughly exponential in rounds (proven
        # worst case O(log² n) alternations), so a default budget of
        # 20 clearing signals a pathological input (or a tiny explicit
        # budget), not a tuning problem.
        raise ValueError(
            f"duplicate_clusters did not converge in {max_iterations} "
            f"alternations (convergence is roughly exponential in rounds; "
            f"worst case O(log² n) rounds — Kiveris et al. 2014); "
            f"increase max_iterations"
        )
    if members is None:
        # fixed point = stars: (member u) -> (center v = component
        # min). Centers and self-pair-only docs label themselves.
        members = prev.groupBy("u").agg(F.min("v").alias("cluster_id")).select(
            F.col("u").alias("doc_id"), "cluster_id"
        )
    all_ids = (
        pairs.select(F.col(a_col).alias("doc_id"))
        .unionAll(pairs.select(F.col(b_col).alias("doc_id")))
        .distinct()
    )
    return all_ids.join(members, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id")
    )


def minhash_calibration_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    bands: int = 32,
    k: int = 3,
    max_band_freq: Optional[int] = 1000,
    hash_family: str = "poly",
    shingle_unit: str = "word",
) -> DataFrame:
    """MinHash-ESTIMATED vs EXACT Jaccard for every banded candidate
    pair — the calibration report that justifies (or indicts) a
    (num_hashes, bands) geometry on a specific corpus before trusting
    estimator-only dedup at scale. ``est_jaccard`` is the unbiased
    slot-agreement estimator (fraction of equal signature positions,
    an exact multiple of 1/num_hashes — binary-representable, so no
    rounding drift); ``jaccard`` is exact on the shingle sets;
    ``abs_err`` their absolute gap. Plot abs_err against jaccard and
    compare to the sqrt(J(1-J)/num_hashes) theory curve.

    Shape: the minhash_lsh_pairs skeleton with the ONE (id, sh, sig)
    cached pass (cache_shingles=True trade — calibration reads every
    candidate's signature AND shingles, so a second scan would always
    lose), band-key self-join with the hot-bucket cap, both joins
    id-keyed. No threshold filter: calibration wants the low-J tail
    where the estimator is noisiest."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    css = corpus_minhash_signatures(
        df, id_col, text_col, num_hashes, k, hash_family, shingle_unit
    ).persist()
    banded = _banded(css.select("id", "sig"), bands, r, hash_family)
    # one grouped pass for the banded candidates (window-counted
    # bucket cap + member-array pair generation) — see
    # :func:`_grouped_self_pairs` / :func:`minhash_lsh_pairs`
    cand = (
        _grouped_self_pairs(banded, ["band", "key"], F.col("id"), max_band_freq)
        .select(F.col("p.a").alias("a_id"), F.col("p.b").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    a = css.select(
        F.col("id").alias("a_id"), F.col("sh").alias("sha"), F.col("sig").alias("siga")
    )
    b = css.select(
        F.col("id").alias("b_id"), F.col("sh").alias("shb"), F.col("sig").alias("sigb")
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("siga"), F.col("sigb"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    est = agree / F.lit(float(num_hashes))
    jac = F.size(F.array_intersect("sha", "shb")) / F.size(
        F.array_union("sha", "shb")
    )
    out = (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(est, 6).alias("est_jaccard"),
            F.round(jac, 6).alias("jaccard"),
            F.round(F.abs(est - jac), 6).alias("abs_err"),
        )
    )
    return finalize_cached(out, css)


def cluster_size_histogram(clusters: DataFrame) -> DataFrame:
    """Distribution of near-dup cluster sizes over a
    :func:`duplicate_clusters` frame — the one-page summary of how
    much a corpus duplicates (a long tail of pairs vs a few giant
    boilerplate clusters demand different keeper strategies, and a
    top-heavy histogram is the early-warning sign a shingle cap or
    threshold is off). Returns ``(size, n_clusters, n_docs)`` with
    ``n_docs = size * n_clusters``.

    Scale: two groupBy reductions, each over an already-reduced frame
    (clusters -> cluster sizes -> size histogram); the output is at
    most ~log-many distinct sizes."""
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("size")
    )
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    ).select(
        "size",
        "n_clusters",
        (F.col("size") * F.col("n_clusters")).cast("long").alias("n_docs"),
    )


def select_canonical(
    docs: DataFrame,
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality",
) -> DataFrame:
    """Keeper selection — the step after clustering that actually
    produces the deduplicated corpus: every document gets its cluster
    id (itself when it is in no near-dup cluster) and a ``keep`` flag
    marking the cluster's best-scoring member (ties broken by lowest
    id). ``filter(keep)`` is the training corpus; the rest is the
    drop list with full provenance (what was dropped, for which
    keeper, at what score).

    Shape: one left join of ids onto the (tiny relative to the
    corpus) cluster table — AQE broadcasts it — one join onto the
    per-doc scores, and a per-cluster window whose partitions are
    cluster-sized (bounded by near-dup group size, not corpus size).

    Both joins are LEFT joins: a document missing from *scores* must
    still appear (the contract is "every document gets its cluster
    id"), it just can never win a cluster — the keeper window orders
    with nulls last, so an unscored doc only keeps when it is alone
    in its cluster.
    """
    # duplicate_clusters hardcodes its id column name as 'doc_id';
    # align it to the caller's id_col before joining
    if id_col != "doc_id" and "doc_id" in clusters.columns:
        clusters = clusters.withColumnRenamed("doc_id", id_col)
    base = docs.select(F.col(id_col)).join(clusters, id_col, "left")
    labeled = base.select(
        id_col, F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id")
    ).join(scores.select(id_col, score_col), id_col, "left")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc_nulls_last(), F.col(id_col).asc()
    )
    return labeled.select(
        id_col,
        "cluster_id",
        score_col,
        (F.row_number().over(w) == 1).alias("keep"),
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def dot_product(a: Column, b: Column) -> Column:
    """Sequential-order fold of elementwise double products — the
    exact same arithmetic the DuckDB oracle SQL spells out, so values
    hash-match bit-for-bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sq_norm(v: Column) -> Column:
    """Sequential-order sum of squares (same fold order as the
    oracle's self-dot-product)."""
    return F.aggregate(
        F.transform(v, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


@F.pandas_udf(DoubleType())
def _cosine_batch_udf(pa: "pd.Series", pb: "pd.Series") -> "pd.Series":
    import numpy as np

    A = np.stack(pa.to_numpy()).astype(np.float64)
    B = np.stack(pb.to_numpy()).astype(np.float64)
    num = np.einsum("ij,ij->i", A, B)
    den = np.sqrt(np.einsum("ij,ij->i", A, A) * np.einsum("ij,ij->i", B, B))
    return pd.Series(num / den)


def cosine_vectorized(a: Column, b: Column) -> Column:
    """Arrow-batched BLAS cosine (numpy einsum over the whole batch).

    The scale path for embedding workloads: one matrix op per Arrow
    batch instead of a per-element lambda fold. NOT used by the oracle
    queries — numpy's pairwise-summed dot differs from the
    sequential-order fold in final ulps, so the parity defaults stay
    on :func:`dot_product`; flip the operators' ``vectorized=True``
    for production runs where 1-ulp score differences are irrelevant.
    """
    return _cosine_batch_udf(a, b)


def cosine_sim(a: Column, b: Column) -> Column:
    """dot(a,b)/sqrt(|a|²·|b|²), all sequential-order folds.

    Scale note: in the pairwise operators below the norms are
    precomputed ONCE per vector before the pair join (identical
    values — sqrt(na*nb) is the same double either way), so the
    per-pair work is a single dot product, not three array folds.
    """
    return dot_product(a, b) / F.sqrt(sq_norm(a) * sq_norm(b))


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: Optional[str] = "label",
    threshold: float = 0.4,
    vectorized: bool = False,
) -> DataFrame:
    """Pairs with cosine >= threshold inside a blocking key.

    The block join is the scale lever: with a coarse quantizer (or an
    existing class label) of B buckets the pair count drops ~B× vs
    the full cross product. For unblocked corpora use
    similarity.random_hyperplane_bucket as the block column.

    ``vectorized=True`` switches the per-pair cosine to the
    Arrow-batched BLAS path (:func:`cosine_vectorized`) — the
    production choice at scale; the default sequential fold exists
    for bit-exact oracle parity (see cosine_vectorized docstring).
    """
    e = spread(
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            (F.col(block_col) if block_col else F.lit(0)).alias("blk"),
        )
    ).withColumn("n2", sq_norm(F.col("v")))
    if vectorized:
        cos = cosine_vectorized(F.col("a.v"), F.col("b.v"))
    else:
        cos = dot_product(F.col("a.v"), F.col("b.v")) / F.sqrt(
            F.col("a.n2") * F.col("b.n2")
        )
    pairs = (
        e.alias("a")
        .join(
            e.alias("b"),
            (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            cos.alias("cos"),
        )
    )
    return (
        pairs.filter(F.col("cos") >= threshold)
        .select("a_id", "b_id", F.round("cos", 6).alias("cosine"))
    )


def exact_substring_spans(
    df: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_key: str = "xxhash",
) -> DataFrame:
    """Exact duplicated-substring report, the Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499) signal without the suffix array: for every
    document, how much of it is an EXACT >= k-token copy of text that
    occurs elsewhere in the corpus (or earlier in the same document).
    Near-dup methods (MinHash, SimHash) score whole documents;
    memorization risk comes from verbatim SPANS inside otherwise
    unique documents — quotes, wire copy, license boilerplate — which
    is exactly what this measures.

    Semantics: a position-p k-gram is *duplicated* when the same
    k-token window occurs >= 2 times corpus-wide; the FIRST occurrence
    (min (doc, pos)) is the owner and is not counted against its
    document. Per document: the number of duplicated gram positions
    and the number of tokens covered by the UNION of their [p, p+k)
    intervals (merged via a per-document running-max window — the
    classic interval-union scan), plus the covered fraction. Docs
    shorter than k tokens report zeros.

    Scale shape — deliberately NOTHING quadratic: one posexplode to
    (doc, pos, gram), one groupBy gram (map-side combined) for
    count + owner, one gram-keyed equi-join back, one per-DOCUMENT
    window (id-cardinality partitioning, bounded by a doc's own dup
    spans). A boilerplate gram in 10^6 documents costs 10^6 join rows
    — linear, never the 10^12 a pair join would create. Shuffle
    width: ``gram_key='xxhash'`` (default) ships 8-byte keys;
    ``'raw'`` ships the gram text itself (what the value oracle uses
    — string equality, zero collision risk).

    Two deliberate recompute trades, chosen over their alternatives:
    the gram stream is referenced twice (owner agg + join-back) and
    re-derived each time rather than persisted — materializing the
    exploded grams would hold ~k× the corpus; a narrow scan+explode
    recompute is cheaper than that at 100 TB. And owner selection is
    a groupBy + join-back, NOT a per-gram window: gram frequency is
    heavy-tailed, and a window would funnel a boilerplate gram's 10^6
    occurrences through one task while the aggregation path gets
    map-side partials and AQE skew handling."""
    base = _span_base(df, id_col, text_col)
    grams = _positional_grams(df, k, id_col, text_col, gram_key)
    own = grams.groupBy("g").agg(
        F.count(F.lit(1)).alias("c"),
        F.min(F.struct(F.col("id"), F.col("pos"))).alias("o"),
    ).filter(F.col("c") >= 2)
    marked = (
        grams.join(own, "g")
        .filter(
            ~(
                (F.col("id") == F.col("o.id"))
                & (F.col("pos") == F.col("o.pos"))
            )
        )
        .select("id", "pos")
    )
    return _span_report(marked, base, k, id_col)


def _span_base(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n) token counts for the span reports; NULL text counts as
    zero tokens (mirrored by coalesce in the oracles)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.size(words_col(F.col(text_col))), F.lit(0)).alias("n"),
    )


def _span_report(
    marked: DataFrame, base: DataFrame, k: int, id_col: str
) -> DataFrame:
    """Shared tail of the substring-span reports: merge each doc's
    duplicated [pos, pos+k) intervals via the running-max scan and
    join coverage back onto every document — ONE implementation so
    the batch and incremental paths cannot drift (review finding)."""
    w = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    covered_add = F.greatest(
        F.lit(0),
        F.col("pos")
        + F.lit(k)
        - F.greatest(
            F.col("pos"),
            F.coalesce(F.max(F.col("pos") + k).over(w), F.lit(0)),
        ),
    )
    per_doc = (
        marked.withColumn("__add", covered_add)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_spans"),
            F.sum("__add").alias("covered"),
        )
    )
    return (
        base.join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("n").cast("long").alias("n_tokens"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce("covered", F.lit(0)).cast("long").alias("covered_tokens"),
            F.when(
                F.col("n") > 0,
                F.round(F.coalesce("covered", F.lit(0)) / F.col("n"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_fraction"),
        )
    )


def _positional_grams(
    df: DataFrame, k: int, id_col: str, text_col: str, gram_key: str
) -> DataFrame:
    """(id, pos, g) positional k-grams — shared by
    :func:`exact_substring_spans` and the incremental store path."""
    words = words_col(F.col(text_col))
    base = df.select(F.col(id_col).alias("id"), words.alias("w")).withColumn(
        "n", F.size("w")
    )
    gram = F.transform(
        F.sequence(F.lit(0), F.col("n") - k),
        lambda i: F.concat_ws(" ", F.slice("w", i + 1, k)),
    )
    grams = (
        spread(base.filter(F.col("n") >= k))
        .select("id", F.posexplode(gram).alias("pos", "g"))
    )
    if gram_key == "xxhash":
        return grams.select("id", "pos", F.xxhash64("g").alias("g"))
    if gram_key != "raw":
        raise ValueError(f"unknown gram_key {gram_key!r}")
    return grams


def write_gram_store(
    df: DataFrame,
    table_name: str,
    path: str,
    k: int = 20,
    buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_key: str = "xxhash",
) -> None:
    """Persist the corpus's DISTINCT k-grams as a bucketed table —
    the ingest-once store behind
    :func:`incremental_substring_spans`, the substring sibling of
    :func:`write_bucketed_signatures`. One row per distinct gram:
    ``(g, o_id, o_pos)`` with the earliest owner. Presence + owner is
    all the incremental report needs, so there is NO count column to
    keep fresh — which is what makes store growth naturally
    idempotent (see :func:`append_gram_store`).

    Bucketed + sorted by ``g``: the per-batch probe join reads the
    store pre-partitioned — no Exchange on the stored side, batch-
    sized shuffle only."""
    grams = _positional_grams(df, k, id_col, text_col, gram_key)
    store = grams.groupBy("g").agg(
        F.min(F.struct(F.col("id"), F.col("pos"))).alias("o")
    ).select("g", F.col("o.id").alias("o_id"), F.col("o.pos").alias("o_pos"))
    (
        store.write.bucketBy(buckets, "g")
        .sortBy("g")
        .option("path", path)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table_name)
    )


def append_gram_store(
    df: DataFrame,
    table_name: str,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_key: str = "xxhash",
) -> None:
    """Grow the gram store with a batch's NEW distinct grams (grams
    already present keep their earlier owner — first writer wins, so
    the store's owner column never changes once set). Naturally
    IDEMPOTENT under replay: a re-run's grams are all present after
    the first run, the left-anti probe yields nothing, and the append
    writes zero rows — no batch token or partition-overwrite protocol
    needed (contrast :func:`append_bucketed_signatures`, whose
    band-frequency counts made blind re-appends harmful)."""
    spark = df.sparkSession
    grams = _positional_grams(df, k, id_col, text_col, gram_key)
    fresh = (
        grams.groupBy("g")
        .agg(F.min(F.struct(F.col("id"), F.col("pos"))).alias("o"))
        .join(spark.table(table_name).select("g"), "g", "left_anti")
        .select("g", F.col("o.id").alias("o_id"), F.col("o.pos").alias("o_pos"))
    )
    fresh.write.format("parquet").insertInto(table_name, overwrite=False)


def incremental_substring_spans(
    batch: DataFrame,
    corpus_store,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_key: str = "xxhash",
) -> DataFrame:
    """The ingest-once duplicated-span report: score an ARRIVING
    batch against the standing gram store (plus itself) without ever
    rescanning the corpus — cost proportional to the batch. A batch
    position is duplicated when its k-gram exists in the store (the
    corpus always owns — it was there first) or occurs >= 2 times
    within the batch (earliest batch occurrence owns, unless the
    store also has it). Output shape is exactly
    :func:`exact_substring_spans`'s per-doc report.

    Pair with :func:`append_gram_store` after keeping survivors to
    close the loop: batch N+1 is then scored against batch N's text
    too. *corpus_store* is the bucketed table NAME (production path —
    store-side join is Exchange-free) or any DataFrame with a ``g``
    column (ad-hoc / self-contained probes)."""
    spark = batch.sparkSession
    grams = _positional_grams(batch, k, id_col, text_col, gram_key)
    store_df = (
        spark.table(corpus_store)
        if isinstance(corpus_store, str)
        else corpus_store
    )
    in_store = store_df.select("g").distinct().select(
        "g", F.lit(True).alias("__stored")
    )
    own = grams.groupBy("g").agg(
        F.count(F.lit(1)).alias("c"),
        F.min(F.struct(F.col("id"), F.col("pos"))).alias("o"),
    )
    marked = (
        grams.join(own, "g")
        .join(in_store, "g", "left")
        .filter(
            F.coalesce(F.col("__stored"), F.lit(False))
            | (
                (F.col("c") >= 2)
                & ~(
                    (F.col("id") == F.col("o.id"))
                    & (F.col("pos") == F.col("o.pos"))
                )
            )
        )
        .select("id", "pos")
    )
    return _span_report(marked, _span_base(batch, id_col, text_col), k, id_col)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-level diff between two corpus snapshots: one row per
    doc id present in either, with ``status`` in {'added', 'removed',
    'changed', 'unchanged'} by sha2-256 of the content column — the
    audit step between crawl refreshes (how much actually changed?)
    and the input to incremental re-processing (only 'added' +
    'changed' need re-embedding / re-scoring; 'removed' ids need
    tombstoning downstream).

    One full outer join keyed on the id over two hash-projected slim
    frames — 32-byte digests shuffle, never documents. At 100 TB,
    snapshots stored bucketed by id join exchange-free (the
    write_bucketed_signatures layout argument).

    Presence is tracked by an explicit marker column, NOT by hash
    nullability: ``sha2(NULL)`` is NULL, so a null-content doc
    present on both sides would otherwise misreport as
    added/removed. Null-safe hash equality makes two null-content
    rows 'unchanged' (same content: none)."""
    oh = old.select(
        F.col(id_col),
        F.sha2(F.col(text_col).cast("string"), 256).alias("__ho"),
        F.lit(True).alias("__in_old"),
    )
    nh = new.select(
        F.col(id_col),
        F.sha2(F.col(text_col).cast("string"), 256).alias("__hn"),
        F.lit(True).alias("__in_new"),
    )
    j = oh.join(nh, id_col, "full_outer")
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(F.col("__ho").eqNullSafe(F.col("__hn")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(F.col(id_col), status.alias("status"))
