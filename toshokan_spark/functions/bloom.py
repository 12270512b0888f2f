"""Per-segment token Bloom filters for manifest-level TERM pruning on
tokenized text fields.

The reference's tantivy segments carry real inverted indexes, so a
term query touches only segments whose term dictionary contains the
token. This engine scans Parquet — zone maps already prune numbers /
raw strings / IPs / time at the manifest, but a term query on a
TOKENIZED field (default / whitespace / en_stem) had to scan every
segment. A small Bloom filter over each segment's distinct tokens,
recorded in the manifest at write time, restores the skip: a required
query token whose bits are not all set CANNOT be in the segment.

Design points:

* built DURING segment commit with no job of its own for scalar
  fields: the BM25 ``_stats`` sidecar's per-term rows ARE the
  segment's distinct tokens, so the sidecar write observes each
  field's token count and bit positions (mod ``MAX_BITS``) and the
  driver folds them (:func:`build_token_bloom`). Array text fields
  (not in the sidecar) take one explode+distinct aggregate of the
  same ``(count, positions)`` over the written data;
* sized from the observed vocabulary (~10 bits/token, k=4 ⇒ ~1-2%
  false positives), power-of-two capped at 2^18 bits = 32 KB; a
  segment whose vocabulary exceeds ``MAX_VOCAB`` records no bloom
  (conservative: no bloom = no pruning). At true 100 TB scale the
  bitsets would move to a stats sidecar / metastore instead of the
  JSON manifest — the cap keeps the manifest metadata-sized here;
* hash family is the SQL-auditable polynomial fold (dedup.poly_hash)
  with Kirsch-Mitzenmacher double hashing, so the driver-side probe
  (`_poly_fold_py`) computes bit-for-bit the positions the Spark
  build set — no JVM round-trip per query;
* only CONSERVATIVE pruning: a segment is dropped only when a token
  that provably MUST occur in every match (conjunct terms / phrase
  words) is provably absent. OR branches prune only via tokens
  required by every branch; ``must_not`` never prunes.

Merge: two blooms with identical geometry union by bitwise OR (no
data reread); mismatched geometries drop the merged bloom rather
than rebuild (conservative, and compaction already rewrites data).
"""

from __future__ import annotations

import base64

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from toshokan_spark.operators.dedup import _poly_fold_py, poly_hash
from toshokan_spark.functions.tokenizers import analyze_term, tokenize
from toshokan_spark.plans.ast import BoolQuery, Phrase, Term

#: Kirsch-Mitzenmacher base hashes (poly fold params: base, add, mod,
#: init) — mirrored by the Python probe via _poly_fold_py
_H1 = (1103515245, 0, 1_000_000_007, 5381)
_H2 = (1103515245, 7, 1_000_000_007, 17)

K_HASHES = 4
BITS_PER_TOKEN = 10
MAX_BITS = 1 << 18
MIN_BITS = 1 << 10
#: vocabulary cap above which no bloom is recorded (manifest stays
#: metadata-sized; see module docstring for the at-scale layout)
MAX_VOCAB = 200_000


def _next_pow2(n: int) -> int:
    p = 1
    while p < n:
        p <<= 1
    return p


def token_position_aggs(token: Column, alias: str) -> list[Column]:
    """Aggregates over rows of DISTINCT tokens (null rows skipped) that
    :func:`observed_positions` reads back: the token count and each
    hash's set of bit positions mod ``MAX_BITS`` — the Spark twin of
    :func:`token_positions`. The sets are ints, at most ``MAX_BITS``
    each whatever the vocabulary, and fold to any power-of-two
    ``m <= MAX_BITS`` on the driver: the hashes are non-negative and
    ``m`` divides ``MAX_BITS``, so ``(h % MAX_BITS) % m == h % m``."""
    h1 = poly_hash(token, *_H1[:2], _H1[2], _H1[3])
    h2 = poly_hash(token, *_H2[:2], _H2[2], _H2[3])
    return [F.count(token).alias(f"{alias}_n")] + [
        F.collect_set(((h1 + i * h2) % MAX_BITS).cast("int")).alias(f"{alias}_p{i}")
        for i in range(K_HASHES)
    ]


def observed_positions(row, alias: str) -> tuple[int, list[int]]:
    """``(n, positions)`` from a row holding :func:`token_position_aggs`."""
    return int(row[f"{alias}_n"]), [
        p for i in range(K_HASHES) for p in row[f"{alias}_p{i}"]
    ]


def build_token_bloom(
    written: DataFrame,
    col_name: str,
    tokenizer: str,
    is_array: bool = False,
    observed: tuple[int, list[int]] | None = None,
) -> dict | None:
    """Bloom over the DISTINCT analyzed tokens of *col_name* in a
    just-written segment; ``{"m": bits, "k": hashes, "b64": bitset}``
    or None (empty column / vocabulary over cap).

    *observed* is the ``(n, positions)`` of :func:`token_position_aggs`
    when another pass already saw the distinct tokens (the commit's
    BM25 sidecar write, for scalar fields); without it one
    explode+distinct aggregate over *written* computes the same pair.
    Either way only the token count and the bit positions reach the
    driver — bounded by ``MAX_BITS``, never by the vocabulary. When
    the segment carries the ingest-time ``__tokens__<field>`` shadow
    column the aggregate explodes it directly instead of re-tokenizing
    the text."""
    if observed is None:
        from toshokan_spark.ingest import TOKENS_PREFIX

        shadow = f"{TOKENS_PREFIX}{col_name}"
        if shadow in written.columns:
            src = F.col(shadow)
        elif is_array:
            src = F.flatten(
                F.transform(F.col(col_name), lambda e: tokenize(e, tokenizer))
            )
        else:
            src = tokenize(F.col(col_name), tokenizer)
        toks = written.select(F.explode(src).alias("t")).distinct()
        row = toks.agg(*token_position_aggs(F.col("t"), "t")).collect()[0]
        observed = observed_positions(row, "t")
    n, positions = observed
    if n == 0 or n > MAX_VOCAB:
        return None
    m = min(MAX_BITS, max(MIN_BITS, _next_pow2(n * BITS_PER_TOKEN)))
    bits = bytearray(m // 8)
    for p in positions:
        p %= m
        bits[p >> 3] |= 1 << (p & 7)
    return {"m": m, "k": K_HASHES, "b64": base64.b64encode(bytes(bits)).decode()}


def token_positions(token: str, m: int, k: int) -> list[int]:
    """The k bit positions of *token* — hashes computed ONCE per
    token, reusable across every segment with the same geometry."""
    h1 = _poly_fold_py(token, _H1[0], _H1[1], _H1[2], _H1[3])
    h2 = _poly_fold_py(token, _H2[0], _H2[1], _H2[2], _H2[3])
    return [(h1 + i * h2) % m for i in range(k)]


def bloom_absent_any(bloom: dict, tokens) -> bool:
    """True when ANY of *tokens* is PROVABLY absent from *bloom* —
    the segment-prune test. Decodes the bitset once for the whole
    token set (at 10k segments the per-call base64 decode is the
    probe's dominant cost, so it must not repeat per token)."""
    m, k = bloom["m"], bloom["k"]
    bits = base64.b64decode(bloom["b64"])
    for t in tokens:
        for p in token_positions(t, m, k):
            if not (bits[p >> 3] >> (p & 7)) & 1:
                return True
    return False


def bloom_might_contain(bloom: dict, token: str) -> bool:
    """Driver-side single-token probe (tests / ad-hoc); the pruning
    loop uses :func:`bloom_absent_any`."""
    return not bloom_absent_any(bloom, [token])


def merge_blooms(blooms: list[dict | None]) -> dict | None:
    """Union of same-geometry blooms by bitwise OR; None when any
    input lacks a bloom or geometries differ (conservative)."""
    if not blooms or any(b is None for b in blooms):
        return None
    m, k = blooms[0]["m"], blooms[0]["k"]
    if any(b["m"] != m or b["k"] != k for b in blooms):
        return None
    acc = bytearray(base64.b64decode(blooms[0]["b64"]))
    for b in blooms[1:]:
        for i, byte in enumerate(base64.b64decode(b["b64"])):
            acc[i] |= byte
    return {"m": m, "k": k, "b64": base64.b64encode(bytes(acc)).decode()}


def required_term_tokens(node, field: str, tokenizer: str) -> set[str]:
    """Tokens that MUST occur in every document matching *node* on
    *field* — the safe-to-prune-on set. Mirrors the conservative
    semantics of ``query._interval_bounds``: union across ``must``
    conjuncts, intersection across pure-``should`` disjuncts (a token
    prunes only if every branch requires it), nothing from
    ``must_not`` or other fields. Empty set = cannot prune."""
    if isinstance(node, Term) and node.field == (field,):
        return set(analyze_term(node.text, tokenizer))
    if isinstance(node, Phrase) and node.field == (field,):
        return set(analyze_term(node.text, tokenizer))
    if isinstance(node, BoolQuery):
        if node.must:
            out = set()
            for c in node.must:
                out |= required_term_tokens(c, field, tokenizer)
            return out
        if node.should:
            sets = [required_term_tokens(c, field, tokenizer) for c in node.should]
            if not sets or any(not s for s in sets):
                return set()
            out = sets[0]
            for s in sets[1:]:
                out &= s
            return out
    return set()
