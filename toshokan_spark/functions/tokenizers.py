"""Tokenizers with the semantics of the reference's four analyzers
(`/root/reference/src/config/mod.rs:61-90`, delegating to tantivy):

* ``default``    — split on non-alphanumeric, drop tokens longer than
                   40 bytes, lowercase (tantivy SimpleTokenizer +
                   RemoveLongFilter(40) + LowerCaser, in that order)
* ``raw``        — the whole value as a single token, unanalyzed
* ``whitespace`` — split on whitespace only (no lowercasing)
* ``en_stem``    — ``default`` + Snowball English ("Porter2")
                   stemming, the algorithm tantivy's en_stem uses

Everything except the stemmer is pure Column expressions (whole-stage
codegen eligible). The stemmer is an Arrow-batched pandas UDF — the
one genuinely non-relational transform — and is only paid for fields
that opt into ``en_stem``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

#: tantivy RemoveLongFilter default limit (bytes)
TOKEN_BYTE_LIMIT = 40

#: split pattern for the `default` tokenizer: any run of
#: non-alphanumeric characters (unicode-aware, like Rust
#: char::is_alphanumeric)
_NON_ALNUM = r"[^\p{L}\p{N}]+"


def _default_tokens(col: Column) -> Column:
    toks = F.split(col, _NON_ALNUM)
    toks = F.filter(
        toks, lambda t: (F.length(t) > 0) & (F.octet_length(t) <= TOKEN_BYTE_LIMIT)
    )
    return F.transform(toks, F.lower)


def _whitespace_tokens(col: Column) -> Column:
    return F.filter(F.split(col, r"\s+"), lambda t: F.length(t) > 0)


# ---------------------------------------------------------------------------
# Snowball English stemmer ("Porter2", M.F. Porter's published revision
# of the 1980 algorithm) as a pandas UDF — tantivy's en_stem delegates
# to the Snowball English stemmer (`/root/reference/src/config/
# mod.rs:78-83`, rust-stemmers Algorithm::English), NOT classic
# Porter; terms like "generously" stem differently (generous vs
# gener), so parity requires Porter2. Dependency-free implementation
# of the public algorithm description. Used only for `en_stem`
# fields.
# ---------------------------------------------------------------------------

_SB_VOWELS = set("aeiouy")
_SB_DOUBLES = ("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
_SB_LI_END = set("cdeghkmnrt")

#: exceptional forms applied before the algorithm proper
_SB_EXCEPTIONS1 = {
    "skis": "ski", "skies": "sky", "dying": "die", "lying": "lie",
    "tying": "tie", "idly": "idl", "gently": "gentl", "ugly": "ugli",
    "early": "earli", "only": "onli", "singly": "singl",
    # invariants
    "sky": "sky", "news": "news", "howe": "howe", "atlas": "atlas",
    "cosmos": "cosmos", "bias": "bias", "andes": "andes",
}

#: words left unchanged after step 1a
_SB_EXCEPTIONS2 = {
    "inning", "outing", "canning", "herring", "earring",
    "proceed", "exceed", "succeed",
}


def _sb_is_vowel(w: str, i: int) -> bool:
    # 'Y' marks a consonant-y (set in preprocessing)
    return w[i] in _SB_VOWELS


def _sb_regions(w: str) -> tuple[int, int]:
    """(R1 start, R2 start). R1 = after the first non-vowel following
    a vowel (special-cased for gener-/commun-/arsen- prefixes); R2 =
    the same, computed within R1."""
    n = len(w)

    def region_after(start: int) -> int:
        i = start
        while i < n and not _sb_is_vowel(w, i):
            i += 1
        while i < n and _sb_is_vowel(w, i):
            i += 1
        # i now at the first non-vowel after a vowel (or end)
        return min(i + 1, n)

    if w.startswith(("gener", "arsen")):
        r1 = 5
    elif w.startswith("commun"):
        r1 = 6
    else:
        r1 = region_after(0)
    r2 = region_after(r1)
    return r1, r2


def _sb_short_syllable_at_end(w: str) -> bool:
    n = len(w)
    if n >= 3:
        # non-vowel, vowel, non-vowel (not w/x/Y) at the end
        if (
            not _sb_is_vowel(w, n - 3)
            and _sb_is_vowel(w, n - 2)
            and not _sb_is_vowel(w, n - 1)
            and w[n - 1] not in "wxY"
        ):
            return True
    if n == 2 and _sb_is_vowel(w, 0) and not _sb_is_vowel(w, 1):
        return True
    return False


def _sb_is_short(w: str, r1: int) -> bool:
    return r1 >= len(w) and _sb_short_syllable_at_end(w)


def snowball_stem(word: str) -> str:
    """Snowball English ("Porter2") stemmer — the algorithm tantivy's
    en_stem analyzer uses. Lowercase ASCII input expected (the default
    tokenizer lowercases first)."""
    w = word
    if w.startswith("'"):
        w = w[1:]
    if len(w) <= 2:
        return w
    if w in _SB_EXCEPTIONS1:
        return _SB_EXCEPTIONS1[w]

    # mark consonant-y: initial y, or y after a vowel
    chars = list(w)
    if chars[0] == "y":
        chars[0] = "Y"
    for i in range(1, len(chars)):
        if chars[i] == "y" and chars[i - 1] in _SB_VOWELS:
            chars[i] = "Y"
    w = "".join(chars)
    r1, r2 = _sb_regions(w)

    # step 0: 's' / 's / '
    for suf in ("'s'", "'s", "'"):
        if w.endswith(suf):
            w = w[: -len(suf)]
            break

    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith(("ied", "ies")):
        w = w[:-3] + ("i" if len(w) > 4 else "ie")
    elif w.endswith(("us", "ss")):
        pass
    elif w.endswith("s"):
        if any(_sb_is_vowel(w, i) for i in range(len(w) - 2)):
            w = w[:-1]

    if w in _SB_EXCEPTIONS2:
        return w

    # step 1b
    step1b_suffix = None
    for suf in ("eedly", "eed", "ingly", "edly", "ing", "ed"):
        if w.endswith(suf):
            step1b_suffix = suf
            break
    if step1b_suffix in ("eed", "eedly"):
        if len(w) - len(step1b_suffix) >= r1:
            w = w[: -len(step1b_suffix)] + "ee"
    elif step1b_suffix is not None:
        stem = w[: -len(step1b_suffix)]
        if any(_sb_is_vowel(stem, i) for i in range(len(stem))):
            w = stem
            if w.endswith(("at", "bl", "iz")):
                w += "e"
            elif w.endswith(_SB_DOUBLES):
                w = w[:-1]
            elif _sb_is_short(w, r1):
                w += "e"

    # step 1c: y/Y -> i after a non-vowel that isn't the first letter
    if (
        len(w) > 2
        and w[-1] in "yY"
        and not _sb_is_vowel(w, len(w) - 2)
    ):
        w = w[:-1] + "i"

    # step 2 (longest matching suffix; applies only if in R1)
    step2 = [
        ("ization", "ize"), ("ational", "ate"), ("fulness", "ful"),
        ("ousness", "ous"), ("iveness", "ive"), ("tional", "tion"),
        ("biliti", "ble"), ("lessli", "less"), ("entli", "ent"),
        ("ation", "ate"), ("alism", "al"), ("aliti", "al"),
        ("ousli", "ous"), ("iviti", "ive"), ("fulli", "ful"),
        ("enci", "ence"), ("anci", "ance"), ("abli", "able"),
        ("izer", "ize"), ("ator", "ate"), ("alli", "al"),
        ("ogi", "og"), ("bli", "ble"), ("li", ""),
    ]
    for suf, rep in step2:
        if w.endswith(suf):
            if len(w) - len(suf) >= r1:
                if suf == "ogi":
                    if w.endswith("logi"):
                        w = w[:-3] + "og"
                elif suf == "li":
                    if len(w) >= 3 and w[-3] in _SB_LI_END:
                        w = w[:-2]
                else:
                    w = w[: -len(suf)] + rep
            break

    # step 3 (in R1; "ative" needs R2)
    step3 = [
        ("ational", "ate"), ("tional", "tion"), ("alize", "al"),
        ("icate", "ic"), ("iciti", "ic"), ("ative", ""),
        ("ical", "ic"), ("ness", ""), ("ful", ""),
    ]
    for suf, rep in step3:
        if w.endswith(suf):
            if len(w) - len(suf) >= r1:
                if suf == "ative":
                    if len(w) - len(suf) >= r2:
                        w = w[: -len(suf)]
                else:
                    w = w[: -len(suf)] + rep
            break

    # step 4 (in R2)
    step4 = [
        "ement", "ance", "ence", "able", "ible", "ment", "ant", "ent",
        "ism", "ate", "iti", "ous", "ive", "ize", "ion", "al", "er", "ic",
    ]
    for suf in step4:
        if w.endswith(suf):
            if len(w) - len(suf) >= r2:
                if suf == "ion":
                    if len(w) >= 4 and w[-4] in "st":
                        w = w[:-3]
                else:
                    w = w[: -len(suf)]
            break

    # step 5
    if w.endswith("e"):
        stem = w[:-1]
        if len(w) - 1 >= r2 or (
            len(w) - 1 >= r1 and not _sb_short_syllable_at_end(stem)
        ):
            w = stem
    elif w.endswith("l") and len(w) - 1 >= r2 and len(w) >= 2 and w[-2] == "l":
        w = w[:-1]

    return w.replace("Y", "y")


# ---------------------------------------------------------------------------
# classic Porter (1980) — kept for reference/compat; en_stem uses
# snowball_stem above for tantivy parity
# ---------------------------------------------------------------------------

_VOWELS = set("aeiou")


def _is_cons(word: str, i: int) -> bool:
    c = word[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return i == 0 or not _is_cons(word, i - 1)
    return True


def _measure(stem: str) -> int:
    # number of VC sequences
    m = 0
    prev_vowel = False
    for i in range(len(stem)):
        cons = _is_cons(stem, i)
        if prev_vowel and cons:
            m += 1
        prev_vowel = not cons
    return m


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(word: str) -> bool:
    return (
        len(word) >= 2
        and word[-1] == word[-2]
        and _is_cons(word, len(word) - 1)
    )


def _cvc(word: str) -> bool:
    if len(word) < 3:
        return False
    if not (_is_cons(word, len(word) - 3) and not _is_cons(word, len(word) - 2) and _is_cons(word, len(word) - 1)):
        return False
    return word[-1] not in "wxy"


def porter_stem(word: str) -> str:
    """Porter stemming algorithm (M.F. Porter, 1980). Equivalent in
    spirit to tantivy's Snowball English stemmer for the common cases;
    golden tests never exercise en_stem (SURVEY §7 hard-parts note) so
    classic Porter is an acceptable, documented stand-in."""
    w = word
    if len(w) <= 2:
        return w
    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]
    # step 1b
    flag = False
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    elif w.endswith("ed") and _has_vowel(w[:-2]):
        w = w[:-2]
        flag = True
    elif w.endswith("ing") and _has_vowel(w[:-3]):
        w = w[:-3]
        flag = True
    if flag:
        if w.endswith(("at", "bl", "iz")):
            w += "e"
        elif _ends_double_cons(w) and not w.endswith(("l", "s", "z")):
            w = w[:-1]
        elif _measure(w) == 1 and _cvc(w):
            w += "e"
    # step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"
    # step 2
    for suf, rep in (
        ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
        ("izer", "ize"), ("abli", "able"), ("alli", "al"), ("entli", "ent"),
        ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
        ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
        ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
    ):
        if w.endswith(suf):
            if _measure(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break
    # step 3
    for suf, rep in (
        ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
        ("ical", "ic"), ("ful", ""), ("ness", ""),
    ):
        if w.endswith(suf):
            if _measure(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break
    # step 4
    for suf in (
        "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
        "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
    ):
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if suf == "ion" and not stem.endswith(("s", "t")):
                continue
            if _measure(stem) > 1:
                w = stem
            break
    # step 5a
    if w.endswith("e"):
        stem = w[:-1]
        m = _measure(stem)
        if m > 1 or (m == 1 and not _cvc(stem)):
            w = stem
    # step 5b
    if _measure(w) > 1 and _ends_double_cons(w) and w.endswith("l"):
        w = w[:-1]
    return w


@F.pandas_udf(ArrayType(StringType()))
def _stem_tokens_udf(tokens: pd.Series) -> pd.Series:
    return tokens.map(
        lambda ts: None if ts is None else [snowball_stem(t) for t in ts]
    )


@F.pandas_udf(ArrayType(ArrayType(StringType())))
def _stem_elements_udf(elements: pd.Series) -> pd.Series:
    return elements.map(
        lambda es: None if es is None else [
            None if ts is None else [snowball_stem(t) for t in ts] for ts in es
        ]
    )


def tokenize(col: Column, tokenizer: str = "default") -> Column:
    """Return an ``array<string>`` of analyzed tokens for *col*.

    This array is the engine's "inverted index" shadow column: a term
    query ``field:term`` compiles to ``array_contains(tokens, term)``
    which Parquet can accelerate via dictionary/bloom pushdown on the
    original column plus cheap JVM-side evaluation (SURVEY §1.2).
    """
    if tokenizer == "default":
        return _default_tokens(col)
    if tokenizer == "raw":
        return F.when(col.isNull(), None).otherwise(F.array(col))
    if tokenizer == "whitespace":
        return _whitespace_tokens(col)
    if tokenizer == "en_stem":
        return _stem_tokens_udf(_default_tokens(col))
    raise ValueError(f"unknown tokenizer {tokenizer!r}")


def tokenize_elements(col: Column, tokenizer: str = "default") -> Column:
    """One analyzed token array per element of an ``array<string>``
    column. Spark rejects a Python UDF inside a higher-order-function
    lambda (UNSUPPORTED_FEATURE.LAMBDA_FUNCTION_WITH_PYTHON_UDF), so
    ``en_stem`` elements are tokenized by the JVM ``default`` chain and
    the nested array is then stemmed once, outside the lambda."""
    if tokenizer == "en_stem":
        return _stem_elements_udf(F.transform(col, _default_tokens))
    return F.transform(col, lambda e: tokenize(e, tokenizer))


def analyze_term(term: str, tokenizer: str = "default") -> list[str]:
    """Driver-side analysis of a query literal with the same rules, so
    query terms match indexed tokens (tantivy QueryParser does the
    same: it analyzes query text with the field's tokenizer)."""
    import re

    if tokenizer == "raw":
        return [term]
    if tokenizer == "whitespace":
        return [t for t in re.split(r"\s+", term) if t]
    # [\W_]+ == any non-alphanumeric run (underscore is a word char in
    # regex but NOT alphanumeric; tantivy splits on it)
    toks = [
        t.lower()
        for t in re.split(r"[\W_]+", term, flags=re.UNICODE)
        if t and len(t.encode("utf-8")) <= TOKEN_BYTE_LIMIT
    ]
    if tokenizer == "en_stem":
        toks = [snowball_stem(t) for t in toks]
    return toks
