"""``text.normalize_text``'s two NFC paths: ICU4J on the JVM (through
``reflect``) and the Arrow-batched ``unicodedata`` UDF.

The JVM path runs only when the ICU class loads and no text holds a
code point Python's ``unicodedata`` reports unassigned; these tests
check that both paths agree where the JVM path is allowed, that text
composed differently by ICU's newer Unicode tables takes the UDF, and
that a missing class falls back."""

import unicodedata

from pyspark.sql import functions as F

from toshokan_spark.operators import text as textops

#: (id, text): the adversarial battery both paths must agree on
BATTERY = [
    (1, "cafe\u0301 re\u0301sume\u0301 n\u0303 A\u030a"),  # NFD accents
    (2, "\u1100\u1161 \u1112\u1161\u11ab"),  # Hangul jamo L+V, L+V+T
    (3, "\uac00\u11a8 \uac01\u11a8"),  # LV+T composes, LVT+T does not
    (4, "\ufb01le \u2460 \u00bd \uff21"),  # compatibility: NFC leaves them
    (5, "\u212b \u2126 \u0340"),  # singletons: NFC maps them
    (6, "\U0001d400\U0001d518 \U0001f600 \U00020000 "
        "\U00011099\U000110ba \U000110a5\U000110ba"),  # supplementary plane
    (7, "a\u0302\u0323 q\u0307\u0323 e\u0327\u0301 \u05d0\u05b8\u05b7"),  # reordering
    (8, "a\x00b\x07c\x1f\x7fd\x0b e\u00a0\u00a0\u00a0f \u3000 g\t\n h"),  # controls, NBSP
    (9, None),
    (10, ""),
    (11, "     "),
    (12, "plain ascii text, nothing to do"),
    (13, "\u0915\u093c \u09c7\u09be \u0b47\u0b3e \u1025\u102e"),  # Indic
]

#: code points ICU (Unicode 16) decomposes and Python's Unicode 14
#: table has not assigned (Todhri, Tulu-Tigalari, Gurung Khema,
#: Kirat Rai): scanned from these ranges, the decomposition asked of
#: ICU itself
NEW_SCRIPT_RANGES = [(0x105C0, 0x105F3), (0x11380, 0x113E2), (0x16100, 0x16139),
                     (0x16D40, 0x16D79)]
#: ARABIC SMALL LOW WORD SAKTA (Unicode 15, combining class 220)
NEW_MARK = "\U00010efd"


def _normalized(df, **kw):
    out = textops.normalize_text(df, **kw)
    rows = {r.doc_id: (r.text_norm, r.changed) for r in out.collect()}
    plan = out._jdf.queryExecution().executedPlan().toString()
    return rows, "EvalPython" in plan


#: a class name that does not load: points the JVM path at nothing
MISSING = "com.ibm.icu.text.NoSuchNormalizer"


def test_nfc_paths_agree_on_battery(spark, monkeypatch):
    df = spark.createDataFrame(BATTERY, "doc_id long, text string")
    jvm, jvm_python = _normalized(df)
    assert not jvm_python, "the default path planned a Python UDF"
    monkeypatch.setattr(textops, "ICU_NORMALIZER", MISSING)
    udf, udf_python = _normalized(df)
    assert udf_python
    assert jvm == udf
    # spot-check that the battery means what it says
    assert jvm[1][0] == "caf\u00e9 r\u00e9sum\u00e9 \u00f1 \u00c5"
    assert jvm[2][0] == "\uac00 \ud55c" and jvm[3][0] == "\uac01 \uac01\u11a8"
    assert jvm[4] == (BATTERY[3][1], False)
    assert jvm[5][0] == "\u00c5 \u03a9 \u0300"
    assert jvm[6][0].endswith("\U0001109a \U000110ab")
    assert jvm[7][0] == "\u1ead q\u0323\u0307 \u0229\u0301 \u05d0\u05b7\u05b8"
    assert jvm[8][0] == "abcd e f g h" and jvm[9] == (None, None)
    assert jvm[10] == ("", False) and jvm[11] == ("", True)
    assert jvm[12] == (BATTERY[11][1], False)


def test_newer_unicode_takes_the_udf_and_matches_it(spark, monkeypatch):
    icu = spark.sparkContext._jvm.com.ibm.icu.text.Normalizer
    seqs = []
    for lo, hi in NEW_SCRIPT_RANGES:
        for cp in range(lo, hi + 1):
            d = icu.decompose(chr(cp), False)
            if d != chr(cp):
                seqs.append(d)
    assert len(seqs) == 20
    assert all(any(unicodedata.category(c) == "Cn" for c in s) for s in seqs)
    assert unicodedata.category(NEW_MARK) == "Cn"
    texts = [f"w {s} w" for s in seqs] + [f"x\u0301{NEW_MARK} y"]
    df = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(texts)] + BATTERY,
        "doc_id long, text string")

    guarded, guarded_python = _normalized(df)
    assert guarded_python, "text with unassigned code points took the JVM path"
    forced, forced_python = _normalized(df, _unassigned=0)
    assert not forced_python
    monkeypatch.setattr(textops, "ICU_NORMALIZER", MISSING)
    udf, _ = _normalized(df)
    assert guarded == udf
    # ICU alone composes the new sequences and reorders the new mark
    differ = [i for i in forced if forced[i] != udf[i]]
    assert sorted(differ) == [100 + i for i in range(len(texts))]


def test_missing_icu_class_falls_back(spark, monkeypatch):
    monkeypatch.setattr(textops, "ICU_NORMALIZER", MISSING)
    df = spark.createDataFrame(BATTERY, "doc_id long, text string")
    rows, python = _normalized(df, _unassigned=0)
    assert python
    assert rows[1][0].startswith("caf\u00e9")


def test_unassigned_class_matches_unicodedata(spark):
    """The guard's regex matches exactly the code points
    ``unicodedata`` reports unassigned: every Cn range's ends and
    midpoint, and the assigned neighbour on each side."""
    cps = set()
    start = None
    for cp in range(0x110001):
        cn = cp < 0x110000 and unicodedata.category(chr(cp)) == "Cn"
        if cn and start is None:
            start = cp
        elif not cn and start is not None:
            cps |= {start - 1, start, (start + cp - 1) // 2, cp - 1, cp}
            start = None
    chars = [c for c in cps if 0 <= c < 0x110000 and not 0xD800 <= c <= 0xDFFF]
    df = spark.createDataFrame(
        [(c, f"ab{chr(c)}cd", unicodedata.category(chr(c)) == "Cn") for c in chars],
        "cp long, text string, cn boolean",
    )
    wrong = df.filter(textops.has_unassigned(F.col("text")) != F.col("cn"))
    assert wrong.count() == 0
    assert df.filter("cn").count() > 698
