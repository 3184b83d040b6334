"""Determinism + semantics of the vectorized text-analysis UDFs
(xgeo_spark/functions/text.py) — the driver's rows-only queries
(doc_text_analysis) lean on these assertions for value correctness."""

from __future__ import annotations

import unicodedata

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from xgeo_spark.functions.text import (
    bpe_ish_token_count,
    doc_fingerprint,
    lang_id,
    nfc_unstable_chars,
    normalize_text,
    normalize_text_col,
    normalize_ws_col,
    quality_score,
    ws_token_count,
    ws_token_count_col,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "The quick   brown fox\tjumps over the lazy dog. It is a test with the and of."),
        (1, "le chat est dans la maison et il dort pour le moment dans un lit"),
        (2, "der hund ist nicht mit der katze und das ist ein problem für alle"),
        (3, "это просто текст на русском языке для проверки кириллицы здесь"),
        (4, "これは日本語のテキストです。カタカナもあります。"),
        (5, ""),
        (6, None),
        (7, "  leading and trailing   \n\n whitespace nbsp  "),
        (8, "café naïve résumé"),  # NFC test: e + combining acute
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_normalize_text(docs):
    got = {
        r["doc_id"]: r["n"]
        for r in docs.select("doc_id", normalize_text(F.col("text")).alias("n")).collect()
    }
    assert got[5] == ""
    assert got[6] is None
    assert got[7] == "leading and trailing whitespace nbsp"
    # NFC: combining sequence e + U+0301 collapses to é
    assert got[8] == "café naïve résumé"
    assert "\t" not in got[0] and "   " not in got[0]


def test_token_counts_agree_with_jvm_variant(docs):
    df = docs.select(
        "doc_id",
        ws_token_count(F.col("text")).alias("udf_n"),
        ws_token_count_col(F.col("text")).alias("col_n"),
    ).where(F.col("text").isNotNull())
    for r in df.collect():
        assert r["udf_n"] == r["col_n"], r


def test_bpe_ish_counts(spark):
    df = spark.createDataFrame([("hello, world42!",)], ["text"])
    # [hello][,][world][42][!] = 5
    assert df.select(bpe_ish_token_count("text")).first()[0] == 5


def test_lang_id(docs):
    got = {
        r["doc_id"]: r["lang"]
        for r in docs.select("doc_id", lang_id(normalize_text("text")).alias("lang")).collect()
    }
    assert got[0] == "en"
    assert got[1] == "fr"
    assert got[2] == "de"
    assert got[3] == "ru"
    assert got[4] in ("ja", "zh")
    assert got[5] == "und"
    assert got[6] == "und"


def test_quality_score_bounds_and_determinism(docs):
    twice = [
        sorted(
            docs.select("doc_id", quality_score(F.col("text")).alias("q")).collect()
        )
        for _ in range(2)
    ]
    assert twice[0] == twice[1]
    for r in twice[0]:
        if r["q"] is not None:
            assert 0.0 <= r["q"] <= 1.0


def test_fingerprint_ws_insensitive_order_aware(spark):
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "a   b\tc"), (2, "c b a")], ["i", "text"]
    )
    got = {r["i"]: r["fp"] for r in df.select("i", doc_fingerprint("text").alias("fp")).collect()}
    assert got[0] == got[1]      # whitespace-insensitive
    assert got[0] != got[2]      # order-aware


def _code_points():
    return [cp for cp in range(0x110000) if not 0xD800 <= cp <= 0xDFFF]


def _nfc_unstable_reference() -> set[int]:
    """The gate set derived independently, one test per code point."""
    out = set(range(0x1161, 0x1176)) | set(range(0x11A8, 0x11C3))  # V/T jamo
    for cp in _code_points():
        c = chr(cp)
        if unicodedata.combining(c) or unicodedata.normalize("NFC", c) != c:
            out.add(cp)
        d = unicodedata.decomposition(c).split()
        if len(d) == 2 and not d[0].startswith("<"):
            out.add(int(d[1], 16))
    return out


def test_ws_col_helpers_match_udfs_on_every_isspace_code_point(spark):
    """Every code point ``str.split()`` splits on, U+001C-U+001F included
    (Java's ``(?U)\\s`` misses them), plus a few that look like space but
    are not (ZWSP, MONGOLIAN VOWEL SEPARATOR, BOM)."""
    cps = [cp for cp in _code_points() if chr(cp).isspace()]
    cps += [0x200B, 0x180E, 0xFEFF]
    texts = [t for cp in cps for t in ("a" + chr(cp) + "b", chr(cp) * 2 + "x" + chr(cp))]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(
        "text",
        normalize_ws_col(F.col("text")).alias("c"),
        ws_token_count(F.col("text")).alias("udf_n"),
        ws_token_count_col(F.col("text")).alias("col_n"),
    ).collect()
    assert len(rows) == len(texts)
    for r in rows:
        assert r["c"] == " ".join(r["text"].split()), [hex(ord(x)) for x in r["text"]]
        assert r["col_n"] == r["udf_n"] == len(r["text"].split()), r


def test_nfc_gate_set_matches_unicodedata():
    assert set(map(ord, nfc_unstable_chars())) == _nfc_unstable_reference()


def test_normalize_text_col_equals_udf_on_every_code_point(spark, tmp_path):
    """Differential: ``normalize_text_col`` (JVM whitespace path for rows
    outside the gate) is byte-identical to the ``normalize_text`` UDF on
    four strings around every non-surrogate code point."""
    texts = [None, "", "   "]
    for cp in _code_points():
        c = chr(cp)
        texts += [c, "a" + c + "  b", c + "\u0301", " x" + c + "\x1c"]
    path = str(tmp_path / "every_code_point.parquet")
    pq.write_table(
        pa.table({"text": pa.array(texts, pa.string())}), path,
        row_group_size=len(texts) // 8 + 1,
    )
    df = spark.read.parquet(path)
    out = df.select(
        "text",
        normalize_text(F.col("text")).alias("udf"),
        normalize_text_col(F.col("text")).alias("col"),
    )
    bad = out.where(~F.col("udf").eqNullSafe(F.col("col")))
    assert bad.count() == 0, [
        ([hex(ord(x)) for x in r["text"]], r["udf"], r["col"]) for r in bad.limit(5).collect()
    ]
    assert out.count() == len(texts)
