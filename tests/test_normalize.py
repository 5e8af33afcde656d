"""Unicode normalization (functions/normalize.py): known-vector
exactness, idempotence, null handling, CLI composition, and the
hostile-env pickling of the one pandas UDF."""

from __future__ import annotations

import unicodedata

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from solana_snapshot_etl_tools_spark.functions import normalize as N


def _apply(spark, texts, col_fn):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    return [r.v for r in df.select(col_fn(F.col("text")).alias("v")).collect()]


def test_strip_control_and_invisible(spark):
    cases = {
        "a\x00b\x07c": "abc",
        "keep\ttabs\nand\nnewlines\r": "keep\ttabs\nand\nnewlines\r",
        "zero​width‌‍join⁠er﻿": "zerowidthjoiner",
        "soft­hyphen ‪embed‬": "softhyphen embed",
        None: None,
    }
    texts = list(cases)
    assert _apply(spark, texts, N.strip_control_chars) == [
        cases[t] for t in texts
    ]


def test_collapse_whitespace(spark):
    cases = {
        "a   b\t\tc": "a b c",
        "line one   \nline two": "line one\nline two",
        "p1\n\n\n\n\np2": "p1\n\np2",
        "  trimmed  ": "trimmed",
        "crlf\r\nand cr\rendings": "crlf\nand cr\nendings",
        "p1\r\n\r\n\r\n\r\np2": "p1\n\np2",
        "": "",
        None: None,
    }
    texts = list(cases)
    assert _apply(spark, texts, N.collapse_whitespace) == [
        cases[t] for t in texts
    ]


def test_nfkc_vectors(spark):
    cases = {
        "ﬁle": "file",                      # ligature
        "Ｆｕｌｌｗｉｄｔｈ Ａ": "Fullwidth A",  # full-width + ideographic-adjacent
        "x² + ①": "x2 + 1",                 # superscript + circled digit
        "café": "café",                     # composed stays composed
        "café": "café",               # combining acute composes
        None: None,
    }
    texts = list(cases)
    assert _apply(spark, texts, N.nfkc_normalize) == [cases[t] for t in texts]


def test_normalize_text_composition_and_idempotence(spark):
    raw = "Ｔｈｅ​  ﬁle\x00 has   spaces\n\n\n\nand　more "
    want = "The file has spaces\n\nand more"
    [got] = _apply(spark, [raw], N.normalize_text)
    assert got == want
    # idempotent: normalizing the output is the identity
    [again] = _apply(spark, [got], N.normalize_text)
    assert again == got
    # nfkc=False keeps the compatibility characters but still cleans
    [no_nfkc] = _apply(spark, [raw], lambda c: N.normalize_text(c, nfkc=False))
    assert "ﬁle" in no_nfkc and "\x00" not in no_nfkc


# This property and test_normalize_text_idempotent_property draw few,
# wide examples (6 lists of 20-30 texts): each example costs Spark
# actions (pandas-UDF jobs), while a text costs almost nothing.
@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",),  # no lone surrogates
                max_codepoint=0xFFFF,
            ),
            max_size=40,
        ),
        min_size=20,
        max_size=30,
    )
)
def test_nfkc_matches_unicodedata(spark, texts):
    got = _apply(spark, texts, N.nfkc_normalize)
    want = [unicodedata.normalize("NFKC", t) for t in texts]
    assert got == want


def test_cli_normalize_stage(spark, tmp_path_factory, capsys):
    import json

    from solana_snapshot_etl_tools_spark import corpus_cli

    base = tmp_path_factory.mktemp("normalize_cli")
    src = str(base / "docs")
    spark.createDataFrame(
        [(1, "Ｔｈｉｓ  ﬁne​   text has  many  plain words here " * 3)],
        "doc_id long, text string",
    ).write.parquet(src)
    out = str(base / "out")
    assert corpus_cli.main(
        [src, out, "--no-pii", "--quality", "0", "--lang", "",
         "--normalize", "--records-per-shard", "10"]
    ) == 0
    rep = json.loads(
        [l for l in capsys.readouterr().out.splitlines() if l.strip()][-1]
    )
    assert rep["n_after_filters"] == 1
    texts = [
        r.text
        for name, sz in rep["splits"].items()
        if sz["rows"]
        for r in spark.read.parquet(f"{out}/{name}").collect()
    ]
    assert len(texts) == 1
    assert texts[0].startswith("This fine text has many plain words")
    assert "​" not in texts[0] and "  " not in texts[0]


def test_cli_normalize_streams(spark, tmp_path_factory, capsys):
    """--normalize runs inside --ingest-stream — the NFKC pandas UDF
    is the one Python-side stage in the streaming cleaning tier."""
    import json
    import os

    from solana_snapshot_etl_tools_spark import corpus_cli

    base = tmp_path_factory.mktemp("normalize_stream")
    src = str(base / "arrivals")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, "Ｗｉｄｅ  ﬁne​ text with  plain common words here " * 3)],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    assert corpus_cli.main(
        [src, str(base / "out"), "--ingest-stream",
         "--index-out", str(base / "idx"), "--no-pii",
         "--quality", "0", "--lang", "", "--normalize"]
    ) == 0
    rep = json.loads(
        [l for l in capsys.readouterr().out.splitlines() if l.strip()][-1]
    )
    assert rep["n_corpus"] == 1
    [text] = [
        r.text for r in spark.read.parquet(f"{base}/out/corpus").collect()
    ]
    assert text.startswith("Wide fine text") and "  " not in text


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",), max_codepoint=0x2FFF
            ),
            max_size=60,
        ),
        min_size=20,
        max_size=30,
    )
)
def test_normalize_text_idempotent_property(spark, texts):
    once = _apply(spark, texts, N.normalize_text)
    twice = _apply(spark, once, N.normalize_text)
    assert twice == once
