"""CLI smoke, JSONL source, image feature kernel."""

import pytest

from easyocr_spark.ocr import udfs
from easyocr_spark.sources import tables

SF = "/root/testdata/sf0.001"


def test_image_features_kernel(spark):
    media = tables.media_table(spark, SF).limit(30)
    feats = media.mapInPandas(
        udfs.image_features, schema=udfs.IMAGE_META_SCHEMA
    ).toPandas()
    assert (feats.width > 0).all() and (feats.height > 0).all()
    assert (feats.ink_ratio_milli >= 0).all()


def test_cli_smoke(spark, tmp_path):
    from easyocr_spark import cli

    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    rc = cli.main(
        [
            "--sf-dir", SF,
            "--output", out,
            "--state", state,
            "--n-units", "4",
        ]
    )
    assert rc == 0
    assert spark.read.parquet(out).count() == 500


def test_jsonl_source_roundtrip_and_failfast(spark, tmp_path):
    """JSONL sink -> source preserves content exactly (quotes,
    backslashes, newlines-in-text, unicode, empty strings), and the
    pinned FAILFAST mode raises on corrupt lines instead of silently
    nulling them."""
    import pandas as pd

    from easyocr_spark.sources import jsonl

    tricky = [
        'he said "hi" \\ and left',
        "tabs\tand\nnewlines",
        "unicode: é中ا €",
        "",
        "plain",
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(tricky)), "text": tricky})
    )
    path = str(tmp_path / "docs_jsonl")
    jsonl.write_documents_jsonl(docs, path)
    back = jsonl.read_documents_jsonl(spark, path).toPandas()
    got = dict(zip(back.doc_id, back.text))
    # exact content parity, including the empty string (verified: the
    # sink emits "text":"" — no null coercion)
    assert got == dict(enumerate(tricky))
    # corrupt line -> FAILFAST raises
    bad = tmp_path / "bad" ; bad.mkdir()
    (bad / "part-00000.json").write_text('{"doc_id": 1, "text": "ok"}\n{broken\n')
    with pytest.raises(Exception, match="(?i)malformed|failfast|parse"):
        jsonl.read_documents_jsonl(spark, str(bad)).collect()


def test_package_zip_is_importable(tmp_path):
    """The --py-files artifact must be importable via zipimport, exactly
    as spark-submit puts it on executor PYTHONPATHs."""
    import subprocess
    import sys as _sys

    out = str(tmp_path / "pkg.zip")
    subprocess.run(
        [_sys.executable, "tools/package.py", out], check=True, capture_output=True
    )
    code = (
        "import sys; sys.path.insert(0, %r); "
        "from easyocr_spark.ocr import ctc; "
        "from easyocr_spark.operators import dedup; "
        "print(ctc.BLANK, dedup.N_PERM)" % out
    )
    r = subprocess.run(
        [_sys.executable, "-c", code], capture_output=True, text=True, check=True,
        cwd=str(tmp_path),
    )
    assert r.stdout.strip() == "0 64"
