"""Seeded input generator for the benchmark workloads.

Every input is built with Spark SQL from the seed alone, so the same
seed gives the same tables. Images are rendered by the corpus renderer
(``fixtures.corpus.render_media``), whose ground truth is a pure
function of the media ref. Inputs are cached on disk keyed by workload,
seed, ``MEDIA_SPEC_VERSION`` and ``GEN_VERSION``; generation runs
outside the timed path and outside set-up time.

Workloads:

- ``ocr_dense``: every media span has its own ref (no repeats), refs
  spread over all image classes, so the OCR kernel does most of the
  work.
- ``span_dense``: many short documents, 5% media spans drawn from a
  small skewed ref pool (one hot ref), a 0.5% tail of 150-250 span
  documents; the span algebra dominates.
"""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from easyocr_spark.fixtures.corpus import MEDIA_SPEC_VERSION, media_spec, render_media
from easyocr_spark.sources import tables

from . import checks

# bump when any generator below changes its output for a given seed
GEN_VERSION = 8

# sizes chosen so one full extract takes a few seconds at local[4]
OCR_DENSE_DOCS = 1300  # ~3.2k distinct images
SPAN_DENSE_DOCS = 40_000  # ~400k spans, ~20k media spans
SPAN_DENSE_POOL = 64  # distinct refs the media spans draw from
UNITS = 8  # state.checkpoint work units; the traced run resumes with half done

# per-seed id ranges never overlap, so two seeds share no media ref; ids
# stay far enough below 2**63 for the ground-truth arithmetic in SQL
SEED_STRIDE = 10_000_000
SEED_SPACE = 900_000_000  # seeds are taken modulo this

IMAGE_CLASSES = (
    "tiny", "low_contrast", "rgb", "rgba", "palette",
    "slanted", "curved", "smooth", "plain",
)


def image_class(ref: str) -> str:
    spec = media_spec(ref)
    if spec["tiny"]:
        return "tiny"
    if spec["low_contrast"]:
        return "low_contrast"
    if spec["color"]:
        return spec["color_fmt"]
    if spec["slant_dy"]:
        return "slanted"
    if spec["curve"]:
        return "curved"
    if spec["smooth"]:
        return "smooth"
    return "plain"


def _nested_sql(n: int, k: str, media: str, ref: str, text: str, id0: int) -> str:
    """Nested documents(doc_id, spans) over ``range(n)``; ``k`` is the
    span count, the other expressions see the logical offset ``o``.
    Arrays are stored rotated by a per-doc amount, so storage order is
    not offset order."""
    o = "pmod(p + r, k)"
    media, ref, text = (e.format(o=o) for e in (media, ref, text))
    return f"""
    SELECT concat('doc_', {id0} + id) AS doc_id,
      transform(sequence(0, k - 1), p -> named_struct(
        'kind', CASE WHEN {media} THEN 'media' ELSE 'text' END,
        'text', CASE WHEN {media} THEN '' ELSE {text} END,
        'media_ref', CASE WHEN {media} THEN {ref} ELSE '' END,
        'offset', CAST({o} AS INT))) AS spans
    FROM (SELECT id, {k} AS k, pmod(xxhash64(id, 7), 1000) AS r FROM range({n}))
    """


def _text(seed: int) -> str:
    return (
        f"repeat(lower(hex(xxhash64({seed}, id, {{o}}, 6))), "
        f"1 + pmod(xxhash64({seed}, id, {{o}}, 8), 3))"
    )


def ocr_dense_sql(seed: int) -> str:
    seed %= SEED_SPACE
    a0 = seed * SEED_STRIDE
    return _nested_sql(
        OCR_DENSE_DOCS,
        k=f"2 + pmod(xxhash64({seed}, id, 1), 4)",
        media=f"pmod(xxhash64({seed}, id, {{o}}, 2), 10) < 7",
        ref=f"concat('m_', {a0} + id, '_', {{o}})",
        text=_text(seed),
        id0=a0,
    )


def span_dense_sql(seed: int) -> str:
    seed %= SEED_SPACE
    a0 = seed * SEED_STRIDE
    # pool index: one hot ref (index 0) takes ~1/5 of media spans, the
    # rest are log-uniform over the pool
    idx = (
        f"CASE WHEN pmod(xxhash64({seed}, id, {{o}}, 4), 5) = 0 THEN 0 "
        f"ELSE CAST(pow({SPAN_DENSE_POOL}, "
        f"pmod(xxhash64({seed}, id, {{o}}, 5), 1000000) / 1000000.0) AS INT) - 1 END"
    )
    return _nested_sql(
        SPAN_DENSE_DOCS,
        k=(
            f"CASE WHEN pmod(xxhash64({seed}, id, 1), 200) = 0 "
            f"THEN 150 + pmod(xxhash64({seed}, id, 3), 101) "
            f"ELSE 2 + pmod(xxhash64({seed}, id, 3), 15) END"
        ),
        media=f"pmod(xxhash64({seed}, id, {{o}}, 2), 100) < 5",
        ref=f"concat('m_', {a0} + {idx}, '_', pmod({idx}, 7))",
        text=_text(seed),
        id0=a0,
    )


def _render(it):
    for pdf in it:
        refs = pdf["media_ref"]
        yield pd.DataFrame(
            {
                "media_ref": refs,
                "content": [render_media(r) for r in refs],
                "lang": [media_spec(r)["lang"] for r in refs],
            }
        )


def load_docs(spark: SparkSession, props: dict) -> DataFrame:
    """The workload's nested documents through the sources layer."""
    return tables.read_table(spark, props["dir"], "documents")


def load_media(spark: SparkSession, props: dict) -> DataFrame:
    return tables.read_table(spark, props["dir"], "media")


def unit_profile(docs: DataFrame) -> dict[str, dict]:
    """Per ``state.checkpoint`` work unit (of UNITS): the expected
    output's digest and the span and media span counts."""
    media = F.size(F.filter("spans", lambda s: s["kind"] == "media"))
    rows = (
        checks.expected(docs)
        .select(
            checks.unit_col(UNITS).alias("u"),
            checks.doc_hash(),
            F.size("spans").alias("n"),
            media.alias("m"),
        )
        .groupBy("u")
        .agg(*checks.digest_cols(), F.sum("n"), F.sum("m"))
        .collect()
    )
    return {
        str(r[0]): {
            "expected": checks.as_digest(r[1:4]),
            "spans": int(r[4]),
            "media_spans": int(r[5]),
        }
        for r in rows
    }


def cache_key(workload: str, seed: int) -> str:
    return f"{workload}-s{seed}-m{MEDIA_SPEC_VERSION}-g{GEN_VERSION}"


def ensure_inputs(spark: SparkSession, workload: str, seed: int, root: str) -> dict:
    """Build (or reuse) the workload's inputs; returns their properties."""
    final = os.path.join(root, cache_key(workload, seed))
    props_path = os.path.join(final, "props.json")
    if os.path.exists(props_path):
        with open(props_path) as f:
            props = json.load(f)
        props["dir"] = final
        return props
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    props = _generate(spark, workload, seed, tmp)
    with open(os.path.join(tmp, "props.json"), "w") as f:
        json.dump(props, f, indent=1, sort_keys=True)
    os.replace(tmp, final)
    props["dir"] = final
    return props


def _generate(spark: SparkSession, workload: str, seed: int, out: str) -> dict:
    docs_path = os.path.join(out, "documents.parquet")
    sql = ocr_dense_sql(seed) if workload == "ocr_dense" else span_dense_sql(seed)
    spark.sql(sql).write.parquet(docs_path)
    props = {"workload": workload, "seed": seed, "dir": out}
    docs = load_docs(spark, props)
    media_refs = docs.select(F.inline("spans")).filter("kind = 'media'")
    refs = sorted(r[0] for r in media_refs.select("media_ref").distinct().collect())
    (
        spark.createDataFrame([(r,) for r in refs], "media_ref string")
        .repartition(4)
        .mapInPandas(_render, "media_ref string, content binary, lang string")
        .write.parquet(os.path.join(out, "media.parquet"))
    )
    classes = dict.fromkeys(IMAGE_CLASSES, 0)
    langs: dict[str, int] = {}
    for r in refs:
        classes[image_class(r)] += 1
        lang = media_spec(r)["lang"]
        langs[lang] = langs.get(lang, 0) + 1
    if workload == "ocr_dense" and min(classes.values()) == 0:
        raise RuntimeError(f"ocr_dense seed {seed} misses an image class: {classes}")
    units = unit_profile(docs)
    n_media = sum(u["media_spans"] for u in units.values())
    props.update(
        units=units,
        expected=checks.combine([u["expected"] for u in units.values()]),
        spans=sum(u["spans"] for u in units.values()),
        media_spans=n_media,
        distinct_refs=len(refs),
        duplicate_share=1 - len(refs) / n_media if n_media else 0.0,
        image_classes=classes,
        langs=langs,
    )
    props["docs"] = props["expected"][0]
    return props
