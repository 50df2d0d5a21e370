"""Cross-round regression goldens: absolute pinned hashes.

The rest of the suite verifies RELATIVE properties (ours == compiled C,
Spark == in-process, Spark == DuckDB). These constants pin today's
verified outputs ABSOLUTELY, so a future refactor that changes both
sides of a relative check in the same wrong way — or an environment
drift (numpy/libm/Spark version) that silently shifts results — fails
loudly here. If one of these fails after an intentional semantic
change, re-derive the constant and say why in the commit message.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

EXTRACTION_GOLDEN = "5ae324798ed491e235325d4df5d0c60f"
BATTERY_GOLDEN = "71d138d5355658c0dfbb08d7b1006200"
GRAFIX_GOLDEN = "91e1b6c7c9342912ab696a5df4119e3c"
SCAN_CHAIN_GOLDEN = "127afc4949db2c0c326443c66a4bd59d"


def test_extraction_pipeline_golden(spark):
    from ocr_spark.operators.pipeline import extract_pages
    from ocr_spark.sources.corpus import pages_df

    pages = pages_df(spark, 64, seed=42, embed_scan=True, scan_shape=(64, 96))
    rows = sorted(
        (r.url, r.extracted)
        for r in extract_pages(pages).select("url", "extracted").collect()
    )
    assert hashlib.md5(repr(rows).encode()).hexdigest() == EXTRACTION_GOLDEN


def test_scan_chain_golden(spark):
    """Every scan feature and every processed binary page of the fused
    chain, over pages of three shapes and NULL scans interleaved so each
    Arrow batch mixes them."""
    from ocr_spark.operators.extract import embedded_pnm_udf
    from ocr_spark.operators.stages import (
        SCAN_FEATURES_SCHEMA,
        process_scan_udf,
        scan_features_udf,
    )
    from ocr_spark.sources.corpus import make_page

    shapes = ((64, 96), (96, 128), (37, 53))
    rows = []
    for i in range(12):
        for seed, shape in enumerate(shapes, start=42):
            rows.append(make_page(i, seed, embed_scan=True, scan_shape=shape))
        if i % 4 == 0:
            rows.append(make_page(100 + i, 41, embed_scan=False))
    df = spark.createDataFrame(
        [(r["url"], r["html"]) for r in rows], "url string, html binary"
    ).repartition(2)
    scan = embedded_pnm_udf(F.col("html"))
    out = df.select(
        "url",
        scan_features_udf(scan).alias("f"),
        process_scan_udf(scan).alias("pnm"),
    ).collect()
    names = [f.name for f in SCAN_FEATURES_SCHEMA.fields]
    got = sorted(
        (
            r.url,
            tuple(r.f[n] for n in names),
            hashlib.md5(r.pnm).hexdigest() if r.pnm is not None else None,
        )
        for r in out
    )
    assert len(got) == 39 and sum(g[2] is None for g in got) == 3
    assert hashlib.md5(repr(got).encode()).hexdigest() == SCAN_CHAIN_GOLDEN


def test_kernel_battery_golden(spark):
    from ocr_spark.queries import QUERIES

    batt = sorted(
        (r.key, r.op, r.img_md5, r.h, r.w)
        for r in QUERIES["px_kernel_checksums"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    )
    assert len(batt) == 216
    assert hashlib.md5(repr(batt).encode()).hexdigest() == BATTERY_GOLDEN


def test_grafix_program_golden(spark):
    from ocr_spark.queries import QUERIES

    g = sorted(
        (r.pag, r.img_md5, r.h, r.w)
        for r in QUERIES["px_grafix_program"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    )
    assert hashlib.md5(repr(g).encode()).hexdigest() == GRAFIX_GOLDEN
