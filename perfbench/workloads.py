"""The benchmark workloads: corpus shape, the timed pass, the checks.

Each workload's pass is what a user of the engine runs on the corpus,
ending in a sink so the work is done inside the timed region. Checks run
after timing; each one compares an output with something known without
the engine (the corpus's own ``text`` column, a driver-side ``ocr_page``
call, the planted duplicate map). ``checkpointed_write`` and
``near_dup_dedup`` run only in html_text's traced run (see LAYERS.md).
"""

from __future__ import annotations

import math
import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ocr_spark.functions.html_extract import extract_embedded_pnm
from ocr_spark.operators.checkpoint import (
    checkpointed_run,
    read_extracted,
    verify_complete,
)
from ocr_spark.operators.dedup import connected_components, minhash_lsh_pairs
from ocr_spark.operators.extract import with_main_text
from ocr_spark.operators.pipeline import extract_pages
from ocr_spark.operators.stages import ocr_page
from perfbench.corpus import CorpusSpec, planted_duplicates

# The checkpointed write (html_text's traced run): 8 shards in 2 waves
# of 4 keep the per-wave shuffle, persist, write and manifest append.
N_SHARDS = 8
SHARDS_PER_WAVE = 4
SCAN_CHECK_SAMPLE = 24
SCAN_FIELDS = (
    "scan_width", "scan_height", "graythr", "black", "white", "thickness",
    "skew_deg", "n_lines", "n_glyphs", "ink_ratio",
)


@dataclass
class Check:
    name: str
    ok: bool
    detail: str


@dataclass
class Ctx:
    """What a pass needs: the session, the corpus and a scratch dir."""

    spark: object
    corpus: Path
    spec: CorpusSpec
    seed: int
    work: Path

    def pages(self):
        return self.spark.read.parquet(str(self.corpus))

    def expected_text(self) -> dict[str, str]:
        t = pq.read_table(self.corpus, columns=["url", "text"])
        return dict(zip(t.column("url").to_pylist(), t.column("text").to_pylist()))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- pure checks ---------------------------------------------------------------

def check_text(expected: dict[str, str], got: dict[str, str]) -> Check:
    """Every page's extracted main text equals its ``text``, byte for byte."""
    missing = len(expected.keys() - got.keys())
    extra = len(got.keys() - expected.keys())
    bad = sum(
        1 for u, t in expected.items()
        if u in got and (got[u] or "").encode() != t.encode()
    )
    return Check(
        "extracted == text", missing == extra == bad == 0,
        f"{bad} mismatched, {missing} missing, {extra} extra of {len(expected)}",
    )


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def check_scan(expected: dict[str, dict], got: dict[str, dict]) -> Check:
    """Spark's scan features equal a driver-side ``ocr_page`` call."""
    bad = [
        u for u, want in expected.items()
        if u not in got or not all(_same(got[u][k], want[k]) for k in SCAN_FIELDS)
    ]
    return Check(
        "scan features == driver ocr_page", not bad,
        f"{len(bad)} of {len(expected)} sampled pages differ",
    )


def check_complete(missing_urls: int) -> Check:
    return Check("verify_complete == 0", missing_urls == 0,
                 f"{missing_urls} source urls missing")


def check_manifest(shards: list[int], n_shards: int) -> Check:
    """The manifests table holds exactly one row per shard."""
    ok = sorted(shards) == list(range(n_shards))
    return Check("one manifest row per shard", ok,
                 f"{len(shards)} rows for {n_shards} shards")


def check_duplicates(labels: dict[int, int], planted: dict[int, int]) -> Check:
    """The non-keeper docs are exactly the planted duplicates, each
    clustered with the page it copies."""
    found = {i for i, c in labels.items() if i != c}
    ok = found == set(planted) and all(labels[d] == s for d, s in planted.items())
    return Check("planted duplicates found exactly", ok,
                 f"{len(found)} found, {len(planted)} planted")


def expected_scan_features(scans: dict[str, bytes]) -> dict[str, dict]:
    out = {}
    for url, buf in scans.items():
        f, _ = ocr_page(buf)
        out[url] = {("scan_" + k if k in ("width", "height") else k): v
                    for k, v in f.items()}
    return out


# -- passes and their checks -----------------------------------------------------

def html_text_pass(ctx: Ctx):
    noop(with_main_text(ctx.pages()).select("url", "extracted"))


def html_text_checks(ctx: Ctx) -> list[Check]:
    rows = with_main_text(ctx.pages()).select("url", "extracted").collect()
    return [check_text(ctx.expected_text(), dict(rows))]


def scan_pages_pass(ctx: Ctx):
    noop(extract_pages(ctx.pages()))


def scan_pages_checks(ctx: Ctx) -> list[Check]:
    rows = extract_pages(ctx.pages()).collect()
    got = {r["url"]: r.asDict() for r in rows}
    rng = np.random.default_rng([ctx.seed, 0x5CA])
    n = ctx.spec.n_pages
    ids = sorted(int(i) for i in rng.choice(n, size=min(SCAN_CHECK_SAMPLE, n), replace=False))
    t = pq.read_table(ctx.corpus, columns=["doc_id", "url", "html"]).to_pylist()
    by_id = {r["doc_id"]: r for r in t}
    scans = {by_id[i]["url"]: extract_embedded_pnm(by_id[i]["html"]) for i in ids}
    return [
        check_text(ctx.expected_text(), {u: r["extracted"] for u, r in got.items()}),
        check_scan(expected_scan_features(scans), got),
    ]


def checkpointed_write(ctx: Ctx) -> tuple[Path, list[Check]]:
    """The corpus through ``checkpointed_run`` into a fresh warehouse,
    then its checks: text read back, ``verify_complete``, manifests."""
    spark, out_dir = ctx.spark, ctx.work / "warehouse"
    shutil.rmtree(out_dir, ignore_errors=True)
    checkpointed_run(
        spark, ctx.pages(), str(out_dir), run_id="bench",
        n_shards=N_SHARDS, shards_per_wave=SHARDS_PER_WAVE,
    )
    got = dict(read_extracted(spark, str(out_dir)).select("url", "extracted").collect())
    shards = [r.shard for r in spark.read.parquet(str(out_dir / "manifests")).collect()]
    return out_dir, [
        check_text(ctx.expected_text(), got),
        check_complete(verify_complete(spark, ctx.pages(), str(out_dir))),
        check_manifest(shards, N_SHARDS),
    ]


def near_dup_dedup(ctx: Ctx, tracer) -> list[Check]:
    """Extraction -> MinHash/LSH pairs -> connected components over the
    corpus, each step materialised inside its own span; then the
    planted-duplicate check."""
    with tracer.span("operators.dedup.near_dup"):
        docs = with_main_text(ctx.pages()).select("doc_id", "extracted")
        with tracer.span("operators.extract.with_main_text"):
            docs = docs.localCheckpoint()
        with tracer.span("operators.dedup.minhash_lsh_pairs"):
            pairs = minhash_lsh_pairs(docs, text_col="extracted").localCheckpoint()
        with tracer.span("operators.dedup.connected_components") as s:
            labels = connected_components(pairs)
            s.attrs["dup_docs"] = labels.where(F.col("id") != F.col("cluster")).count()
    planted = planted_duplicates(ctx.spec.n_pages, ctx.spec.dup_share, ctx.seed)
    return [check_duplicates({r.id: r.cluster for r in labels.collect()}, planted)]


@dataclass(frozen=True)
class Workload:
    name: str
    corpus: CorpusSpec
    run_pass: Callable[[Ctx], None]
    checks: Callable[[Ctx], list[Check]]


WORKLOADS = {
    w.name: w
    for w in (
        # html_text's pages include 10% planted duplicates (mirrors of an
        # earlier page under another url) for the dedup layers of its
        # traced run; extraction cost per page is the same either way.
        Workload("html_text", CorpusSpec(12000, dup_share=0.1),
                 html_text_pass, html_text_checks),
        Workload("scan_pages", CorpusSpec(1000, scan_shape=(96, 128)),
                 scan_pages_pass, scan_pages_checks),
    )
}
