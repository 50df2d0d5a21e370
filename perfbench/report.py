"""Per-layer metrics of a traced run.

Runs after the timed passes: the identity probe, one Spark job per
Spark layer (scan, Arrow crossing, UDF stage) LAYER_REPS times, on
html_text the checkpointed write and the near-duplicate pipeline, and
the in-process per-document sample; then turns the spans into metrics. A layer a workload never reaches
reports 0 (the kernels on text-only pages, the checkpoint and dedup
layers on scan_pages), so every workload prints every layer metric.
"""

from __future__ import annotations

import statistics

import numpy as np
import pyarrow.parquet as pq

from ocr_spark.operators.checkpoint import read_extracted
from ocr_spark.operators.extract import with_main_text
from perfbench import layers
from perfbench.corpus import scan_bytes
from perfbench.trace import self_time_by_name
from perfbench.workloads import checkpointed_write, near_dup_dedup, noop

LAYER_REPS = 3
SAMPLE_DOCS = 256
SCAN_COLUMNS = ["url", "html"]
WRITE_AND_DEDUP_UNITS = {
    "operators.checkpoint.wave_s_median": "s",
    "operators.checkpoint.wave_s_max": "s",
    "sources.catalog.read_back_s": "s",
    "sources.catalog.bytes_per_doc": "bytes",
    "sources.catalog.files_written": "count",
    "operators.dedup.pairs_s": "s",
    "operators.dedup.components_s": "s",
    "operators.dedup.dup_docs": "count",
    "operators.dedup.jobs": "count",
}


def _median_span(tracer, name: str) -> float:
    spans = tracer.by_name(name)
    return statistics.median(s.duration for s in spans) if spans else 0.0


def _last_span(tracer, name: str):
    return tracer.by_name(name)[-1]


def _subtree_counts(tracer, root) -> dict:
    """Jobs and tasks of a span and all its descendants."""
    ids = {root.id}
    total = {"jobs": 0, "tasks": 0}
    for s in tracer.spans[root.id:]:
        if s.id == root.id or s.parent in ids:
            ids.add(s.id)
            total["jobs"] += s.attrs.get("jobs", 0)
            total["tasks"] += s.attrs.get("tasks", 0)
    return total


def identity_probe(spark, tracer, n_slots: int) -> None:
    """Fixed identity mapInArrow job: prices the Python-task overhead of
    the moment, the noise floor the other numbers sit on."""

    def identity(batches):
        yield from batches

    df = spark.range(0, 400_000, 1, 4 * n_slots).mapInArrow(identity, "id long")
    noop(df)  # warm
    with tracer.span("ambient.identity_probe"):
        noop(df)


def spark_layers(ctx, tracer) -> int:
    """Scan-only, identity-crossing and UDF-stage jobs over the same
    columns and partitions. Returns the Arrow batches of one crossing."""
    acc = ctx.spark.sparkContext.accumulator(0)

    def identity(batches):
        for b in batches:
            acc.add(1)
            yield b

    for _ in range(LAYER_REPS):
        with tracer.span("sources.scan"):
            noop(ctx.pages().select(*SCAN_COLUMNS))
        with tracer.span("operators.extract.crossing"):
            src = ctx.pages().select(*SCAN_COLUMNS)
            noop(src.mapInArrow(identity, src.schema))
        with tracer.span("operators.extract.udf_stage"):
            noop(with_main_text(ctx.pages()).select("url", "extracted"))
    return acc.value // LAYER_REPS


def write_and_dedup_layers(ctx, tracer) -> tuple[dict, list]:
    """The corpus through ``checkpointed_run`` and through the
    near-duplicate pipeline, once each: the first run of their plans in
    the session, so their times include plan compilation (a second run
    would push the traced run past three minutes). Returns (metrics,
    checks)."""
    with tracer.span("operators.checkpoint.checkpointed_run"):
        out_dir, checks = checkpointed_write(ctx)
    checks += near_dup_dedup(ctx, tracer)
    man = ctx.spark.read.parquet(str(out_dir / "manifests")).select("wave", "wall_ms")
    wave_s = [ms / 1000.0 for _, ms in sorted({tuple(r) for r in man.collect()})]
    data_bytes = sum(f.stat().st_size for f in (out_dir / "data").rglob("*.parquet"))
    with tracer.span("sources.catalog.read_back"):
        noop(read_extracted(ctx.spark, str(out_dir)).select("url", "extracted"))
    components = _last_span(tracer, "operators.dedup.connected_components")
    return {
        "operators.checkpoint.wave_s_median": statistics.median(wave_s),
        "operators.checkpoint.wave_s_max": max(wave_s),
        "sources.catalog.bytes_per_doc": data_bytes / ctx.spec.n_pages,
        "sources.catalog.files_written": len(list(out_dir.rglob("*.parquet"))),
        "sources.catalog.read_back_s": _last_span(tracer, "sources.catalog.read_back").duration,
        "operators.dedup.pairs_s": _last_span(tracer, "operators.dedup.minhash_lsh_pairs").duration,
        "operators.dedup.components_s": components.duration,
        "operators.dedup.dup_docs": components.attrs["dup_docs"],
        "operators.dedup.jobs": _subtree_counts(
            tracer, _last_span(tracer, "operators.dedup.near_dup"))["jobs"],
    }, checks


def sample_pages(ctx) -> list[bytes]:
    """A seeded sample of the workload's own pages."""
    n = ctx.spec.n_pages
    rng = np.random.default_rng([ctx.seed, 0x5A3])
    ids = {int(i) for i in rng.choice(n, size=min(SAMPLE_DOCS, n), replace=False)}
    rows = pq.read_table(ctx.corpus, columns=["doc_id", "html"]).to_pylist()
    return [r["html"] for r in rows if r["doc_id"] in ids]


def residual_share(wl, ctx, tracer, n_slots, by_name, docs) -> float:
    """Share of the traced pass's wall that no layer accounts for. A pass
    is one Spark stage; its layers are the crossing job (scan plus Arrow
    both ways) and the per-document Python work: sample cost per doc x
    pages / slots."""
    per_doc = layers.HTML_LAYERS[:3]  # with_main_text pulls no scans
    if wl.name == "scan_pages":
        per_doc = layers.HTML_LAYERS + layers.KERNEL_LAYERS
    python_s = sum(by_name.get(n, 0.0) for n in per_doc) / docs * ctx.spec.n_pages / n_slots
    covered = _median_span(tracer, "operators.extract.crossing") + python_s
    return 1.0 - covered / _median_span(tracer, "pass")


def layer_metrics(wl, ctx, tracer, n_slots, gen_s, walls, rss):
    """({metric: (value, unit)} for every per-layer metric, the extra
    correctness checks the traced run made)."""
    identity_probe(ctx.spark, tracer, n_slots)
    batches = spark_layers(ctx, tracer)
    extra, checks = write_and_dedup_layers(ctx, tracer) if wl.name == "html_text" else ({}, [])
    sc, tracer.sc = tracer.sc, None  # in-process spans run no Spark jobs
    sample = layers.sample_layers(tracer, sample_pages(ctx))
    tracer.count_spark_work(sc)
    by_name = self_time_by_name(tracer.spans)
    docs = sample["docs"]
    html_s = sum(by_name.get(n, 0.0) for n in layers.HTML_LAYERS)
    kernel_s = sum(by_name.get(n, 0.0) for n in layers.KERNEL_LAYERS)
    m = {
        "sources.corpus.gen_s": (gen_s, "s"),
        "setup.wall_s": (_last_span(tracer, "setup").duration, "s"),
        "setup.session_s": (_last_span(tracer, "setup.session").duration, "s"),
        "setup.first_pass_s": (_last_span(tracer, "setup.first_pass").duration, "s"),
        "ambient.identity_probe_s": (_last_span(tracer, "ambient.identity_probe").duration, "s"),
        "ambient.calibration_s": (statistics.median(walls["calibration"]), "s"),
        "pass.wall_docs_per_s": (
            ctx.spec.n_pages / statistics.median(walls["untraced"]), "docs/s"),
        "sources.scan_s": (_median_span(tracer, "sources.scan"), "s"),
        "sources.scan_bytes": (scan_bytes(ctx.corpus, SCAN_COLUMNS), "bytes"),
        "operators.extract.crossing_s": (_median_span(tracer, "operators.extract.crossing"), "s"),
        "operators.extract.udf_stage_s": (_median_span(tracer, "operators.extract.udf_stage"), "s"),
        "operators.extract.batches": (batches, "count"),
    }
    for name in layers.HTML_LAYERS + layers.KERNEL_LAYERS + (layers.OCR_PAGE,):
        m[name + "_us"] = (by_name.get(name, 0.0) / docs * 1e6, "us")
    m.update({
        "functions.html_extract.blocks_per_doc": (sample["blocks"] / docs, "count"),
        "functions.html_extract.kept_block_ratio": (
            sample["kept_blocks"] / sample["blocks"], "ratio"),
        "kernels.geometry.skew_applied_ratio": (
            sample["skewed"] / sample["scan_pages"] if sample["scan_pages"] else 0.0,
            "ratio"),
        "trace.kernel_share": (kernel_s / (kernel_s + html_s), "ratio"),
    })
    m.update({k: (extra.get(k, 0), u) for k, u in WRITE_AND_DEDUP_UNITS.items()})
    counts = _subtree_counts(tracer, _last_span(tracer, "pass"))
    m.update({
        "spark.jobs": (counts["jobs"], "count"),
        "spark.tasks": (counts["tasks"], "count"),
        "spark.failed_tasks": (sum(s.attrs.get("failed_tasks", 0) for s in tracer.spans), "count"),
        "memory.peak_rss_mb": (rss.mb(), "MB"),
        "memory.jvm_peak_rss_mb": (rss.mb("jvm"), "MB"),
        "memory.python_peak_rss_mb": (rss.mb("python"), "MB"),
        "trace.overhead_ratio": (
            statistics.median(walls["traced"]) / statistics.median(walls["untraced"]),
            "ratio"),
        "trace.residual_share": (
            residual_share(wl, ctx, tracer, n_slots, by_name, docs), "ratio"),
    })
    return m, checks
