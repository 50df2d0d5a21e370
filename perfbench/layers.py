"""Per-document layers, timed in-process on a sample of the workload's pages.

The Spark UDFs run ``extract_main_text`` and ``ocr_page`` inside Python
workers, where the benchmark cannot open spans. Here the same public
functions those two compose are called one layer at a time over the
sample, each layer inside one span, so a span's time divided by the
sample size is the layer's cost per document. The replay is compared
with the composed functions: a breakdown that no longer adds up to what
the UDFs run shows as ``html_replay_ok`` / ``kernel_replay_ok`` false on
the ``inprocess.sample`` span in the trace file.
"""

from __future__ import annotations

from ocr_spark.functions import html_extract as hx
from ocr_spark.kernels import geometry as kgeo
from ocr_spark.kernels import pnm as kpnm
from ocr_spark.kernels import pointwise as kpoint
from ocr_spark.kernels import segment as kseg
from ocr_spark.kernels import stats as kstats
from ocr_spark.operators.stages import ocr_page

HTML_LAYERS = (
    "functions.html_extract.sniff_decode",
    "functions.html_extract.parse_blocks",
    "functions.html_extract.density_filter",
    "functions.html_extract.extract_embedded_pnm",
)
KERNEL_LAYERS = (
    "kernels.pnm.decode_gray",
    "kernels.stats.background",
    "kernels.pointwise.divide",
    "kernels.stats.calc_statistics",
    "kernels.pointwise.binarize",
    "kernels.geometry.detect_skew",
    "kernels.geometry.skew",
    "kernels.segment.page_layout",
)
OCR_PAGE = "operators.stages.ocr_page"
BG_D = 8.0  # ocr_page's default background decay


def _kept(blocks) -> list[str]:
    return [
        b.text
        for b in blocks
        if not b.boiler
        and b.n_chars >= hx.MIN_BLOCK_CHARS
        and b.link_density <= hx.MAX_LINK_DENSITY
    ]


def html_layers(tracer, htmls: list[bytes]) -> dict:
    """Main-text extraction and embedded-scan pull, layer by layer."""
    with tracer.span(HTML_LAYERS[0], calls=len(htmls)):
        texts = [hx.sniff_decode(h)[0] for h in htmls]
    with tracer.span(HTML_LAYERS[1], calls=len(texts)):
        blocks = [hx.parse_blocks(t) for t in texts]
    with tracer.span(HTML_LAYERS[2], calls=len(blocks)):
        kept = [_kept(bs) for bs in blocks]
    with tracer.span(HTML_LAYERS[3], calls=len(htmls)):
        scans = [hx.extract_embedded_pnm(h) for h in htmls]
    replay_ok = all(
        "\n".join(k) == hx.extract_main_text(h) for k, h in zip(kept, htmls)
    )
    n_blocks = sum(len(bs) for bs in blocks)
    return {
        "scans": [s for s in scans if s is not None],
        "blocks": n_blocks,
        "kept_blocks": sum(len(k) for k in kept),
        "html_replay_ok": replay_ok,
    }


def kernel_layers(tracer, scans: list[bytes]) -> dict:
    """``ocr_page``'s kernel chain, one kernel over all pages at a time,
    then ``ocr_page`` itself over the same pages for comparison."""
    n = len(scans)
    with tracer.span(KERNEL_LAYERS[0], calls=n):
        pages = [kpnm.decode_gray(b) for b in scans]
    with tracer.span(KERNEL_LAYERS[1], calls=n):
        bgs = [kstats.background(p, BG_D) for p in pages]
    with tracer.span(KERNEL_LAYERS[2], calls=n):
        flats = [kpoint.divide(p, bg) for p, bg in zip(pages, bgs)]
    with tracer.span(KERNEL_LAYERS[3], calls=n):
        stats = [kstats.calc_statistics(f) for f in flats]
    with tracer.span(KERNEL_LAYERS[4], calls=n):
        bins = [kpoint.binarize(f, s["graythr"]) for f, s in zip(flats, stats)]
    with tracer.span(KERNEL_LAYERS[5], calls=n):
        angles = [kgeo.detect_skew(b) for b in bins]
    skewed = [i for i, a in enumerate(angles) if a != 0.0]
    with tracer.span(KERNEL_LAYERS[6], calls=len(skewed)):
        for i in skewed:
            bins[i] = kgeo.skew(bins[i], angles[i])
    with tracer.span(KERNEL_LAYERS[4], calls=len(skewed)):
        for i in skewed:
            bins[i] = kpoint.binarize(bins[i], 0.5)
    with tracer.span(KERNEL_LAYERS[7], calls=n):
        layouts = [kseg.page_layout(b) for b in bins]
    with tracer.span(OCR_PAGE, calls=n):
        direct = [ocr_page(b)[0] for b in scans]
    replay_ok = all(
        d["graythr"] == s["graythr"]
        and d["skew_deg"] == float(a)
        and d["n_lines"] == lay["n_lines"]
        and d["n_glyphs"] == lay["n_glyphs"]
        for d, s, a, lay in zip(direct, stats, angles, layouts)
    )
    return {"scan_pages": n, "skewed": len(skewed), "kernel_replay_ok": replay_ok}


def sample_layers(tracer, htmls: list[bytes]) -> dict:
    """All per-document layers over one sample. Every layer gets a span
    on every workload; on text-only pages the kernel spans have 0 calls."""
    with tracer.span("inprocess.sample", docs=len(htmls)) as span:
        out = html_layers(tracer, htmls)
        out.update(kernel_layers(tracer, out.pop("scans")))
        span.attrs.update(html_replay_ok=out["html_replay_ok"],
                          kernel_replay_ok=out["kernel_replay_ok"])
    out["docs"] = len(htmls)
    return out
