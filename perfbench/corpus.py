"""Seeded workload corpora and their on-disk cache.

Every page comes from ``ocr_spark.sources.corpus.make_page`` and is a
pure function of (seed, doc id), so a seed fixes the inputs. A corpus is
cached under a key made of workload, seed, size and scan shape; the
``_COMPLETE`` marker is written last, after the files are in place, and
records how long generation took.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ocr_spark.sources.corpus import PAGES_SCHEMA, make_page

SCHEMA = PAGES_SCHEMA.append(pa.field("doc_id", pa.int64()))
MARKER = "_COMPLETE"


@dataclass(frozen=True)
class CorpusSpec:
    n_pages: int
    scan_shape: tuple[int, int] | None = None  # None: text-only pages
    dup_share: float = 0.0  # share of pages that copy another page's content


def planted_duplicates(n: int, share: float, seed: int) -> dict[int, int]:
    """{duplicate doc id: source doc id}. The duplicates are the last
    ``round(n * share)`` ids and each copies a distinct earlier page, so
    every duplicate's cluster keeper (its smallest id) is its source."""
    d = round(n * share)
    if d == 0:
        return {}
    rng = np.random.default_rng([seed, 0xD0B])
    sources = rng.choice(n - d, size=d, replace=False)
    return {n - d + k: int(s) for k, s in enumerate(sources)}


def corpus_rows(spec: CorpusSpec, seed: int, ids=None) -> list[dict]:
    """Rows of the corpus (all of them, or only ``ids``). A planted
    duplicate carries its source's page under its own url and doc id."""
    dups = planted_duplicates(spec.n_pages, spec.dup_share, seed)
    scan = spec.scan_shape is not None
    shape = spec.scan_shape or (96, 128)
    rows = []
    for i in range(spec.n_pages) if ids is None else ids:
        src = dups.get(i, i)
        row = make_page(src, seed, embed_scan=scan, scan_shape=shape)
        if src != i:
            row["url"] = f"https://mirror.example/p{i}"
        row["doc_id"] = i
        rows.append(row)
    return rows


def cache_key(workload: str, spec: CorpusSpec, seed: int) -> str:
    shape = "x".join(map(str, spec.scan_shape)) if spec.scan_shape else "text"
    return f"{workload}-seed{seed}-n{spec.n_pages}-{shape}"


def ensure_corpus(
    cache_dir: Path, workload: str, spec: CorpusSpec, seed: int, n_files: int
) -> tuple[Path, float]:
    """Path of the cached corpus, generating it if needed, and the
    seconds its generation took (read back from the marker on a hit)."""
    path = cache_dir / cache_key(workload, spec, seed)
    marker = path / MARKER
    if marker.exists():
        return path, json.loads(marker.read_text())["gen_s"]
    t0 = time.perf_counter()
    table = pa.Table.from_pylist(corpus_rows(spec, seed), schema=SCHEMA)
    tmp = path.with_name(path.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    bounds = np.linspace(0, spec.n_pages, n_files + 1).astype(int)
    for k, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        pq.write_table(table.slice(lo, hi - lo), tmp / f"part-{k:03d}.parquet")
    gen_s = time.perf_counter() - t0
    shutil.rmtree(path, ignore_errors=True)
    tmp.rename(path)
    marker.write_text(json.dumps({"gen_s": gen_s, "rows": spec.n_pages}))
    return path, gen_s


def scan_bytes(path: Path, columns: list[str]) -> int:
    """Compressed bytes of the given columns' chunks: what a parquet scan
    that projects those columns reads."""
    total = 0
    for f in sorted(path.glob("*.parquet")):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                col = rg.column(c)
                if col.path_in_schema in columns:
                    total += col.total_compressed_size
    return total
