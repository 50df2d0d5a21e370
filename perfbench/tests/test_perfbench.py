"""Tests of the benchmark itself (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
from pathlib import Path

import pytest

from ocr_spark.functions.html_extract import extract_main_text
from perfbench import layers
from perfbench.calibrate import REF_CALIBRATION_S, Calibration
from perfbench.corpus import (
    CorpusSpec,
    cache_key,
    corpus_rows,
    ensure_corpus,
    planted_duplicates,
)
from perfbench.trace import Span, self_time_by_name, self_times
from perfbench.workloads import (
    N_SHARDS,
    SCAN_FIELDS,
    WORKLOADS,
    check_complete,
    check_duplicates,
    check_manifest,
    check_scan,
    check_text,
    expected_scan_features,
)

BENCH = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_metric_names_and_units_are_well_formed():
    metrics = BENCH["end_to_end"] + BENCH["per_layer"]
    names = [m["name"] for m in metrics] + [w["name"] for w in BENCH["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.fullmatch(name), name
    for m in metrics:
        assert UNIT.fullmatch(m["unit"]), m
        assert m["better"] in ("higher", "lower")
    assert {w["name"] for w in BENCH["workloads"]} == set(WORKLOADS)


def test_every_named_layer_is_a_per_layer_metric():
    per_layer = {m["name"] for m in BENCH["per_layer"]}
    for layer in layers.HTML_LAYERS + layers.KERNEL_LAYERS + (layers.OCR_PAGE,):
        assert layer + "_us" in per_layer


def test_self_time_of_a_hand_built_tree():
    spans = [
        Span(0, "run", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 4.0),
        Span(2, "b", 0, 3.0, 6.0),   # overlaps a: [1, 6] covered once
        Span(3, "a", 0, 8.0, 12.0),  # sticks out of run: clipped to [8, 10]
        Span(4, "leaf", 1, 1.5, 2.0),
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert selfs[1] == pytest.approx(3.0 - 0.5)
    assert selfs[2] == pytest.approx(3.0)
    assert selfs[3] == pytest.approx(4.0)
    assert selfs[4] == pytest.approx(0.5)
    assert self_time_by_name(spans)["a"] == pytest.approx(2.5 + 4.0)


def test_text_check_rejects_a_corrupted_page():
    expected = {"u1": "alpha beta", "u2": "gamma"}
    assert check_text(expected, dict(expected)).ok
    assert not check_text(expected, {"u1": "alpha beta", "u2": "gamma "}).ok
    assert not check_text(expected, {"u1": "alpha beta"}).ok
    assert not check_text(expected, {**expected, "u3": "extra"}).ok


def test_scan_check_rejects_a_changed_feature():
    rows = corpus_rows(CorpusSpec(2, scan_shape=(32, 48)), seed=3)
    from ocr_spark.functions.html_extract import extract_embedded_pnm

    expected = expected_scan_features(
        {r["url"]: extract_embedded_pnm(r["html"]) for r in rows}
    )
    got = {u: dict(f) for u, f in expected.items()}
    assert check_scan(expected, got).ok
    u = rows[1]["url"]
    got[u]["graythr"] += 1e-9
    assert not check_scan(expected, got).ok
    assert set(SCAN_FIELDS) <= set(expected[u])


def test_checkpoint_checks_reject_missing_urls_and_bad_manifests():
    assert check_complete(0).ok and not check_complete(1).ok
    shards = list(range(N_SHARDS))
    assert check_manifest(shards, N_SHARDS).ok
    assert not check_manifest(shards + [3], N_SHARDS).ok
    assert not check_manifest(shards[:-1], N_SHARDS).ok


def test_duplicate_check_is_exact():
    planted = {8: 2, 9: 5}
    labels = {2: 2, 8: 2, 5: 5, 9: 5}
    assert check_duplicates(labels, planted).ok
    assert not check_duplicates({**labels, 9: 2}, planted).ok  # wrong cluster
    assert not check_duplicates({2: 2, 8: 2}, planted).ok  # one missed
    assert not check_duplicates({**labels, 4: 2}, planted).ok  # one extra


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_new_seed_changes_inputs_not_expectations(name):
    spec = CorpusSpec(
        24, WORKLOADS[name].corpus.scan_shape, WORKLOADS[name].corpus.dup_share
    )
    a, b = corpus_rows(spec, seed=11), corpus_rows(spec, seed=12)
    assert [r["html"] for r in a] != [r["html"] for r in b]
    for rows, seed in ((a, 11), (b, 12)):
        expected = {r["url"]: r["text"] for r in rows}
        got = {r["url"]: extract_main_text(r["html"]) for r in rows}
        assert check_text(expected, got).ok
        dups = planted_duplicates(spec.n_pages, spec.dup_share, seed)
        assert len(dups) == round(spec.n_pages * spec.dup_share)
        for d, s in dups.items():
            assert rows[d]["text"] == rows[s]["text"] and rows[d]["url"] != rows[s]["url"]


def test_corpus_cache_is_keyed_and_marked(tmp_path):
    spec = CorpusSpec(6)
    keys = {
        cache_key("html_text", spec, 1),
        cache_key("html_text", spec, 2),
        cache_key("html_text", CorpusSpec(7), 1),
        cache_key("html_text", CorpusSpec(6, scan_shape=(32, 48)), 1),
        cache_key("scan_pages", spec, 1),
    }
    assert len(keys) == 5
    path, gen_s = ensure_corpus(tmp_path, "html_text", spec, 1, n_files=2)
    assert (path / "_COMPLETE").exists() and len(list(path.glob("*.parquet"))) == 2
    again, gen_again = ensure_corpus(tmp_path, "html_text", spec, 1, n_files=2)
    assert (again, gen_again) == (path, gen_s)


def test_calibration_scales_to_the_reference_and_stops_its_workers():
    # a pass that took 2 s while the calibration ran twice as slow as on
    # the reference host took 1 reference second
    assert Calibration.to_reference(2.0, 2 * REF_CALIBRATION_S) == pytest.approx(1.0)
    with Calibration(2, window_s=0.02) as cal:
        assert len(cal.pids) == 2
        assert cal.measure() > 0 and cal.median(3) > 0
        assert len(cal.walls) == 4
    for pid in cal.pids:  # exited and reaped
        with pytest.raises(ProcessLookupError):
            os.kill(pid, 0)
