"""Seeded end-to-end and per-layer benchmark of the extraction engine.

    python3 perfbench/run.py --workload html_text --seed 7 --seconds 30 --trace 0

Run from the repository root. One process drives a ``local[nproc]``
session. The corpus is generated from ``--seed`` (and cached), the
session is started and the workload's pass runs once untimed (set-up),
then the pass repeats for ``--seconds``. A fixed calibration job
(perfbench/calibrate.py) runs before and after the set-up and after
every untraced pass. Each wall is divided by the calibrations next to
it, which cancels the shared host's momentary speed, and given in
seconds of a reference host: ``setup_s``, and ``ref_docs_per_s`` from
the median calibrated pass. Correctness checks run afterwards. The
last stdout line is one JSON object: ``{"correct", "attempted",
"failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a
separate run that reports per-layer metrics: untraced and traced passes
alternate, then one job per Spark layer and the per-document layers
in-process on a seeded sample; its spans are written to
``.perfbench/trace-<workload>-<seed>.json``. perfbench/LAYERS.md maps
each layer metric to the end-to-end metric and workload it should move.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import tempfile
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench"
# The engine's default heap is 8g; the benchmark's corpora are a few MB.
DRIVER_MEMORY = "2g"
RSS_INTERVAL_S = 0.1
MIN_PASSES = 2
SETUP_CALIBRATIONS = 2  # before the set-up and again after it


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def slots() -> int:
    """What ``nproc`` reports: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


class PeakRss:
    """Peak summed RSS of this process's descendants -- the driver JVM,
    the Python worker daemon and its workers, not the ``exclude``d
    calibration pool -- sampled from /proc."""

    def __init__(self, exclude=frozenset()):
        self.exclude = exclude
        self.peak = {"jvm": 0, "python": 0, "total": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> None:
        parent, name = {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            head, rest = stat.rsplit(")", 1)
            parent[int(d)] = int(rest.split()[1])
            name[int(d)] = head.split("(", 1)[1]
        me = os.getpid()
        frontier, seen = [me], set()
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in seen]
            seen.update(kids)
            frontier.extend(kids)
        rss = {"jvm": 0, "python": 0}
        for p in seen - self.exclude:
            try:
                with open(f"/proc/{p}/statm") as f:
                    pages = int(f.read().split()[1])
            except OSError:
                continue
            kind = "jvm" if name[p] == "java" else "python"
            rss[kind] += pages * self._page
        rss["total"] = rss["jvm"] + rss["python"]
        for k, v in rss.items():
            self.peak[k] = max(self.peak[k], v)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def mb(self, kind: str = "total") -> float:
        return self.peak[kind] / 2**20


def start_session(n_slots: int):
    from ocr_spark.session import get_spark

    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)  # py4j's gateway files and worker temp files
    tempfile.tempdir = None
    spark = get_spark(
        "perfbench",
        cpus=n_slots,
        # the engine's default of 32 is sized for a cluster; the
        # corpora here are a few MB, two shuffle partitions per slot
        shuffle_partitions=2 * n_slots,
        extra={
            "spark.ui.showConsoleProgress": "false",
            # Python workers import the engine from the repository root.
            "spark.executorEnv.PYTHONPATH": str(ROOT),
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.sql.warehouse.dir": str(WORK / "spark-warehouse"),
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit
    (the Python worker daemon and its workers end with the context)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def timed_passes(wl, ctx, seconds: float, cal, tracer=None):
    """Repeat the pass until ``seconds`` have passed (at least
    MIN_PASSES times), measuring the calibration job before the first
    pass and after each untraced one. With a tracer, passes alternate
    between untraced and traced (inside a "pass" span), so both see the
    same warm-up. Returns ({"untraced": walls, "traced": walls,
    "calibration": calibration walls}, number of failed passes)."""
    walls = {"untraced": [], "traced": [], "calibration": [cal.measure()]}
    failed = k = 0
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or k < MIN_PASSES:
        traced = tracer is not None and k % 2 == 1
        k += 1
        span = tracer.span("pass") if traced else contextlib.nullcontext()
        t0 = time.perf_counter()
        try:
            with span:
                wl.run_pass(ctx)
        except Exception:  # a failed pass is counted, the run goes on
            traceback.print_exc()
            failed += 1
            continue
        walls["traced" if traced else "untraced"].append(time.perf_counter() - t0)
        if not traced:
            walls["calibration"].append(cal.measure())
    if not walls["untraced"] or (tracer is not None and not walls["traced"]):
        raise RuntimeError(f"{failed} passes of {wl.name} failed, too few succeeded")
    print("pass walls:", {m: [round(w, 3) for w in v] for m, v in walls.items()},
          file=sys.stderr)
    return walls, failed


def calibrated_passes(walls, cal) -> list[float]:
    """Each untraced pass's wall in reference seconds, calibrated by the
    mean of the calibrations just before and just after it (the host
    drifts within a run, so each pass gets its own)."""
    c = walls["calibration"]
    return [cal.to_reference(w, (before + after) / 2)
            for w, before, after in zip(walls["untraced"], c, c[1:])]


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        from perfbench import corpus as corpus_mod
        from perfbench.calibrate import Calibration
        from perfbench.trace import Tracer, spark_counts
        from perfbench.workloads import WORKLOADS, Ctx
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    n_slots = slots()
    tracer = Tracer(f"{wl.name}-{args.seed}-{os.getpid()}")

    with tracer.span("run"):
        with tracer.span("sources.corpus.gen"):
            path, gen_s = corpus_mod.ensure_corpus(
                WORK / "corpus", wl.name, wl.corpus, args.seed, n_files=2 * n_slots
            )
        cal = Calibration(n_slots)
        # RSS sampling only in the traced run: the untraced one stays lean
        rss = PeakRss(cal.pids) if args.trace else contextlib.nullcontext()
        spark = None
        try:
            with rss:
                setup_cal = cal.median(SETUP_CALIBRATIONS)
                with tracer.span("setup") as setup:
                    with tracer.span("setup.session"):
                        spark = start_session(n_slots)
                    ctx = Ctx(spark, path, wl.corpus, args.seed, WORK / "work" / wl.name)
                    with tracer.span("setup.first_pass"):
                        wl.run_pass(ctx)
                setup_cal = (setup_cal + cal.median(SETUP_CALIBRATIONS)) / 2
                if args.trace:
                    tracer.sc = spark.sparkContext
                walls, failed = timed_passes(
                    wl, ctx, args.seconds, cal, tracer if args.trace else None
                )
            checks = wl.checks(ctx)
            if args.trace:
                from perfbench.report import layer_metrics

                metrics, more_checks = layer_metrics(
                    wl, ctx, tracer, n_slots, gen_s, walls, rss
                )
                checks += more_checks
            else:
                metrics = {
                    "ref_docs_per_s": (
                        wl.corpus.n_pages / statistics.median(calibrated_passes(walls, cal)),
                        "docs/s",
                    ),
                    "setup_s": (cal.to_reference(setup.duration, setup_cal), "s"),
                }
            counts = spark_counts(spark.sparkContext, None)
            for s in tracer.spans:
                counts["tasks"] += s.attrs.get("tasks", 0)
                counts["failed_tasks"] += s.attrs.get("failed_tasks", 0)
        finally:
            if spark is not None:
                stop_session(spark)
            cal.close()
    if args.trace:
        tracer.write(WORK / f"trace-{wl.name}-{args.seed}.json",
                     workload=wl.name, seed=args.seed, slots=n_slots)

    for c in checks:
        print(f"check {'ok  ' if c.ok else 'FAIL'} {c.name}: {c.detail}", file=sys.stderr)
    n_checks_failed = sum(not c.ok for c in checks)
    passes = 1 + len(walls["untraced"]) + len(walls["traced"]) + failed
    result = {
        "correct": n_checks_failed == 0 and failed == 0,
        "attempted": passes + counts["tasks"] + len(checks),
        "failed": failed + counts["failed_tasks"] + n_checks_failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
