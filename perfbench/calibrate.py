"""The host's momentary speed, from a fixed job that runs no engine code.

On a shared host the CPUs' speed can swing 2x within minutes as other
tenants load the same cores, and wall-clock docs/s then says more about
the neighbours than about the engine. A fixed calibration job -- the
same Python and numpy work on every slot at once, none of it from the
repository -- is timed next to each pass; dividing the pass's wall by
the calibration's wall cancels the host's speed. ``REF_CALIBRATION_S``
turns the ratio back into seconds: it is about the calibration's median
wall on a quiet 4-vCPU x86 host, so a calibrated time reads as seconds
on such a host. It only scales the figures; changing it would make them
incomparable with earlier ones.
"""

from __future__ import annotations

import statistics
import subprocess
import sys
import time

import numpy as np

REF_CALIBRATION_S = 0.3
UNIT_ROUNDS = 1000  # a calibration wall is the time one slot takes for these
WINDOW_S = 0.8
START_DELAY_S = 0.02  # lets every worker read its line before the window opens
_TEXT = "<p class=body>" + "lorem ipsum dolor sit amet, consectetur " * 24 + "</p>"
_IMG = np.arange(96 * 128, dtype=np.float32).reshape(96, 128) % 251.0


def _round(r: int) -> int:
    """Interpreter work (string splitting, dict counting) and numpy
    work (pointwise arithmetic, a histogram) on a page-sized image: the
    two kinds of work a pass does in the Python workers."""
    counts: dict[str, int] = {}
    for w in _TEXT.replace("<", " ").split():
        counts[w] = counts.get(w, 0) + 1
    norm = _IMG / (_IMG.mean() + r + 1.0)
    return (len(counts) + int(np.histogram(norm, bins=64)[0].max())
            + int((np.abs(np.diff(norm, axis=1)) > 0.1).sum()))


def rounds_between(start: float, end: float) -> int:
    """Rounds completed between two ``time.monotonic()`` instants (a
    clock all processes share)."""
    time.sleep(max(0.0, start - time.monotonic()))
    n = 0
    while time.monotonic() < end:
        _round(n)
        n += 1
    return n


def serve() -> None:
    """A worker: for each line ``<start> <end>`` on stdin, print the
    rounds completed between them; exit when stdin closes."""
    for line in sys.stdin:
        start, end = map(float, line.split())
        print(rounds_between(start, end), flush=True)


class Calibration:
    """``n_slots`` worker processes (fresh interpreters running this
    file) that run the fixed job side by side on request. Every
    measurement is kept in ``walls``."""

    def __init__(self, n_slots: int, window_s: float = WINDOW_S):
        self.n_slots, self.window_s = n_slots, window_s
        self.walls: list[float] = []
        self._procs = []
        try:
            for _ in range(n_slots):
                self._procs.append(subprocess.Popen(
                    [sys.executable, __file__], stdin=subprocess.PIPE,
                    stdout=subprocess.PIPE, text=True, bufsize=1))
            self._run(0.01)  # workers up, numpy imported
        except BaseException:
            self.close()
            raise
        self.pids = frozenset(p.pid for p in self._procs)

    def _run(self, window_s: float) -> int:
        start = time.monotonic() + START_DELAY_S
        for p in self._procs:
            p.stdin.write(f"{start!r} {start + window_s!r}\n")
        total = 0
        for p in self._procs:
            line = p.stdout.readline()
            if not line:
                raise RuntimeError(f"calibration worker {p.pid} exited ({p.poll()})")
            total += int(line)
        return total

    def measure(self) -> float:
        """Keep every slot busy with the job for the same window; the
        calibration wall is the time one slot took for UNIT_ROUNDS
        rounds, at the rate all the slots reached together. A fixed
        window, not a fixed amount of work, so no slot runs alone at
        the end while the others have finished."""
        total = self._run(self.window_s)
        wall = self.window_s * self.n_slots * UNIT_ROUNDS / max(total, 1)
        self.walls.append(wall)
        return wall

    def median(self, reps: int) -> float:
        return statistics.median(self.measure() for _ in range(reps))

    @staticmethod
    def to_reference(wall: float, calibration_wall: float) -> float:
        """``wall`` in seconds of the reference host: scaled by how much
        slower than there the calibration job ran at the time."""
        return wall / calibration_wall * REF_CALIBRATION_S

    def close(self) -> None:
        """Close the workers' stdin, so they exit, and wait for them."""
        for p in self._procs:
            p.stdin.close()
        for p in self._procs:
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
            p.stdout.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


if __name__ == "__main__":
    serve()
