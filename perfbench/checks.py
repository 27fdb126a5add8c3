"""Output checks. Each takes plain Python values (collected outside the
timed region) and returns a list of failure messages, empty when the
output is correct. :class:`Ops` counts an operation as failed when it
raises or when its check returns a failure."""

from __future__ import annotations

import sys
import traceback


class Ops:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def check(self, name: str, failures: list[str]) -> bool:
        self.attempted += 1
        if failures:
            self.failed += 1
            self.messages += [f"{name}: {f}" for f in failures]
        return not failures

    def run(self, name: str, fn, *args):
        """Call ``fn``; an exception counts as a failed operation and
        yields None so the timed loop can go on."""
        try:
            return fn(*args)
        except Exception as exc:  # noqa: BLE001 - benchmark boundary, keep running
            traceback.print_exc(file=sys.stderr)
            self.check(name, [f"raised {type(exc).__name__}: {exc}"])
            return None


def precision_recall(got: set, expected: set, bar: float = 0.95) -> list[str]:
    tp = len(got & expected)
    p = tp / len(got) if got else 0.0
    r = tp / len(expected) if expected else 0.0
    out = []
    if p < bar:
        out.append(f"precision {p:.4f} < {bar}")
    if r < bar:
        out.append(f"recall {r:.4f} < {bar}")
    return out


def equal(what: str, got, expected) -> list[str]:
    if got == expected:
        return []
    return [f"{what}: got {_short(got)}, expected {_short(expected)}"]


def close_map(what: str, got: dict, expected: dict, tol: float) -> list[str]:
    if got.keys() != expected.keys():
        return [f"{what}: {len(got)} keys, expected {len(expected)}"]
    worst = max((abs(got[k] - expected[k]) for k in got), default=0.0)
    if worst > tol:
        return [f"{what}: max abs difference {worst:.3g} > {tol}"]
    return []


def _short(v) -> str:
    s = repr(v)
    return s if len(s) < 120 else s[:117] + "..."
