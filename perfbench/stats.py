"""Pure-Python helpers the harness and its tests share: the
sample-count rule for percentiles, failure tallies and the metric-name
grammar of BENCHMARK.json."""

from __future__ import annotations

import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PERCENTILES = (50, 75, 90, 95, 99)


def highest_supported_percentile(n: int, min_beyond: int = 10) -> int | None:
    """Highest of PERCENTILES with at least ``min_beyond`` of ``n``
    samples above it; None when not even the median qualifies."""
    best = None
    for p in PERCENTILES:
        if n * (100 - p) / 100.0 >= min_beyond:
            best = p
    return best


class Tally:
    """Operations attempted and failed; an operation fails when it
    raises or when its output check does not hold."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if what:
                self.reasons.append(what)
        return ok

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def check_metric_specs(specs: list[dict], keys: tuple[str, ...]) -> list[str]:
    """Problems with a BENCHMARK.json metric list (empty when valid)."""
    problems = []
    seen = set()
    for m in specs:
        if tuple(sorted(m)) != tuple(sorted(keys)):
            problems.append(f"{m.get('name')}: keys {sorted(m)}")
        name = m.get("name", "")
        if not NAME_RE.match(name):
            problems.append(f"bad name {name!r}")
        if name in seen:
            problems.append(f"duplicate name {name!r}")
        seen.add(name)
        if not UNIT_RE.match(m.get("unit", "")):
            problems.append(f"{name}: bad unit {m.get('unit')!r}")
        if m.get("better") not in ("lower", "higher"):
            problems.append(f"{name}: better={m.get('better')!r}")
    return problems
