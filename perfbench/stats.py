"""Pure arithmetic of the benchmark: percentiles, span self time,
family grouping and error accounting. No Spark, no I/O."""

from __future__ import annotations

import statistics

# qid families, keyed by the builder's package subpackage
FAMILIES = ("operators", "llm", "functions", "tiles")


def p50_p90(samples) -> tuple[float, float]:
    """Median and 90th percentile, the "inclusive" rule of
    ``statistics.quantiles``."""
    cuts = statistics.quantiles(samples, n=10, method="inclusive")
    return cuts[4], cuts[8]


def beyond_p90(samples) -> int:
    """How many samples lie strictly above the 90th percentile; a tail
    estimate rests on at least 10 of them."""
    p90 = p50_p90(samples)[1]
    return sum(1 for x in samples if x > p90)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict[str, float]:
    """Per span name, the summed self time: each span's duration minus
    the part of its interval that its direct children cover (children
    clipped to the parent; overlapping children counted once).

    ``spans`` is an iterable of dicts with ``id``, ``parent``, ``name``,
    ``start`` and ``end``."""
    spans = list(spans)
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], ())
            if c["end"] > s["start"] and c["start"] < s["end"]
        )
        own = max(0.0, (s["end"] - s["start"]) - covered)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def family(module: str) -> str:
    """Family of a query builder from its ``__module__``: the first
    subpackage under ``tile_etl_spark`` (``tile_etl_spark.llm.dedup`` ->
    ``llm``). Anything outside the four families maps to ``other``."""
    parts = module.split(".")
    if len(parts) >= 2 and parts[0] == "tile_etl_spark":
        if parts[1] in FAMILIES:
            return parts[1]
    return "other"


def family_sums(records) -> dict[str, float]:
    """Sum ``(module, seconds)`` records per family; every family is
    present, absent ones at 0."""
    out = {f: 0.0 for f in FAMILIES}
    for module, sec in records:
        fam = family(module)
        if fam in out:
            out[fam] += sec
    return out


class Outcomes:
    """Attempted / failed operation counts. A failure is any exception or
    watchdog cancel, oracle mismatch, unexpected dead letter, or missing,
    duplicate or corrupted object; ``reasons`` keeps the first few."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, reason: str, n: int = 1) -> None:
        self.attempted += n
        self.failed += n
        if len(self.reasons) < 20:
            self.reasons.append(reason[:300])

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
