"""Pure helpers of the benchmark: percentiles, host counters, request
hygiene and the answer normal form. No Spark import, so the unit tests
in perfbench/tests run without a JVM."""

from __future__ import annotations

import base64
import datetime
import decimal
import json
import math
import os
import re
import resource

# A top-level LIMIT closes the statement: `LIMIT n`, `LIMIT n OFFSET m`
# or `LIMIT m, n`, then nothing but whitespace or a semicolon.
_TRAILING_LIMIT_RE = re.compile(
    r"\bLIMIT\s+\d+(\s*,\s*\d+|\s+OFFSET\s+\d+)?\s*;?\s*$", re.IGNORECASE
)


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it. Always a measured value, never an
    interpolation, so a reported p90 is a latency a request really had."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    ordered = sorted(values)
    return ordered[max(1, math.ceil(p / 100.0 * len(ordered))) - 1]


def samples_beyond(n: int, p: float) -> int:
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n)) if n else 0


def parse_cpu_jiffies(stat_text: str) -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate `cpu` line of /proc/stat.

    The total sums user..steal (fields 1-8) only: guest and guest_nice
    are already counted inside user and nice, so adding them again would
    inflate the denominator and understate steal."""
    for line in stat_text.splitlines():
        fields = line.split()
        if fields and fields[0] == "cpu":
            vals = [int(x) for x in fields[1:9]]
            if len(vals) < 8:
                raise ValueError(f"short cpu line in /proc/stat: {line!r}")
            return sum(vals), vals[7]
    raise ValueError("no aggregate cpu line in /proc/stat")


def read_cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as f:
        return parse_cpu_jiffies(f.read())


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor stole between two readings."""
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def least_stolen(steals: list[float], max_steal: float) -> list[int]:
    """Indices of the windows (passes) to time: those that saw at most
    `max_steal` % CPU steal, or, when they are fewer than half, the half
    with the least steal. Whole passes are kept or dropped together, so
    the query mix a timing covers does not depend on the steal."""
    quiet = [i for i, s in enumerate(steals) if s <= max_steal]
    if 2 * len(quiet) >= len(steals):
        return quiet
    half = sorted(range(len(steals)), key=lambda i: steals[i])[:math.ceil(len(steals) / 2)]
    return sorted(half)


def loadavg1() -> float:
    return os.getloadavg()[0]


def with_limit(sql: str, limit: int = 100_000) -> str:
    """Append `LIMIT limit` unless the statement already ends in a LIMIT.

    The broker applies Pinot's default LIMIT 10 to any statement without
    one, which would truncate unordered answers. A statement that already
    has a LIMIT keeps it: a second LIMIT is a syntax error."""
    body = sql.strip().rstrip(";").rstrip()
    if _TRAILING_LIMIT_RE.search(body):
        return body
    return f"{body} LIMIT {limit}"


def broker_cell(v):
    """Render one result cell the way the broker's JSON response does:
    timestamps as 'YYYY-MM-DD HH:MM:SS[.ffffff]', dates as 'YYYY-MM-DD',
    decimals as their exact string, bytes as base64, arrays element-wise."""
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode()
    if isinstance(v, (list, tuple)):
        return [broker_cell(x) for x in v]
    return v


def canonical_rows(rows) -> list[str]:
    """Order-insensitive normal form of a result: each row rendered as the
    broker renders it, round-tripped through JSON, then sorted."""
    return sorted(
        json.dumps(json.loads(json.dumps([broker_cell(c) for c in row])))
        for row in rows
    )


def _close(a, b, rel: float) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if not isinstance(a, (int, float)) or not isinstance(b, (int, float)):
            return False
        return math.isclose(a, b, rel_tol=rel, abs_tol=rel)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y, rel) for x, y in zip(a, b))
    return a == b


def same_answer(got: list[str], want: list[str], rel: float = 1e-9) -> bool:
    """Canonical results equal, allowing float sums a last-digit
    difference (two plans may add the same doubles in another order)."""
    if got == want:
        return True
    if len(got) != len(want):
        return False
    return all(
        _close(json.loads(g), json.loads(w), rel) for g, w in zip(got, want)
    )


def peak_rss_mb(jvm_pid: int | None) -> float:
    """High-water resident memory of this process plus the JVM, in MB."""
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    if jvm_pid is not None:
        try:
            with open(f"/proc/{jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        mb += int(line.split()[1]) / 1024.0
                        break
        except FileNotFoundError:
            pass
    return mb
