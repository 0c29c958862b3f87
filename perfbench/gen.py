"""Seeded input generator and the Python model of the expected results.

Everything the engine sees is produced here from ``--seed``; the same seed
gives byte-identical inputs. The seed picks values, timestamps, metrics,
which late days a batch reopens and where each GET window starts. It does
not pick how much work there is: every seed gives the same number of lines
per day, late days per batch, and GET window widths. Seeds vary the data,
not the size of the work.

The model (:class:`Expected`) mirrors the medallion semantics closely
enough to check every timed operation:

- silver keeps a line iff it is a well-formed ``"{ts} {name} {value}"``
  line with a plain decimal value; scientific-notation values pass the
  ingest gate but are dropped by the silver regex; blank lines are skipped;
- gold holds one ``Power`` row per day that has both ``Voltage`` and
  ``Current`` readings, valued ``AVG(Voltage) * AVG(Current)``;
- ``GET /data`` over ``[from, to]`` (date-only bounds, ``to`` inclusive)
  returns the silver rows plus the gold rows of those days.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import date, timedelta

#: Epoch day of the first "live" day (2023-11-14); history lies before it.
DAY0 = 19675
METRICS = ("Voltage", "Current", "Temperature")
_RANGES = {"Voltage": (1.0, 5.0), "Current": (5.0, 20.0), "Temperature": (10.0, 40.0)}
# The reference keeps no traffic record (its only sample is 4 lines), so
# the mix below is synthetic. perfbench/README.md says where each figure
# comes from.
#: Shares of lines that are blank (skipped by gate and silver) and that
#: carry scientific-notation values (pass the gate, dropped by silver).
BLANK_SHARE = 0.01
SCI_SHARE = 0.02
#: Share of a live batch's lines that are late, spread over
#: ``LATE_PER_BATCH`` of the ``LATE_DAYS`` days before the live day.
LATE_SHARE = 0.15
LATE_DAYS = 7
LATE_PER_BATCH = 2
#: Live write units (post_hourly cycles, stream files) per live day.
UNITS_PER_DAY = 4

#: post_hourly: history, POSTs per cycle and lines per POST.
HISTORY_DAYS = 21
HISTORY_LINES = 1500
POSTS_PER_CYCLE = 2
LINES_PER_POST = 500
WARMUP_CYCLES = 2
CYCLE_NOMINAL_S = 7.0
#: stream_drop: lines per dropped file (one micro-batch each) and the
#: warm-up files an earlier query drains.
LINES_PER_FILE = 2000
WARMUP_FILES = 5
BATCH_NOMINAL_S = 6.0
#: GET window widths in days, used in rotation; 0 is an empty range
#: before the history.
WINDOW_WIDTHS = (7, 30, 1, 0)

def iso(day: int) -> str:
    return (date(1970, 1, 1) + timedelta(days=day)).isoformat()


def epoch_day(iso_date: str) -> int:
    return (date.fromisoformat(iso_date) - date(1970, 1, 1)).days


@dataclass
class Expected:
    """Running model of silver and gold, fed with every line ingested."""

    rows: dict[int, int] = field(default_factory=dict)  # day -> silver rows
    sums: dict[tuple[int, str], list[float]] = field(default_factory=dict)

    def add(self, day: int, metric: str | None, value: float) -> None:
        if metric is None:
            return
        self.rows[day] = self.rows.get(day, 0) + 1
        acc = self.sums.setdefault((day, metric), [0, 0.0])
        acc[0] += 1
        acc[1] += value

    def gold(self, day: int) -> float | None:
        v, c = self.sums.get((day, "Voltage")), self.sums.get((day, "Current"))
        if not v or not c:
            return None
        return (v[1] / v[0]) * (c[1] / c[0])

    def get_rows(self, first: int, last: int) -> int:
        """Row count of ``GET /data?from=first&to=last`` (inclusive days)."""
        days = range(first, last + 1)
        return sum(self.rows.get(d, 0) for d in days) + sum(
            self.gold(d) is not None for d in days
        )

    def silver_rows(self) -> int:
        return sum(self.rows.values())


@dataclass
class Batch:
    """One write unit: lines with their days and silver fate."""

    lines: list[str]
    days: list[int]
    kept: list[tuple[str | None, float]]

    def feed(self, model: Expected) -> None:
        for day, (metric, value) in zip(self.days, self.kept):
            model.add(day, metric, value)

    def text(self) -> bytes:
        """The batch as a dropped file: one line per reading."""
        return ("\n".join(self.lines) + "\n").encode()

    def nbytes(self) -> int:
        return len(self.text())

    def accepted(self) -> int:
        """Lines the ingest gate persists to bronze (non-blank)."""
        return sum(1 for ln in self.lines if ln.strip())

    def silver(self) -> list[tuple[int, str]]:
        """(day, metric) of every line silver keeps."""
        return [(d, m) for d, (m, _v) in zip(self.days, self.kept) if m]

    def span(self) -> tuple[int, int]:
        """First and last day of the batch's non-blank lines."""
        days = [d for d, ln in zip(self.days, self.lines) if ln.strip()]
        return min(days), max(days)


def batch(rng: random.Random, days: list[int]) -> Batch:
    """Lines for the given days (one line each, in the given order), with
    exact shares of blank and scientific-notation lines."""
    n = len(days)
    kinds = ["blank"] * round(n * BLANK_SHARE) + ["sci"] * round(n * SCI_SHARE)
    kinds += ["ok"] * (n - len(kinds))
    rng.shuffle(kinds)
    lines, kept = [], []
    for day, kind in zip(days, kinds):
        if kind == "blank":
            lines.append("   " if rng.random() < 0.5 else "")
            kept.append((None, 0.0))
            continue
        ts = day * 86400 + rng.randrange(86400)
        name = rng.choice(METRICS)
        value = rng.uniform(*_RANGES[name])
        if kind == "sci":
            lines.append(f"{ts} {name} {value:.3e}")
            kept.append((None, 0.0))
        else:
            text = f"{value:.4f}"
            lines.append(f"{ts} {name} {text}")
            kept.append((name, float(text)))
    return Batch(lines, days, kept)


def live_days(rng: random.Random, unit: int, n: int, late: list[int]) -> list[int]:
    """Days of ``n`` lines of live write unit ``unit``: the unit's live day,
    except an exact ``LATE_SHARE`` spread evenly over the ``late`` days."""
    day = DAY0 + unit // UNITS_PER_DAY
    n_late = round(n * LATE_SHARE)
    days = [day] * (n - n_late) + [day - late[i % len(late)] for i in range(n_late)]
    rng.shuffle(days)
    return days


def late_offsets(rng: random.Random) -> list[int]:
    return rng.sample(range(1, LATE_DAYS + 1), LATE_PER_BATCH)


def window(rng: random.Random, k: int, first: int, settled: int,
           last: int) -> tuple[int, int]:
    """The ``k``-th GET range over the days [first, last]. Its width comes
    from ``WINDOW_WIDTHS`` in rotation; 0 is an empty range before
    ``first``. A window that fits in the settled days [first, settled],
    which no late line reaches, starts on a seeded day there, so its row
    count does not depend on the seed. A wider one ends on ``last``."""
    width = WINDOW_WIDTHS[k % len(WINDOW_WIDTHS)]
    if width == 0:
        start = first - 400 - rng.randrange(30)
        return start, start + 6
    if width > settled - first + 1:
        return max(first, last - width + 1), last
    start = first + rng.randrange(settled - first + 2 - width)
    return start, start + width - 1


def post_hourly_inputs(rng: random.Random, seconds: int):
    """(history, cycles): the bulk-loaded history batch, then per cycle
    its POST batches and one GET window over the days so far. The
    cycle count follows ``seconds`` by a fixed nominal cycle cost."""
    n_cycles = WARMUP_CYCLES + max(2, round(seconds / CYCLE_NOMINAL_S))
    first = DAY0 - HISTORY_DAYS
    hist_days = [first + i % HISTORY_DAYS for i in range(HISTORY_LINES)]
    rng.shuffle(hist_days)
    history = batch(rng, hist_days)
    cycles = []
    for c in range(n_cycles):
        late = late_offsets(rng)
        posts = [
            batch(rng, live_days(rng, c, LINES_PER_POST, late))
            for _ in range(POSTS_PER_CYCLE)
        ]
        live = DAY0 + c // UNITS_PER_DAY
        cycles.append((posts, window(rng, c, first, DAY0 - LATE_DAYS - 1, live)))
    return history, cycles


def stream_drop_inputs(rng: random.Random, seconds: int):
    """(file batches, GET windows): warm-up files first, then the
    measured ones, one micro-batch each; the windows are read after the
    drain, one of each width, each ending on the last day. (Late lines
    reach every day, so no window start is seeded.)"""
    n_files = WARMUP_FILES + max(3, round(seconds / BATCH_NOMINAL_S))
    files = [
        batch(rng, live_days(rng, i, LINES_PER_FILE, late_offsets(rng)))
        for i in range(n_files)
    ]
    first, last = DAY0 - LATE_DAYS, DAY0 + (n_files - 1) // UNITS_PER_DAY
    gets = [window(rng, k, first, first - 1, last) for k in range(len(WINDOW_WIDTHS))]
    return files, gets
