"""Seeded per-machine log generator for the ``maplejuice_sdfs`` workload.

Each machine file holds lines of the form::

    2026-10-01T00:00:07 ERROR svc=payments req=ff03a2c1 connection reset

The generator knows every line's level, service and request id, so it
returns the exact answer each Engine op must produce. The Engine ops are
checked against these answers, with no second engine involved. Messages
are lower-case and levels upper-case, so the regexes below can only
match the field they are written for.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

LEVELS = ("DEBUG", "INFO", "WARN", "ERROR", "FATAL")
SERVICES = ("auth", "billing", "search", "storage", "gateway", "payments")
MESSAGES = (
    "request served",
    "cache miss",
    "retrying upstream",
    "connection reset",
    "slow query",
    "user login",
    "token refreshed",
    "disk usage high",
)

#: Levels the maple function keys on: the alert priorities.
ALERT_LEVELS = ("WARN", "ERROR", "FATAL")

#: ``select`` regex: request ids whose top byte is 0xff (~1/256 of lines).
SELECT_REGEX = "req=ff"
#: ``grep`` mode ``c`` regex: errors of one service.
GREP_COUNT_REGEX = " ERROR svc=payments "
#: ``grep`` mode ``m`` regex: warnings and errors, counted per machine.
GREP_MACHINE_REGEX = " (WARN|ERROR) "

#: maple exe: one ``service\t1`` pair per ERROR or FATAL line.
MAPLE_AWK = """awk '$2 == "ERROR" || $2 == "FATAL" { split($3, a, "="); print a[2] "\\t1" }'"""
#: juice exe: per-key sum of the values of the reducer's lines.
JUICE_AWK = """awk -F'\\t' '{ s[$1] += $2 } END { for (k in s) print k "\\t" s[k] }'"""


@dataclass
class Expected:
    """The answer every Engine op of one pass must produce."""

    lines: int = 0
    bytes: int = 0
    #: maple/juice: lines per alert level.
    alerts_per_level: dict[str, int] = field(default_factory=dict)
    #: maple_exe/juice_exe: ERROR+FATAL lines per service.
    errors_per_service: dict[str, int] = field(default_factory=dict)
    select_rows: int = 0
    grep_count: int = 0
    #: grep mode ``m``: matched lines per machine file name.
    grep_per_machine: dict[str, int] = field(default_factory=dict)


def _level_weights(machine: int) -> np.ndarray:
    """Per-machine level mix, so per-machine counts differ."""
    w = np.array([0.30, 0.48, 0.12, 0.08, 0.02])
    w[3] *= 1.0 + 0.25 * machine
    return w / w.sum()


def machine_file(machine: int) -> str:
    return f"machine-{machine:02d}.log"


def generate(out_dir: str, seed: int, machines: int, lines: int) -> Expected:
    """Write ``machines`` log files of ``lines`` lines into ``out_dir``
    and return the expected answers. Same seed, same files."""
    os.makedirs(out_dir, exist_ok=True)
    exp = Expected(
        alerts_per_level={lv: 0 for lv in ALERT_LEVELS},
        errors_per_service={s: 0 for s in SERVICES},
    )
    level_txt = [f"{lv:<5}" for lv in LEVELS]
    error, fatal, payments = LEVELS.index("ERROR"), LEVELS.index("FATAL"), SERVICES.index("payments")
    for m in range(machines):
        rng = np.random.default_rng([seed, m])
        lv = rng.choice(len(LEVELS), size=lines, p=_level_weights(m))
        sv = rng.integers(0, len(SERVICES), size=lines)
        req = rng.integers(0, 2**32, size=lines, dtype=np.uint64)
        msg = rng.integers(0, len(MESSAGES), size=lines)
        secs = np.sort(rng.integers(0, 86_400, size=lines))
        text = "".join(
            f"2026-10-01T{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d} {level_txt[a]} "
            f"svc={SERVICES[b]} req={r:08x} {MESSAGES[c]}\n"
            for s, a, b, r, c in zip(secs.tolist(), lv.tolist(), sv.tolist(), req.tolist(), msg.tolist())
        )
        with open(os.path.join(out_dir, machine_file(m)), "w") as f:
            f.write(text)
        exp.lines += lines
        exp.bytes += len(text)
        counts = np.bincount(lv, minlength=len(LEVELS))
        for name in ALERT_LEVELS:
            exp.alerts_per_level[name] += int(counts[LEVELS.index(name)])
        is_err = (lv == error) | (lv == fatal)
        for i, s in enumerate(SERVICES):
            exp.errors_per_service[s] += int(np.count_nonzero(is_err & (sv == i)))
        exp.select_rows += int(np.count_nonzero((req >> 24) == 0xFF))
        exp.grep_count += int(np.count_nonzero((lv == error) & (sv == payments)))
        exp.grep_per_machine[machine_file(m)] = int(
            np.count_nonzero((lv == error) | (lv == LEVELS.index("WARN")))
        )
    return exp

