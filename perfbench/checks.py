"""Output checks.  Every check is one operation in the run's ledger: a
check that fails counts as a failed operation, like an operation that
raised."""

from __future__ import annotations

import sys

from taxi import MONEY, Expected


class Ledger:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, problems: list[str], what: str) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"FAILED {what}: {'; '.join(problems)}", file=sys.stderr)


def cents(x) -> int | None:
    return None if x is None else round(float(x) * 100)


def check_sums(label: str, expected: Expected, rows: int, money: dict) -> list[str]:
    """Row count and money sums (to the cent) against the generator."""
    problems = []
    if rows != expected.good_rows:
        problems.append(f"{label} rows {rows} != {expected.good_rows}")
    for col in MONEY:
        got = cents(money.get(col))
        if got != expected.cents.get(col):
            problems.append(f"{label} {col} {got} != {expected.cents.get(col)} cents")
    return problems


def check_status(latest: list[tuple[str, str]], events: list[int], files: int) -> list[str]:
    """``latest``: (execution_id, status) per execution; ``events``: the
    number of audit events of each execution."""
    problems = []
    if len(latest) != files:
        problems.append(f"{len(latest)} executions != {files} files")
    bad = [s for _, s in latest if s != "SUCCEEDED"]
    if bad:
        problems.append(f"{len(bad)} executions not SUCCEEDED: {sorted(set(bad))}")
    if any(n != 2 for n in events) or len(events) != files:
        problems.append(f"audit events per execution {sorted(set(events))} != [2]")
    return problems
