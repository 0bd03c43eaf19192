"""Run the full-registry oracle sweep and regenerate ORACLE_LOCAL.md
(the committed evidence table; the same sweep gates pytest via
tests/test_oracle_full.py).

Usage: python scripts/gen_oracle_local.py ["run note"]
Exit code: the sweep's (non-zero on any failure).
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import scripts.oracle_check as oc  # noqa: E402

LINE = re.compile(
    r"^(ok|skip|FAIL)\s+(\S+?):\s+(.*?)\s*(?:\[\d+\.\ds\])?$"
)


def main() -> int:
    note = sys.argv[1] if len(sys.argv) > 1 else ""
    buf = io.StringIO()

    class Tee(io.TextIOBase):
        def write(self, s: str) -> int:  # live progress + capture
            buf.write(s)
            sys.__stdout__.write(s)
            return len(s)

    t0 = time.time()
    with contextlib.redirect_stdout(Tee()):
        rc = oc.main(argv=[])
    sweep_s = time.time() - t0

    rows, n_ok, n_skip, n_fail = [], 0, 0, 0
    for raw in buf.getvalue().splitlines():
        m = LINE.match(raw.strip())
        if not m:
            continue
        status, name, detail = m.groups()
        n_ok += status == "ok"
        n_skip += status == "skip"
        n_fail += status == "FAIL"
        rows.append(f"| {name} | {status} | {detail} |")

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "ORACLE_LOCAL.md",
    )
    with open(out, "w") as f:
        f.write(
            "# ORACLE_LOCAL — full-registry DuckDB cross-check "
            "(local replica of the driver gate)\n\n"
            "Produced by `python scripts/gen_oracle_local.py` at sf0.01 over "
            "ALL registry\nentries (the driver's CORRECTNESS file records "
            "only the first 50 — the\nwindow is the first 50 rows of "
            "`QUERIES` in plans/registry.py, rotated per round;\nthis "
            "same sweep also runs inside the test suite as\n"
            "`tests/test_oracle_full.py`, so "
            "out-of-window regressions fail pytest).\n"
            f"{('Run: ' + note + chr(10)) if note else ''}"
            f"Totals: {n_ok} exact hash-matches, {n_skip} rows-only "
            "(approximate operators whose\nexact output is not "
            f"SQL-expressible), {n_fail} failures.\n"
            f"Sweep time: {sweep_s:.0f} s on {os.cpu_count()} CPUs.\n\n"
            "| query | result | detail |\n|---|---|---|\n"
        )
        f.write("\n".join(rows) + "\n")
    print(f"wrote {out}: {n_ok} ok / {n_skip} rows-only / {n_fail} fail")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
