"""The full-registry oracle sweep as an automated gate (ADVICE r3):
the driver's correctness window samples only the first 50 queries;
this test keeps every out-of-window query under oracle coverage so a
regression there cannot pass the round silently.

Marked ``slow`` — it runs every registry entry at sf0.01 and compares
each one that has an oracle against DuckDB (the same comparison
scripts/oracle_check.py prints; its per-query log is still the
artifact committed as ORACLE_LOCAL.md).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))


@pytest.mark.slow
def test_full_registry_matches_oracle(spark):
    import oracle_check

    assert oracle_check.main(argv=[], spark=spark) == 0
