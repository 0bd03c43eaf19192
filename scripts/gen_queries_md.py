"""Regenerate QUERIES.md from the registry — one row per query, in
``QUERIES`` order: name, oracle status, and the first docstring
sentence.

Usage: python scripts/gen_queries_md.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The correctness gate hash-checks the first 50 rows of ``QUERIES``; one
# row marks the cut, as a comment does in plans/registry.py.  Rows carry no
# numbers, so moving a row changes two lines of the file, not all of
# them.
CUT_ROW = "| **end of the hash-checked window** | | the rows above are the first 50 |"


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    m = re.match(r"(.+?\.)(\s|$)", text)
    out = m.group(1) if m else text
    if len(out) > 220:  # cut at a word boundary, mark the cut
        out = out[:220].rsplit(" ", 1)[0] + " …"
    return out


def main() -> None:
    from aws_cdk_pipelines_datalake_etl_spark.plans.registry import build_registry

    reg = build_registry()
    lines = [
        "# QUERIES — the registry, one line per entry",
        "",
        "Generated by `scripts/gen_queries_md.py`; do not edit by hand.",
        "Every `oracle` row is hash-compared against DuckDB at sf0.01 by the",
        "driver (and locally by `scripts/oracle_check.py`); `rows-only` rows",
        "are approximate/scale-path operators whose exact output is not",
        "SQL-expressible.",
        "",
        "Capstone tiering (round 10 policy, VERDICT r9 #5): the three",
        "`corpus_training_set*` entries are COMPLEMENTARY end-to-end",
        "compositions, not versions of one query — v1 exercises the",
        "dedup-centric path (quality gate + near-dup cluster collapse +",
        "split routing), v2 the quality/classifier path (confident langid",
        "+ distilled one-step-GD classifier), v3 the select/augment/pack",
        "path (DSIR selection + FIM + EOD packing).  All three stay; none",
        "is in the bench headline set (their component operators are",
        "benched individually).",
        "",
        f"{len(reg)} queries, "
        f"{sum(1 for v in reg.values() if v.oracle)} oracle-checked.",
        "",
        "| query | check | what it is |",
        "|---|---|---|",
    ]
    for i, (name, spec) in enumerate(reg.items()):
        if i == 50:
            lines.append(CUT_ROW)
        check = "oracle" if spec.oracle else "rows-only"
        desc = first_sentence(spec.fn.__doc__).replace("|", "\\|")
        lines.append(f"| `{name}` | {check} | {desc} |")
    out = os.path.join(os.path.dirname(os.path.dirname(__file__)), "QUERIES.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(reg)} queries")


if __name__ == "__main__":
    main()
