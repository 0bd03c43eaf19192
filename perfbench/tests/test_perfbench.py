"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import lakegen  # noqa: E402
from checks import Ledger, check_status, check_sums  # noqa: E402
from stats import digest, geomean, tail  # noqa: E402
from taxi import HEADER, MALFORMED_PER_FILE, Expected, taxi_csv  # noqa: E402
from spans import Span, Tracer, self_time  # noqa: E402
from workloads import QUERIES, Context, query_mix  # noqa: E402


def test_same_seed_gives_identical_csv_bytes():
    a, exp = taxi_csv(7, 500, day=3)
    b, _ = taxi_csv(7, 500, day=3)
    assert a == b
    assert taxi_csv(8, 500, day=3)[0] != a
    lines = a.decode().splitlines()
    assert lines[0] == HEADER
    rows = [line.split(",") for line in lines[1:]]
    good = [r for r in rows if len(r) == 18]
    assert len(rows) - len(good) == MALFORMED_PER_FILE
    assert exp.good_rows == len(good) == 500 and exp.raw_bytes == len(a)
    assert all(r[17] == "" for r in good)  # all-empty congestion_surcharge
    assert any(r[0] == "" for r in good)  # some null VendorID
    assert exp.cents["total_amount"] == sum(round(float(r[16]) * 100) for r in good)


def test_tail_needs_ten_samples_beyond_it():
    assert tail([]) is None
    assert tail([1.0] * 10) is None
    assert tail([float(x) for x in range(1, 12)]) == (100 / 11, 1.0)
    pct, value = tail([float(x) for x in range(100)])
    assert (pct, value) == (90.0, 89.0)


def test_geomean_weighs_every_operation_alike():
    assert geomean([]) == 0.0
    assert abs(geomean([1.0, 4.0]) - 2.0) < 1e-12
    # halving any one of three values scales the mean by the same factor
    base = geomean([0.5, 1.0, 8.0])
    assert abs(geomean([0.25, 1.0, 8.0]) / base - geomean([0.5, 1.0, 4.0]) / base) < 1e-12


def test_self_time_is_span_minus_child_coverage():
    parent = Span(0, "p", None, start=0.0, end=10.0)
    parent.children = [
        Span(1, "a", 0, start=1.0, end=3.0),
        Span(2, "b", 0, start=2.0, end=4.0),  # overlaps a: [1, 4] is covered once
        Span(3, "c", 0, start=9.0, end=12.0),  # clipped to the parent's end
    ]
    assert self_time(parent) == 10.0 - 3.0 - 1.0
    assert self_time(parent.children[0]) == 2.0


def test_tracer_nests_spans_without_spark():
    tracer = Tracer()
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
    outer, inner = tracer.spans
    assert inner.parent == outer.id and outer.children == [inner]
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_digest_does_not_depend_on_row_or_column_order():
    df = pd.DataFrame({"k": [3, 1, 2], "v": [0.5, 1.5, 2.5], "s": ["c", "a", "b"]})
    shuffled = df.sample(frac=1.0, random_state=1)[["s", "v", "k"]]
    assert digest(df) == digest(shuffled)
    changed = df.copy()
    changed.loc[0, "v"] = 0.25
    assert digest(changed) != digest(df)


def test_wrong_expected_answer_counts_as_failed_operation():
    observed = {"fare_amount": 12.34, "tip_amount": 1.0, "total_amount": 13.34}
    right = Expected(2, 100, {"fare_amount": 1234, "tip_amount": 100, "total_amount": 1334})
    wrong = Expected(2, 100, {"fare_amount": 1234, "tip_amount": 100, "total_amount": 1335})
    ledger = Ledger()
    ledger.record(check_sums("lake", right, 2, observed), "right")
    ledger.record(check_sums("lake", wrong, 2, observed), "wrong cents")
    ledger.record(check_sums("lake", right, 3, observed), "wrong rows")
    ledger.record(check_status([("e1", "SUCCEEDED")], [2], 1), "status ok")
    ledger.record(check_status([("e1", "FAILED")], [2], 1), "status failed")
    ledger.record(check_status([("e1", "SUCCEEDED")], [3], 1), "three events")
    assert (ledger.attempted, ledger.failed) == (6, 4)


def test_benchmark_json_lists_the_reported_metrics():
    from run import E2E_UNITS, LAYER_UNITS, WORKLOADS

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS
    assert tuple(w["name"] for w in spec["workloads"]) == WORKLOADS


def test_seed_permutes_rows_but_not_table_contents(tmp_path):
    import pyarrow.parquet as pq

    lakegen.write_tables(str(tmp_path / "a"), seed=1)
    lakegen.write_tables(str(tmp_path / "b"), seed=2)
    a = pq.read_table(tmp_path / "a" / "orders.parquet").to_pandas()
    b = pq.read_table(tmp_path / "b" / "orders.parquet").to_pandas()
    src = pq.read_table(os.path.join(lakegen.SOURCE_DIR, "orders.parquet")).to_pandas()
    assert not a.equals(b)
    assert digest(a) == digest(b) == digest(src)
    assert sorted(os.listdir(tmp_path / "a")) == sorted(os.listdir(lakegen.SOURCE_DIR))


def test_query_mix_ends_when_every_query_fails(monkeypatch):
    from types import SimpleNamespace

    from aws_cdk_pipelines_datalake_etl_spark.plans import registry

    def broken(spark, sf_dir):
        raise RuntimeError("no such table")

    monkeypatch.setattr(
        registry, "build_registry", lambda: {n: SimpleNamespace(fn=broken) for n in QUERIES}
    )
    ctx = Context(spark=None, seed=1, seconds=0.0, work_dir="", tracer=None)
    query_mix(ctx, "missing")
    assert ctx.ledger.attempted == ctx.ledger.failed == len(QUERIES)
    assert ctx.e2e == {"op_geomean_s": 0.0, "total_s": 0}
