"""Seeded yellow-taxi CSV generator with the answers the checks need.

Each file has the yellow-taxi header the reference pipeline ingests and
the features conform depends on:

- a fixed share of empty ``VendorID`` cells (the transform's COALESCE);
- an all-empty ``congestion_surcharge`` column (the NullType repair);
- a fixed count of short, malformed lines (DROPMALFORMED);
- about 265 pickup/drop-off zones and payment types 1-6.

Money is generated in whole cents, so the expected sums are exact
integers and the checks can compare them to the cent.
"""

from __future__ import annotations

import io
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

HEADER = (
    "VendorID,tpep_pickup_datetime,tpep_dropoff_datetime,passenger_count,"
    "trip_distance,RatecodeID,store_and_fwd_flag,PULocationID,DOLocationID,"
    "payment_type,fare_amount,extra,mta_tax,tip_amount,tolls_amount,"
    "improvement_surcharge,total_amount,congestion_surcharge"
)
NULL_VENDOR_SHARE = 0.03
MALFORMED_PER_FILE = 5
N_ZONES = 265
MONEY = ("fare_amount", "tip_amount", "total_amount")


@dataclass
class Expected:
    """What a correct ingest of the generated files must reproduce."""

    good_rows: int = 0
    raw_bytes: int = 0
    cents: dict[str, int] = field(default_factory=dict)

    def add(self, other: "Expected") -> None:
        self.good_rows += other.good_rows
        self.raw_bytes += other.raw_bytes
        for k, v in other.cents.items():
            self.cents[k] = self.cents.get(k, 0) + v


def taxi_csv(seed: int, n_rows: int, day: int = 0) -> tuple[bytes, Expected]:
    """One CSV file of ``n_rows`` good rows plus ``MALFORMED_PER_FILE``
    malformed lines; the same arguments give the same bytes."""
    rng = np.random.default_rng(seed)
    base = np.datetime64("2020-08-01T00:00:00", "s") + np.timedelta64(day, "D")
    pickup = base + rng.integers(0, 86_400, n_rows).astype("timedelta64[s]")
    dropoff = pickup + rng.integers(60, 3_600, n_rows).astype("timedelta64[s]")
    vendor = rng.integers(1, 3, n_rows).astype(np.int32)
    fare = rng.integers(250, 9_000, n_rows)
    extra = rng.choice([0, 50, 100], n_rows)
    mta = np.full(n_rows, 50)
    tip = np.where(rng.random(n_rows) < 0.6, rng.integers(0, 2_000, n_rows), 0)
    tolls = np.where(rng.random(n_rows) < 0.05, 612, 0)
    surcharge = np.full(n_rows, 30)
    total = fare + extra + mta + tip + tolls + surcharge
    table = pa.table(
        {
            "VendorID": pa.array(vendor, mask=rng.random(n_rows) < NULL_VENDOR_SHARE),
            "pickup": pa.array(pickup),
            "dropoff": pa.array(dropoff),
            "passenger_count": rng.integers(0, 7, n_rows).astype(np.int32),
            "trip_distance": rng.integers(10, 3_000, n_rows) / 100,
            "RatecodeID": rng.choice([1, 1, 1, 1, 2, 3, 4, 5, 6], n_rows).astype(np.int32),
            "store_and_fwd_flag": rng.choice(np.array(["N", "N", "N", "Y"]), n_rows),
            "PULocationID": rng.integers(1, N_ZONES + 1, n_rows).astype(np.int32),
            "DOLocationID": rng.integers(1, N_ZONES + 1, n_rows).astype(np.int32),
            "payment_type": rng.choice([1, 1, 1, 2, 2, 3, 4, 5, 6], n_rows).astype(np.int32),
            "fare_amount": fare / 100,
            "extra": extra / 100,
            "mta_tax": mta / 100,
            "tip_amount": tip / 100,
            "tolls_amount": tolls / 100,
            "improvement_surcharge": surcharge / 100,
            "total_amount": total / 100,
            "congestion_surcharge": pa.nulls(n_rows, pa.float64()),
        }
    )
    buf = io.BytesIO()
    pacsv.write_csv(
        table,
        buf,
        pacsv.WriteOptions(include_header=False, quoting_style="none"),
    )
    lines = buf.getvalue().split(b"\n")[:-1]
    for pos in sorted(rng.integers(0, n_rows, MALFORMED_PER_FILE), reverse=True):
        lines.insert(int(pos), b"not,a,valid,row")
    data = HEADER.encode() + b"\n" + b"\n".join(lines) + b"\n"
    cents = {"fare_amount": int(fare.sum()), "tip_amount": int(tip.sum()),
             "total_amount": int(total.sum())}
    return data, Expected(n_rows, len(data), cents)
