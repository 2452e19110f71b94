"""The seeded ingest input: a gzip CSV shaped like NYC-TLC green taxi data.

``build_taxi_csv(root, seed, rows)`` writes the 20-column CSV that
``plans.etl.main_flow`` reads. About 2% of ``passenger_count`` values
are ``0`` and about 1% are blank, as in the real monthly files. The
file is cached on disk by (seed, rows). Generation uses numpy only,
never Spark.

The query operators read the project's own fixture tables, which the
benchmark ships in ``data/`` (see README.md); nothing here makes them.
"""

from __future__ import annotations

import gzip
import json
import os

import numpy as np

TAXI_COLUMNS = (
    "VendorID", "lpep_pickup_datetime", "lpep_dropoff_datetime",
    "store_and_fwd_flag", "RatecodeID", "PULocationID", "DOLocationID",
    "passenger_count", "trip_distance", "fare_amount", "extra", "mta_tax",
    "tip_amount", "tolls_amount", "ehail_fee", "improvement_surcharge",
    "total_amount", "payment_type", "trip_type", "congestion_surcharge",
)


def build_taxi_csv(root: str, seed: int, rows: int) -> dict:
    """Write (or reuse) the seeded green-taxi gzip CSV; return its facts.

    The returned dict holds the path and the counts the ETL check needs:
    ``rows``, ``zeros`` (passenger_count == 0) and ``blanks`` (empty
    passenger_count).
    """
    path = os.path.join(root, f"green_tripdata_s{seed}_r{rows}.csv.gz")
    meta_path = path + ".json"
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    rng = np.random.default_rng([seed, rows])
    start = np.datetime64("2019-11-01T00:00:00", "s").astype("int64")
    pick = start + rng.integers(0, 30 * 86_400, rows)
    drop = pick + rng.integers(60, 3_600, rows)
    u = rng.random(rows)
    zero = u < 0.02
    blank = (u >= 0.02) & (u < 0.03)
    pc = rng.integers(1, 7, rows).astype(str).astype(object)
    pc[zero] = "0"
    pc[blank] = ""
    fare = np.round(rng.uniform(2.5, 60.0, rows), 2)
    tip = np.round(fare * rng.uniform(0.0, 0.3, rows), 2)

    def stamp(s: np.ndarray) -> np.ndarray:
        return np.datetime_as_string(s.astype("datetime64[s]"), unit="s").astype(object)

    cols = {
        "VendorID": rng.integers(1, 3, rows).astype(str).astype(object),
        "lpep_pickup_datetime": np.char.replace(stamp(pick).astype(str), "T", " ").astype(object),
        "lpep_dropoff_datetime": np.char.replace(stamp(drop).astype(str), "T", " ").astype(object),
        "store_and_fwd_flag": np.where(rng.random(rows) < 0.01, "Y", "N").astype(object),
        "RatecodeID": rng.integers(1, 6, rows).astype(str).astype(object),
        "PULocationID": rng.integers(1, 266, rows).astype(str).astype(object),
        "DOLocationID": rng.integers(1, 266, rows).astype(str).astype(object),
        "passenger_count": pc,
        "trip_distance": np.round(rng.exponential(3.0, rows), 2).astype(str).astype(object),
        "fare_amount": fare.astype(str).astype(object),
        "extra": np.where(rng.random(rows) < 0.5, "0.5", "0.0").astype(object),
        "mta_tax": np.full(rows, "0.5", dtype=object),
        "tip_amount": tip.astype(str).astype(object),
        "tolls_amount": np.where(rng.random(rows) < 0.05, "6.12", "0.0").astype(object),
        "ehail_fee": np.full(rows, "", dtype=object),
        "improvement_surcharge": np.full(rows, "0.3", dtype=object),
        "total_amount": np.round(fare + tip + 1.3, 2).astype(str).astype(object),
        "payment_type": rng.integers(1, 5, rows).astype(str).astype(object),
        "trip_type": rng.integers(1, 3, rows).astype(str).astype(object),
        "congestion_surcharge": np.where(rng.random(rows) < 0.3, "2.75", "0.0").astype(object),
    }
    body = np.full(rows, "", dtype=object)
    for i, name in enumerate(TAXI_COLUMNS):
        body = body + cols[name] if i == 0 else body + "," + cols[name]
    os.makedirs(root, exist_ok=True)
    tmp = path + ".tmp"
    with gzip.open(tmp, "wt", compresslevel=6, newline="") as f:
        f.write(",".join(TAXI_COLUMNS) + "\n")
        f.write("\n".join(body.tolist()))
        f.write("\n")
    os.replace(tmp, path)
    meta = {
        "path": path,
        "seed": seed,
        "rows": rows,
        "zeros": int(zero.sum()),
        "blanks": int(blank.sum()),
        "bytes": os.path.getsize(path),
    }
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return meta
