"""Seeded input generators for the benchmark's workloads.

Two input families:

* :func:`mimic_tables` — the MIMIC-shaped icustays / admissions /
  patients / chartevents tables the pipeline workloads feed to
  ``run_pipeline``. At ``seed=0`` it reproduces ``bench._e2e_tables``
  row for row (same SQL, same xxhash64 salts), so numbers taken at the
  same shape stay comparable with the repo's older bench artifacts.
  Every other seed shifts all salts by ``SALT_STRIDE * seed``, which
  keeps the shape (row counts, value ranges, null pattern) and changes
  every generated value.
* :func:`write_mix_tables` — the four testdata-shaped tables (customer,
  documents, events, lineitem) the query mix reads, generated with
  NumPy from the seed and written with pyarrow in the testdata schemas.

Both are pure functions of ``(seed, size)``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# xxhash64 salts in bench._e2e_tables run 1..10; a stride above that
# keeps every seed's salt set disjoint from every other seed's.
SALT_STRIDE = 16
EVENTS_PER_STAY = 100


def mimic_tables(spark, seed: int, n_stays: int) -> dict:
    """Lazy MIMIC-shaped tables: ``n_stays`` ICU stays over
    ``n_stays // 2`` subjects and ``EVENTS_PER_STAY`` chart events per
    stay (three itemids, ~2% outliers at 9999, ~3% rows in a minority
    unit spelling). Same SQL as ``bench._e2e_tables``."""
    n_subjects = max(500, n_stays // 2)
    off = SALT_STRIDE * int(seed)

    def salt(k: int) -> int:
        return k + off

    base = "to_timestamp('2150-01-01 00:00:00')"
    admit = (
        f"timestamp_seconds(unix_timestamp({base})"
        f" + pmod(xxhash64(stay_id, {salt(1)}), {300 * 86400}))"
    )
    los_h = f"CAST(pmod(xxhash64(stay_id, {salt(2)}), 264) + 24 AS INT)"
    icustays = spark.range(n_stays).selectExpr(
        "id AS stay_id",
        # the subject hash is unsalted in the reference generator
        f"pmod(xxhash64(id, {off}), {n_subjects}) AS subject_id"
        if off
        else f"pmod(xxhash64(id), {n_subjects}) AS subject_id",
    ).selectExpr(
        "subject_id",
        "stay_id AS hadm_id",
        "stay_id",
        f"{admit} AS intime",
        f"timestamp_seconds(unix_timestamp({admit})"
        f" + CAST({los_h} AS BIGINT) * 3600) AS outtime",
        f"{los_h} / 24.0D AS los",
    )
    admissions = icustays.selectExpr(
        "subject_id",
        "hadm_id",
        "intime AS admittime",
        "outtime AS dischtime",
        "CAST(NULL AS TIMESTAMP) AS deathtime",
        f"CAST(pmod(xxhash64(hadm_id, {salt(3)}), 20) = 0 AS INT)"
        " AS hospital_expire_flag",
        "'Private' AS insurance",
        "'OTHER' AS ethnicity",
    )
    patients = icustays.select("subject_id").distinct().selectExpr(
        "subject_id",
        f"CASE WHEN pmod(xxhash64(subject_id, {salt(4)}), 2) = 0 THEN 'M'"
        " ELSE 'F' END AS gender",
        f"CAST(pmod(xxhash64(subject_id, {salt(5)}), 85) + 5 AS INT) AS anchor_age",
        "CAST(2150 AS INT) AS anchor_year",
        "'2008 - 2010' AS anchor_year_group",
        "CAST(NULL AS TIMESTAMP) AS dod",
    )
    events = (
        spark.range(n_stays * EVENTS_PER_STAY)
        .selectExpr(
            f"CAST(id / {EVENTS_PER_STAY} AS BIGINT) AS stay_id", "id AS eid"
        )
        .join(icustays.select("stay_id", "intime", "los"), "stay_id")
        .selectExpr(
            "stay_id",
            "timestamp_seconds(unix_timestamp(intime)"
            f" + pmod(xxhash64(eid, {salt(6)}), CAST(los * 86400 + 14400 AS BIGINT))"
            " - 7200) AS charttime",
            f"pmod(xxhash64(eid, {salt(7)}), 3) + 220045 AS itemid",
            f"CASE WHEN pmod(xxhash64(eid, {salt(8)}), 50) = 0 THEN 9999.0D"
            f" ELSE 70.0D + pmod(xxhash64(eid, {salt(9)}), 2000) / 100.0D END"
            " AS valuenum",
            f"CASE WHEN pmod(xxhash64(eid, {salt(10)}), 30) = 0 THEN 'BPM'"
            " ELSE 'bpm' END AS valueuom",
        )
    )
    return {
        "visits": icustays,
        "patients": patients,
        "admissions": admissions,
        "events": events,
    }


def write_mimic_tables(spark, seed: int, n_stays: int, out_dir: str) -> dict:
    """Write :func:`mimic_tables` to parquet under ``out_dir``; returns
    each table's schema for :func:`read_mimic_tables`."""
    schemas = {}
    for name, df in mimic_tables(spark, seed, n_stays).items():
        df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
        schemas[name] = df.schema
    return schemas


def read_mimic_tables(spark, out_dir: str, schemas: dict) -> dict:
    """Schema-full readers over the files :func:`write_mimic_tables`
    wrote (no footer inference on the driver)."""
    return {
        name: spark.read.schema(schema).parquet(os.path.join(out_dir, name))
        for name, schema in schemas.items()
    }


# --- query-mix tables ------------------------------------------------------
# Shapes follow the repo's testdata at sf0.1 (TESTDATA.md): a ~30-word
# data-engineering vocabulary for documents with a few exact and near
# duplicates, `Customer#%09d` names, five event types with `{"k": n}`
# props, and TPC-H-like lineitem baskets.

WORDS = (
    "a the spark query table join key value row column data scan filter "
    "group agg sort hash window stream batch order customer part line "
    "vector fast slow big small merge"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def mix_sizes(scale: float) -> dict[str, int]:
    """Row counts of the mix tables; ``scale=1.0`` is testdata sf0.1."""
    return {
        "customer": int(15_000 * scale),
        "documents": int(5_000 * scale),
        "events": int(100_000 * scale),
        "lineitem": int(600_000 * scale),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(8, 90, size=n)
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=k)]) for k in lengths]
    # ~1% exact duplicates and ~1% one-word edits of an earlier document,
    # so the dedup and near-dup queries find real pairs
    for i in rng.choice(np.arange(1, n), size=max(1, n // 100), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    for i in rng.choice(np.arange(1, n), size=max(1, n // 100), replace=False):
        words = texts[int(rng.integers(0, i))].split()
        words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
        texts[i] = " ".join(words)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), size=n)]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, size=n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n), 2)),
            "c_mktsegment": pa.array(
                np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), size=n)]
            ),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    month_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, size=n)) + np.datetime64(
        "2024-01-01T00:00:00", "us"
    ).astype(np.int64)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, n // 66), size=n).astype(np.int64)),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), size=n)]
            ),
            "value": pa.array(np.round(rng.exponential(40.0, size=n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
        }
    )


def _lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    n_orders = max(1, n // 4)
    n_parts = max(1, n // 30)
    day_us = 86400 * 1_000_000
    ship = rng.integers(0, 2500, size=n) * day_us + np.datetime64(
        "1995-01-02T00:00:00", "us"
    ).astype(np.int64)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, size=n).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_parts, size=n).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, max(1, n // 600), size=n).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, size=n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, size=n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, size=n)]),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )


_MIX_BUILDERS = {
    "customer": _customer,
    "documents": _documents,
    "events": _events,
    "lineitem": _lineitem,
}


def write_mix_tables(seed: int, scale: float, out_dir: str) -> dict[str, int]:
    """Write the query-mix tables as ``<out_dir>/<name>.parquet`` (the
    layout every registered query reads) and return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for i, (name, n) in enumerate(mix_sizes(scale).items()):
        rng = np.random.default_rng([int(seed), i])
        table = _MIX_BUILDERS[name](rng, n)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
