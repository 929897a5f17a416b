"""Seeded, Synthea-shaped raw input tables for the benchmark.

The shapes follow ``synthea2omop_etl_spark.benchgen`` table by table: the
same column names, the same all-string ingest contract and the same rows
per patient (2 encounters, 3 conditions, 2 medications, 2 procedures,
8 observations, 1 immunization, 1 device, 3 expense years; one
organization per 200 and one provider per 100 patients).  The seed
salts the values only -- identifiers, dates, codes, categories and
amounts -- so every seed yields the same row count per table.

Tables are generated with NumPy and written with pyarrow, so the engine
under test receives nothing but the parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per patient for each per-patient fact table
PER_PATIENT = {
    "encounters": 2,
    "conditions": 3,
    "medications": 2,
    "procedures": 2,
    "observations": 8,
    "immunizations": 1,
    "devices": 1,
    "patient_expenses": 3,
}

ALL_TABLES = (
    "patients", "encounters", "conditions", "medications", "procedures",
    "observations", "organizations", "providers", "immunizations",
    "devices", "patient_expenses",
)


def table_rows(n_patients: int) -> dict[str, int]:
    """Row count of every generated table -- independent of the seed."""
    rows = {"patients": n_patients}
    rows.update({t: k * n_patients for t, k in PER_PATIENT.items()})
    rows["organizations"] = max(1, n_patients // 200)
    rows["providers"] = max(1, n_patients // 100)
    return rows


def _uuids(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct lower-case 8-4-4-4-12 UUID strings."""
    while True:
        hi = rng.integers(0, 2**63, n, dtype=np.int64)
        lo = rng.integers(0, 2**63, n, dtype=np.int64)
        if len(np.unique(hi)) == n:
            break
    hx = [f"{a:016x}{b:016x}" for a, b in zip(hi.tolist(), lo.tolist())]
    return np.array(
        [f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}" for h in hx],
        dtype=object,
    )


def _dates(rng, n: int, start: str, span_days: int) -> np.ndarray:
    return np.datetime64(start) + rng.integers(0, span_days, n).astype(
        "timedelta64[D]"
    )


def _day_str(d: np.ndarray) -> np.ndarray:
    return d.astype("datetime64[D]").astype(str).astype(object)


def _ts_str(d: np.ndarray) -> np.ndarray:
    return np.char.add(d.astype("datetime64[D]").astype(str), " 00:00:00").astype(object)


def _num_str(x: np.ndarray) -> np.ndarray:
    return np.array([repr(float(v)) for v in x], dtype=object)


def _pick(rng, n: int, choices: tuple[str, ...]) -> np.ndarray:
    return np.array(choices, dtype=object)[rng.integers(0, len(choices), n)]


def make_raw_tables(n_patients: int, seed: int) -> dict[str, pa.Table]:
    """The eleven raw tables for ``n_patients`` patients under ``seed``."""
    rng = np.random.default_rng(seed)
    n = n_patients
    rows = table_rows(n)
    pat_ids = _uuids(rng, n)
    enc_ids = _uuids(rng, rows["encounters"])
    org_ids = _uuids(rng, rows["organizations"])
    prov_ids = _uuids(rng, rows["providers"])
    out: dict[str, dict[str, np.ndarray]] = {}

    out["patients"] = {
        "Id": pat_ids,
        "BIRTHDATE": _day_str(_dates(rng, n, "1940-01-01", 25000)),
        "DEATHDATE": np.where(rng.integers(0, 20, n) == 0, "2020-06-30", "").astype(object),
        "MARITAL": _pick(rng, n, ("M", "S", "D", "W")),
        "RACE": _pick(rng, n, ("white", "black", "asian", "native", "hawaiian", "other")),
        "ETHNICITY": _pick(rng, n, ("hispanic", "nonhispanic")),
        "GENDER": _pick(rng, n, ("M", "F")),
        "HEALTHCARE_EXPENSES": _num_str(rng.integers(0, 100000, n) / 100),
    }

    def fact(table: str):
        """(patient uuid, encounter uuid, event date, 0..999 value) per row;
        row i belongs to patient i mod n and encounter i mod 2n, like
        benchgen's ``fact``."""
        m = rows[table]
        idx = np.arange(m)
        h = rng.integers(0, 1000, m)
        return (pat_ids[idx % n], enc_ids[idx % rows["encounters"]],
                _dates(rng, m, "2010-01-01", 4000), h)

    pat, _, ts, h = fact("encounters")
    out["encounters"] = {
        "Id": enc_ids,
        "START": _ts_str(ts),
        "STOP": _ts_str(ts),
        "PATIENT": pat,
        "ENCOUNTERCLASS": np.array(
            ["ambulatory", "emergency", "inpatient", "wellness", "urgentcare",
             "outpatient"], dtype=object)[h % 6],
        "CODE": (h + 100000).astype(str).astype(object),
        "TOTAL_CLAIM_COST": _num_str(h / 2 + 50),
        "PAYER_COVERAGE": _num_str(h / 4),
    }
    pat, enc, ts, h = fact("conditions")
    out["conditions"] = {
        "START": _day_str(ts),
        "STOP": np.full(len(h), "", dtype=object),
        "PATIENT": pat,
        "ENCOUNTER": enc,
        "CODE": (h + 200000).astype(str).astype(object),
        "DESCRIPTION": np.full(len(h), "condition", dtype=object),
    }
    pat, enc, ts, h = fact("medications")
    out["medications"] = {
        "START": _ts_str(ts),
        "STOP": np.full(len(h), "", dtype=object),
        "PATIENT": pat,
        "ENCOUNTER": enc,
        "CODE": (h + 300000).astype(str).astype(object),
        "TOTALCOST": _num_str(h / 3),
        "PAYER_COVERAGE": _num_str(h / 6),
        "DISPENSES": (h % 5).astype(str).astype(object),
    }
    pat, enc, ts, h = fact("procedures")
    out["procedures"] = {
        "DATE": _ts_str(ts),
        "PATIENT": pat,
        "ENCOUNTER": enc,
        "CODE": (h + 400000).astype(str).astype(object),
        "BASE_COST": _num_str(h / 5),
    }
    pat, enc, ts, h = fact("observations")
    text = h % 4 == 3
    out["observations"] = {
        "DATE": _ts_str(ts),
        "PATIENT": pat,
        "ENCOUNTER": enc,
        "CATEGORY": np.array(
            ["vital-signs", "laboratory", "survey", "social-history"],
            dtype=object)[h % 4],
        "CODE": np.array(
            ["8302-2", "8867-4", "8480-6", "2093-3", "72166-2"],
            dtype=object)[h % 5],
        "VALUE": np.where(text, "Never smoker", _num_str(h / 7)).astype(object),
        "UNITS": np.full(len(h), "cm", dtype=object),
        "TYPE": np.where(text, "text", "numeric").astype(object),
    }
    k = rows["organizations"]
    out["organizations"] = {
        "Id": org_ids,
        "NAME": np.array([f"Org {i}" for i in range(k)], dtype=object),
        "CITY": np.full(k, "Boston", dtype=object),
        "LAT": np.full(k, "42.36", dtype=object),
        "LON": np.full(k, "-71.06", dtype=object),
        "REVENUE": rng.integers(0, 1000000, k).astype(str).astype(object),
        "UTILIZATION": rng.integers(0, 500, k).astype(str).astype(object),
    }
    k = rows["providers"]
    out["providers"] = {
        "Id": prov_ids,
        "ORGANIZATION": org_ids[np.arange(k) % len(org_ids)],
        "NAME": np.array([f"Dr {i}" for i in range(k)], dtype=object),
        "GENDER": _pick(rng, k, ("M", "F")),
        "SPECIALITY": np.full(k, "GENERAL PRACTICE", dtype=object),
        "ENCOUNTERS": rng.integers(0, 5000, k).astype(str).astype(object),
        "PROCEDURES": rng.integers(0, 900, k).astype(str).astype(object),
    }
    pat, enc, ts, h = fact("devices")
    out["devices"] = {
        "START": _ts_str(ts),
        "STOP": np.where(h % 3 == 0, _ts_str(ts), "").astype(object),
        "PATIENT": pat,
        "ENCOUNTER": enc,
        "CODE": (h + 500000).astype(str).astype(object),
        "DESCRIPTION": np.full(len(h), "device", dtype=object),
        "UDI": np.array([f"UDI-{i}" for i in range(len(h))], dtype=object),
    }
    m = rows["patient_expenses"]
    idx = np.arange(m)
    out["patient_expenses"] = {
        "PATIENT": pat_ids[idx % n],
        "YEAR": (2018 + idx // n).astype(str).astype(object),
        "HEALTHCARE_EXPENSES": _num_str(rng.integers(0, 100000, m) / 10),
        "INSURANCE_COSTS": _num_str(rng.integers(0, 50000, m) / 10),
        "COVERED_COSTS": _num_str(rng.integers(0, 80000, m) / 10),
    }
    pat, enc, ts, h = fact("immunizations")
    out["immunizations"] = {
        "DATE": _day_str(ts),
        "PATIENT": pat,
        "ENCOUNTER": enc,
        "CODE": np.array(["140", "08", "62", "113"], dtype=object)[h % 4],
        "DESCRIPTION": np.full(len(h), "vaccine", dtype=object),
        "BASE_COST": _num_str(h / 7 + 5),
    }
    tables = {
        name: pa.table({c: pa.array(v, type=pa.string()) for c, v in cols.items()})
        for name, cols in out.items()
    }
    for name, t in tables.items():
        if t.num_rows != rows[name]:
            raise RuntimeError(f"{name}: {t.num_rows} rows, expected {rows[name]}")
    return tables


def write_raw_tables(
    n_patients: int, seed: int, root: str, names: tuple[str, ...] = ALL_TABLES
) -> dict[str, str]:
    """Write the chosen tables as ``root/<name>.parquet``; returns the paths."""
    os.makedirs(root, exist_ok=True)
    paths = {}
    for name, table in make_raw_tables(n_patients, seed).items():
        if name in names:
            paths[name] = os.path.join(root, f"{name}.parquet")
            pq.write_table(table, paths[name])
    return paths
