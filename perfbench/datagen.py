"""Seeded input generators for the benchmark.

Two kinds of input:

* ``write_query_tables`` writes the TPC-H-shaped parquet tables the
  ``__spark_entry__`` queries read (lineitem, orders, customer, supplier, part, nation, region,
  documents, embeddings). The tables use a fixed seed, so every run and every
  checkout sees the same rows and the pinned row counts in ``pinned.json``
  hold. Column names, arrow types and value distributions follow the
  testdata the queries were written against (``TESTDATA.md``).
* ``write_etl_glob`` writes a glob of production CSVs for
  ``run_etl_pipeline`` from the run's ``--seed``. It plants a known number of
  rows of each error kind and returns a manifest of the counts the pipeline
  must report, computed from the rows written, not from the engine.

Only numpy, pandas and pyarrow are used; nothing here starts Spark.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

QUERY_DATA_SEED = 20240215

# Scale factor of the query tables: row counts are the testdata's rows
# per unit of scale times this (lineitem has 6 M rows at scale 1).
QUERY_SCALE = 0.01
QUERY_TABLE_ROWS = {
    name: round(per_unit * QUERY_SCALE)
    for name, per_unit in {
        "supplier": 10_000,
        "customer": 150_000,
        "part": 200_000,
        "orders": 1_500_000,
        "lineitem": 6_000_000,
        "documents": 50_000,
        "embeddings": 20_000,
    }.items()
}

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("blue", "red", "old", "new", "small", "large", "hot", "cold")
_PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_WORDS = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def _dates(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, n)
    return (lo_d + days).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Word-salad documents; one in twenty is a near-duplicate of an earlier
    document with one or two ``dup`` tokens appended."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.choice(len(_WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(_WORDS[w] for w in words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": np.array([f"src{k}" for k in rng.integers(0, 20, n)], dtype=object),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10) -> pd.DataFrame:
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    vecs = centers[label] + 0.8 * rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs),
            "label": label.astype(np.int32),
        }
    )


def query_tables(seed: int = QUERY_DATA_SEED) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    rows = QUERY_TABLE_ROWS
    n_s, n_c, n_p, n_o, n_l = (rows[k] for k in ("supplier", "customer", "part", "orders", "lineitem"))
    tables = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": np.array(_REGIONS, dtype=object)}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": np.array([f"NATION_{i}" for i in range(25)], dtype=object),
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_s, dtype=np.int64),
                "s_name": np.array([f"Supplier#{i:09d}" for i in range(n_s)], dtype=object),
                "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
                "s_acctbal": _money(rng, n_s, -999.99, 9999.99),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_c, dtype=np.int64),
                "c_name": np.array([f"Customer#{i:09d}" for i in range(n_c)], dtype=object),
                "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
                "c_acctbal": _money(rng, n_c, -999.99, 9999.99),
                "c_mktsegment": _pick(rng, _SEGMENTS, n_c),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_p, dtype=np.int64),
                "p_name": np.array(
                    [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_p, 2))],
                    dtype=object,
                ),
                "p_brand": np.array([f"Brand#{k}" for k in rng.integers(1, 26, n_p)], dtype=object),
                "p_type": _pick(rng, _PART_TYPES, n_p),
                "p_size": rng.integers(1, 51, n_p).astype(np.int32),
                "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 1),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_o, dtype=np.int64),
                "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n_o),
                "o_totalprice": _money(rng, n_o, 1000.0, 500000.0),
                "o_orderdate": _dates(rng, n_o, "1995-01-01", "2001-08-01"),
                "o_orderpriority": _pick(rng, _PRIORITIES, n_o),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_o, n_l).astype(np.int64),
                "l_partkey": rng.integers(0, n_p, n_l).astype(np.int64),
                "l_suppkey": rng.integers(0, n_s, n_l).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
                "l_extendedprice": _money(rng, n_l, 900.0, 105000.0),
                "l_discount": rng.integers(0, 11, n_l) / 100.0,
                "l_tax": rng.integers(0, 9, n_l) / 100.0,
                "l_returnflag": _pick(rng, ("A", "N", "R"), n_l),
                "l_linestatus": _pick(rng, ("F", "O"), n_l),
                "l_shipdate": _dates(rng, n_l, "1995-01-02", "2001-11-04"),
            }
        ),
        "documents": _documents(rng, rows["documents"]),
        "embeddings": _embeddings(rng, rows["embeddings"]),
    }
    return tables


def write_query_tables(out_dir: str, seed: int = QUERY_DATA_SEED) -> dict[str, int]:
    """Write one single-file parquet table per name; return bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, df in query_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        df.to_parquet(path, index=False)
        sizes[name] = os.path.getsize(path)
    return sizes


# --------------------------------------------------------------------------
# ETL input: production CSVs with planted errors
# --------------------------------------------------------------------------

ETL_COLUMNS = (
    "timestamp line_id batch_number product_code temperature_c pressure_kpa "
    "humidity_pct operator_id defect_count"
).split()
OPERATORS = tuple(f"OP{i:04d}" for i in range(1, 201))
_PRODUCTS = ("PROD-A1", "PROD-B2", "PROD-C3", "PROD-D4")

# Rows planted per file for each single-row error kind, with the one
# column value that triggers it under tests/fixtures/mapping_config.xml.
PLANTED_SINGLE = {
    "RANGE": ("pressure_kpa", "1500.0"),
    "LOOKUP": ("product_code", "PROD-Z9"),
    "REGEX": ("line_id", "LN-7"),
    "REQUIRED_FIELD_MISSING": ("defect_count", ""),
    "NUMERIC": ("pressure_kpa", "n/a"),
    "DATE_RANGE": ("timestamp", "2019-06-01 10:00:00"),
    "DATE_FORMAT": ("timestamp", "not-a-timestamp"),
    # Clean temperatures are uniform on [140, 160], so |z| of a clean row
    # stays below 1.8 and 199.0 (inside the 200.0 range bound) is the only
    # zscore outlier of its file.
    "OUTLIER": ("temperature_c", "199.0"),
    "REFERENTIAL": ("operator_id", "OP9999"),
}
PLANTED_PER_FILE = 12
# Pairs per file. A UNIQUE pair repeats a batch number within one day at
# another time; a DUPLICATE pair repeats a whole row. The daily-unique rule
# (an extension) runs before duplicate_check, and duplicate_check marks only
# rows with no earlier error, so both members of either kind of pair carry
# exactly one UNIQUE error and no DUPLICATE error.
UNIQUE_PAIRS_PER_FILE = 6
DUPLICATE_PAIRS_PER_FILE = 6


@dataclass
class EtlManifest:
    files: list[str]
    total: int
    valid: int
    invalid: int
    errors_logged: int
    rows_inserted: int
    bytes: int
    errors_by_kind: dict[str, int] = field(default_factory=dict)
    per_file: dict[str, dict[str, int]] = field(default_factory=dict)


def _etl_file(rng: np.random.Generator, file_no: int, rows: int) -> tuple[pd.DataFrame, dict[str, int]]:
    n = rows
    secs = rng.integers(0, 365 * 86400, n)
    ts = (np.datetime64("2024-01-01T00:00:00") + secs.astype("timedelta64[s]")).astype(str)
    cols = {
        "timestamp": np.char.replace(ts, "T", " ").astype(object),
        "line_id": np.array([f"LINE{k:03d}" for k in rng.integers(1, 21, n)], dtype=object),
        "batch_number": np.array([f"B{file_no:02d}{i:08d}" for i in range(n)], dtype=object),
        "product_code": _pick(rng, _PRODUCTS, n),
        "temperature_c": np.round(rng.uniform(140.0, 160.0, n), 1).astype(str).astype(object),
        "pressure_kpa": np.round(rng.uniform(400.0, 500.0, n), 1).astype(str).astype(object),
        "humidity_pct": np.round(rng.uniform(30.0, 60.0, n), 1).astype(str).astype(object),
        "operator_id": _pick(rng, OPERATORS, n),
        "defect_count": rng.integers(0, 6, n).astype(str).astype(object),
    }
    # An empty optional field is valid: humidity is not required.
    cols["humidity_pct"][rng.random(n) < 0.1] = ""
    df = pd.DataFrame(cols, columns=ETL_COLUMNS)

    kinds = list(PLANTED_SINGLE)
    n_single = PLANTED_PER_FILE * len(kinds)
    n_pairs = UNIQUE_PAIRS_PER_FILE + DUPLICATE_PAIRS_PER_FILE
    rows_hit = rng.choice(n, n_single + 2 * n_pairs, replace=False)
    for k, kind in enumerate(kinds):
        col, value = PLANTED_SINGLE[kind]
        df.loc[rows_hit[k * PLANTED_PER_FILE:(k + 1) * PLANTED_PER_FILE], col] = value
    pairs = rows_hit[n_single:].reshape(n_pairs, 2)
    for p, (a, b) in enumerate(pairs):
        if p < UNIQUE_PAIRS_PER_FILE:
            df.loc[b, "batch_number"] = df.loc[a, "batch_number"]
            day = df.loc[a, "timestamp"][:10]
            df.loc[b, "timestamp"] = day + (" 23:59:59" if df.loc[a, "timestamp"][11:] != "23:59:59" else " 00:00:00")
        else:
            df.loc[b] = df.loc[a]

    kinds_count = {kind: PLANTED_PER_FILE for kind in kinds}
    kinds_count["UNIQUE"] = 2 * n_pairs
    kinds_count["DUPLICATE"] = 0
    return df, kinds_count


def write_etl_glob(out_dir: str, seed: int, files: int, rows_per_file: int) -> EtlManifest:
    """Write ``production_data_<i>.csv`` files and their expected counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    names, per_file, by_kind, total_bytes = [], {}, {}, 0
    for i in range(files):
        df, kinds = _etl_file(rng, i, rows_per_file)
        name = f"production_data_{i:02d}.csv"
        path = os.path.join(out_dir, name)
        df.to_csv(path, index=False)
        total_bytes += os.path.getsize(path)
        invalid = sum(kinds.values())  # every planted row carries exactly one error
        per_file[name] = {"total": rows_per_file, "valid": rows_per_file - invalid, "invalid": invalid}
        for kind, c in kinds.items():
            by_kind[kind] = by_kind.get(kind, 0) + c
        names.append(name)
    total = files * rows_per_file
    invalid = sum(f["invalid"] for f in per_file.values())
    return EtlManifest(
        files=names,
        total=total,
        valid=total - invalid,
        invalid=invalid,
        errors_logged=invalid,
        rows_inserted=total - invalid,
        bytes=total_bytes,
        errors_by_kind=by_kind,
        per_file=per_file,
    )
