"""The benchmark's tables: the repository's test data, regenerated.

The engine's tests and ``bench.py`` run on the deterministic TPC-H-shaped
test tables described in TESTDATA.md (data seed 42, scale factors 0.001,
0.01 and 0.1). The benchmark must build everything it reads inside its own
checkout, so this module regenerates those tables: the same numpy draws in
the same order, the same pandas dtypes and the same parquet writer, so each
file holds the same values with the same physical types (``events.ts`` is
written from nanosecond pandas timestamps and stored as microseconds, the
date columns as microsecond timestamps), one row group per file.

``python3 perfbench/datagen.py --compare <dir-of-test-tables> --sf 0.01``
regenerates one scale factor and checks it against a copy of the test
tables, table by table and value by value.

The tables depend only on the scale factor, so every benchmark seed runs
against the same tables; the benchmark seed picks query order, literals
and ingest splits.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import numpy as np
import pandas as pd

DATA_SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
VOCAB = (
    "the a spark query table join group filter window data order customer part "
    "line fast slow big small hash sort merge scan agg stream batch vector key "
    "value row column"
).split()
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "ns")
EVENTS_SPAN_S = 30 * 86_400
ORDER_START = np.datetime64("1995-01-01", "s")
ORDER_DAYS = 2405  # 1995-01-01 through 2001-08-01
SHIP_DAYS = 2500  # 1995-01-02 through 2001-11-04
NEAR_DUP_SHARE = 0.05
EMBED_DIM = 64


def _rows(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(200, round(200_000 * sf)),
        "orders": max(1_500, round(1_500_000 * sf)),
        "events": max(1_000, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Dates ``ORDER_START + [lo, hi)`` days, as second-resolution datetimes."""
    return ORDER_START + rng.integers(lo, hi, n).astype("timedelta64[D]")


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.array(values, dtype=object)[rng.integers(0, len(values), n)]


def generate_tables(sf: float) -> dict[str, pd.DataFrame]:
    """Return every catalog table at scale ``sf``; the same ``sf`` always
    gives identical tables. The order of the draws is part of the data."""
    rng = np.random.default_rng(DATA_SEED)
    n = _rows(sf)
    out: dict[str, pd.DataFrame] = {}

    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": REGIONS,
    })
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5,
    })

    nc = n["customer"]
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })

    ns = n["supplier"]
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })

    np_ = n["part"]
    pk = np.arange(np_, dtype=np.int64)
    adj, noun = rng.integers(0, 8, np_), rng.integers(0, 8, np_)
    out["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": _pick(rng, PART_TYPES, np_),
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })

    no = n["orders"]
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, 0, ORDER_DAYS, no),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })

    # Four lines per order on average, each drawn independently.
    nl = 4 * no
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, np_, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": _pick(rng, ["R", "A", "N"], nl),
        "l_linestatus": _pick(rng, ["O", "F"], nl),
        "l_shipdate": _days(rng, 1, SHIP_DAYS, nl),
    })

    ne = n["events"]
    offs_ns = np.sort((rng.uniform(0, EVENTS_SPAN_S, ne) * 1e9).astype(np.int64))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": EVENTS_START + offs_ns.astype("timedelta64[ns]"),
        "user_id": rng.integers(0, max(1, round(15_000 * sf)), ne),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    texts = []
    for _ in range(nd):
        words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
        texts.append(" ".join(VOCAB[w] for w in words))
    # Plant near-duplicates: a few documents become another one plus a word.
    for i in rng.choice(nd, int(nd * NEAR_DUP_SHARE), replace=False):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    })
    return out


def write_table(df: pd.DataFrame, path: str) -> None:
    df.to_parquet(path, index=False, engine="pyarrow", compression="snappy",
                  coerce_timestamps="us", allow_truncated_timestamps=True)


def ensure_tables(root: str, sf: float) -> str:
    """Generate the tables for ``sf`` under ``root`` once, atomically, and
    return the directory. Later calls reuse it."""
    sf_dir = os.path.join(root, f"sf{sf:g}")
    if os.path.isdir(sf_dir):
        return sf_dir
    tmp = f"{sf_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, df in generate_tables(sf).items():
        write_table(df, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, sf_dir)
    return sf_dir


def compare(reference_dir: str, sf: float) -> list[str]:
    """Differences between the generated tables and the parquet files in
    ``reference_dir``: schema (arrow and parquet physical) and every value."""
    import pyarrow.parquet as pq

    problems = []
    for name, df in generate_tables(sf).items():
        path = os.path.join(reference_dir, f"{name}.parquet")
        if not os.path.exists(path):
            problems.append(f"{name}: not in {reference_dir}")
            continue
        written = _written(df)
        with open(path, "rb") as f:
            if f.read() == written.getvalue():
                print(f"{name}: byte-identical")
                continue
        ref, got = pq.ParquetFile(path), pq.ParquetFile(written)
        before = len(problems)
        if not ref.schema_arrow.equals(got.schema_arrow, check_metadata=True):
            problems.append(f"{name}: arrow schema {got.schema_arrow} != {ref.schema_arrow}")
        if not ref.schema.equals(got.schema):
            problems.append(f"{name}: parquet physical schema {got.schema} != {ref.schema}")
        if ref.metadata.num_row_groups != got.metadata.num_row_groups:
            problems.append(f"{name}: {got.metadata.num_row_groups} row groups != {ref.metadata.num_row_groups}")
        if not ref.read().equals(got.read()):
            problems.append(f"{name}: values differ")
        print(f"{name}: {ref.metadata.num_rows} rows, {'identical' if len(problems) == before else 'DIFFERENT'}")
    return problems


def _written(df: pd.DataFrame):
    import io

    buf = io.BytesIO()
    write_table(df, buf)
    buf.seek(0)
    return buf


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="Regenerate the test tables and compare them with a copy.")
    p.add_argument("--compare", required=True, help="directory holding <table>.parquet files")
    p.add_argument("--sf", type=float, required=True)
    args = p.parse_args(argv)
    problems = compare(args.compare, args.sf)
    for line in problems:
        print(line, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
