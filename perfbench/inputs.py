"""Benchmark inputs, generated from a seed and cached under the work dir.

Three input sets:

- ``imdb_raw``: IMDb-shaped ``title.basics`` / ``title.ratings`` gzip TSVs,
  produced by ``bench_imdb.generate_fixture`` (the repository's own
  generator and its distributions) with the benchmark's seed.
- ``warehouse_tables``: the TPC-H-ish star schema plus ``documents`` and
  ``embeddings``, in the fixture schema of FIXTURES.md. The registry queries
  read them by ``<dir>/<table>.parquet``. They are generated from a fixed
  seed, so the benchmark seed only orders the queries.
- ``event_files``: an events feed in the ``events`` fixture schema, with
  duplicate ``event_id`` rows, split into time-ordered parquet files for a
  file-source stream.

The same seed gives byte-identical files: gzip headers carry no timestamp
and parquet files carry no creation time.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when a generator changes, so stale caches are not reused.
GENERATOR_VERSION = 2
TABLES_SEED = 42


def _generate_once(final: str, build) -> str:
    """Unless ``final`` exists, run ``build(tmp)`` and move ``tmp`` into
    place in one step, so a run killed mid-generation leaves no partial
    input behind."""
    if not os.path.isdir(final):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        os.rename(tmp, final)
    return final


def _zero_gzip_mtime(path: str) -> None:
    # bytes 4..7 of a gzip member header are MTIME; the header has no CRC
    # unless FHCRC is set, which Python's gzip never sets
    with open(path, "r+b") as fh:
        fh.seek(4)
        fh.write(b"\0\0\0\0")


def _write_parquet(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table.replace_schema_metadata(None), path, compression="snappy")


# ---------------------------------------------------------------- imdb raw


@dataclass(frozen=True)
class ImdbRaw:
    basics: str
    ratings: str
    gz_bytes: int


def imdb_raw(cache: str, seed: int, n_rows: int) -> ImdbRaw:
    """Generate (once per seed) the gzip TSV pair with bench_imdb's
    distributions: ~6% movies, ~46% of movies rated, 0.1% duplicate keys,
    ``\\N`` null markers."""
    import bench_imdb

    def build(tmp: str) -> None:
        saved = bench_imdb.SEED, bench_imdb._fixture_dir
        bench_imdb.SEED, bench_imdb._fixture_dir = seed, lambda _n: tmp
        try:
            bench_imdb.generate_fixture(n_rows)
        finally:
            bench_imdb.SEED, bench_imdb._fixture_dir = saved
        for name in ("title.basics.tsv.gz", "title.ratings.tsv.gz"):
            _zero_gzip_mtime(os.path.join(tmp, name))

    final = _generate_once(
        os.path.join(cache, f"imdb_v{GENERATOR_VERSION}_s{seed}_n{n_rows}"), build
    )
    with open(os.path.join(final, "meta.json")) as fh:
        meta = json.load(fh)
    return ImdbRaw(
        basics=os.path.join(final, "title.basics.tsv.gz"),
        ratings=os.path.join(final, "title.ratings.tsv.gz"),
        gz_bytes=meta["gz_bytes_basics"] + meta["gz_bytes_ratings"],
    )


# ------------------------------------------------------- warehouse tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = "blue hot large small red green old new cold dark light thin fat".split()
PART_NOUN = "ring bolt anvil widget gear nut".split()
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]

_I32, _I64, _F64, _STR = pa.int32(), pa.int64(), pa.float64(), pa.string()
_TS = pa.timestamp("us")

TABLE_SCHEMAS = {
    "region": pa.schema([("r_regionkey", _I32), ("r_name", _STR)]),
    "nation": pa.schema([("n_nationkey", _I32), ("n_name", _STR), ("n_regionkey", _I32)]),
    "customer": pa.schema(
        [("c_custkey", _I64), ("c_name", _STR), ("c_nationkey", _I32),
         ("c_acctbal", _F64), ("c_mktsegment", _STR)]
    ),
    "supplier": pa.schema(
        [("s_suppkey", _I64), ("s_name", _STR), ("s_nationkey", _I32), ("s_acctbal", _F64)]
    ),
    "part": pa.schema(
        [("p_partkey", _I64), ("p_name", _STR), ("p_brand", _STR), ("p_type", _STR),
         ("p_size", _I32), ("p_retailprice", _F64)]
    ),
    "orders": pa.schema(
        [("o_orderkey", _I64), ("o_custkey", _I64), ("o_orderstatus", _STR),
         ("o_totalprice", _F64), ("o_orderdate", _TS), ("o_orderpriority", _STR)]
    ),
    "lineitem": pa.schema(
        [("l_orderkey", _I64), ("l_partkey", _I64), ("l_suppkey", _I64),
         ("l_linenumber", _I32), ("l_quantity", _F64), ("l_extendedprice", _F64),
         ("l_discount", _F64), ("l_tax", _F64), ("l_returnflag", _STR),
         ("l_linestatus", _STR), ("l_shipdate", _TS)]
    ),
    "events": pa.schema(
        [("event_id", _I64), ("ts", _TS), ("user_id", _I64), ("event_type", _STR),
         ("value", _F64), ("props", _STR)]
    ),
    "documents": pa.schema(
        [("doc_id", _I64), ("text", _STR), ("lang", _STR), ("source", _STR),
         ("n_chars", _I64)]
    ),
    "embeddings": pa.schema(
        [("vec_id", _I64), ("embedding", pa.list_(pa.float32())), ("label", _I32)]
    ),
}


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Word-salad documents over a 30-word vocabulary; 5% are a copy of an
    earlier document with `` dup`` appended (near duplicates) and a few are
    exact copies."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(WORDS, size=int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, size=n, p=LANG_P),
            "source": np.char.add("src", rng.integers(0, 20, n).astype("U2")),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pd.DataFrame:
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(x),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def _events(rng: np.random.Generator, n: int, t0: np.datetime64, span_s: int,
            first_id: int = 0, n_users: int = 1500) -> pd.DataFrame:
    """Events at whole-second times inside [t0, t0 + span_s), time-sorted."""
    secs = np.sort(rng.integers(0, span_s, n))
    return pd.DataFrame(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": t0 + secs.astype("timedelta64[s]"),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, size=n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _tables(rng: np.random.Generator, scale: float, n_docs: int, n_vecs: int) -> dict:
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_orders = int(200_000 * scale), int(1_500_000 * scale)
    n_items = 4 * n_orders
    day0 = np.datetime64("1995-01-01T00:00:00", "us")
    order_day = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    li_order = rng.integers(0, n_orders, n_items)
    part_key = np.arange(n_part)
    return {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, size=n_cust),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": part_key.astype(np.int64),
                "p_name": np.char.add(
                    np.char.add(rng.choice(PART_ADJ, size=n_part), " "),
                    rng.choice(PART_NOUN, size=n_part),
                ),
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype("U2")),
                "p_type": rng.choice(PART_TYPES, size=n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (part_key % 1000) / 10.0, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_orders, dtype=np.int64),
                # as in TPC-H, every third customer places no orders
                "o_custkey": (3 * rng.integers(0, n_cust // 3, n_orders)
                              + rng.integers(1, 3, n_orders)).astype(np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], size=n_orders),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
                "o_orderdate": day0 + order_day.astype("timedelta64[D]"),
                "o_orderpriority": rng.choice(PRIORITIES, size=n_orders),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": li_order.astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_items).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_items).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_items).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_items).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_items),
                "l_discount": rng.integers(0, 11, n_items) / 100.0,
                "l_tax": rng.integers(0, 9, n_items) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], size=n_items),
                "l_linestatus": rng.choice(["F", "O"], size=n_items),
                "l_shipdate": day0
                + (order_day[li_order] + rng.integers(1, 96, n_items)).astype(
                    "timedelta64[D]"
                ),
            }
        ),
        "events": _events(rng, int(1_000_000 * scale), np.datetime64("2024-01-01", "us"),
                          30 * 86_400),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }


def warehouse_tables(cache: str, scale: float, n_docs: int, n_vecs: int) -> str:
    """Generate (once) the fixture tables; returns the dir the registry
    queries take as ``sf_dir``."""

    def build(tmp: str) -> None:
        tables = _tables(np.random.default_rng(TABLES_SEED), scale, n_docs, n_vecs)
        for name, df in tables.items():
            _write_parquet(df, os.path.join(tmp, f"{name}.parquet"), TABLE_SCHEMAS[name])

    return _generate_once(
        os.path.join(cache, f"tables_v{GENERATOR_VERSION}_sf{scale}_d{n_docs}_v{n_vecs}"),
        build,
    )


# ------------------------------------------------------------ event files


def event_files(cache: str, seed: int, n_files: int, per_file: int) -> str:
    """Time-ordered event files for a file-source stream: file ``i`` holds
    events of days ``3i .. 3i+3`` plus exact copies of 2% of its own rows
    (duplicate ``event_id``). File modification times increase with ``i``
    so the source reads them in order."""

    def build(tmp: str) -> None:
        os.makedirs(os.path.join(tmp, "events"))
        rng = np.random.default_rng(seed)
        day0 = np.datetime64("2024-01-01T00:00:00", "us")
        for i in range(n_files):
            df = _events(rng, per_file, day0 + np.timedelta64(3 * i, "D"), 3 * 86_400,
                         first_id=i * per_file, n_users=500)
            dups = df.sample(frac=0.02, random_state=int(rng.integers(2**31)))
            df = pd.concat([df, dups]).sort_values(["ts", "event_id"], kind="mergesort")
            path = os.path.join(tmp, "events", f"part-{i:03d}.parquet")
            _write_parquet(df, path, TABLE_SCHEMAS["events"])
            os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    final = _generate_once(
        os.path.join(cache, f"events_v{GENERATOR_VERSION}_s{seed}_f{n_files}_n{per_file}"),
        build,
    )
    return os.path.join(final, "events")
