"""Seeded benchmark inputs, generated Spark-free and cached as parquet.

Every input is a pure function of ``(seed, size)``: the F1 token table
comes from ``zebra_spark.sources.synth.f1_batch`` in 16384-row batches
(the same batching as ``synth.f1_table``, so seed 42 gives the rows the
repo's other F1 benches read), and the TPC-H-like tables are drawn with
numpy in the shapes of the repo's sf fixtures (decimals, dates, low
cardinality strings, free text).  Inputs are cached under the cache dir
keyed by kind, size and seed; only the current seed of each kind is kept.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

F1_BATCH_ROWS = 1 << 14  # synth.f1_table's batch size: row i depends on (seed, i // this)
F1_ROW_GROUP = 1 << 13  # one parquet row group == one encode_parquet_direct split
TPCH_TABLES = ("lineitem", "orders", "events", "documents")


def _cached(cache_dir: str, kind: str, key: str, build) -> str:
    """Return ``cache_dir/kind-key``, building it with ``build(tmp_dir)`` on
    a miss.  Other keys of the same kind are removed to bound disk use."""
    os.makedirs(cache_dir, exist_ok=True)
    final = os.path.join(cache_dir, f"{kind}-{key}")
    if os.path.exists(os.path.join(final, "_meta.json")):
        return final
    for name in os.listdir(cache_dir):
        if name.startswith(kind + "-") and name != os.path.basename(final):
            shutil.rmtree(os.path.join(cache_dir, name), ignore_errors=True)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    with open(os.path.join(tmp, "_meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


def read_meta(path: str) -> dict:
    with open(os.path.join(path, "_meta.json")) as f:
        return json.load(f)


# -- F1 ----------------------------------------------------------------------


def _write_f1_part(args) -> dict:
    out_dir, seed, start, n = args
    from zebra_spark.sources.synth import f1_batch

    rb = f1_batch(n, seed=seed, start=start)
    pq.write_table(
        pa.Table.from_batches([rb]),
        os.path.join(out_dir, f"part-{start:012d}.parquet"),
        row_group_size=F1_ROW_GROUP,
    )
    return {
        "rows": rb.num_rows,
        "tokens": int(np.asarray(rb.column("n_tok")).sum()),
        "raw_bytes": rb.nbytes,
    }


def f1_input(cache_dir: str, rows: int, seed: int, threads: int) -> str:
    """F1 parquet dir (``rows`` rows, F1_ROW_GROUP-row row groups).  Made
    on threads: a process pool would leave its resource tracker running
    past the benchmark's exit."""

    def build(tmp: str) -> dict:
        jobs = [
            (tmp, seed, s, min(F1_BATCH_ROWS, rows - s))
            for s in range(0, rows, F1_BATCH_ROWS)
        ]
        with ThreadPoolExecutor(max(1, min(threads, len(jobs)))) as pool:
            parts = list(pool.map(_write_f1_part, jobs))
        return {
            k: sum(p[k] for p in parts) for k in ("rows", "tokens", "raw_bytes")
        }

    return _cached(cache_dir, "f1", f"r{rows}-s{seed}", build)


# -- TPC-H-like tables ---------------------------------------------------------

_WORDS = np.array(
    "batch part spark line column order small sort fast value scan a query "
    "agg table hash filter customer stream key group join slow index page "
    "block merge window rank vector".split()
)


def _midnights(r, n, lo: _dt.date, hi: _dt.date) -> pa.Array:
    days = r.integers(0, (hi - lo).days + 1, size=n)
    base = np.datetime64(lo.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _cents(r, n, lo: float, hi: float) -> np.ndarray:
    return np.round(r.uniform(lo, hi, size=n), 2)


def tpch_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """lineitem, orders, events and documents at scale ``sf``."""
    r = np.random.default_rng([seed, 7])
    n_li, n_o = int(6_000_000 * sf), int(1_500_000 * sf)
    n_ev, n_doc = int(1_000_000 * sf), max(1, int(50_000 * sf))
    out = {}
    out["lineitem"] = pa.table(
        {
            "l_orderkey": r.integers(0, n_o, size=n_li),
            "l_partkey": r.integers(0, max(1, int(200_000 * sf)), size=n_li),
            "l_suppkey": r.integers(0, max(1, int(10_000 * sf)), size=n_li),
            "l_linenumber": r.integers(1, 8, size=n_li).astype(np.int32),
            "l_quantity": r.integers(1, 51, size=n_li).astype(np.float64),
            "l_extendedprice": _cents(r, n_li, 900.0, 105_000.0),
            "l_discount": r.integers(0, 11, size=n_li) / 100.0,
            "l_tax": r.integers(0, 9, size=n_li) / 100.0,
            "l_returnflag": np.array(["N", "A", "R"])[r.integers(0, 3, size=n_li)],
            "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, size=n_li)],
            "l_shipdate": _midnights(
                r, n_li, _dt.date(1995, 1, 2), _dt.date(2001, 11, 4)
            ),
        }
    )
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_o, dtype=np.int64),
            "o_custkey": r.integers(0, max(1, int(150_000 * sf)), size=n_o),
            "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, size=n_o)],
            "o_totalprice": _cents(r, n_o, 1000.0, 500_000.0),
            "o_orderdate": _midnights(
                r, n_o, _dt.date(1995, 1, 1), _dt.date(2001, 8, 1)
            ),
            "o_orderpriority": prio[r.integers(0, len(prio), size=n_o)],
        }
    )
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    step = r.integers(1, 2 * (30 * 86_400_000_000 // max(1, n_ev)), size=n_ev)
    kinds = np.array(["view", "click", "purchase", "signup", "error"])
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts0 + np.cumsum(step).astype("timedelta64[us]")),
            "user_id": r.integers(0, 1500, size=n_ev),
            "event_type": kinds[r.integers(0, len(kinds), size=n_ev)],
            "value": np.round(r.exponential(40.0, size=n_ev), 2),
            "props": np.char.add(
                np.char.add('{"k": ', r.integers(0, 100, size=n_ev).astype(str)), "}"
            ),
        }
    )
    n_words = r.integers(8, 80, size=n_doc)
    words = _WORDS[r.integers(0, len(_WORDS), size=int(n_words.sum()))]
    bounds = np.concatenate(([0], np.cumsum(n_words)))
    text = [" ".join(words[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
    langs = np.array(["en", "de", "fr", "zh", "es"])
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": text,
            "lang": langs[r.integers(0, len(langs), size=n_doc)],
            "source": np.char.add("src", r.integers(0, 20, size=n_doc).astype(str)),
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )
    return out


def tpch_input(cache_dir: str, sf: float, seed: int) -> str:
    """Dir holding ``<table>.parquet`` for every table in TPCH_TABLES, one
    file each like the repo's sf fixtures (so one Spark task per table)."""

    def build(tmp: str) -> dict:
        meta = {}
        for name, table in tpch_tables(sf, seed).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
            meta[name] = {"rows": table.num_rows, "raw_bytes": table.nbytes}
        return meta

    return _cached(cache_dir, "tpch", f"sf{sf:g}-s{seed}", build)
