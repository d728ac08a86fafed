"""Determinism law: the same batch encodes to the same bytes whatever was
encoded before it in the process — block order, earlier tables and Python
worker reuse must not move a single payload byte.

Each run is a fresh interpreter, so "cold" really is cold module state.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.test_driver_contract import SF

_SCRIPT = r"""
import hashlib, json, sys
import numpy as np, pyarrow as pa, pyarrow.parquet as pq
from zebra_spark.codec.blocks import encode_batch
from zebra_spark.sources.synth import f1_batch

SF = sys.argv[3]


def tables():
    out = {
        t: pq.read_table(f"{SF}/{t}.parquet").to_batches(max_chunksize=1024)
        for t in ("lineitem", "orders")
    }
    # 512-row F1 blocks carry ~250k tokens: the token column takes the
    # sampled selector path, the short columns the exact one
    f1 = pa.Table.from_batches([f1_batch(2048, seed=42)])
    out["f1"] = f1.to_batches(max_chunksize=512)
    return out


def digests(order):
    res = {}
    for name, batches in tables().items():
        idx = list(range(len(batches)))
        if order == "reversed":
            idx.reverse()
        elif order == "shuffled":
            np.random.default_rng(0).shuffle(idx)
        for i in idx:
            payload, _ = encode_batch(batches[i])
            res[f"{name}/{i}"] = hashlib.sha256(payload).hexdigest()
    return res


orders = sys.argv[1].split(",")
if sys.argv[2] == "warm":
    # unrelated tables first: same column names (o_*, l_*) never appear,
    # but any process-wide selector state would be populated
    for t in ("customer", "events", "documents", "part"):
        for b in pq.read_table(f"{SF}/{t}.parquet").to_batches(max_chunksize=700):
            encode_batch(b)
print(json.dumps({o: digests(o) for o in orders}))
"""


def _run(orders: str, state: str) -> dict:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root)
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, orders, state, SF],
        env=env,
        check=True,
        capture_output=True,
        text=True,
        timeout=600,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_block_payloads_independent_of_order_and_history():
    runs = {}
    for order in ("forward", "reversed", "shuffled"):
        runs[f"cold/{order}"] = _run(order, "cold")[order]
    for order, digests in _run("forward,reversed,shuffled", "warm").items():
        runs[f"warm/{order}"] = digests
    ref = runs["cold/forward"]
    assert len(ref) >= 10 and any(k.startswith("f1/") for k in ref)
    for label, digests in runs.items():
        assert digests.keys() == ref.keys(), label
        moved = sorted(k for k in ref if digests[k] != ref[k])
        assert not moved, f"{label}: blocks {moved} differ from cold/forward"
