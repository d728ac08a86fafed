#!/usr/bin/env python3
"""Self-test of the benchmark on a tiny input (a few minutes, one JVM at a time).

    python3 perfbench/selftest.py

Checks that BENCHMARK.json matches perfbench/metrics.py; that every
workload's untraced run emits every end-to-end metric, non-zero, with its
unit, and its traced run every per-layer metric with its unit; and that a
deliberately corrupted block is counted as a failed op, not hidden.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import math
import os
import sys
import zlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import ROOT, Bench, pin_env  # noqa: E402

TINY = {"f1_rows": 4096, "tpch_sf": 0.002}
SEED = 3


def run(workload: str, trace: bool, corrupt: bool = False):
    """(result, op errors) of one tiny run."""
    bench = Bench(workload, SEED, seconds=1, trace=trace, **TINY)
    try:
        bench.setup()
        if corrupt:
            corrupt_one_block(bench.wl.blocks_dir)
        bench.measure()
        return bench.result(), bench.errors
    finally:
        bench.stop()
        from perfbench.workloads import reap_all

        reap_all()


def corrupt_one_block(blocks_dir: str) -> None:
    """Flip one payload byte mid-block and re-stamp its crc32, so only the
    benchmark's own output checks can notice."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for name in sorted(os.listdir(blocks_dir)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(blocks_dir, name)
        table = pq.read_table(path)
        if table.num_rows == 0:
            continue
        payloads = table.column("payload").to_pylist()
        crcs = table.column("crc32").to_pylist()
        buf = bytearray(payloads[0])
        buf[len(buf) // 2] ^= 0x5A
        payloads[0], crcs[0] = bytes(buf), zlib.crc32(buf)
        i = table.schema.get_field_index("payload")
        table = table.set_column(i, "payload", pa.array(payloads, pa.binary()))
        i = table.schema.get_field_index("crc32")
        table = table.set_column(i, "crc32", pa.array(crcs, pa.int64()))
        pq.write_table(table, path)
        # Hadoop's local FS keeps a checksum beside each file; drop the stale
        # one so Spark reads the rewritten file instead of refusing it
        os.remove(os.path.join(blocks_dir, f".{name}.crc"))
        return
    raise AssertionError(f"no block to corrupt under {blocks_dir}")


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)
    print(f"ok   {what}")


def check_metrics(result: dict, defs, nonzero: bool, what: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    expect(got == {d[0]: d[1] for d in defs}, f"{what}: every metric, with its unit")
    for k, v in result["metrics"].items():
        x = v["value"]
        expect(
            isinstance(x, (int, float)) and math.isfinite(x) and (x != 0 or not nonzero),
            f"{what}: {k} = {x!r}",
        )


def main() -> int:
    from perfbench.metrics import END_TO_END, PER_LAYER, benchmark_json

    pin_env(len(os.sched_getaffinity(0)))
    from perfbench.workloads import adopt_orphans

    adopt_orphans()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        expect(json.load(f) == benchmark_json(), "BENCHMARK.json matches perfbench/metrics.py")
    for workload in ("f1_ingest", "f1_read", "tpch_roundtrip"):
        for trace in (False, True):
            r, _ = run(workload, trace)
            label = f"{workload} trace={int(trace)}"
            expect(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
                   f"{label}: correct, {r['attempted']} attempted, 0 failed")
            check_metrics(r, PER_LAYER if trace else END_TO_END, not trace, label)
    r, errors = run("f1_read", False, corrupt=True)
    expect(r["failed"] >= 1 and not r["correct"],
           f"corrupted block: {r['failed']} of {r['attempted']} ops counted failed")
    # caught by an output check or by the decoder, not by reading the file
    expect(all(e.startswith(("CheckFailed", "PythonException")) for e in errors),
           f"corrupted block: failures come from decoding it: {errors}")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
