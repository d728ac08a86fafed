#!/usr/bin/env python3
"""Run one benchmark workload against the zebra_spark in this checkout.

    python3 perfbench/run.py --workload f1_ingest --seed 42 --seconds 16 --trace 0

Closed loop, one client (this process), against Spark ``local[nproc]``.
Set-up runs SETUPS times and reports the median; then untimed warm-up
ops, then op cycles until ``--seconds`` have passed and every op kind has
run.  Every op's output is checked; failed ops count in ``failed``.
Op costs are CPU time relative to a plain parquet scan of the same input
run in the same cycles (workloads.REF), which cancels the host's speed.
``--trace 1`` instead reports the per-layer metrics: Spark-side counts
around one op cycle plus a traced Spark-free replay (perfbench/replay.py).
The last stdout line is the JSON result; human-readable metric lines and
the per-layer rollup precede it.  Inputs are cached under .perfbench/.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3
F1_ROWS = 1 << 16
TPCH_SF = 0.04


def work_dir() -> str:
    """This process's scratch dir; removed when the run ends."""
    return os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")


def pin_env(cpus: int) -> None:
    """Make Spark's Python workers import this checkout's zebra_spark from
    any cwd, with the codec policy and core count pinned."""
    tmp = os.path.join(work_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "PYTHONPATH": ROOT + (os.pathsep + old if old else ""),
            "ZS_CODEC_POLICY": "balanced",
            "SPARK_GRAFT_CPUS": str(cpus),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": tmp,
            "TMPDIR": tmp,
        }
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def quantile(values, q: float) -> float:
    """Linear-interpolated q-quantile; one value is its own, none gives 0."""
    v = sorted(values)
    if len(v) <= 1:
        return v[0] if v else 0.0
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


class Env:
    def __init__(self, cpus, f1_rows, tpch_sf):
        self.cpus, self.f1_rows, self.tpch_sf = cpus, f1_rows, tpch_sf
        self.cache_dir = os.path.join(ROOT, ".perfbench", "inputs")
        self.work_dir = work_dir()


class Bench:
    """One run: setup() -> measure() -> result().  stop() always."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 f1_rows: int = F1_ROWS, tpch_sf: float = TPCH_SF):
        # imported after pin_env: the codec reads ZS_CODEC_POLICY at import
        from perfbench import workloads

        self.w = workloads
        self.env = Env(len(os.sched_getaffinity(0)), f1_rows, tpch_sf)
        self.wl = workloads.WORKLOADS[workload](self.env, seed)
        self.seconds, self.trace = seconds, trace
        self.spark = None
        self.ops: list[dict] = []
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.peak_rss = 0.0

    # -- phases ------------------------------------------------------------

    def log(self, what: str) -> None:
        print(f"perfbench {self.wl.name} {what} at {time.perf_counter() - self.t0:.1f} s",
              file=sys.stderr)

    def setup(self) -> None:
        self.t0 = time.perf_counter()
        self.wl.make_inputs()
        self.log("inputs ready")
        self.setup_s, self.get_spark_s = [], []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark, gs = self.w.start_session(self.env)
            self.wl.spark = self.spark
            self.w.warm_workers(self.spark, self.env.cpus)
            self.wl.fixture()
            self.setup_s.append(time.perf_counter() - t0)
            self.get_spark_s.append(gs)
            self.log(f"setup {len(self.setup_s)} took {self.setup_s[-1]:.2f} s")
        self.wl.prepare()
        self.log("expected outputs ready")
        for kind, fn in self.wl.warmup():  # checked, not timed
            self.run_op(kind, fn, keep=False)
        self.w.reset_worker_peak_rss()
        self.log("warm-up cycle done")

    def run_op(self, kind, fn, keep=True, group=None):
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(group, kind)
        self.attempted += 1
        c0 = self.w.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            raw, verify = fn()
            dt = time.perf_counter() - t0
            cpu = self.w.tree_cpu_s() - c0
            verify()
            ok = True
        except Exception as exc:
            dt = time.perf_counter() - t0
            cpu = 0.0
            ok = False
            self.failed += 1
            self.errors.append(f"{type(exc).__name__}: {str(exc)[:300]}")
            traceback.print_exc(file=sys.stderr)
        finally:
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)
        rec = {"kind": kind, "s": dt, "cpu": cpu, "ok": ok, "raw": raw if ok else 0}
        self.log(f"op {kind} {dt:.3f} s cpu {cpu:.3f} s{'' if ok else ' FAILED'}")
        if keep:
            self.ops.append(rec)
            self.peak_rss = max(self.peak_rss, self.w.worker_peak_rss_mb())
        return rec

    def measure(self) -> None:
        if self.trace:
            return self.measure_traced()
        end = time.perf_counter() + self.seconds
        kinds = {kind for kind, _ in self.wl.cycle()}
        while True:
            for kind, fn in self.wl.cycle():
                self.run_op(kind, fn)
                if time.perf_counter() >= end and kinds <= {r["kind"] for r in self.ops}:
                    return

    def ops_of(self, kind):
        return [r for r in self.ops if r["kind"] == kind and r["ok"]]

    # -- results -----------------------------------------------------------

    def cpu_ms(self, kind) -> float:
        """Median CPU milliseconds of the run's successful ``kind`` ops."""
        return quantile([r["cpu"] * 1e3 for r in self.ops_of(kind)], 0.5)

    def end_to_end(self) -> dict:
        """A metric with no successful op to take it from reads 0."""
        ref = self.cpu_ms(self.w.REF)
        per_ref = lambda kind: self.cpu_ms(kind) / ref if ref else 0.0
        st = self.wl.stats
        return {
            "setup_s": statistics.median(self.setup_s),
            "bulk_cpu_per_pq_scan": per_ref(self.wl.bulk),
            "op_cpu_per_pq_scan": per_ref(self.wl.latency),
            "bytes_vs_zebra": st.enc / st.zebra if st.zebra else 0.0,
            "enc_bytes_per_raw": st.enc / st.raw if st.raw else 0.0,
            "worker_peak_rss_mb": self.peak_rss,
        }

    def named_lines(self) -> list[tuple[str, float, str]]:
        """The workload's metrics under the names the ops are known by."""
        med = lambda kind: quantile([r["s"] for r in self.ops_of(kind)], 0.5) or math.inf
        bulk = self.ops_of(self.wl.bulk)
        out = [
            ("raw_mb_s", quantile([r["raw"] / 1e6 / r["s"] for r in bulk], 0.5), "MB/s"),
            ("op_p50_ms", med(self.wl.latency) * 1e3, "ms"),
            ("raw_mb_per_cpu_s", quantile([r["raw"] / 1e6 / r["cpu"] for r in bulk], 0.5),
             "MB/cpu-s"),
            ("op_cpu_ms", self.cpu_ms(self.wl.latency), "cpu-ms"),
            (f"{self.w.REF}_cpu_ms", self.cpu_ms(self.w.REF), "cpu-ms"),
        ]
        if self.wl.name == "f1_ingest":
            out.append(("encode_tok_s", self.wl.expect["tokens"] / med("ingest"), "tokens/s"))
        elif self.wl.name == "f1_read":
            out.append(("scan_tok_s", self.wl.expect["tokens"] / med("scan"), "tokens/s"))
            out.append(("projected_scan_ms", med("projected") * 1e3, "ms"))
            look = [r["s"] * 1e3 for r in self.ops_of("lookup")]
            if look:
                out.append(("lookup_p50_ms", quantile(look, 0.5), f"ms(n={len(look)})"))
                out.append(("lookup_p75_ms", quantile(look, 0.75), f"ms(n={len(look)})"))
        else:
            out.append(("roundtrip_mb_s", self.wl.raw_bytes / 1e6 / med("roundtrip"), "MB/s"))
        out.append(("failed_op_frac", self.failed / max(1, self.attempted), "fraction"))
        return out

    def result(self) -> dict:
        from perfbench.metrics import END_TO_END, PER_LAYER

        if self.trace:
            values, defs = self.per_layer, PER_LAYER
        else:
            values, defs = self.end_to_end(), END_TO_END
            for name, v, unit in self.named_lines():
                print(f"metric {self.wl.name} {name} {v:.6g} {unit}")
        metrics = {d[0]: {"value": values[d[0]], "unit": d[1]} for d in defs}
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    # -- traced run ----------------------------------------------------------

    def measure_traced(self) -> None:
        from perfbench import replay
        from perfbench.metrics import PER_LAYER
        from zebra_spark.operators import decode as _decode

        wl, w = self.wl, self.w
        map_s: list[float] = []
        orig = _decode.schema_map_of

        def timed_schema_map_of(blocks):
            t0 = time.perf_counter()
            try:
                return orig(blocks)
            finally:
                map_s.append(time.perf_counter() - t0)

        jobs = tasks = n_ops = 0
        max_tasks = {}
        survivors, hits = [], 0
        _decode.schema_map_of = timed_schema_map_of
        try:
            end = time.perf_counter() + self.seconds / 2
            first = True
            while first or time.perf_counter() < end:
                for kind, fn in wl.cycle():
                    group = f"perfbench-{len(self.ops)}"
                    rec = self.run_op(kind, fn, group=group)
                    j, t, widest = w.job_counts(self.spark, group)
                    max_tasks[kind] = max(max_tasks.get(kind, 0), widest)
                    if first and kind != w.REF:
                        jobs, tasks, n_ops = jobs + j, tasks + t, n_ops + 1
                        if kind == "lookup" and rec["ok"]:
                            survivors.append(wl.bloom_survivors(wl.last_lookup[0]))
                            hits += 1
                first = False
        finally:
            _decode.schema_map_of = orig

        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        rp = replay.replay_metrics(
            wl, os.path.join(trace_dir, f"{wl.name}-s{wl.seed}.json")
        )
        self.attempted += 1
        ok = rp["result_ok"]
        self.failed += 0 if ok else 1

        roll = rp["rollup"]
        vals = {}
        for name, _u, _b, _m, _wk in PER_LAYER:
            vals[name] = _layer_value(name, roll, wl.stats)
        bulk_s = quantile([r["s"] for r in self.ops_of(wl.bulk)], 0.5)
        par = max(1, min(self.env.cpus, max_tasks.get(wl.bulk, 1)))
        vals.update(
            {
                "session.get_spark_s": statistics.median(self.get_spark_s),
                "operators.decode.schema_map_of_s": statistics.median(map_s) if map_s else 0.0,
                "operators.decode.bloom_blocks_per_lookup": (
                    statistics.mean(survivors) if survivors else 0.0
                ),
                "operators.decode.lookup_hit_ratio": hits / sum(survivors) if survivors else 0.0,
                "spark.jobs_per_op": jobs / n_ops,
                "spark.tasks_per_op": tasks / n_ops,
                "spark.plan_exchanges": w.plan_exchanges(wl.plan()),
                "spark.hop_s": bulk_s - rp["bulk_wall_s"] / par,
                "replay.wall_s": rp["wall_s"],
                "replay.self_sum_s": rp["self_sum_s"],
                "replay.self_share": rp["self_sum_s"] / rp["wall_s"],
                "replay.trace_overhead_s": rp["traced_s"] - rp["untraced_s"],
            }
        )
        self.per_layer = vals
        print(f"rollup {wl.name}: replay wall {rp['wall_s']:.4f} s, "
              f"self-time sum {rp['self_sum_s']:.4f} s "
              f"({100 * rp['self_sum_s'] / rp['wall_s']:.1f}%), "
              f"tracing overhead {rp['traced_s'] - rp['untraced_s']:+.4f} s")
        for name, r in sorted(roll.items(), key=lambda kv: -kv[1]["self_s"]):
            print(f"rollup {wl.name} {name} self_s={r['self_s']:.4f} calls={r['calls']}"
                  + (" (op root)" if r["root"] else ""))
        print("rollup note: candidate costing, the zstd entropy stage and the "
              "encode-side crc32 have no public entry point and stay in their "
              "caller's self time")

    def stop(self) -> None:
        if self.spark is not None:
            self.log(f"measured {len(self.ops)} ops")
            self.w.stop_session(self.spark)
            self.spark = None
            self.log("stopped")
        shutil.rmtree(self.env.work_dir, ignore_errors=True)


def _layer_value(name, roll, stats):
    """A per-layer metric from the replay rollup or the encoded blocks."""
    for prefix, table in (("codec.codecs.wins.", stats.wins),
                          ("codec.codecs.bytes.", stats.codec_bytes)):
        if name.startswith(prefix):
            return table.get(name[len(prefix):], 0)
    for suffix, field in ((".self_s", "self_s"), ("_s", "self_s"), (".s", "self_s"),
                          (".calls", "calls"), (".values", "work"), (".bytes", "work")):
        if name.endswith(suffix):
            r = roll.get(name[: -len(suffix)])
            return r[field] if r else 0
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["f1_ingest", "f1_read", "tpch_roundtrip"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import zebra_spark  # raises outside a checkout

    if not os.path.abspath(zebra_spark.__file__).startswith(ROOT + os.sep):
        print(f"zebra_spark imported from {zebra_spark.__file__}, not this checkout",
              file=sys.stderr)
        return 2
    pin_env(len(os.sched_getaffinity(0)))
    from perfbench.workloads import adopt_orphans, reap_all

    adopt_orphans()
    # a SIGTERM unwinds through the finally blocks that stop every process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
        try:
            bench.setup()
            bench.measure()
            result = bench.result()
        finally:
            bench.stop()
    finally:
        reap_all()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
