"""Metric definitions: the single source BENCHMARK.json must agree with.

Each per-layer row also names the end-to-end metric it should move and on
which workloads; workloads in parentheses should see no change from a
change to that layer.  ``python3 perfbench/selftest.py`` checks that
BENCHMARK.json lists exactly these metrics with these units.
"""

from __future__ import annotations

INT_CODECS = (
    "zebra", "constant", "rle", "dict", "delta-v0",
    "pfor", "alp", "delta", "alp-rd", "zstd-bt",
)
STR_CODECS = ("zebra-snappy", "dict", "fsst", "zlib", "zstd", "fsst-zstd")

# name, unit, better, bound (share of the parent's median).  Op costs are
# CPU time divided by the CPU time of a plain parquet scan of the same
# input, run in the same op cycles (workloads.REF).  On a shared 4-core
# host the neighbours' load swings wall time up to 2.5x for tens of
# seconds and CPU time up to 2x over minutes (ten runs of f1_ingest read
# 52 to 31 MB per CPU second as the host slowed, spread 0.48), so neither
# is comparable from run to run; the ratio to a reference measured
# alongside is.  Wall and absolute CPU figures are printed beside them
# (run.py named_lines).
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("bulk_cpu_per_pq_scan", "ratio", "lower", 0.24),
    ("op_cpu_per_pq_scan", "ratio", "lower", 0.24),
    ("bytes_vs_zebra", "ratio", "lower", 0.03),
    ("enc_bytes_per_raw", "ratio", "lower", 0.03),
    ("worker_peak_rss_mb", "MB", "lower", 0.2),
)

ING, READ, TPCH = "f1_ingest", "f1_read", "tpch_roundtrip"
WHY = {
    ING: "F1 token table parquet -> encode_parquet_direct -> write_blocks: the int-token codec path and the nested-list parquet read do the work",
    READ: "decode_df over bloom-keyed F1 blocks: full scan, projected scan that skips tokens, point lookups; per-codec decode and per-job Spark cost, no encode",
    TPCH: "encode_df -> decode_df of narrow mixed-type tables both ways across the JVM-Python hop; per-column fixed costs, the opposite codec mix to f1_ingest",
}
# BENCHMARK.json's workloads; tpch_roundtrip runs by hand (README.md says why)
BENCHMARK_WORKLOADS = (ING, READ)
RUN_SECONDS = 16
_ENC = "bulk_cpu_per_pq_scan, op_cpu_per_pq_scan"
_BYTES = "bytes_vs_zebra, enc_bytes_per_raw"

# name, unit, better, moves, workloads "moved (unmoved)"
PER_LAYER = [
    ("session.get_spark_s", "s", "lower", "setup_s", "all"),
    ("pyarrow.parquet.read_row_group_s", "s", "lower", _ENC, f"{ING} ({READ}, {TPCH})"),
    ("operators.encode.encode_chunk_rows.self_s", "s", "lower", _ENC, f"{ING} ({READ})"),
    ("codec.blocks.encode_batch.self_s", "s", "lower", _ENC, f"{ING}, {TPCH} ({READ})"),
    ("codec.codecs.encode_ints.self_s", "s", "lower", _ENC, f"{ING} ({READ})"),
    ("codec.codecs.encode_ints.calls", "count", "lower", _ENC, f"{ING} ({READ})"),
    ("codec.intcodec.plan_int_array_s", "s", "lower", _ENC, f"{ING} ({READ})"),
    ("codec.intcodec.pack_from_plan_s", "s", "lower", _ENC, f"{ING} ({READ})"),
    ("codec.codecs.encode_strings.self_s", "s", "lower", _ENC, f"{TPCH} ({ING}, {READ})"),
    ("codec.fsst.train_and_encode_s", "s", "lower", _ENC, f"{TPCH} ({ING}, {READ})"),
    ("codec.fsst.compress_s", "s", "lower", _ENC, f"{TPCH} ({ING}, {READ})"),
]
for _kind, _names in (("int", INT_CODECS), ("str", STR_CODECS)):
    for _c in _names:
        PER_LAYER.append(
            (f"codec.codecs.wins.{_kind}.{_c}", "count", "higher", _BYTES, f"{ING}, {TPCH} ({READ})")
        )
        PER_LAYER.append(
            (f"codec.codecs.bytes.{_kind}.{_c}", "bytes", "lower", _BYTES, f"{ING}, {TPCH} ({READ})")
        )
PER_LAYER += [
    ("zlib.crc32_s", "s", "lower", "bulk_cpu_per_pq_scan", f"{READ}, {TPCH} ({ING})"),
    ("codec.blocks.decode_batch.self_s", "s", "lower", "bulk_cpu_per_pq_scan", f"{READ} ({ING})"),
    ("codec.intcodec.unpack_int_array_s", "s", "lower", "bulk_cpu_per_pq_scan", f"{READ} ({ING})"),
]
for _c in INT_CODECS:
    PER_LAYER.append(
        (f"codec.codecs.decode_ints.{_c}.s", "s", "lower", "bulk_cpu_per_pq_scan", f"{READ}, {TPCH} ({ING})")
    )
    PER_LAYER.append(
        (f"codec.codecs.decode_ints.{_c}.values", "count", "higher", "bulk_cpu_per_pq_scan", f"{READ}, {TPCH} ({ING})")
    )
for _c in STR_CODECS:
    PER_LAYER.append(
        (f"codec.codecs.decode_strings.{_c}.s", "s", "lower", "bulk_cpu_per_pq_scan", f"{READ}, {TPCH} ({ING})")
    )
    PER_LAYER.append(
        (f"codec.codecs.decode_strings.{_c}.bytes", "bytes", "higher", "bulk_cpu_per_pq_scan", f"{READ}, {TPCH} ({ING})")
    )
PER_LAYER += [
    ("codec.fsst.decompress_s", "s", "lower", "bulk_cpu_per_pq_scan", f"{READ}, {TPCH} ({ING})"),
    ("operators.decode.schema_map_of_s", "s", "lower", "op_cpu_per_pq_scan", f"{READ} ({ING}, {TPCH})"),
    ("operators.decode.bloom_blocks_per_lookup", "count", "lower", "op_cpu_per_pq_scan", f"{READ} ({ING}, {TPCH})"),
    ("operators.decode.lookup_hit_ratio", "ratio", "higher", "op_cpu_per_pq_scan", f"{READ} ({ING}, {TPCH})"),
    ("spark.jobs_per_op", "count", "lower", "bulk_cpu_per_pq_scan, op_cpu_per_pq_scan", "all"),
    ("spark.tasks_per_op", "count", "lower", "bulk_cpu_per_pq_scan, op_cpu_per_pq_scan", "all"),
    ("spark.plan_exchanges", "count", "lower", "bulk_cpu_per_pq_scan, op_cpu_per_pq_scan", "all"),
    ("spark.hop_s", "s", "lower", "bulk_cpu_per_pq_scan", f"{TPCH}, {READ} (least on {ING})"),
    ("replay.wall_s", "s", "lower", "bulk_cpu_per_pq_scan", "all"),
    ("replay.self_sum_s", "s", "lower", "bulk_cpu_per_pq_scan", "all"),
    ("replay.self_share", "ratio", "higher", "none: spans cover >= 0.9 of replay wall", "all"),
    ("replay.trace_overhead_s", "s", "lower", "none: traced minus untraced replay wall", "all"),
]
PER_LAYER = tuple(PER_LAYER)


def benchmark_json() -> dict:
    """The BENCHMARK.json document these definitions imply."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": WHY[n]} for n in BENCHMARK_WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, u, b, _m, _w in PER_LAYER
        ],
    }


if __name__ == "__main__":
    import json
    import sys

    if sys.argv[1:] == ["--layers"]:
        for name, unit, _b, moves, workloads in PER_LAYER:
            print(f"{name:48} {unit:6} moves {moves:38} on {workloads}")
    else:
        print(json.dumps(benchmark_json(), indent=2))
